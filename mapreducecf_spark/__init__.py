"""mapreducecf_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first engine with the query and data-processing
capabilities of the reference ``GarciaDelMolino/MapReduceCF`` (a
distributed MapReduce word-occurrence counter; see SURVEY.md), extended
with the relational / streaming / LLM-data-pipeline operator surface a
100 TB training-data pipeline needs.

Design principles (SURVEY.md §7):

- Declare logical plans with the DataFrame/SQL API; let Catalyst +
  Tungsten choose the physical strategy (pushdown, pruning, partial
  aggregation, whole-stage codegen, AQE come for free).
- The reference's *mechanisms* (task queues, file shuffle, RPC polling —
  SURVEY.md §2 ops S2/P1/X1/X2/C1-C5) are deleted, not ported: Spark's
  DAGScheduler and Exchange are their production-grade replacements.
- Python stays out of the hot path: built-in ``pyspark.sql.functions``
  everywhere; Arrow-batched Pandas UDFs only where built-ins genuinely
  cannot express the semantics (multimodal decode: WAV PCM, PNG, BMP and
  PNM natively, other codecs at one plug-in point); never row-at-a-time
  Python UDFs.
"""

__version__ = "0.1.0"

from mapreducecf_spark.session import get_spark  # noqa: F401
