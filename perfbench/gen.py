"""Seeded input generators for the benchmark.

Two kinds of input, both made from a seed and nothing else:

- ``make_corpus``: a directory of ``*.txt`` files for the word count,
  with a Zipf vocabulary and the tokenizer's edge cases (mixed case,
  ASCII punctuation inside and around words, Unicode punctuation,
  tabs, runs of spaces, punctuation-only and blank units). The
  generator knows the multiset of tokens it wrote, in both case modes,
  which is the oracle the word-count output is checked against (the
  reference's ``create_unitest_files.py`` pattern).
- ``make_tables``: the ten parquet tables the query registry reads
  (``region nation customer supplier part orders lineitem events
  documents embeddings``), with the column names, types and value
  domains of the engine's test tables, at a chosen scale factor.
"""

from __future__ import annotations

import json
import os
import string
from collections import Counter

import numpy as np

#: units the tokenizer deletes entirely (ASCII punctuation only)
_PUNCT_ONLY = ["-", "--", "...", "(", ")", "&", "*"]
#: Unicode punctuation the tokenizer keeps as tokens of their own
_UNI_PUNCT = ["—", "…", "«", "»", "¿"]
_LETTERS = string.ascii_lowercase
#: accented letters whose lower(upper(c)) == c in both Python and Java
_ACCENTS = "éñüçøå"


def vocabulary(n: int, rng: np.random.Generator) -> list[str]:
    """``n`` distinct lowercase words, 2-10 letters, a few with accents."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        lens = rng.integers(2, 11, size=n)
        chars = rng.integers(0, len(_LETTERS), size=(n, 10))
        accent = rng.random(n) < 0.05
        for i in range(n):
            w = "".join(_LETTERS[c] for c in chars[i, : lens[i]])
            if accent[i]:
                w = w[:-1] + _ACCENTS[chars[i, 0] % len(_ACCENTS)]
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return words


class Corpus:
    """A generated corpus: its files and the token multisets it holds."""

    def __init__(self, folder: str, files: list[str], nbytes: int,
                 counts_cs: Counter, counts_ci: Counter) -> None:
        self.folder = folder
        self.files = files
        self.nbytes = nbytes
        self.counts_cs = counts_cs
        self.counts_ci = counts_ci

    @property
    def tokens(self) -> int:
        return sum(self.counts_cs.values())

    def expected(self, case_sensitive: bool) -> Counter:
        return self.counts_cs if case_sensitive else self.counts_ci


def make_corpus(folder: str, seed: int, target_mb: float, n_files: int = 16,
                vocab_size: int = 60_000, zipf_a: float = 1.15) -> Corpus:
    """Write ``n_files`` ``part-NN.txt`` files totalling about
    ``target_mb`` MB under ``folder`` and return the known counts.

    Every line is a sequence of units joined by one to three spaces, and
    may start or end with spaces. A unit is one of: a vocabulary word in
    lower, title or upper case, optionally with ASCII punctuation around
    or inside it (deleted by the tokenizer); two such words joined by a
    tab (one token: tabs do not split); a Unicode punctuation mark (kept
    as a token); or an ASCII-punctuation-only unit (no token).
    """
    rng = np.random.default_rng(seed)
    vocab = vocabulary(vocab_size, rng)
    forms = np.array(
        [f for w in vocab for f in (w, w.capitalize(), w.upper())], dtype=object
    )
    counts_cs: Counter = Counter()
    os.makedirs(folder, exist_ok=True)
    files: list[str] = []
    nbytes = 0
    per_file = int(target_mb * 1e6 / n_files)
    for fi in range(n_files):
        # ~7 bytes per unit including its separator
        n = per_file // 7
        ids = (rng.zipf(zipf_a, size=n) - 1) % vocab_size
        case = rng.choice(3, size=n, p=[0.8, 0.15, 0.05])
        form_idx = ids * 3 + case
        toks = forms[form_idx]
        units = toks.copy()
        kind = rng.random(n)
        # ASCII punctuation around / inside words: token unchanged
        p = np.nonzero(kind < 0.10)[0]
        marks = rng.integers(0, len(string.punctuation), size=len(p))
        for j, m in zip(p, marks):
            w, c = units[j], string.punctuation[m]
            units[j] = w[:1] + c + w[1:] if m % 3 == 0 else (w + c if m % 3 == 1 else c + w + c)
        bc = np.bincount(form_idx, minlength=len(forms))
        # tab-joined pairs: the two words become one token
        t = np.nonzero((kind[:-1] >= 0.10) & (kind[:-1] < 0.11) & (kind[1:] >= 0.13))[0]
        drop = np.zeros(n, dtype=bool)
        for j in t:
            joined = toks[j] + "\t" + toks[j + 1]
            units[j] = joined
            units[j + 1] = ""
            drop[j + 1] = True
            bc[form_idx[j]] -= 1
            bc[form_idx[j + 1]] -= 1
            counts_cs[joined] += 1
        # Unicode punctuation tokens and punctuation-only units
        u = np.nonzero((kind >= 0.11) & (kind < 0.12))[0]
        for j, m in zip(u, rng.integers(0, len(_UNI_PUNCT), size=len(u))):
            bc[form_idx[j]] -= 1
            units[j] = _UNI_PUNCT[m]
            counts_cs[_UNI_PUNCT[m]] += 1
        z = np.nonzero((kind >= 0.12) & (kind < 0.13))[0]
        for j, m in zip(z, rng.integers(0, len(_PUNCT_ONLY), size=len(z))):
            bc[form_idx[j]] -= 1
            units[j] = _PUNCT_ONLY[m]
        for k in np.nonzero(bc)[0]:
            counts_cs[forms[k]] += int(bc[k])
        units = units[~drop]
        seps = np.array([" ", "  ", "   "], dtype=object)[
            rng.choice(3, size=len(units), p=[0.9, 0.07, 0.03])
        ]
        line_len = rng.integers(4, 40, size=len(units) // 4 + 1)
        ends = np.cumsum(line_len)
        ends = ends[ends < len(units)]
        # a unit followed by a newline instead of its separator ends a
        # line; some lines get leading or trailing spaces
        seps[ends - 1] = np.array(["\n", "\n  ", " \n"], dtype=object)[
            rng.choice(3, size=len(ends), p=[0.9, 0.05, 0.05])
        ]
        seps[-1] = "\n"
        data = "".join((units + seps).tolist()).encode("utf-8")
        path = os.path.join(folder, f"part-{fi:02d}.txt")
        with open(path, "wb") as f:
            f.write(data)
        files.append(path)
        nbytes += len(data)
    counts_ci: Counter = Counter()
    for tok, c in counts_cs.items():
        counts_ci[tok.lower()] += c
    return Corpus(folder, files, nbytes, counts_cs, counts_ci)


# ---------------------------------------------------------------- tables

_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
_NOUN = ["bolt", "gear", "ring", "rod", "plate", "widget", "anvil", "gizmo"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "es", "zh", "de", "fr"]
_DOC_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "filter big stream group vector"
).split()


def _pick(rng: np.random.Generator, options: list[str], n: int, p=None) -> np.ndarray:
    return np.array(options, dtype=object)[rng.choice(len(options), size=n, p=p)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def make_tables(folder: str, sf: float, seed: int = 42) -> dict[str, int]:
    """Write the ten engine tables at scale ``sf`` under ``folder`` (one
    ``<name>.parquet`` file each); returns row counts by table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_users = max(150, int(15_000 * sf))
    us = pa.timestamp("us")
    i32, i64 = pa.int32(), pa.int64()

    def days(lo: np.datetime64, n: int, span: int) -> np.ndarray:
        return lo + rng.integers(0, span, size=n) * np.timedelta64(_DAY_US, "us")

    def key_names(prefix: str, n: int) -> list[str]:
        return [f"{prefix}#{i:09d}" for i in range(n)]

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": key_names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust).tolist(),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": key_names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, _ADJ, n_part), _pick(rng, _NOUN, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, _PTYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": pa.array(days(_EPOCH_1995, n_ord, 2405), us),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord).tolist(),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li).tolist(),
            "l_linestatus": _pick(rng, ["O", "F"], n_li).tolist(),
            "l_shipdate": pa.array(days(_EPOCH_1995 + np.timedelta64(_DAY_US, "us"), n_li, 2500), us),
        }),
    }
    secs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(_EPOCH_2024 + secs.astype("timedelta64[us]"), us),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev).tolist(),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(_DOC_WORDS, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(k))].tolist())
        for k in rng.integers(8, 90, n_doc)
    ]
    for i in rng.choice(n_doc, size=max(1, n_doc // 600), replace=False):
        texts[i] = texts[(i + 1) % n_doc]  # a few exact duplicates
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]).tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0, 1, (10, 64))
    vecs = centroids[labels] * 0.15 + rng.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    os.makedirs(folder, exist_ok=True)
    rows = {}
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(folder, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows
