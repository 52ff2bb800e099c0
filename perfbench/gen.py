"""Seeded input generator for the perfbench workloads.

Everything here is numpy + pyarrow: the generator writes the inputs the
engine is handed and computes every expected value the correctness gate
checks against, without running Spark. The same seed gives the same
inputs, byte for byte.

Tables follow the column layout of the repository's TPC-H-ish fixtures
(region, nation, customer, supplier, orders, lineitem, documents,
embeddings) so the registry queries run on them unchanged.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EPOCH_1995 = np.datetime64("1995-01-01", "us")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _choice(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(offsets: np.ndarray) -> pa.Array:
    return pa.array(EPOCH_1995 + offsets.astype("int64") * np.timedelta64(1, "D"),
                    type=pa.timestamp("us"))


# ---------------------------------------------------------------------------
# Star schema (analyst workload, ingest drops and enrichment dimension)
# ---------------------------------------------------------------------------


def lineitem_table(rng: np.random.Generator, sf: float) -> pa.Table:
    """Lineitem rows with a unique (l_orderkey, l_linenumber) key: each
    order gets 1-7 lines numbered 1..k, rows shuffled like the fixture."""
    n_orders = max(int(1_500_000 * sf), 10)
    n_part, n_supp = max(int(200_000 * sf), 10), max(int(10_000 * sf), 10)
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(len(okey)) - starts + 1).astype(np.int32)
    n = len(okey)
    order_day = rng.integers(0, 2405, n_orders)[okey]
    t = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": lnum,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n),
        "l_linestatus": _choice(rng, ["F", "O"], n),
        "l_shipdate": _days(order_day + rng.integers(1, 122, n)),
    })
    return t.take(pa.array(rng.permutation(n)))


def supplier_table(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(int(10_000 * sf), 10)
    return pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })


def write_star_schema(out_dir: str, sf: float, seed: int,
                      documents: pa.Table, embeddings: pa.Table) -> dict[str, int]:
    """The tables the query workload reads, as ``<out_dir>/<name>.parquet``;
    returns row counts. ``documents`` and ``embeddings`` are the curation
    corpora."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 10)
    n_orders = max(int(1_500_000 * sf), 10)
    li = lineitem_table(rng, sf)
    tables = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
        }),
        "supplier": supplier_table(rng, sf),
        "orders": pa.table({
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n_orders),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
            "o_orderdate": _days(rng.integers(0, 2405, n_orders)),
            "o_orderpriority": _choice(rng, PRIORITIES, n_orders),
        }),
        "lineitem": li,
        "documents": documents,
        "embeddings": embeddings,
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------------
# Ingest drops
# ---------------------------------------------------------------------------

#: Feed key and newest-wins column of the benchmark's lineitem feed.
FEED_KEYS = ("l_orderkey", "l_linenumber")
FEED_ORDER_COL = "updated_at"
QTY_RANGE = (1.0, 50.0)
RETURN_FLAGS = ("A", "N", "R")


@dataclass
class DropExpect:
    """What one drop must produce, computed from the rows written."""
    rows_read: int
    rows_loaded: int
    rows_rejected: int
    rows_quarantined: int
    unknown_keys_loaded: int
    #: (l_orderkey, l_linenumber, l_quantity) of every row that must load
    loaded_keys: np.ndarray = field(repr=False)
    loaded_lnum: np.ndarray = field(repr=False)
    loaded_qty: np.ndarray = field(repr=False)


def write_drop(path: str, source: pa.Table, offset: int, n: int,
               rng: np.random.Generator, n_supp: int) -> DropExpect:
    """Write ``n`` lineitem rows starting at ``offset`` (wrapping) as a
    landing-zone CSV, planting rule violations, older re-delivered
    duplicates, malformed lines and unknown enrichment keys; return the
    counts the pipeline must report for it."""
    idx = (offset + np.arange(n)) % source.num_rows
    base = source.take(pa.array(idx))
    qty = base["l_quantity"].to_numpy().copy()
    flag = base["l_returnflag"].to_numpy(zero_copy_only=False).astype(object)
    supp = base["l_suppkey"].to_numpy().copy()
    k = max(1, n // 50)
    picks = rng.permutation(n)
    bad_qty, bad_flag = picks[:k], picks[k:2 * k]
    qty[bad_qty] = -qty[bad_qty]
    flag[bad_flag] = "X"
    violated = np.zeros(n, bool)
    violated[bad_qty] = violated[bad_flag] = True
    unknown = picks[2 * k:3 * k]
    supp[unknown] = n_supp + 1_000_000 + unknown
    dups = picks[3 * k:4 * k]  # older re-deliveries of valid rows
    malformed = picks[4 * k:4 * k + max(1, k // 2)]
    updated = (np.datetime64("2024-06-01", "s")
               + rng.integers(0, 30 * 86_400, n).astype("timedelta64[s]"))

    def fmt(a: np.ndarray) -> list[str]:
        return [repr(float(v)) for v in a]

    cols = {
        "l_orderkey": [str(v) for v in base["l_orderkey"].to_numpy()],
        "l_partkey": [str(v) for v in base["l_partkey"].to_numpy()],
        "l_suppkey": [str(v) for v in supp],
        "l_linenumber": [str(v) for v in base["l_linenumber"].to_numpy()],
        "l_quantity": fmt(qty),
        "l_extendedprice": fmt(base["l_extendedprice"].to_numpy()),
        "l_discount": fmt(base["l_discount"].to_numpy()),
        "l_tax": fmt(base["l_tax"].to_numpy()),
        "l_returnflag": list(flag),
        "l_linestatus": base["l_linestatus"].to_pylist(),
        "l_shipdate": pc.strftime(base["l_shipdate"], "%Y-%m-%d %H:%M:%S").to_pylist(),
        FEED_ORDER_COL: [str(v).replace("T", " ") for v in updated],
    }
    rows = list(zip(*cols.values()))
    extra = []
    for i in dups:
        r = list(rows[i])
        r[4] = repr(float(1 + (int(qty[i]) % 50)))  # older, different, valid
        r[11] = str(updated[i] - np.timedelta64(1, "D")).replace("T", " ")
        extra.append(tuple(r))
    for i in malformed:
        r = list(rows[i])
        r[4] = "n/a"
        extra.append(tuple(r))
    allrows = rows + extra
    order = rng.permutation(len(allrows))
    with open(path, "w") as f:
        f.write(",".join(cols) + "\n")
        for j in order:
            f.write(",".join(allrows[j]) + "\n")
    ok = ~violated
    return DropExpect(
        rows_read=len(allrows),
        rows_loaded=int(ok.sum()),
        rows_rejected=len(malformed),
        rows_quarantined=int(violated.sum()),
        unknown_keys_loaded=int(ok[unknown].sum()),
        loaded_keys=base["l_orderkey"].to_numpy()[ok],
        loaded_lnum=base["l_linenumber"].to_numpy()[ok],
        loaded_qty=qty[ok],
    )


# ---------------------------------------------------------------------------
# Curation corpora
# ---------------------------------------------------------------------------


def _doc_text(rng: np.random.Generator, n_tokens: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_tokens))


def documents_table(rng: np.random.Generator, texts: list[str]) -> pa.Table:
    return pa.table({
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": pa.array(texts),
        "lang": _choice(rng, LANGS, len(texts)),
        "source": pa.array([f"src{i % 20}" for i in range(len(texts))]),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def shingle_set(text: str, n: int = 3) -> set[str]:
    """Distinct n-word shingles, the same unit `functions.text.shingles`
    builds (whitespace tokens split on a single space)."""
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if (a or b) else 0.0


def normalize_text(text: str) -> str:
    """Python twin of `functions.text.normalize_text`."""
    return re.sub(r"\s+", " ", text.lower()).strip()


@dataclass
class Corpus:
    table: pa.Table
    texts: list[str]
    #: (id_a, id_b) planted near-duplicate pairs, id_a < id_b, whose exact
    #: shingle Jaccard meets the threshold; doc_id i has text texts[i]
    planted: set[tuple[int, int]]
    distinct_normalized: int
    lang_counts: dict[str, int]


def build_corpus(seed: int, n_docs: int, threshold: float) -> Corpus:
    """``n_docs`` documents: 80% fresh word-soup texts, 15% near-duplicate
    copies (1-3 substituted tokens), 5% exact copies with case and
    whitespace changes (exact-dedup targets, not near-dup pairs)."""
    rng = np.random.default_rng([seed, 3])
    n_base = int(n_docs * 0.80)
    n_near = int(n_docs * 0.15)
    n_exact = n_docs - n_base - n_near
    texts = [_doc_text(rng, int(m)) for m in rng.integers(20, 101, n_base)]
    planted = set()
    for j in range(n_near):
        src = int(rng.integers(0, n_base))
        toks = texts[src].split(" ")
        for p in rng.choice(len(toks), int(rng.integers(1, 4)), replace=False):
            toks[p] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        copy = " ".join(toks)
        if jaccard(shingle_set(copy), shingle_set(texts[src])) >= threshold:
            planted.add((src, n_base + j))
        texts.append(copy)
    for _ in range(n_exact):
        src = int(rng.integers(0, n_base))
        texts.append("  " + texts[src].upper().replace(" ", "  ", 3) + " ")
    # shuffle the rows so planted copies are not adjacent; doc_id is the
    # row number, so it indexes ``texts``
    perm = rng.permutation(len(texts))
    where = np.empty_like(perm)
    where[perm] = np.arange(len(perm))
    texts = [texts[i] for i in perm]
    planted = {tuple(sorted((int(where[a]), int(where[b])))) for a, b in planted}
    table = documents_table(rng, texts)
    return Corpus(
        table=table, texts=texts, planted=planted,
        distinct_normalized=len({normalize_text(s) for s in texts}),
        lang_counts=_lang_counts(texts),
    )


def _lang_counts(texts: list[str]) -> dict[str, int]:
    """Python twin of `functions.text.lang_id`, as counts per code."""
    from dataingestionengineprocess_spark.functions.text import LANG_MARKERS

    out: dict[str, int] = {}
    for s in texts:
        toks = set(s.split(" "))
        best, best_hits = "und", 0
        for code in sorted(LANG_MARKERS):
            hits = sum(1 for w in LANG_MARKERS[code] if w in toks)
            if hits > best_hits:
                best, best_hits = code, hits
        out[best] = out.get(best, 0) + 1
    return out


def embeddings_table(rng: np.random.Generator, n: int, dim: int,
                     n_clusters: int = 10,
                     noise: float = 0.25) -> tuple[pa.Table, np.ndarray]:
    """Unit vectors around ``n_clusters`` random centres (float32, like
    the fixture), with the numpy matrix for exact search."""
    centres = rng.standard_normal((n_clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, n_clusters, n)
    v = centres[labels] + noise * rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t, v


@dataclass
class VectorSet:
    corpus: pa.Table
    queries: pa.Table
    #: query_id -> set of exact top-k neighbour ids
    exact: dict[int, set[int]]


def build_vectors(seed: int, n: int, n_queries: int, k: int,
                  dim: int = 64) -> VectorSet:
    """Corpus plus held-out queries from the same clusters, and the exact
    cosine top-k (ties broken by lower id, as `ivf_topk` ranks)."""
    rng = np.random.default_rng([seed, 4])
    both, v = embeddings_table(rng, n + n_queries, dim)
    corpus, queries = both.slice(0, n), both.slice(n)
    # queries carry ids far above the corpus so no self-match filter fires
    qids = np.arange(n_queries, dtype=np.int64) + 10_000_000
    queries = queries.set_column(0, "vec_id", pa.array(qids))
    cv = v[:n].astype(np.float64)
    qv = v[n:].astype(np.float64)
    sims = np.round(qv @ cv.T / np.outer(np.linalg.norm(qv, axis=1),
                                         np.linalg.norm(cv, axis=1)), 6)
    exact = {int(qid): {int(x) for x in np.lexsort((np.arange(n), -row))[:k]}
             for qid, row in zip(qids, sims)}
    return VectorSet(corpus=corpus, queries=queries, exact=exact)
