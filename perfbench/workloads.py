"""The two closed-loop workloads: ingest (the write path) and query
(the read path: analyst SQL and the curation operators).

Each workload has the same life cycle, driven by ``run.py``:

- ``generate()``: numpy/pyarrow only -- write the inputs under the work
  directory and compute the expected values (repeated during set-up);
- ``warm_up()``: one untimed pass over the same code paths;
- ``run(seconds)``: the closed loop -- one client, the next operation
  starts when the previous one returned; every operation's output is
  checked against the generator;
- ``metrics()``: the end-to-end metrics, under the names shared by all
  workloads, plus the workload's own named metrics for the report;
- ``layer_metrics()``: traced runs only -- per-layer self times from
  prefix timings and counters from the spans' Spark stages.

The engine is only ever called through its public API and handed only
the generated files.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataingestionengineprocess_spark.engine import IngestionEngine
from dataingestionengineprocess_spark.sinks.warehouse import SinkConfig

import gen
from spans import Span, Tracer, spark_summary


#: The query workload's SQL mix, in pass order: two fixed-cost-bound
#: queries (a scan-aggregate, a star join) and a shuffle-bound one.
MIX = ("q1_pricing_summary", "q5_region_revenue", "q18_large_volume_customers")
#: End-to-end metrics, shared by all workloads: name -> (unit, better, bound).
#: What each one measures on each workload is tabled in README.md.
E2E = {
    "setup_s": ("s", "lower", 0.25),
    "op_p50_s": ("s", "lower", 0.25),
    "aux_p50_s": ("s", "lower", 0.25),
    "items_per_s": ("1/s", "higher", 0.25),
    "recall": ("ratio", "higher", 0.1),
    "precision": ("ratio", "higher", 0.05),
    "ok_frac": ("ratio", "higher", 0.01),
    "peak_rss_mb": ("MB", "lower", 0.25),
}

#: Per-layer metrics (traced run): name -> (unit, better). A workload
#: reports the layers it drives; the others read 0 on its traced run.
LAYERS = {
    "spark.jobs": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.task_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "spark.busy_frac": ("ratio", "higher"),
    "spark.driver_gap_s": ("s", "lower"),
    "trace.op_p50_overhead_s": ("s", "lower"),
    "pipeline.small_drop_jobs": ("count", "lower"),
    "pipeline.small_drop_driver_gap_s": ("s", "lower"),
    "pipeline.sweep_overhead_s": ("s", "lower"),
    "telemetry.emit_s": ("s", "lower"),
    "sources.csv_parse_s": ("s", "lower"),
    "quality.validate_s": ("s", "lower"),
    "dedup.exact_s": ("s", "lower"),
    "pipeline.enrich_s": ("s", "lower"),
    "dedup.exact_shuffle_mb": ("MB", "lower"),
    "sinks.write_s": ("s", "lower"),
    "sinks.files_per_drop": ("count", "lower"),
    "sinks.bytes_per_row": ("B/row", "lower"),
    "catalog.readback_files": ("count", "lower"),
    **{f"queries.{q}_s": ("s", "lower") for q in MIX},
    "queries.plan_s": ("s", "lower"),
    "catalog.scan_mb": ("MB", "lower"),
    "text.features_s": ("s", "lower"),
    "dedup.exact_text_s": ("s", "lower"),
    "dedup.minhash_sig_s": ("s", "lower"),
    "dedup.minhash_pairs_s": ("s", "lower"),
    "dedup.minhash_shuffle_mb": ("MB", "lower"),
    "dedup.pairs_out": ("count", "higher"),
    "similarity.kmeans_s": ("s", "lower"),
    "similarity.ivf_s": ("s", "lower"),
    "similarity.brute_force_s": ("s", "lower"),
}


@dataclass
class Sample:
    kind: str
    seconds: float
    traced: bool


@dataclass
class Context:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    tiny: bool
    corrupt_expected: bool
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        """Count one operation; a False ``ok`` counts it as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok


def median(xs) -> float:
    return float(np.median(xs)) if len(xs) else float("nan")


def tail(xs) -> tuple[float, float, int] | None:
    """(percentile, value, samples): the highest percentile with at least
    ten samples beyond it, or None when that is below the median (fewer
    than twenty samples)."""
    n = len(xs)
    if n < 20:
        return None
    pct = 100.0 * (1.0 - 10.0 / n)
    return pct, float(np.percentile(xs, pct)), n


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.samples: list[Sample] = []

    def timed(self, kind: str, fn, traced: bool = True):
        """Run ``fn`` as one closed-loop operation inside a span; record
        its wall time. Exceptions count as failed operations."""
        on = traced and self.ctx.tracer.enabled
        with self.ctx.tracer.span(f"{self.name}.{kind}", on=on):
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception as e:  # an op that raises is a failed op
                self.ctx.check(False, f"{kind}: {type(e).__name__}: {e}")
                return None, False
            dt = time.perf_counter() - t0
        self.samples.append(Sample(kind, dt, on))
        return out, True

    def times(self, kind: str) -> list[float]:
        return [s.seconds for s in self.samples if s.kind == kind]

    def op_spans(self) -> list[Span]:
        return [sp for sp in self.ctx.tracer.spans
                if sp.parent is None and sp.name.startswith(self.name + ".")]

    def overhead(self, kinds: tuple[str, ...]) -> float:
        """Tracing overhead on the primary operation: median traced minus
        median untraced latency (a traced run traces only some of them)."""
        on = [s.seconds for s in self.samples if s.kind in kinds and s.traced]
        off = [s.seconds for s in self.samples if s.kind in kinds and not s.traced]
        return median(on) - median(off)

    def base_layer_metrics(self) -> dict[str, float]:
        return spark_summary(self.op_spans(), self.spark.sparkContext.defaultParallelism)

    def prefix_time(self, name: str, fn, reps: int) -> tuple[float, Span | None]:
        """Fastest of ``reps`` traced calls of ``fn`` (a prefix of a
        layer chain, materialized into the noop sink)."""
        best, best_span = float("inf"), None
        for _ in range(reps):
            with self.ctx.tracer.span(name) as sp:
                t0 = time.perf_counter()
                fn()
                dt = time.perf_counter() - t0
            if dt < best:
                best, best_span = dt, sp
        return best, best_span


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

FEED = "lineitem_feed"
FEED_SCHEMA = T.StructType([
    T.StructField("l_orderkey", T.LongType()),
    T.StructField("l_partkey", T.LongType()),
    T.StructField("l_suppkey", T.LongType()),
    T.StructField("l_linenumber", T.IntegerType()),
    T.StructField("l_quantity", T.DoubleType()),
    T.StructField("l_extendedprice", T.DoubleType()),
    T.StructField("l_discount", T.DoubleType()),
    T.StructField("l_tax", T.DoubleType()),
    T.StructField("l_returnflag", T.StringType()),
    T.StructField("l_linestatus", T.StringType()),
    T.StructField("l_shipdate", T.TimestampType()),
    T.StructField(gen.FEED_ORDER_COL, T.TimestampType()),
])


class Ingest(Workload):
    """Landing-zone CSV drops through ``IngestionEngine.run_sweep``, then
    readback queries over the curated warehouse table."""

    name = "ingest"

    def __init__(self, ctx: Context) -> None:
        super().__init__(ctx)
        self.sf = 0.002 if ctx.tiny else 0.1
        self.bulk_rows = 2_000 if ctx.tiny else 100_000
        self.small_rows = (200, 400) if ctx.tiny else (200, 3_000)
        self.readback_share = 0.15
        self.expects: list[gen.DropExpect] = []
        self.bulk_read = 0
        self.lookup_hits = [0, 0, 0]  # matched, expected, returned

    def generate(self) -> None:
        rng = np.random.default_rng([self.ctx.seed, 2])
        self.source = gen.lineitem_table(rng, self.sf)
        sup = gen.supplier_table(rng, self.sf)
        self.n_supp = sup.num_rows
        self.dim_path = os.path.join(self.ctx.work, "supplier.parquet")
        pq.write_table(sup, self.dim_path)
        self.drop_rng = np.random.default_rng([self.ctx.seed, 5])
        self.offset = 0

    def _engine(self, root: str) -> IngestionEngine:
        from dataingestionengineprocess_spark.operators.quality import (
            in_range, not_null, one_of)
        from dataingestionengineprocess_spark.pipeline import Enrichment, FeedConfig

        self.sinks = SinkConfig(warehouse_dir=os.path.join(root, "warehouse"),
                                oltp_dir=os.path.join(root, "oltp"))
        eng = IngestionEngine(self.spark, self.sinks)
        dim = self.spark.read.parquet(self.dim_path).select(
            "s_suppkey", "s_name", "s_nationkey")
        self.feed_cfg = FeedConfig(
            name=FEED, schema=FEED_SCHEMA, key_cols=list(gen.FEED_KEYS),
            order_col=gen.FEED_ORDER_COL,
            rules=[not_null("l_orderkey"), in_range("l_quantity", *gen.QTY_RANGE),
                   one_of("l_returnflag", list(gen.RETURN_FLAGS))],
            enrichments=[Enrichment(dim=dim, fact_col="l_suppkey", dim_col="s_suppkey")],
        )
        eng.register_feed(self.feed_cfg)
        return eng

    def _stage_drop(self, root: str, i: int, n: int) -> tuple[str, gen.DropExpect]:
        staging = os.path.join(root, "staging")
        landing = os.path.join(root, "landing")
        os.makedirs(staging, exist_ok=True)
        os.makedirs(landing, exist_ok=True)
        tmp = os.path.join(staging, f"drop_{i:05d}.csv")
        exp = gen.write_drop(tmp, self.source, self.offset, n, self.drop_rng, self.n_supp)
        self.offset += n
        dst = os.path.join(landing, f"drop_{i:05d}.csv")
        os.rename(tmp, dst)  # the drop lands whole
        return dst, exp

    def warm_up(self) -> None:
        """One mid-size drop (fixed-cost path and per-row code both warm)
        and one readback, into a separate warehouse."""
        root = os.path.join(self.ctx.work, "warm")
        eng = self._engine(root)
        self._stage_drop(root, 0, self.bulk_rows // 20)
        eng.run_sweep(FEED, os.path.join(root, "landing"))
        eng.warehouse_table(FEED).agg(F.count(F.lit(1))).collect()

    def _small_size(self) -> int:
        lo, hi = self.small_rows
        return int(np.exp(self.drop_rng.uniform(np.log(lo), np.log(hi))))

    def run(self, seconds: float) -> None:
        root = os.path.join(self.ctx.work, "run")
        self.eng = eng = self._engine(root)
        landing = os.path.join(root, "landing")
        t_start = time.perf_counter()
        drop_until = t_start + seconds * (1 - self.readback_share)
        i, last = 0, {"small": 0.0, "bulk": 0.0}
        # drop i is bulk when i % 4 == 2: S S B S S S B ...
        while i < 3 or time.perf_counter() + last["bulk" if i % 4 == 2 else "small"] < drop_until:
            kind = "bulk" if i % 4 == 2 else "small"
            n = self.bulk_rows if kind == "bulk" else self._small_size()
            _, exp = self._stage_drop(root, i, n)
            if self.ctx.corrupt_expected and i == 0:
                exp.rows_loaded += 1  # self-test: a wrong expectation must fail
            st, ok = self.timed(kind, lambda: eng.run_sweep(FEED, landing),
                                traced=(i % 2 == 0))
            if ok:
                self.ctx.check(
                    st is not None and (st.rows_read, st.rows_loaded, st.rows_rejected,
                                        st.rows_quarantined)
                    == (exp.rows_read, exp.rows_loaded, exp.rows_rejected,
                        exp.rows_quarantined),
                    f"drop {i}: status {st} != expected {exp}")
                last[kind] = self.samples[-1].seconds
            if kind == "bulk":
                self.bulk_read += exp.rows_read
            self.expects.append(exp)
            i += 1
        self.drops = i
        self._readback(t_start + seconds)

    def _readback(self, until: float) -> None:
        keys = np.concatenate([e.loaded_keys for e in self.expects])
        lnum = np.concatenate([e.loaded_lnum for e in self.expects])
        qty = np.concatenate([e.loaded_qty for e in self.expects])
        want_agg = (len(keys), float(qty.sum()),
                    sum(e.unknown_keys_loaded for e in self.expects))
        lookups = self.drop_rng.choice(keys, 8)
        j = 0
        while j < 8 or time.perf_counter() < until:
            if j % 2 == 0:
                got, ok = self.timed("readback", lambda: self.eng.warehouse_table(FEED).agg(
                    F.count(F.lit(1)), F.sum("l_quantity"),
                    F.sum(F.col("s_name").isNull().cast("long"))).collect()[0],
                    traced=(j % 4 == 0))
                if ok:
                    self.ctx.check(tuple(got) == want_agg,
                                   f"readback aggregate {tuple(got)} != {want_agg}")
            else:
                k = int(lookups[(j // 2) % len(lookups)])
                got, ok = self.timed("readback", lambda: self.eng.warehouse_table(FEED)
                                     .filter(F.col("l_orderkey") == k)
                                     .select("l_linenumber", "l_quantity").collect(),
                                     traced=(j % 4 == 1))
                if ok:
                    sel = keys == k
                    want = Counter(zip(lnum[sel].tolist(), qty[sel].tolist()))
                    have = Counter((r[0], r[1]) for r in got)
                    matched = sum((want & have).values())
                    self.lookup_hits[0] += matched
                    self.lookup_hits[1] += sum(want.values())
                    self.lookup_hits[2] += sum(have.values())
                    self.ctx.check(want == have, f"lookup {k}: {have} != {want}")
            j += 1

    def metrics(self) -> tuple[dict, dict]:
        small, bulk = self.times("small"), self.times("bulk")
        readback = self.times("readback")
        matched, expected, returned = self.lookup_hits
        e2e = {
            "op_p50_s": median(small),
            "aux_p50_s": median(readback),
            "items_per_s": self.bulk_read / sum(bulk),
            "recall": matched / max(expected, 1),
            "precision": matched / max(returned, 1),
        }
        named = {
            "ingest.small_drop_p50_s": (median(small), "s"),
            "ingest.small_drop_tail_s": (tail(small), "s"),
            "ingest.bulk_rows_per_s": (e2e["items_per_s"], "rows/s"),
            "ingest.readback_s": (median(readback), "s"),
            "ingest.drops": (f"{len(small)} small + {len(bulk)} bulk", "count"),
        }
        return e2e, named

    def layer_metrics(self) -> dict[str, float]:
        out = self.base_layer_metrics()
        small_spans = [sp for sp in self.op_spans() if sp.name == "ingest.small"]
        out["pipeline.small_drop_jobs"] = median([sp.counters["jobs"] for sp in small_spans])
        out["pipeline.small_drop_driver_gap_s"] = median(
            [sp.counters["driver_gap_s"] for sp in small_spans])
        out["trace.op_p50_overhead_s"] = self.overhead(("small",))

        # write layout, before the probes below add files
        files = nbytes = 0
        for d in (self.sinks.warehouse_dir, self.sinks.oltp_dir):
            for dirpath, _, names in os.walk(d):
                for nm in names:
                    if not nm.startswith(("_", ".")):
                        files += 1
                        nbytes += os.path.getsize(os.path.join(dirpath, nm))
        out["sinks.files_per_drop"] = files / self.drops
        out["sinks.bytes_per_row"] = nbytes / sum(e.rows_loaded for e in self.expects)
        out["catalog.readback_files"] = float(len(self.eng.warehouse_table(FEED).inputFiles()))
        return out | self._stage_probes(os.path.join(self.ctx.work, "run"), self.drops,
                                        self.bulk_rows, reps=2)

    def light_layers(self) -> dict[str, float]:
        """This workload's layer times from one cold pass on tiny inputs:
        a traced run of the other workload reports them, so that every
        traced run measures every layer."""
        self.generate()
        root = os.path.join(self.ctx.work, "light")
        self.eng = self._engine(root)
        self._stage_drop(root, 0, self.small_rows[0])
        with self.ctx.tracer.span("light.ingest.small") as sp:
            self.eng.run_sweep(FEED, os.path.join(root, "landing"))
        return {"pipeline.small_drop_jobs": sp.counters["jobs"],
                "pipeline.small_drop_driver_gap_s": sp.counters["driver_gap_s"],
                **self._stage_probes(root, 1, self.small_rows[0], reps=1)}

    def _stage_probes(self, root: str, drops: int, rows: int,
                      reps: int) -> dict[str, float]:
        """Self times of the stage chain from prefixes of one ``rows``-row
        drop, ``run_sweep`` against ``run_batch`` on the same small drop
        (landing zone under ``root``, ``drops`` files already swept), and
        the status emit."""
        from dataingestionengineprocess_spark.operators.dedup import dedup_exact
        from dataingestionengineprocess_spark.operators.quality import validate
        from dataingestionengineprocess_spark.pipeline import run_stages
        from dataingestionengineprocess_spark.sinks.warehouse import (
            RunStatus, write_warehouse)
        from dataingestionengineprocess_spark.sources.csv_source import read_csv_feed
        from dataingestionengineprocess_spark.streaming.telemetry import emit_run_status

        out = {}
        probe = os.path.join(self.ctx.work, "probe")
        path, _ = self._stage_drop(probe, 0, rows)
        feed = self.feed_cfg
        order = [F.col(feed.order_col).desc()]

        def chain(upto: str):
            def go():
                batch = read_csv_feed(self.spark, path, feed.schema)
                res = None
                try:
                    if upto == "parse":
                        df = batch.clean
                    elif upto in ("validate", "dedup"):
                        res = validate(batch.clean, feed.rules)
                        df = res.passed if upto == "validate" else dedup_exact(
                            res.passed, feed.key_cols, order)
                    else:
                        df, _, res = run_stages(feed, batch.clean)
                    if upto == "write":
                        write_warehouse(df.withColumn("_run_id", F.lit("probe")),
                                        os.path.join(probe, "wh"), FEED,
                                        partition_cols=["_run_id"], mode="overwrite")
                    else:
                        noop(df)
                finally:
                    if res is not None:
                        res.unpersist()
                    batch.unpersist()
            return go

        t = {}
        spans = {}
        for step in ("parse", "validate", "dedup", "enrich", "write"):
            t[step], spans[step] = self.prefix_time(f"probe.ingest.{step}", chain(step), reps)
        out["sources.csv_parse_s"] = t["parse"]
        out["quality.validate_s"] = t["validate"] - t["parse"]
        out["dedup.exact_s"] = t["dedup"] - t["validate"]
        out["pipeline.enrich_s"] = t["enrich"] - t["dedup"]
        out["sinks.write_s"] = t["write"] - t["enrich"]
        out["dedup.exact_shuffle_mb"] = (spans["dedup"].counters["shuffle_mb"]
                                         - spans["validate"].counters["shuffle_mb"])

        # run_sweep vs run_batch on the same small drop, ledger populated
        landing = os.path.join(root, "landing")
        sweep, batch = [], []
        for r in range(reps):
            dropped, _ = self._stage_drop(root, drops + r, self.small_rows[0])
            p = shutil.copy(dropped, os.path.join(probe, f"batch_{r}.csv"))
            t0 = time.perf_counter()
            self.eng.run_sweep(FEED, landing)
            sweep.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            self.eng.run_batch(FEED, p, run_id=f"probe-batch-{r}")
            batch.append(time.perf_counter() - t0)
        out["pipeline.sweep_overhead_s"] = median(sweep) - median(batch)

        emit = []
        sinks = SinkConfig(warehouse_dir=os.path.join(probe, "status"))
        for r in range(reps + 1):
            st = RunStatus(f"probe-{r}", FEED, 1, 1, 0, 0, time.time(), time.time())
            t0 = time.perf_counter()
            emit_run_status(self.spark, sinks, st)
            emit.append(time.perf_counter() - t0)
        out["telemetry.emit_s"] = median(emit)
        return out


# ---------------------------------------------------------------------------
# query: the analyst SQL subset and the curation operators
# ---------------------------------------------------------------------------

NEARDUP_THRESHOLD = 0.5
TOPK = 10


class Query(Workload):
    """Read-only work, one cycle after another: two passes over the SQL
    mix through ``IngestionEngine.query`` into the noop sink, one text pass
    (features, exact dedup, MinHash near-dup pairs) and one ``ivf_topk``
    search call."""

    name = "query"

    def __init__(self, ctx: Context) -> None:
        super().__init__(ctx)
        self.sf = 0.002 if ctx.tiny else 0.1
        self.n_docs = 1_500 if ctx.tiny else 5_000
        self.n_vec = 1_000 if ctx.tiny else 4_000
        self.n_queries = 20 if ctx.tiny else 100
        self.sf_dir = os.path.join(ctx.work, "sf")
        self.oracle_rows = [0, 0, 0]  # matched, oracle rows, spark rows
        self.pairs = [0, 0, 0, 0]  # planted found, planted, output true, output
        self.search = [0, 0]  # neighbours found, expected
        self.plan: list[float] = []

    def generate(self) -> None:
        self.corpus = gen.build_corpus(self.ctx.seed, self.n_docs, NEARDUP_THRESHOLD)
        self.vectors = gen.build_vectors(self.ctx.seed, self.n_vec, self.n_queries, TOPK)
        if self.ctx.corrupt_expected:
            self.corpus.distinct_normalized += 1  # self-test: must fail
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        self.tables = gen.write_star_schema(self.sf_dir, self.sf, self.ctx.seed,
                                            self.corpus.table, self.vectors.corpus)
        self.queries_path = os.path.join(self.ctx.work, "queries.parquet")
        pq.write_table(self.vectors.queries, self.queries_path)

    def _frames(self):
        from dataingestionengineprocess_spark.catalog import table_path

        r = self.spark.read.parquet
        return (r(table_path(self.sf_dir, "documents")),
                r(table_path(self.sf_dir, "embeddings")), r(self.queries_path))

    def warm_up(self) -> None:
        """The SQL warm-up pass is the oracle check: each query's result
        against its DuckDB oracle, compared by ``digest_frame``. The
        curation operators warm up on small slices."""
        import duckdb

        from dataingestionengineprocess_spark.catalog import table_path
        from dataingestionengineprocess_spark.oracle_compare import (
            digest_frame, normalize_frame)
        from dataingestionengineprocess_spark.queries import all_oracles

        self.eng = IngestionEngine(self.spark, None)
        oracles = all_oracles()
        con = duckdb.connect()
        try:
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{table_path(self.sf_dir, t)}')")
            for q in MIX:
                got = self.eng.query(q, self.sf_dir).toPandas()
                want = con.execute(oracles[q]).df()
                s_rows, o_rows = Counter(normalize_frame(got)), Counter(normalize_frame(want))
                self.oracle_rows[0] += sum((s_rows & o_rows).values())
                self.oracle_rows[1] += sum(o_rows.values())
                self.oracle_rows[2] += sum(s_rows.values())
                same_cols = sorted(got.columns) == sorted(want.columns)
                self.ctx.check(same_cols and digest_frame(got) == digest_frame(want),
                               f"{q}: result differs from its oracle")
        finally:
            con.close()
        docs, vecs, qs = self._frames()
        self._text_pass(docs.filter(F.col("doc_id") < 300))
        self._search(vecs.filter(F.col("vec_id") < 300), qs.limit(5))

    def _query(self, q: str) -> None:
        t0 = time.perf_counter()
        df = self.eng.query(q, self.sf_dir)
        self.plan.append(time.perf_counter() - t0)
        noop(df)

    @staticmethod
    def _features(docs):
        from dataingestionengineprocess_spark.functions.text import (
            fingerprint, lang_id, quality_score)

        return docs.select("doc_id", quality_score("text").alias("quality"),
                           lang_id("text").alias("lang_guess"),
                           fingerprint("text").alias("fp"))

    def _text_pass(self, docs):
        from dataingestionengineprocess_spark.operators.dedup import (
            dedup_exact_text, minhash_neardup_pairs)

        langs = {r[0]: r[1] for r in self._features(docs).groupBy("lang_guess")
                 .agg(F.count(F.lit(1)), F.sum("quality")).collect()}
        kept = dedup_exact_text(docs).count()
        pairs = [(r[0], r[1]) for r in
                 minhash_neardup_pairs(docs, est_threshold=NEARDUP_THRESHOLD).collect()]
        return langs, kept, pairs

    @staticmethod
    def _search(vecs, qs):
        from dataingestionengineprocess_spark.operators.similarity import ivf_topk

        return ivf_topk(vecs, qs, k=TOPK).collect()

    def run(self, seconds: float) -> None:
        docs, vecs, qs = self._frames()
        c = self.corpus
        shingles = [gen.shingle_set(s) for s in c.texts]
        t_start = time.perf_counter()
        last_cycle, k = 0.0, 0
        while k == 0 or time.perf_counter() + last_cycle < t_start + seconds:
            c0 = time.perf_counter()
            # two SQL passes; a traced run traces the first only, and the
            # difference is the tracing overhead
            for sql_pass in range(2):
                for q in MIX:
                    _, ok = self.timed(q, lambda: self._query(q), traced=sql_pass == 0)
                    if ok:
                        self.ctx.check(True, q)
            got, ok = self.timed("text", lambda: self._text_pass(docs))
            if ok:
                langs, kept, pairs = got
                # doc ids are generator row numbers
                true = sum(1 for a, b in pairs if gen.jaccard(
                    shingles[a], shingles[b]) >= NEARDUP_THRESHOLD)
                self.pairs[0] += len(set(pairs) & c.planted)
                self.pairs[1] += len(c.planted)
                self.pairs[2] += true
                self.pairs[3] += len(pairs)
                self.pairs_out = len(pairs)
                self.ctx.check(
                    langs == c.lang_counts and kept == c.distinct_normalized
                    and all(a < b for a, b in pairs),
                    f"text pass: langs {langs} kept {kept} vs "
                    f"{c.lang_counts} {c.distinct_normalized}")
            got, ok = self.timed("search", lambda: self._search(vecs, qs))
            if ok:
                res: dict[int, set[int]] = {}
                for r in got:
                    res.setdefault(r["query_id"], set()).add(r["neighbor_id"])
                self.search[0] += sum(len(res.get(q, set()) & nn)
                                      for q, nn in self.vectors.exact.items())
                self.search[1] += sum(len(nn) for nn in self.vectors.exact.values())
                self.ctx.check(
                    set(res) <= set(self.vectors.exact)
                    and all(len(v) <= TOPK for v in res.values()),
                    "search: result rows outside the query set or above k")
            last_cycle = time.perf_counter() - c0
            k += 1
        self.cycles = k

    def metrics(self) -> tuple[dict, dict]:
        sql = [s.seconds for s in self.samples if s.kind in MIX]
        text, search = self.times("text"), self.times("search")
        found, planted, true, out = self.pairs
        matched, oracle_rows, spark_rows = self.oracle_rows
        neardup_recall = found / max(planted, 1)
        neardup_precision = true / max(out, 1)
        search_recall = self.search[0] / max(self.search[1], 1)
        e2e = {
            "op_p50_s": median(sql),
            "aux_p50_s": median(search),
            "items_per_s": self.n_docs * len(text) / sum(text),
            "recall": min(matched / max(oracle_rows, 1), neardup_recall, search_recall),
            "precision": min(matched / max(spark_rows, 1), neardup_precision),
        }
        named = {
            "analyst.query_p50_s": (median(sql), "s"),
            "analyst.query_tail_s": (tail(sql), "s"),
            "analyst.queries_per_s": (len(sql) / sum(sql), "1/s"),
            "curation.docs_per_s": (e2e["items_per_s"], "docs/s"),
            "curation.neardup_recall": (neardup_recall, "ratio"),
            "curation.neardup_precision": (neardup_precision, "ratio"),
            "curation.search_queries_per_s": (self.n_queries * len(search) / sum(search), "1/s"),
            "curation.search_recall_at_10": (search_recall, "ratio"),
            "query.cycles": (self.cycles, "count"),
        }
        return e2e, named

    def layer_metrics(self) -> dict[str, float]:
        out = self.base_layer_metrics()
        out["trace.op_p50_overhead_s"] = self.overhead(MIX)
        spans = self.op_spans()
        sql_spans = [sp for sp in spans if sp.name.removeprefix("query.") in MIX]
        for q in MIX:
            out[f"queries.{q}_s"] = median([sp.wall for sp in sql_spans
                                            if sp.name == f"query.{q}"])
        out["queries.plan_s"] = median(self.plan)
        traced_passes = len(sql_spans) // len(MIX)
        out["catalog.scan_mb"] = sum(sp.counters["input_mb"] for sp in sql_spans) / traced_passes
        out["dedup.pairs_out"] = float(self.pairs_out)
        out["similarity.ivf_s"] = median([sp.wall for sp in spans
                                          if sp.name == "query.search"])
        return out | self._operator_probes(reps=2)

    def light_layers(self) -> dict[str, float]:
        """This workload's layer times from one cold pass on tiny inputs:
        a traced run of the other workload reports them, so that every
        traced run measures every layer."""
        self.generate()
        self.eng = IngestionEngine(self.spark, None)
        out = {"catalog.scan_mb": 0.0}
        for q in MIX:
            with self.ctx.tracer.span(f"light.query.{q}") as sp:
                self._query(q)
            out[f"queries.{q}_s"] = sp.wall
            out["catalog.scan_mb"] += sp.counters["input_mb"]
        out["queries.plan_s"] = median(self.plan)
        _, vecs, qs = self._frames()
        with self.ctx.tracer.span("light.query.search") as sp:
            self._search(vecs, qs)
        out["similarity.ivf_s"] = sp.wall
        return out | self._operator_probes(reps=1)

    def _operator_probes(self, reps: int) -> dict[str, float]:
        """Self times of the curation operators, each materialized on its
        own (fastest of ``reps``); MinHash pairs net of the signatures."""
        from dataingestionengineprocess_spark.operators.dedup import (
            dedup_exact_text, minhash_neardup_pairs, minhash_signatures)
        from dataingestionengineprocess_spark.operators.similarity import (
            brute_force_topk, kmeans_centroids)

        docs, vecs, qs = self._frames()
        out = {}
        out["text.features_s"], _ = self.prefix_time(
            "probe.query.features", lambda: noop(self._features(docs)), reps)
        out["dedup.exact_text_s"], _ = self.prefix_time(
            "probe.query.exact_text", lambda: noop(dedup_exact_text(docs)), reps)
        sig, _ = self.prefix_time(
            "probe.query.minhash_sig", lambda: noop(minhash_signatures(docs)), reps)
        pairs, pair_span = self.prefix_time(
            "probe.query.minhash_pairs",
            lambda: minhash_neardup_pairs(docs, est_threshold=NEARDUP_THRESHOLD).collect(),
            reps)
        out["dedup.minhash_sig_s"] = sig
        out["dedup.minhash_pairs_s"] = pairs - sig
        out["dedup.minhash_shuffle_mb"] = pair_span.counters["shuffle_mb"]
        out["similarity.kmeans_s"], _ = self.prefix_time(
            "probe.query.kmeans",
            lambda: kmeans_centroids(vecs, 8, id_col="vec_id",
                                     vec_col="embedding").collect(), reps)
        out["similarity.brute_force_s"], _ = self.prefix_time(
            "probe.query.brute_force",
            lambda: brute_force_topk(vecs, qs, k=TOPK).collect(), reps)
        return out


WORKLOADS = {w.name: w for w in (Ingest, Query)}
