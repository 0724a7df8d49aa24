"""The benchmark's workloads: what each one generates and the operation
list of one pass.

Every workload drives the package through its public entry points only:
``queries.REGISTRY[name].fn``, ``plans.audit``, ``engine.Engine`` /
``catalog.Catalog``, ``sinks.write_sorted``, ``table.VersionedTable``
and ``streaming.stream_events``.  Each operation is timed by the caller
as one closed-loop request; its optional ``check`` runs after it,
outside the timed region, on the cold pass only.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import duckdb
from pyspark.sql import functions as F

from gen import Generator, tree_bytes, write_parts
from oracle_harness import duck_connection, duck_signature, result_signature

# Eleven of the planned fifteen operator-heavy queries: with all fifteen
# a run took 75-96 s on four cores, too long for the run budget beside
# ingest (README.md).  semantic_dedup, bigram_lm_scores, copurchase_rules
# and bloom_prefilter_dedup are left out; each repeats a layer mix that a
# kept query already covers.  embedding_near_dups is left out because on
# this generator's tight embedding clusters its pair enumeration grows
# quadratically with the data.
PIPELINE_QUERIES = [
    "pagerank_copurchase",
    "ssjoin_near_dups",
    "tdigest_weekly_rollup",
    "substring_dedup_docs",
    "pca_whitening",
    "lineitem_corr_matrix",
    "curation_pipeline_v2",
    "tdigest_price_quantiles",
    "dsir_importance_weights",
    "video_shot_boundaries",
    "semantic_decontamination",
]


def mismatch(got: tuple, want: tuple) -> str | None:
    """None when two result signatures agree, else which parts differ."""
    parts = ("rows", "columns", "hash")
    return ",".join(p for p, a, b in zip(parts, got, want) if a != b) or None


@dataclass
class Op:
    name: str
    kind: str  # query | commit | read | stream | write
    run: Callable[[], Any]
    check: Callable[[Any], str | None] | None = None


@dataclass
class Ctx:
    """What a workload needs from the run: the session, where its data
    lives, the seed, and the tracer."""

    spark: Any
    tracer: Any
    seed: int
    sf: float
    data_dir: str
    work_dir: str
    engine: Any = None
    oracle: Any = None
    inputs: dict = field(default_factory=dict)


@dataclass
class QueryResult:
    df: Any
    rows: list


class QueryWorkload:
    """A fixed list of registry queries, each checked against its DuckDB
    oracle."""

    def __init__(self, name: str, queries: list[str], tables: list[str], sf: float):
        self.name = name
        self.queries = queries
        self.tables = tables
        self.sf = sf

    def setup(self, ctx: Ctx) -> None:
        with ctx.tracer.span("gen"):
            ctx.inputs = Generator(ctx.sf, ctx.seed).write(self.tables, ctx.data_dir)

    def prepare_checks(self, ctx: Ctx) -> None:
        ctx.oracle = duck_connection(ctx.data_dir)

    def ops(self, ctx: Ctx, pass_no: int) -> tuple[list[Op], None]:
        from sparkplans.queries import REGISTRY

        def run(name):
            tr = ctx.tracer
            with tr.span("queries.build"):
                df = REGISTRY[name].fn(ctx.spark, ctx.data_dir)
            if tr.enabled:
                with tr.span("plans.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("execute"):
                rows = df.collect()
            return QueryResult(df, rows)

        def check(name, res: QueryResult):
            want = duck_signature(ctx.oracle, REGISTRY[name].oracle)
            return mismatch(result_signature(res.df.columns, res.rows), want)

        ops = [
            Op(q, "query", lambda q=q: run(q), lambda r, q=q: check(q, r))
            for q in self.queries
        ]
        return ops, None

    def pass_layers(self, ctx: Ctx, state: Any) -> dict:
        return {}


# ---------------------------------------------------------------------
# ingest: writes beside reads on one versioned table and one catalog
# ---------------------------------------------------------------------

EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


@dataclass
class IngestPass:
    """What one ingest pass leaves behind for the metrics."""

    vt: Any = None
    commit_s: list = field(default_factory=list)  # stream batch commits
    batch_s: list = field(default_factory=list)
    tt_version: int | None = None
    log_versions: int = 0
    files_live: int = 0
    table_files_pruned: int = 0
    catalog_files_pruned: int = 0
    sorts_elided: int = 0
    bytes_on_disk: int = 0


class IngestWorkload:
    """Seeded events arrive as stream micro-batches and append commits
    into one ``VersionedTable``; merges, an update, a delete, a compact
    and a vacuum rewrite it; range, time-travel and sorted-catalog reads
    run in between.  The final snapshot and one time-travel version are
    checked against DuckDB replaying the same operations."""

    name = "ingest"
    STREAM_FILES = 4
    APPENDS = 20
    MERGE_EVERY = 10
    READ_EVERY = 5

    def __init__(self, sf: float):
        self.sf = sf
        self.merges = self.APPENDS // self.MERGE_EVERY

    # -- inputs ----------------------------------------------------------

    def setup(self, ctx: Ctx) -> None:
        from sparkplans.engine import Engine

        gen = Generator(ctx.sf, ctx.seed)
        slices = self.STREAM_FILES + self.APPENDS + self.merges
        per = max(gen.n["events"] // slices, 1)
        src = os.path.join(ctx.data_dir, "stream")
        extra = os.path.join(ctx.data_dir, "slices")
        with ctx.tracer.span("gen"):
            events = gen.table("events", gen.events(slices * per))
            # one stream file per micro-batch, then one directory per
            # append or merge slice
            write_parts(events.slice(0, self.STREAM_FILES * per), src, self.STREAM_FILES)
            for k in range(self.APPENDS + self.merges):
                write_parts(
                    events.slice((self.STREAM_FILES + k) * per, per), self._slice_path(ctx, k), 1
                )
        with ctx.tracer.span("engine.Engine"):
            ctx.engine = Engine(spark=ctx.spark)
        ctx.inputs = {
            "stream": {"rows": self.STREAM_FILES * per, "bytes": tree_bytes(src)},
            "slices": {"rows": (self.APPENDS + self.merges) * per, "bytes": tree_bytes(extra)},
            "rows_per_slice": per,
        }

    def _source(self, ctx: Ctx, path: str):
        from sparkplans.streaming import EVENTS_SCHEMA, normalize_event_ts

        return normalize_event_ts(ctx.spark.read.schema(EVENTS_SCHEMA).parquet(path))

    def _slice_path(self, ctx: Ctx, i: int) -> str:
        return os.path.join(ctx.data_dir, "slices", f"slice={i}")

    def _merge_updates(self, ctx: Ctx, vt, k: int):
        """Every tenth current row (seeded) gets value + 1, and one
        fresh slice of new keys arrives with it."""
        changed = (
            vt.read()
            .filter((F.col("event_id") + k + ctx.seed) % 10 == 0)
            .withColumn("value", F.col("value") + 1)
        )
        fresh = self._source(ctx, self._slice_path(ctx, self.APPENDS + k))
        return changed.unionByName(fresh)

    # -- one pass --------------------------------------------------------

    def ops(self, ctx: Ctx, pass_no: int) -> tuple[list[Op], IngestPass]:
        from sparkplans import plans
        from sparkplans.sinks import write_sorted
        from sparkplans.streaming import stream_events
        from sparkplans.table import VersionedTable

        tr = ctx.tracer
        spark = ctx.spark
        root = os.path.join(ctx.work_dir, f"ingest-{pass_no}")
        src = os.path.join(ctx.data_dir, "stream")
        per = ctx.inputs["rows_per_slice"]
        st = IngestPass()
        sorted_name = f"events_sorted_{pass_no}"
        ops: list[Op] = []

        def agg(df):
            return df.agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v")).collect()

        def write_sorted_op():
            with tr.span("sinks.write_sorted"):
                write_sorted(
                    self._source(ctx, src),
                    os.path.join(root, "sorted"),
                    order_by="event_id",
                    num_files=self.STREAM_FILES,
                    catalog=ctx.engine.catalog,
                    register_as=sorted_name,
                )
            with tr.span("table.VersionedTable"):
                st.vt = VersionedTable(spark, os.path.join(root, "table"))

        def stream_op():
            def sink(batch_df, batch_id):
                t0 = time.perf_counter()
                with tr.span("table.streaming_append_batch"):
                    st.vt.streaming_append_batch(batch_df, batch_id)
                st.commit_s.append(time.perf_counter() - t0)

            with tr.span("streaming.stream_events"):
                q = (
                    stream_events(spark, src, max_files_per_trigger=1)
                    .writeStream.foreachBatch(sink)
                    .option("checkpointLocation", os.path.join(root, "checkpoint"))
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
            for p in q.recentProgress:
                dur = p["durationMs"] if isinstance(p, dict) else p.durationMs
                st.batch_s.append(dur["triggerExecution"] / 1e3)

        def append_op(i):
            with tr.span("table.append"):
                st.vt.append(self._source(ctx, self._slice_path(ctx, i)), stats_cols=["event_id"])

        def merge_op(k):
            with tr.span("table.merge"):
                v = st.vt.merge(self._merge_updates(ctx, st.vt, k), "event_id")
            if k == 0:
                st.tt_version = v

        def pruned_read_op(i):
            lo = (self.STREAM_FILES + i) * per
            hi = lo + per - 1
            if tr.enabled:
                with tr.span("plans.audit"):
                    st.table_files_pruned += len(st.vt.pruned_files("event_id")) - len(
                        st.vt.pruned_files("event_id", lo, hi)
                    )
            with tr.span("table.read_pruned"):
                return agg(st.vt.read_pruned("event_id", lo, hi))

        def time_travel_op():
            with tr.span("table.read"):
                return agg(st.vt.read(version=max(st.vt.versions()[-1] - 3, 0)))

        def sorted_read_op(r):
            # a window inside one of the sorted files, so file pruning
            # leaves one sorted partition and the sort is elided
            width = max(per // 2, 1)
            lo = ((ctx.seed * 7919 + r * 104729) % self.STREAM_FILES) * per + per // 4
            with tr.span("engine.read_range"):
                frame = ctx.engine.read_range(sorted_name, "event_id", lo, lo + width - 1)
            with tr.span("engine.order_by"):
                frame = frame.order_by("event_id")
            if tr.enabled:
                with tr.span("plans.audit"):
                    cat = ctx.engine.catalog
                    st.catalog_files_pruned += len(cat.table_spec(sorted_name).files) - len(
                        cat.prune_files(sorted_name, "event_id", lo, lo + width - 1)
                    )
                    st.sorts_elided += plans.num_sorts(frame.df) == 0
            with tr.span("execute"):
                rows = frame.df.collect()
            return rows, lo, width

        def check_sorted(res):
            rows, lo, width = res
            ids = [r["event_id"] for r in rows]
            if ids != list(range(lo, lo + width)):
                return "sorted range read out of order or incomplete"
            return None

        def rewrite_op(kind):
            with tr.span(f"table.{kind}"):
                if kind == "update":
                    st.vt.update("event_type = 'error'", {"value": "value * 2"})
                elif kind == "delete":
                    st.vt.delete("value > 200")
                else:
                    st.vt.compact(target_files=2)

        def vacuum_op():
            st.log_versions = len(st.vt.versions())
            with tr.span("table.vacuum"):
                st.vt.vacuum(keep_versions=3)

        def final_read_op():
            with tr.span("table.read"):
                return agg(st.vt.read())

        ops.append(Op("write_sorted", "write", write_sorted_op))
        ops.append(Op("stream", "stream", stream_op))
        reads = 0
        for i in range(self.APPENDS):
            ops.append(Op("append", "commit", lambda i=i: append_op(i)))
            if (i + 1) % self.MERGE_EVERY == 0:
                k = (i + 1) // self.MERGE_EVERY - 1
                ops.append(Op("merge", "commit", lambda k=k: merge_op(k)))
            if (i + 1) % self.READ_EVERY == 0:
                ops.append(Op("read_pruned", "read", lambda i=i: pruned_read_op(i)))
                ops.append(Op("time_travel", "read", time_travel_op))
                ops.append(Op("sorted_range", "read", lambda r=reads: sorted_read_op(r), check_sorted))
                reads += 1
        for kind in ("update", "delete", "compact"):
            ops.append(Op(kind, "commit", lambda kind=kind: rewrite_op(kind)))
        ops.append(Op("time_travel", "read", time_travel_op, lambda _: self._check_tt(ctx, st)))
        ops.append(Op("vacuum", "write", vacuum_op))
        ops.append(Op("snapshot", "read", final_read_op, lambda _: self._check_final(ctx, st)))
        return ops, st

    def pass_layers(self, ctx: Ctx, st: IngestPass) -> dict:
        st.files_live = len(st.vt.pruned_files("event_id"))
        st.bytes_on_disk = tree_bytes(st.vt.root)
        return {
            "log_versions": st.log_versions,
            "files_live": st.files_live,
            "bytes_on_disk": st.bytes_on_disk,
            "table_files_pruned": st.table_files_pruned,
            "catalog_files_pruned": st.catalog_files_pruned,
            "sorts_elided": st.sorts_elided,
            "stream_commit_s": st.commit_s,
            "batch_s": st.batch_s,
        }

    # -- checks against a DuckDB replay ------------------------------------

    def prepare_checks(self, ctx: Ctx) -> None:
        ctx.oracle = self._replay(ctx)

    def _replay(self, ctx: Ctx) -> dict:
        """Signatures of the time-travel version (right after the first
        merge) and of the final snapshot, from DuckDB applying the same
        operations to the same input files."""
        def scan(path):
            return f"read_parquet('{path}/*.parquet', hive_partitioning = false)"

        con = duckdb.connect()
        try:
            cols = ", ".join(EVENT_COLS)
            con.execute(f"CREATE TABLE t AS SELECT {cols} FROM {scan(os.path.join(ctx.data_dir, 'stream'))}")
            want = {}
            for i in range(self.APPENDS):
                con.execute(f"INSERT INTO t SELECT {cols} FROM {scan(self._slice_path(ctx, i))}")
                if (i + 1) % self.MERGE_EVERY:
                    continue
                k = (i + 1) // self.MERGE_EVERY - 1
                con.execute(
                    "CREATE OR REPLACE TEMP TABLE u AS "
                    "SELECT event_id, ts, user_id, event_type, value + 1 AS value, props "
                    f"FROM t WHERE (event_id + {k} + {ctx.seed}) % 10 = 0 "
                    f"UNION ALL SELECT {cols} FROM {scan(self._slice_path(ctx, self.APPENDS + k))}"
                )
                con.execute("DELETE FROM t WHERE event_id IN (SELECT event_id FROM u)")
                con.execute("INSERT INTO t SELECT * FROM u")
                if k == 0:
                    want["time_travel"] = self._duck_sig(con)
            con.execute("UPDATE t SET value = value * 2 WHERE event_type = 'error'")
            con.execute("DELETE FROM t WHERE value > 200")
            want["final"] = self._duck_sig(con)
        finally:
            con.close()
        return want

    @staticmethod
    def _duck_sig(con):
        return duck_signature(con, f"SELECT {', '.join(EVENT_COLS)} FROM t")

    @staticmethod
    def _spark_sig(df):
        df = df.select(*EVENT_COLS)
        return result_signature(df.columns, [tuple(r) for r in df.collect()])

    def _check_tt(self, ctx: Ctx, st: IngestPass) -> str | None:
        got = self._spark_sig(st.vt.read(version=st.tt_version))
        bad = mismatch(got, ctx.oracle["time_travel"])
        return f"time travel to v{st.tt_version}: {bad}" if bad else None

    def _check_final(self, ctx: Ctx, st: IngestPass) -> str | None:
        bad = mismatch(self._spark_sig(st.vt.read()), ctx.oracle["final"])
        return f"final snapshot: {bad}" if bad else None


PIPELINE_TABLES = ["lineitem", "documents", "embeddings"]


def make(name: str, sf: float | None):
    # The sizes keep a run of each workload inside the benchmark's time
    # budget on four cores; README.md records the measurements.
    if name == "pipeline":
        return QueryWorkload(name, PIPELINE_QUERIES, PIPELINE_TABLES, sf or 0.01)
    if name == "ingest":
        return IngestWorkload(sf or 0.05)
    raise KeyError(name)


WORKLOADS = ("pipeline", "ingest")
