"""Catalog + order-aware engine tests over reference-shaped fixtures
(mirrors tests/setup_tables.rs registration + golden behaviour)."""

import itertools

import duckdb
import pytest

from sparkplans import plans
from sparkplans.engine import Engine
from tests.fixtures import DIM_ROWS, write_dimension, write_dimension_csv, write_fact2


@pytest.fixture(scope="module")
def fixture_dirs(tmp_path_factory):
    base = tmp_path_factory.mktemp("reffix")
    dim_dir = str(base / "dimension1")
    fact_dir = str(base / "fact2")
    write_dimension(dim_dir)
    write_dimension_csv(dim_dir + "_csv")
    write_fact2(fact_dir)
    return {"dim": dim_dir, "dim_csv": dim_dir + "_csv", "fact": fact_dir}


@pytest.fixture(scope="module")
def eng(spark, fixture_dirs):
    e = Engine(spark=spark)
    e.create_external_table(
        "dim", fixture_dirs["dim"], format="parquet",
        with_order=["env", "service", "host"],
    )
    e.create_external_table(
        "dim_csv", fixture_dirs["dim_csv"], format="csv",
        with_order=["env", "service", "host"],
    )
    e.create_external_table(
        "fact", fixture_dirs["fact"], format="parquet",
        with_order=["f_dkey", "timestamp"],
    )
    return e


def test_dimension_scan(eng):
    # tests/setup_tables.rs:103-115: 4 rows in declared order
    rows = [tuple(r) for r in eng.table("dim").order_by("env", "service", "host").df.collect()]
    assert rows == DIM_ROWS


def test_csv_table_scan(eng):
    rows = [tuple(r) for r in eng.table("dim_csv").df.collect()]
    assert sorted(rows) == sorted(DIM_ROWS)


def test_sort_elision_exact_and_prefix(eng):
    """docs/4:33-84 — ordered single-file table: ORDER BY matching the
    declared order (exactly or by prefix) emits NO sort at all."""
    for keys in (["env", "service", "host"], ["env", "service"], ["env"]):
        df = eng.table("dim").order_by(*keys).df
        assert plans.num_sorts(df) == 0, f"sort not elided for {keys}"


def test_sort_kept_for_non_prefix(eng):
    # docs/4:87-111 "Bad Subset": must NOT elide
    df = eng.table("dim").order_by("env", "host").df
    assert plans.num_sorts(df) >= 1


def test_elided_sort_is_still_correct(eng, fixture_dirs):
    con = duckdb.connect()
    want = con.execute(
        f"SELECT * FROM read_parquet('{fixture_dirs['dim']}/*.parquet') ORDER BY env, service"
    ).fetchall()
    got = [tuple(r) for r in eng.table("dim").order_by("env", "service").df.collect()]
    assert got == want


def test_filter_preserves_ordering_metadata(eng):
    f = eng.table("dim").filter("env = 'prod'")
    assert [k.col for k in f.ordering] == ["env", "service", "host"]
    df = f.order_by("env", "service").df
    assert plans.num_sorts(df) == 0


def test_projection_drops_ordering_suffix(eng):
    p = eng.table("dim").select("env", "host")
    assert [k.col for k in p.ordering] == ["env"]
    assert plans.num_sorts(p.order_by("env").df) == 0
    assert plans.num_sorts(p.order_by("host").df) >= 1


def test_fact_partition_per_file(eng):
    """tests/setup_tables.rs:86-88: each sorted file is one execution
    partition; no shuffle in the read."""
    of = eng.table("fact")
    assert of.df.rdd.getNumPartitions() == 2
    assert plans.num_exchanges(of.df) == 0
    assert of.df.count() == 45


def test_fact_ordered_merge_matches_oracle(eng, fixture_dirs):
    # tests/setup_tables.rs:138-191: 45 rows merged in (f_dkey, ts) order
    con = duckdb.connect()
    want = con.execute(
        f"SELECT * FROM read_parquet('{fixture_dirs['fact']}/*.parquet') "
        "ORDER BY f_dkey, timestamp"
    ).fetchall()
    got = [tuple(r) for r in eng.table("fact").order_by("f_dkey", "timestamp").df.collect()]
    assert got == want


def test_in_memory_table_insert(eng):
    eng.create_table("mem", "k STRING, v BIGINT", [("a", 1)])
    eng.insert_into("mem", [("b", 2)])
    assert eng.spark.table("mem").count() == 2


def test_introspection(eng):
    tables = {t["table_name"] for t in eng.catalog.show_tables()}
    assert {"dim", "fact", "mem"} <= tables
    cols = eng.catalog.show_columns("dim")
    assert [c["column_name"] for c in cols] == ["d_dkey", "env", "service", "host"]
    assert all(c["is_nullable"] == "YES" for c in cols)
    spec = eng.catalog.table_spec("fact")
    assert len(spec.files) == 2
    assert [k.col for k in spec.sort_order] == ["f_dkey", "timestamp"]


def test_settings_surface(eng):
    s = eng.settings()
    assert "spark.sql.shuffle.partitions" in s
    eng.set("spark.sql.autoBroadcastJoinThreshold", "1048576")
    assert eng.settings()["spark.sql.autoBroadcastJoinThreshold"] == "1048576"
    eng.set("spark.sql.autoBroadcastJoinThreshold", 10 * 1024 * 1024)


def test_json_external_table(eng, spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("json_tbl"))
    spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "k BIGINT, s STRING, v DOUBLE"
    ).coalesce(1).write.mode("overwrite").json(d)
    eng.create_external_table("json_t", d, format="json", schema="k BIGINT, s STRING, v DOUBLE")
    got = sorted((r.k, r.s, r.v) for r in eng.table("json_t").df.collect())
    assert got == [(1, "a", 1.5), (2, "b", 2.5)]
    assert eng.sql("SELECT count(*) AS n FROM json_t").collect()[0].n == 2


def test_date_bin_origin_shifts_grid(spark):
    """date_bin's optional origin (the reference's third argument):
    buckets align to origin + k*interval instead of the epoch grid."""
    from sparkplans.functions.datetime import date_bin
    from pyspark.sql import functions as F

    df = spark.sql(
        "SELECT TIMESTAMP '2023-01-01 09:00:17' AS ts "
        "UNION ALL SELECT TIMESTAMP '2023-01-01 09:00:47'"
    )
    default = [
        str(r.b) for r in df.select(date_bin("ts", "30 seconds").alias("b")).collect()
    ]
    shifted = [
        str(r.b)
        for r in df.select(
            date_bin("ts", "30 seconds", origin="10 seconds").alias("b")
        ).collect()
    ]
    assert sorted(default) == ["2023-01-01 09:00:00", "2023-01-01 09:00:30"]
    assert sorted(shifted) == ["2023-01-01 09:00:10", "2023-01-01 09:00:40"]


def test_date_bin_randomized_cross_engine_parity(spark):
    """SURVEY hard-part #3: date_bin bin-origin/edge parity.  1000
    seeded-random timestamps, four intervals, Spark window-start vs
    DuckDB time_bucket — every bin must agree exactly."""
    import random

    import duckdb
    from pyspark.sql import functions as F

    from sparkplans.functions.datetime import date_bin

    rng = random.Random(42)
    base = 1_672_531_200  # 2023-01-01 00:00:00 UTC
    secs = [base + rng.randrange(0, 400 * 86400) for _ in range(1000)]
    df = spark.createDataFrame(
        [(s,) for s in secs], "epoch BIGINT"
    ).select(F.timestamp_seconds("epoch").cast("timestamp_ntz").alias("ts"), "epoch")

    # NB: DuckDB time_bucket defaults to a 2000-01-03 origin; DataFusion
    # date_bin (which we mirror, via Spark's epoch-aligned window) uses
    # the epoch — so the oracle pins origin = epoch explicitly.  For
    # hour/day-divisor intervals the two grids coincide, which is why
    # the plain time_bucket oracles in queries/ are correct as written.
    con = duckdb.connect()
    for interval in ["30 seconds", "5 minutes", "1 hour", "7 minutes"]:
        got = {
            r.epoch: str(r.bin)
            for r in df.select("epoch", date_bin("ts", interval).alias("bin")).collect()
        }
        want = {
            e: str(b)
            for e, b in con.execute(
                f"SELECT e, time_bucket(INTERVAL '{interval}', "
                "to_timestamp(e)::TIMESTAMP, TIMESTAMP '1970-01-01') "
                "FROM (SELECT unnest($1::BIGINT[]) AS e)",
                [secs],
            ).fetchall()
        }
        assert got == want, f"bin mismatch for interval {interval}"


def test_information_schema_sql_views(eng):
    """The reference queries information_schema via SQL (docs/1:24-62);
    the engine exposes the same surface as temp views."""
    eng.refresh_information_schema()
    t = {
        r.table_name
        for r in eng.sql("SELECT table_name FROM information_schema_tables").collect()
    }
    assert "dim" in t and "fact" in t
    cols = eng.sql(
        "SELECT column_name FROM information_schema_columns "
        "WHERE table_name = 'dim' ORDER BY column_name"
    ).collect()
    assert [c.column_name for c in cols] == ["d_dkey", "env", "host", "service"]
    sp = eng.sql(
        "SELECT value FROM information_schema_settings "
        "WHERE key = 'spark.sql.shuffle.partitions'"
    ).collect()
    assert sp and sp[0].value.isdigit()


def test_csv_directory_per_file_partitions(eng, spark, tmp_path_factory):
    """Multi-file sorted CSV dir (docs/2:134-140 is the parquet twin):
    one partition per file, ordered merge correct."""
    import duckdb

    d = str(tmp_path_factory.mktemp("csv_dir"))
    orders = spark.read.parquet(f"{__import__('tests.conftest', fromlist=['SF_DIR']).SF_DIR}/orders.parquet")
    from sparkplans import sinks

    half = orders.count() // 2
    a = orders.filter(f"o_orderkey < {half}").sort("o_orderkey")
    b = orders.filter(f"o_orderkey >= {half}").sort("o_orderkey")
    a.coalesce(1).write.option("header", True).mode("overwrite").csv(d + "/p1")
    b.coalesce(1).write.option("header", True).mode("overwrite").csv(d + "/p2")
    import glob, shutil
    for i, f in enumerate(sorted(glob.glob(d + "/p*/part-*.csv"))):
        shutil.move(f, f"{d}/f{i}.csv")
    shutil.rmtree(d + "/p1"); shutil.rmtree(d + "/p2")

    eng.create_external_table(
        "orders_csv_dir", d, format="csv",
        schema="o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
               "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING",
        with_order=["o_orderkey"],
    )
    of = eng.table("orders_csv_dir")
    assert of.df.rdd.getNumPartitions() == 2
    keys = [r.o_orderkey for r in of.order_by("o_orderkey").df.select("o_orderkey").collect()]
    assert keys == sorted(keys) and len(keys) == orders.count()


def test_with_order_rejects_unknown_column(eng, fixture_dirs):
    """A declared order over a nonexistent column would silently break
    sort elision — the catalog must refuse it at registration."""
    with pytest.raises(ValueError, match="WITH ORDER columns not in table"):
        eng.create_external_table(
            "bad_order", fixture_dirs["dim"], format="parquet",
            with_order=["env", "no_such_col"],
        )
    assert "bad_order" not in {t["table_name"] for t in eng.catalog.show_tables()}


def test_cache_table_uses_inmemory_scan(eng, spark):
    eng.cache_table("dim")
    try:
        plan = plans.physical_plan_str(spark.table("dim"))
        assert "InMemoryRelation" in plan, plan[:400]
        assert spark.table("dim").count() == 4
    finally:
        eng.uncache_table("dim")
    assert "InMemoryRelation" not in plans.physical_plan_str(spark.table("dim"))


def test_fan_out_small_file_yes_many_files_no(spark, tmp_path):
    """sources.fan_out repartitions a single-small-file scan up to
    session parallelism, and is a NO-OP once the input already spans
    enough files (the 100 TB case) — so the helper can never add a
    shuffle at real scale."""
    from sparkplans import plans
    from sparkplans.sources import fan_out, load_table

    from tests.conftest import SF_DIR

    single = load_table(spark, SF_DIR, "documents")
    fanned = fan_out(spark, single)
    assert "RoundRobinPartitioning" in plans.physical_plan_str(fanned)

    n = spark.sparkContext.defaultParallelism
    many_dir = str(tmp_path / "many_files")
    single.repartition(n).write.parquet(many_dir)
    multi = spark.read.parquet(many_dir)
    assert len(multi.inputFiles()) >= n
    same = fan_out(spark, multi)
    assert same is multi  # not even a new plan node


_JOB_GROUPS = itertools.count()


def _jobs_of(spark, fn):
    """``fn()`` and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"jobs-of-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_infers_schema_once(spark, tmp_path, monkeypatch):
    """sources.load_table infers a table's parquet schema once and
    re-reads it with the schema passed in: a warm load launches no
    Spark job.  The memo is keyed on the directory listing (a rewrite
    is re-inferred) and on the session's inference confs; a
    partitioned directory always goes through inference."""
    import os
    import shutil

    from pyspark.sql.types import LongType, TimestampNTZType

    from sparkplans import sources
    from tests.conftest import SF_DIR

    sf = str(tmp_path / "sf")
    table = f"{sf}/t.parquet"
    spark.range(20).selectExpr("id", "id * 2 AS v").coalesce(2).write.parquet(table)
    first, _ = _jobs_of(spark, lambda: sources.load_table(spark, sf, "t"))
    second, jobs = _jobs_of(spark, lambda: sources.load_table(spark, sf, "t"))
    assert jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())

    # rewritten with an extra column: the new listing is re-inferred
    spark.range(5).selectExpr("id", "id * 2 AS v", "id * 3 AS w").write.mode(
        "overwrite"
    ).parquet(table)
    rewritten = sources.load_table(spark, sf, "t")
    assert rewritten.columns == ["id", "v", "w"]
    assert sorted(r.w for r in rewritten.collect()) == [0, 3, 6, 9, 12]

    # nanosAsLong is part of the key: each setting gets its own entry,
    # typed as that setting infers it
    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    ev_sf = str(tmp_path / "ev")
    ev_path = f"{ev_sf}/events.parquet"
    os.makedirs(ev_sf)
    shutil.copy(f"{SF_DIR}/events.parquet", ev_path)
    monkeypatch.setattr(sources, "_ensure_nanos_conf", lambda spark: None)
    try:
        for flag in ("true", "false"):
            spark.conf.set(nanos, flag)
            raw = spark.read.parquet(ev_path).schema["ts"].dataType
            want = TimestampNTZType() if raw == LongType() else raw
            events, jobs = _jobs_of(spark, lambda: sources.load_table(spark, ev_sf, "events"))
            assert jobs >= 1, flag
            assert events.schema["ts"].dataType == want, flag
    finally:
        spark.conf.set(nanos, "true")

    # a partitioned directory (key=value/ subdirectories) is not memoized
    spark.range(10).selectExpr("id", "id % 2 AS key").write.partitionBy(
        "key"
    ).parquet(f"{sf}/p.parquet")
    for _ in range(2):
        parted, jobs = _jobs_of(spark, lambda: sources.load_table(spark, sf, "p"))
        assert jobs >= 1
    assert sorted(parted.columns) == ["id", "key"]


def test_schema_memo_concurrent_readers(tmp_path, monkeypatch):
    """The process-wide schema memo is shared by concurrent sessions:
    under many threads and a tiny bound it never outgrows the bound
    and never hands a table another table's schema."""
    import os
    import sys
    import threading
    from collections import OrderedDict
    from types import SimpleNamespace

    from pyspark.sql.types import LongType, StructField, StructType

    from sparkplans import sources

    def schema_of(path):
        return StructType([StructField(os.path.basename(path), LongType())])

    class FakeReader:
        def __init__(self, schema=None):
            self._schema = schema

        def schema(self, s):
            return FakeReader(s)

        def parquet(self, path):
            return SimpleNamespace(schema=self._schema or schema_of(path))

    fake = SimpleNamespace(
        conf=SimpleNamespace(get=lambda key, default=None: "false"),
        read=FakeReader(),
    )
    paths = []
    for i in range(40):
        p = tmp_path / f"t{i}.parquet"
        p.write_bytes(b"x")
        paths.append(str(p))
    bound = 8
    monkeypatch.setattr(sources, "_SCHEMA_MEMO_ENTRIES", bound)
    monkeypatch.setattr(sources, "_schema_memo", OrderedDict())
    errors = []

    def reader(seed):
        try:
            for k in range(300):
                path = paths[(seed * 7 + k) % len(paths)]
                assert sources._read_parquet(fake, path).schema == schema_of(path)
                with sources._schema_memo_lock:
                    assert len(sources._schema_memo) <= bound
        except BaseException as e:  # noqa: BLE001 - surfaced below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader, args=(s,)) for s in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[0]


def test_orc_external_table_roundtrip(eng, spark, tmp_path):
    """ORC is a first-class external-table format: same catalog path
    (WITH ORDER metadata, temp-view registration) as parquet."""
    from sparkplans import sinks

    src = spark.table("dim")
    p = str(tmp_path / "dim_orc")
    sinks.copy_to(src, p, format="orc")
    eng.catalog.create_external_table("dim_orc", p, format="orc")
    got = sorted(tuple(r) for r in spark.table("dim_orc").collect())
    want = sorted(tuple(r) for r in src.collect())
    assert got == want
    eng.catalog.drop("dim_orc")


def test_file_level_stats_pruning(eng, spark, tmp_path):
    """Catalog min/max file pruning: a range predicate over a
    multi-file sorted table schedules only the files whose footer
    stats intersect it — the reference's pruning_predicate
    (docs/5:97,108) at listing-table granularity."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from sparkplans.sources import load_table
    from tests.conftest import SF_DIR

    orders = load_table(spark, SF_DIR, "orders")
    base = str(tmp_path / "orders_ranged")
    # three files with disjoint o_orderkey ranges
    bounds = [(0, 500), (500, 1000), (1000, 10**9)]
    os.makedirs(base, exist_ok=True)
    for i, (lo, hi) in enumerate(bounds):
        part = orders.filter(
            (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi)
        ).sort("o_orderkey")
        part.coalesce(1).write.mode("overwrite").parquet(f"{base}/tmp_{i}")
        f = [x for x in os.listdir(f"{base}/tmp_{i}") if x.endswith(".parquet")][0]
        os.rename(f"{base}/tmp_{i}/{f}", f"{base}/part_{i}.parquet")
    for i in range(3):
        shutil.rmtree(f"{base}/tmp_{i}")

    eng.catalog.create_external_table(
        "orders_ranged", base, with_order=["o_orderkey"]
    )
    stats = eng.catalog.file_stats("orders_ranged", "o_orderkey")
    assert len(stats) == 3 and all(s["min"] is not None for s in stats if s["rows"])

    # predicate inside the middle file's range -> exactly one file kept
    kept = eng.catalog.prune_files("orders_ranged", "o_orderkey", 600, 900)
    assert len(kept) == 1 and kept[0].endswith("part_1.parquet")

    pruned = eng.read_range("orders_ranged", "o_orderkey", 600, 900).df
    full = spark.table("orders_ranged").filter(
        F.col("o_orderkey").between(600, 900)
    )
    assert sorted(r.o_orderkey for r in pruned.collect()) == sorted(
        r.o_orderkey for r in full.collect()
    )
    # only one scan branch in the pruned plan
    assert plans.plan_text(pruned, "simple").count("Scan parquet") == 1

    # disjoint predicate -> all files pruned, empty frame, schema kept
    none_df = eng.read_range("orders_ranged", "o_orderkey", -50, -1).df
    assert none_df.count() == 0
    assert none_df.schema == spark.table("orders_ranged").schema
    eng.catalog.drop("orders_ranged")


def test_per_table_target_partitions(eng, spark, fixture_dirs, tmp_path):
    """Reference ``with_target_partitions(4)`` parity
    (tests/setup_tables.rs:42,68): ONE table's reads split into
    exactly N partitions while a default-registered table in the SAME
    session keeps Spark's own split — the per-table knob, not the
    session knob.  The plan carries RoundRobinPartitioning, the Spark
    analog of the reference's RepartitionExec RoundRobinBatch(N)."""
    eng.create_external_table(
        "dim_tp4", fixture_dirs["dim"], format="parquet",
        target_partitions=4,
    )
    split = eng.catalog.read("dim_tp4")
    assert split.rdd.getNumPartitions() == 4
    # default table in the same session: a single tiny file stays 1
    default = eng.catalog.read("dim")
    assert default.rdd.getNumPartitions() != 4
    # same rows either way
    assert sorted(map(tuple, split.collect())) == sorted(
        map(tuple, default.collect())
    )
    phys = split._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning(4" in phys.replace(", ", "("), phys


def test_target_partitions_rejects_declared_order(eng, fixture_dirs):
    """Round-robin splitting destroys per-file order; declaring both
    must fail loudly instead of silently un-sorting."""
    with pytest.raises(ValueError, match="WITH ORDER"):
        eng.create_external_table(
            "dim_bad", fixture_dirs["dim"], format="parquet",
            with_order=["env"], target_partitions=4,
        )


def test_external_table_schema_inferred_once(eng, spark, tmp_path):
    """``write_sorted(register_as=...)`` registers a table with no
    declared schema.  The catalog infers it once, at CREATE time, and
    records it on the TableSpec: later ``engine.table`` and
    ``read_range`` calls pass it in and launch no Spark job.  Each of
    them used to run one inference job, every time."""
    from pyspark.sql import functions as F

    from sparkplans import sinks

    path = str(tmp_path / "ranged")
    src = spark.range(300).selectExpr("id", "id % 7 AS v")
    spec = sinks.write_sorted(
        src, path, order_by=["id"], num_files=3, catalog=eng.catalog, register_as="ranged"
    )
    assert spec.schema is not None and spec.schema.names == ["id", "v"]
    try:
        for _ in range(2):
            frame, jobs = _jobs_of(spark, lambda: eng.table("ranged").df)
            assert jobs == 0
            assert frame.schema == spec.schema
            pruned, jobs = _jobs_of(spark, lambda: eng.read_range("ranged", "id", 120, 140).df)
            assert jobs == 0
        assert sorted(r.id for r in pruned.collect()) == list(range(120, 141))
        assert sorted(eng.table("ranged").df.collect()) == sorted(src.collect())
        empty, jobs = _jobs_of(spark, lambda: eng.read_range("ranged", "id", -9, -1).df)
        assert jobs == 0 and empty.schema == spec.schema
        assert eng.read_range("ranged", "id", 0, 10).df.agg(F.sum("v")).first()[0] == sum(
            i % 7 for i in range(11)
        )
    finally:
        eng.catalog.drop("ranged")
