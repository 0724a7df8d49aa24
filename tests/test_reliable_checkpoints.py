"""Reliable-checkpoint routing (sparkplans/materialize.py): corpus-
sized lineage cuts can be sent to reliable checkpoint storage instead
of non-replicated executor-local localCheckpoint state — the
executor-loss hardening documented in SCALE.md."""

import os

import pytest
from pyspark.sql import functions as F

from sparkplans.materialize import DIR_KEY, RELIABLE_FLAG, materialize


@pytest.fixture()
def reliable(spark, tmp_path):
    ckdir = str(tmp_path / "ck")
    spark.conf.set(RELIABLE_FLAG, "true")
    spark.conf.set(DIR_KEY, ckdir)
    yield ckdir
    spark.conf.set(RELIABLE_FLAG, "false")
    # leave any sc checkpoint dir in place — harmless, session-scoped


def _ckpt_files(root):
    return [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(root)
        for f in fs
        if not f.startswith(".")
    ]


def test_default_is_local_no_files(spark, tmp_path):
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    out = materialize(df)
    assert out.count() == 100
    # localCheckpoint leaves nothing under any would-be checkpoint dir
    assert _ckpt_files(str(tmp_path)) == []


def test_reliable_writes_to_configured_dir(spark, reliable):
    df = spark.range(1000).withColumn("x", F.col("id") % 7)
    out = materialize(df)
    assert out.count() == 1000
    # reliable checkpoint materialized partitions under the dir
    assert len(_ckpt_files(reliable)) > 0
    # and the frame is re-readable with identical content
    assert out.agg(F.sum("x")).collect()[0][0] == sum(i % 7 for i in range(1000))


def test_semdedup_under_reliable_mode_same_result(spark, reliable):
    """The SemDeDup parents route through materialize(): under the
    option the result is identical and the checkpoint dir is used."""
    import numpy as np

    from sparkplans.operators.similarity import semdedup

    rng = np.random.RandomState(7)
    base = rng.randn(40, 8)
    base[25] = base[3] + 1e-9  # planted near-identical pair
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    res = {r.vec_id: (r.kept, r.dup_of)
           for r in semdedup(df, num_centroids=4, threshold=0.999999).collect()}
    assert res[25] == (False, 3)
    assert len(_ckpt_files(reliable)) > 0

    spark.conf.set(RELIABLE_FLAG, "false")
    res_local = {r.vec_id: (r.kept, r.dup_of)
                 for r in semdedup(df, num_centroids=4, threshold=0.999999).collect()}
    assert res == res_local


def test_pagerank_under_reliable_mode_same_result(spark, reliable):
    """PageRank's per-iteration materialize carries the dangling mass
    as an observe() metric; under reliable checkpoints the metric (or
    its explicit-aggregate fallback) must yield identical ranks, and
    release() must be a safe no-op on checkpoint-file frames."""
    from sparkplans.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 4), (4, 5)], "src long, dst long"
    )
    rel = {r.node: r.rank for r in pagerank(edges, iterations=6).collect()}
    assert len(_ckpt_files(reliable)) > 0

    spark.conf.set(RELIABLE_FLAG, "false")
    loc = {r.node: r.rank for r in pagerank(edges, iterations=6).collect()}
    assert set(rel) == set(loc)
    for v in loc:
        assert abs(rel[v] - loc[v]) < 1e-12, (v, rel[v], loc[v])
    assert abs(sum(rel.values()) - 1.0) < 1e-9


def test_adaptive_storage_level_picks_by_size(spark, monkeypatch):
    """Adaptive materialize storage (VERDICT r3 item 1): small frames
    get deserialized memory (fast re-reads — the sf0.1 bench cost of
    always-serialized was 1.8-2.4x on materialize-heavy queries), and
    frames above the estimate threshold get the serialized level that
    kept sf10 from OOMing."""
    from sparkplans import materialize as M
    from sparkplans.materialize import plan_size_bytes, storage_level_key

    df = spark.range(1000).withColumn("x", F.col("id") * 2)
    est = plan_size_bytes(df)
    assert est is not None and 0 < est < (64 << 20)
    assert storage_level_key(df) == "memory_deser"

    # shrink the threshold below the frame's estimate -> serialized
    with monkeypatch.context() as mp:
        mp.setattr(M, "_ADAPTIVE_DEFAULT_BYTES", 1)
        assert storage_level_key(df) == "memory_ser"

    # row-multiplying plans (join/explode) shrink the threshold 64x:
    # Catalyst can't see their output multiplicity, so the estimate
    # is only a lower bound (the sf10 LSH candidate frame measured
    # 38 MB estimated vs 31.5M actual pairs — a real OOM)
    from sparkplans.materialize import _has_row_multiplier

    joined = df.join(df.withColumnRenamed("x", "y"), "id")
    assert not _has_row_multiplier(df)
    assert _has_row_multiplier(joined)
    assert _has_row_multiplier(
        spark.createDataFrame([([1, 2],)], "a array<int>").select(
            F.explode("a")
        )
    )
    assert M._ADAPTIVE_DEFAULT_BYTES == 64 << 20
    assert storage_level_key(joined) == "memory_deser"  # tiny est
    monkeypatch.setattr(M, "_ADAPTIVE_DEFAULT_BYTES", plan_size_bytes(joined) * 63)
    # est > limit/64 -> serialized even though est < limit
    assert storage_level_key(joined) == "memory_ser"


def test_engine_options_carry_the_flag():
    from sparkplans.session import EngineOptions

    conf = EngineOptions(
        reliable_checkpoints=True, checkpoint_dir="/tmp/x"
    ).to_spark_conf()
    assert conf[RELIABLE_FLAG] == "true"
    assert conf[DIR_KEY] == "/tmp/x"
    assert RELIABLE_FLAG not in EngineOptions().to_spark_conf()


def test_package_reads_only_deployment_knobs():
    """Ratchet: the only ``spark.sparkplans.*`` conf keys the package
    knows are the two deployment settings (checkpoint durability and
    location); every tuning threshold is a module constant, and no
    join strategy rides a session-wide switch.  A new knob has to be
    argued by editing this set."""
    import ast
    import pathlib
    import re

    import sparkplans
    from sparkplans.session import EngineOptions

    keys = set()
    for path in pathlib.Path(sparkplans.__file__).parent.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                keys.update(re.findall(r"spark\.sparkplans\.(\w+)", node.value))
    assert keys == {"reliableCheckpoints", "checkpointDir"}, keys
    assert "spark.sql.join.preferSortMergeJoin" not in EngineOptions().to_spark_conf()


def test_package_keeps_no_module_global_state():
    """Ratchet: no ``global`` statement anywhere under sparkplans/.
    Operators keep no record of their last run in module state (racy
    under concurrent sessions); tests and probes read plan shapes and
    decisions from outside (tests/cuts.py, ``dedup._auto_slices``)."""
    import ast
    import pathlib

    import sparkplans

    found = [
        f"{path.name}:{node.lineno} global {', '.join(node.names)}"
        for path in pathlib.Path(sparkplans.__file__).parent.rglob("*.py")
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Global)
    ]
    assert not found, found


def test_observed_timeout_is_loud():
    """An observed() timeout means the caller silently burns the poll
    window plus a fallback job — every one must warn, so a Spark route
    that stops firing the listener shows up in bench output instead of
    as an invisible per-iteration 5 s.  Python's default filter shows
    it once per call site, not once per iteration."""
    import warnings

    from sparkplans import materialize as M

    class _EmptyMetrics:
        def isEmpty(self):
            return True

    class _FakeObs:
        class _jo:  # noqa: N801 - mimics pyspark Observation internals
            @staticmethod
            def getOrEmpty():
                return _EmptyMetrics()

    def timeouts(action: str) -> list[str]:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter(action)
            for _ in range(2):
                assert M.observed(_FakeObs(), ["x"], timeout_s=0.02) is None
        msgs = [str(w.message) for w in caught]
        assert all("Observation metrics" in m for m in msgs), msgs
        return msgs

    assert len(timeouts("always")) == 2  # every timeout warns
    assert len(timeouts("default")) == 1  # once per call site
