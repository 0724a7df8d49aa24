"""Session facade: map the reference engine's knobs onto Spark conf.

The reference exposes configuration as first-class queryable state
(``docs/1_cli_information_schema.md:69-127``: ``SET key=value``,
``information_schema.df_settings``) and steers physical plans through
knobs like ``target_partitions``, ``repartition_joins``,
``prefer_existing_sort`` (``tests/opt_parallel_execution.rs:17-23``).

Spark equivalents are set here once, at session build time; the one
*engine-level* flag, ``prefer_existing_sort``, is read by our own
planning layer (not Catalyst) to drive sort elision in
:mod:`sparkplans.engine`.  Join strategy is never a session-wide
switch: a join that needs a particular strategy carries a hint.

Scale note: these defaults are written for a real cluster.  AQE is on
(runtime re-planning, skew-join splitting, partition coalescing),
shuffle partitions default to the parallelism target, and broadcast
thresholds stay at Spark defaults so small dimension tables broadcast
automatically.  Tests run the same code on ``local[N]``.

Codegen cache: ``spark.sql.codegen.cache.maxEntries`` is fixed at
4096 (``_CODEGEN_CACHE_ENTRIES``), up from Spark's 100.  One pass of
all 257 registry queries at sf0.001 compiles about 2900 distinct
generated classes, and even the 11-query benchmark pipeline compiles
about 272; at 100 entries every repeated query evicts and recompiles
its classes (Janino compile plus cold, un-JIT-ed bytecode).  Measured
on four cores: at 4096 a second registry pass compiles 62 classes in
72 s, against 4264 classes in 101 s at 100, and Metaspace after one
pass is 211 MB against 201 MB.  It is a *static* conf: only
:func:`build_session` can apply it.  :func:`configure_session` on an
already-running session (the ``__spark_entry__`` path, handed a
session built elsewhere) cannot, and that session keeps whatever
cache size it was started with.

Python workers: on ``local`` and ``local-cluster`` masters
:func:`build_session` sets ``spark.python.daemon.module`` to
:mod:`sparkplans.worker_daemon` and puts the package root first on
``spark.executorEnv.PYTHONPATH``.  Spark puts ``pyspark.zip``, the
py4j zip and the ``spark-core`` jar ahead of site-packages on every
worker's path, and every Python task calls
``importlib.invalidate_caches()``, which makes each cached
``zipimporter`` re-read its whole archive (1328 entries for
``pyspark.zip``); a zip also holds no bytecode, so each daemon
compiles pyspark from source.  The daemon module switches the workers
to the installed pyspark only when it is the same release: equal
``version.py`` and every shipped ``.py`` file CRC-identical to the
archive's, py4j likewise; on any mismatch Spark's own path runs.
Measured on four cores (``local[4]``, one session each way, warm
stages over 4 rows, median of 6): a ``mapInPandas`` stage 0.43 s ->
0.20 s and an ``rdd.map`` stage 0.31 s -> 0.13 s, against 0.21-0.25 s
for a JVM aggregate; the session's first plain-RDD job 1.31 s ->
0.51 s.  Other masters keep Spark's daemon, since their workers may
not see this host's package or site-packages.  Both keys are static:
:func:`configure_session` cannot apply them, so a session built
elsewhere (the ``__spark_entry__`` path) keeps the zip path.

Cold start: on ``local`` and ``local-cluster`` masters
:func:`build_session` starts the driver JVM from a class-data-sharing
archive (:mod:`sparkplans.cds`), so Spark's start-up classes are mapped
already parsed and verified instead of read from its jars one at a
time.  The archive lives in ``$XDG_CACHE_HOME/sparkplans/cds`` (default
``~/.cache/sparkplans/cds``), one per JDK plus Spark-jar set.  The first
session for a set writes it when its JVM exits: 140-180 MB, by how
many classes that session loaded, and one slower run (a ``perfbench``
``pipeline`` run took 66.7 s of wall against 47.9 s without the dump,
and wrote 177 MB).  Every later session maps it.
A JDK or Spark-jar change is a new key, so the next session dumps again
and publishing the new archive deletes the old one.  Measured on four
cores (``perfbench`` ``pipeline``, 10 interleaved pairs), the session
build plus table set-up (``setup_s``) falls from about 6 s to about
3.5 s.  It applies only when the Spark conf dir holds nothing Spark
reads (only ``*.template`` files, or nothing), because the JVM launches
with an empty ``SPARK_CONF_DIR``; any other session starts as before.

Static start-up levers: the codegen cache size, the worker daemon and
the class-data-sharing archive all act when the session is built.
:func:`configure_session` on a session built elsewhere (the
``__spark_entry__`` driver path) gets none of them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark import SparkContext
from pyspark.sql import SparkSession

from sparkplans import cds
from sparkplans.materialize import DIR_KEY, RELIABLE_FLAG

# Generated-class cache entries (static conf; see the module docstring).
_CODEGEN_CACHE_ENTRIES = 4096
# The directory that holds the ``sparkplans`` package: Python workers
# must find ``sparkplans.worker_daemon`` from any working directory.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            pass
    return os.cpu_count() or 8


@dataclass
class EngineOptions:
    """Engine knobs, mirroring the reference's session config surface.

    ============================  =====================================
    reference knob                 mapping
    ============================  =====================================
    ``target_partitions``          ``spark.sql.shuffle.partitions`` +
                                   ``spark.default.parallelism``
    ``batch_size``                 ``spark.sql.parquet.columnarReaderBatchSize``
    ``repartition_joins``          no field: AQE (``adaptive``) re-plans
                                   joins; bucketed tables keep their
                                   layout
    ``repartition_aggregations``   no field: AQE partition coalescing
                                   (``adaptive``)
    ``repartition_file_scans``     ``spark.sql.files.maxPartitionBytes``
                                   split behaviour (off -> huge split)
    ``prefer_existing_sort``       engine flag: sort-elision layer
    ``collect_statistics``         CBO: ``spark.sql.cbo.enabled``
    ============================  =====================================
    """

    target_partitions: int = field(default_factory=_default_parallelism)
    batch_size: int = 8192
    repartition_file_scans: bool = True
    prefer_existing_sort: bool = True
    collect_statistics: bool = True
    # Spark-specific extras
    session_timezone: str = "UTC"
    adaptive: bool = True
    # Route corpus-sized lineage cuts (see sparkplans/materialize.py)
    # to reliable checkpoint storage instead of executor-local
    # localCheckpoint — survives executor loss on a real cluster at
    # the cost of a distributed-FS write+read per materialization.
    reliable_checkpoints: bool = False
    checkpoint_dir: str | None = None
    extra_conf: dict[str, str] = field(default_factory=dict)

    def to_spark_conf(self) -> dict[str, str]:
        conf = {
            "spark.sql.shuffle.partitions": str(self.target_partitions),
            "spark.default.parallelism": str(self.target_partitions),
            "spark.sql.parquet.columnarReaderBatchSize": str(self.batch_size),
            "spark.sql.session.timeZone": self.session_timezone,
            "spark.sql.adaptive.enabled": str(self.adaptive).lower(),
            "spark.sql.adaptive.coalescePartitions.enabled": str(self.adaptive).lower(),
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.cbo.enabled": str(self.collect_statistics).lower(),
            # Runtime filters = the reference's DynamicFilterPhysicalExpr
            # (docs/8_cli_read_plans_join.md:126,178): build-side join keys
            # prune the probe-side scan at runtime.
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
            # Let AQE convert a planned sort-merge join to shuffled
            # hash at runtime when every post-shuffle partition is
            # small (real sizes, not estimates; default 0 = never).
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
            # The driver's events table stores nanosecond timestamps,
            # which Spark's parquet reader rejects by default.
            "spark.sql.legacy.parquet.nanosAsLong": "true",
            # Arrow transfer for pandas UDFs / toPandas (vectorized python).
            "spark.sql.execution.arrow.pyspark.enabled": "true",
            "spark.sql.codegen.cache.maxEntries": str(_CODEGEN_CACHE_ENTRIES),
        }
        if self.reliable_checkpoints:
            conf[RELIABLE_FLAG] = "true"
        if self.checkpoint_dir:
            conf[DIR_KEY] = self.checkpoint_dir
        if not self.repartition_file_scans:
            # Do not split files into byte-range partitions: one file,
            # one partition (preserves declared per-file sort order;
            # mirrors tests/setup_tables.rs:86-88 "each file a partition").
            conf["spark.sql.files.maxPartitionBytes"] = str(1 << 40)
            conf["spark.sql.files.openCostInBytes"] = str(1 << 40)
        conf.update(self.extra_conf)
        return conf


def configure_session(spark: SparkSession, options: EngineOptions | None = None) -> SparkSession:
    """Apply engine conf to an *existing* session (driver-provided)."""
    options = options or EngineOptions()
    for k, v in options.to_spark_conf().items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # some confs are static (e.g. already-started session);
            # leave them — they only affect perf, not correctness.
            pass
    return spark


def _worker_daemon_conf(master: str, pythonpath: str | None = None) -> dict[str, str]:
    """Static worker confs that run Python workers on the installed
    pyspark (see the module docstring): only for ``local`` and
    ``local-cluster`` masters, whose executors share this host's
    package root.  *pythonpath* is any ``spark.executorEnv.PYTHONPATH``
    already asked for; the package root goes in front of it."""
    if not master.startswith("local"):
        return {}
    paths = [_PACKAGE_ROOT] + [
        p for p in (pythonpath or "").split(os.pathsep) if p and p != _PACKAGE_ROOT
    ]
    return {
        "spark.python.daemon.module": "sparkplans.worker_daemon",
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(paths),
    }


def build_session(
    options: EngineOptions | None = None,
    app_name: str = "sparkplans",
    master: str | None = None,
) -> SparkSession:
    options = options or EngineOptions()
    master = master or os.environ.get(
        "SPARK_GRAFT_MASTER", f"local[{_default_parallelism()}]"
    )
    conf = options.to_spark_conf()
    conf.update(_worker_daemon_conf(master, conf.get("spark.executorEnv.PYTHONPATH")))
    # Only a session that launches its driver JVM can start it from the
    # class-data-sharing archive.
    launch = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        launch = cds.plan(master, conf)
    if launch is not None:
        conf[cds.JAVA_OPTIONS] = launch.java_options
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.ui.enabled", "false")
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    # Managed (bucketed) tables live outside the repo; static conf, so
    # it must be set before the session starts.
    builder = builder.config(
        "spark.sql.warehouse.dir",
        os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/sparkplans-warehouse"),
    )
    with cds.launching(launch):
        spark = builder.getOrCreate()
    if launch is not None:
        cds.publish_at_exit(launch, getattr(SparkContext._gateway, "proc", None))
    # In case getOrCreate() returned a pre-existing session, re-apply
    # the runtime-settable confs.
    configure_session(spark, options)
    return spark


def settings(spark: SparkSession) -> dict[str, str]:
    """The reference's ``information_schema.df_settings`` analog
    (docs/1_cli_information_schema.md:69-108): current session conf."""
    return dict(spark.sparkContext.getConf().getAll()) | {
        k: v for k, v in _sql_conf_items(spark)
    }


def _sql_conf_items(spark: SparkSession):
    for row in spark.sql("SET").collect():
        yield row["key"], row["value"]
