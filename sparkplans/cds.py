"""Class-data-sharing (AppCDS) archive for the driver JVM.

A driver JVM that starts from Spark's 287 jars loads, parses and
verifies about 11k classes one at a time before the first query can
run.  A dynamic AppCDS archive holds those classes already parsed and
verified: a JVM started with ``-XX:SharedArchiveFile`` maps them.
:func:`sparkplans.session.build_session` asks :func:`plan` how to
launch the driver JVM of a ``local…`` master:

* the first launch for a key (the JDK plus Spark's jars, see
  :func:`archive_key`) claims the key's stamp file and runs with
  ``-XX:ArchiveClassesAtExit``: the JVM writes every class it loaded to
  a private temp file when it exits.  :func:`publish_at_exit` waits for
  that exit at interpreter exit and publishes the file with an atomic
  ``os.replace``, writing its byte size into the stamp first.  A key is
  dumped at most once: a failed or killed dump leaves the stamp
  without an archive, and later launches run without one;
* every later launch passes ``-XX:SharedArchiveFile`` (the JDK's default
  ``-Xshare:auto`` falls back to plain class loading on an archive it
  cannot use) and ``-XX:+VerifySharedSpaces``, whose checksum rejects
  an archive with damaged bytes; a JDK 17 JVM that maps a
  damaged archive without it throws class-loading errors.  A file whose
  size differs from its stamp is not passed at all: a truncated archive
  crashes JDK 17 with SIGBUS while it maps.

JDK 17 refuses to dump while a non-empty directory is on the classpath,
and Spark puts its conf dir first on it, so an archived launch starts
with ``SPARK_CONF_DIR`` pointed at an empty directory in the cache.
That is done only when the effective conf dir holds nothing Spark
reads (nothing, or only ``*.template`` files).  Launches that add to
the classpath (``spark.driver.extraClassPath``, ``SPARK_CLASSPATH``,
``SPARK_DIST_CLASSPATH``, ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR``,
``SPARK_PREPEND_CLASSES``) or set their own CDS options start as
Spark starts them.  The options go into
``spark.driver.defaultJavaOptions``, ahead of any value the caller set
there, so a caller's ``spark.driver.extraJavaOptions`` stays its own.
Neither the dump nor a fallback writes to stdout (``-Xlog:cds*=off``);
the dump logs its ``[cds]`` warnings (mostly classes from signed jars,
which CDS skips) to ``<key>.log`` next to the archive, and a launch with
``-Xlog:cds`` in ``spark.driver.extraJavaOptions`` prints them again.

Layout of ``$XDG_CACHE_HOME/sparkplans/cds`` (default
``~/.cache/sparkplans/cds``; never under ``TMPDIR``, which callers such
as the benchmark point at a per-run directory):

``conf/``
    the empty ``SPARK_CONF_DIR`` of every archived launch;
``<key>.stamp``
    created when the key's dump is claimed; holds the archive's size
    once it is published;
``<key>.jsa``
    the published archive; ``<key>.jsa.<pid>.tmp`` while it is dumped;
``<key>.log``
    the dump's ``[cds]`` warnings.

Publishing a key deletes every file left by other keys.  Delete the
directory to force a new dump.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import subprocess
from contextlib import contextmanager, suppress
from dataclasses import dataclass

JAVA_OPTIONS = "spark.driver.defaultJavaOptions"
# Caller options that already steer class-data sharing.
_CDS_OPTIONS = ("SharedArchiveFile", "ArchiveClassesAtExit", "-Xshare")
# Environment variables whose entries Spark's launcher adds to the
# driver classpath.
_CLASSPATH_ENV = (
    "SPARK_CLASSPATH",
    "SPARK_DIST_CLASSPATH",
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_PREPEND_CLASSES",
)
# Options of every archived launch: the JVM checksums the archive before
# it maps it, and logs nothing about it to stdout.
_CHECKED_QUIET = ("-XX:+VerifySharedSpaces", "-Xlog:cds*=off")
# Longest wait at interpreter exit for the JVM to write its archive.
_DUMP_WAIT_S = 300


@dataclass(frozen=True)
class Launch:
    """How one driver JVM launch uses the archive."""

    java_options: str  # the whole spark.driver.defaultJavaOptions value
    conf_dir: str  # the empty SPARK_CONF_DIR the JVM starts with
    archive: str  # the key's published archive
    dump: str | None  # the temp file a dumping launch writes, else None


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):
        base = os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "sparkplans", "cds")


def reads_nothing(conf_dir: str) -> bool:
    """True when Spark reads nothing from *conf_dir*: it is missing,
    empty or holds only ``*.template`` files."""
    try:
        return all(name.endswith(".template") for name in os.listdir(conf_dir))
    except FileNotFoundError:
        return True
    except OSError:
        return False


def _java() -> str | None:
    """The java binary Spark's launcher runs (``spark-class``)."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def archive_key(spark_home: str, java: str) -> str:
    """Digest of what an archive depends on: the JDK (its java binary,
    module image and VM directory) and the jars on Spark's classpath,
    each by name, size and mtime."""
    jdk = os.path.dirname(os.path.dirname(java))
    vm_dir = os.path.join(jdk, "lib", "server")
    jars = os.path.join(spark_home, "jars")
    paths = [java, os.path.join(jdk, "lib", "modules")]
    if os.path.isdir(vm_dir):
        paths += [os.path.join(vm_dir, n) for n in sorted(os.listdir(vm_dir))]
    paths += [os.path.join(jars, n) for n in sorted(os.listdir(jars))]
    h = hashlib.sha256()
    for path in paths:
        st = os.stat(path)
        h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _published(archive: str, stamp: str) -> bool:
    try:
        with open(stamp) as f:
            return f.read().strip() == str(os.path.getsize(archive))
    except OSError:
        return False


def plan(
    master: str,
    conf: dict[str, str],
    *,
    spark_home: str | None = None,
    cache: str | None = None,
) -> Launch | None:
    """The archive use of a new driver JVM for *master* with the
    session *conf*, or None to launch it as Spark does.  When the key
    has no published archive, this call claims the key's one dump."""
    caller = conf.get(JAVA_OPTIONS, "")
    if (
        not master.startswith("local")
        or any(o in caller + conf.get("spark.driver.extraJavaOptions", "") for o in _CDS_OPTIONS)
        or conf.get("spark.driver.extraClassPath")
        or any(os.environ.get(v) for v in _CLASSPATH_ENV)
    ):
        return None
    if spark_home is None:
        from pyspark.find_spark_home import _find_spark_home

        spark_home = _find_spark_home()
    if not reads_nothing(os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")):
        return None
    java = _java()
    cache = cache or cache_dir()
    # Spark splits the java options on whitespace.
    if java is None or any(c.isspace() for c in cache):
        return None
    try:
        key = archive_key(spark_home, java)
        conf_dir = os.path.join(cache, "conf")
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir):
            return None
        archive = os.path.join(cache, f"{key}.jsa")
        stamp = os.path.join(cache, f"{key}.stamp")
        if _published(archive, stamp):
            dump = None
            opts = [f"-XX:SharedArchiveFile={archive}", *_CHECKED_QUIET]
        else:
            # Raises FileExistsError once the key's dump was claimed.
            os.close(os.open(stamp, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644))
            dump = f"{archive}.{os.getpid()}.tmp"
            log = os.path.join(cache, f"{key}.log")
            opts = [
                f"-XX:ArchiveClassesAtExit={dump}",
                *_CHECKED_QUIET,
                f"-Xlog:cds*=warning:file={log}",
            ]
    except OSError:
        return None
    return Launch(" ".join(opts + [caller]).strip(), conf_dir, archive, dump)


@contextmanager
def launching(launch: Launch | None):
    """Point ``SPARK_CONF_DIR`` at the launch's empty conf dir while the
    driver JVM starts; restore it afterwards."""
    if launch is None:
        yield
        return
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = launch.conf_dir
    try:
        yield
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def publish_at_exit(launch: Launch, proc: subprocess.Popen | None) -> None:
    """At interpreter exit, let the dumping driver JVM (*proc*) exit and
    publish the archive it wrote."""
    if launch.dump is not None and proc is not None:
        atexit.register(_publish, launch, proc)


def _publish(launch: Launch, proc: subprocess.Popen) -> None:
    # EOF on its stdin makes the gateway JVM exit, which writes the archive.
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        rc = proc.wait(timeout=_DUMP_WAIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        rc = proc.wait()
    cache = os.path.dirname(launch.archive)
    key = os.path.basename(launch.archive)[: -len(".jsa")]
    with suppress(OSError):
        size = os.path.getsize(launch.dump) if rc == 0 else 0
        if not size:
            os.remove(launch.dump)
            return
        with open(os.path.join(cache, f"{key}.stamp"), "w") as f:
            f.write(str(size))
        os.replace(launch.dump, launch.archive)
        for name in os.listdir(cache):
            if name != "conf" and not name.startswith(f"{key}."):
                with suppress(OSError):
                    os.remove(os.path.join(cache, name))
