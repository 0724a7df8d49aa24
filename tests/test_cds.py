"""The driver JVM's class-data-sharing archive (``sparkplans.cds``).

The first group needs no JVM: it checks which options :func:`cds.plan`
gives a launch and how :func:`cds._publish` publishes a dump.  The last
test starts fresh driver JVMs in subprocesses: one dumps and publishes,
one maps the archive, and one each starts over a corrupt, a truncated
and a mismatched-classpath archive at the published path.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from sparkplans import cds

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def home(tmp_path, monkeypatch):
    """A Spark home with two jars and a conf dir of templates only."""
    h = tmp_path / "spark"
    (h / "jars").mkdir(parents=True)
    (h / "conf").mkdir()
    (h / "jars" / "a.jar").write_bytes(b"a")
    (h / "jars" / "b.jar").write_bytes(b"bb")
    (h / "conf" / "spark-defaults.conf.template").write_text("# spark.master local\n")
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    for var in cds._CLASSPATH_ENV:
        monkeypatch.delenv(var, raising=False)
    return str(h)


def _plan(home, tmp_path, master="local[2]", conf=None):
    return cds.plan(master, dict(conf or {}), spark_home=home, cache=str(tmp_path / "cache"))


@pytest.mark.parametrize("master", ["spark://host:7077", "yarn", "k8s://https://host:443"])
def test_non_local_masters_get_no_flags(home, tmp_path, master):
    assert _plan(home, tmp_path, master) is None
    assert not (tmp_path / "cache").exists()


def test_real_conf_dir_gets_no_flags_and_keeps_spark_conf_dir(home, tmp_path, monkeypatch):
    conf_dir = tmp_path / "myconf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.sql.shuffle.partitions 3\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    launch = _plan(home, tmp_path)
    assert launch is None
    with cds.launching(launch):
        assert os.environ["SPARK_CONF_DIR"] == str(conf_dir)
    assert os.environ["SPARK_CONF_DIR"] == str(conf_dir)
    # Spark's own conf dir with a real file: likewise.
    monkeypatch.delenv("SPARK_CONF_DIR")
    with open(os.path.join(home, "conf", "log4j2.properties"), "w") as f:
        f.write("rootLogger.level = warn\n")
    assert _plan(home, tmp_path) is None
    assert "SPARK_CONF_DIR" not in os.environ


def test_template_conf_dir_is_swapped_for_the_launch_only(home, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_CONF_DIR", os.path.join(home, "conf"))
    launch = _plan(home, tmp_path)
    assert launch is not None
    assert os.listdir(launch.conf_dir) == []
    with cds.launching(launch):
        assert os.environ["SPARK_CONF_DIR"] == launch.conf_dir
    assert os.environ["SPARK_CONF_DIR"] == os.path.join(home, "conf")


def test_dump_flag_without_archive_then_share_flag_once_published(home, tmp_path):
    launch = _plan(home, tmp_path)
    assert "-XX:ArchiveClassesAtExit=" + launch.dump in launch.java_options
    assert "SharedArchiveFile" not in launch.java_options
    assert os.path.dirname(launch.dump) == str(tmp_path / "cache")
    # The dump is claimed: a second launch before it is published
    # gets no flags instead of a second dump.
    assert _plan(home, tmp_path) is None

    with open(launch.dump, "wb") as f:
        f.write(b"x" * 64)
    stamp = launch.archive[: -len(".jsa")] + ".stamp"
    with open(stamp, "w") as f:
        f.write("64")
    os.replace(launch.dump, launch.archive)
    shared = _plan(home, tmp_path)
    assert shared.dump is None
    assert "-XX:SharedArchiveFile=" + launch.archive in shared.java_options
    assert "ArchiveClassesAtExit" not in shared.java_options
    assert "-XX:+VerifySharedSpaces" in shared.java_options

    # A truncated archive (its size no longer matches the stamp) is
    # never passed: JDK 17 crashes while it maps one.
    with open(launch.archive, "r+b") as f:
        f.truncate(32)
    assert _plan(home, tmp_path) is None


def test_key_follows_the_jars(home, tmp_path):
    java = cds._java()
    key = cds.archive_key(home, java)
    assert cds.archive_key(home, java) == key
    with open(os.path.join(home, "jars", "c.jar"), "wb") as f:
        f.write(b"c")
    assert cds.archive_key(home, java) != key


def test_caller_java_options_are_kept(home, tmp_path):
    conf = {
        cds.JAVA_OPTIONS: "-Dcaller.flag=1 -Xss4m",
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData",
    }
    launch = _plan(home, tmp_path, conf=conf)
    opts = launch.java_options.split()
    assert opts[-2:] == ["-Dcaller.flag=1", "-Xss4m"]
    assert opts[0].startswith("-XX:ArchiveClassesAtExit=")
    # A caller that steers class-data sharing itself is left alone.
    for own in ("-Xshare:off", "-XX:SharedArchiveFile=/x.jsa"):
        assert _plan(home, tmp_path / "other", conf={cds.JAVA_OPTIONS: own}) is None
        assert _plan(home, tmp_path / "other", conf={"spark.driver.extraJavaOptions": own}) is None


def _fake_jvm(dump: str, rc: int) -> subprocess.Popen:
    """A process that, like the gateway JVM, writes its archive when its
    stdin closes and exits with *rc*."""
    code = (
        "import sys; sys.stdin.read(); "
        "open(sys.argv[1], 'wb').write(b'x' * 100); sys.exit(int(sys.argv[2]))"
    )
    return subprocess.Popen([sys.executable, "-c", code, dump, str(rc)], stdin=subprocess.PIPE)


def test_publish_replaces_atomically_and_drops_other_keys(home, tmp_path):
    cache = tmp_path / "cache"
    cache.mkdir()
    for stale in ("0123456789abcdef.jsa", "0123456789abcdef.stamp", "0123456789abcdef.log"):
        (cache / stale).write_bytes(b"old")
    launch = _plan(home, tmp_path)
    cds._publish(launch, _fake_jvm(launch.dump, 0))
    key = os.path.basename(launch.archive)[: -len(".jsa")]
    assert set(os.listdir(cache)) == {"conf", f"{key}.jsa", f"{key}.stamp"}
    assert os.path.getsize(launch.archive) == 100
    assert (cache / f"{key}.stamp").read_text() == "100"
    assert _plan(home, tmp_path).dump is None


def test_failed_dump_is_discarded_and_not_retried(home, tmp_path):
    launch = _plan(home, tmp_path)
    cds._publish(launch, _fake_jvm(launch.dump, 1))
    assert not os.path.exists(launch.dump)
    assert not os.path.exists(launch.archive)
    assert _plan(home, tmp_path) is None


_CHILD = """
import sys
sys.path.insert(0, {repo!r})
from sparkplans.session import EngineOptions, build_session
spark = build_session(EngineOptions(target_partitions=1), app_name="cds", master="local[1]")
print("OPTIONS", spark.conf.get("spark.driver.defaultJavaOptions", "-"))
rows = spark.range(100).selectExpr("id % 3 AS k", "id").groupBy("k").sum("id").orderBy("k")
print("ROWS", [tuple(r) for r in rows.collect()])
"""
_ROWS = "ROWS [(0, 1683), (1, 1617), (2, 1650)]"


def _start(cache: str) -> subprocess.Popen:
    env = dict(os.environ, XDG_CACHE_HOME=cache, SPARK_GRAFT_DRIVER_MEM="1g")
    return subprocess.Popen(
        [sys.executable, "-c", _CHILD.format(repo=REPO)],
        env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )


def _finish(proc: subprocess.Popen) -> str:
    out, err = proc.communicate(timeout=600)
    assert proc.returncode == 0, err[-3000:]
    assert _ROWS in out, out[-3000:]
    # Neither a dump nor a fallback prints JVM logging to stdout.
    jvm_lines = [l for l in out.splitlines() if not l.startswith("OPTIONS")]
    assert not [l for l in jvm_lines if "cds" in l], out[-3000:]
    return out


def test_sessions_dump_share_and_fall_back_from_bad_archives(tmp_path):
    """A fresh cache dumps and publishes; the next session maps the
    archive; a corrupt, a truncated and a mismatched-classpath file at
    the published path each still start a session with the right rows."""
    if os.environ.get("SPARK_CONF_DIR") and not cds.reads_nothing(os.environ["SPARK_CONF_DIR"]):
        pytest.skip("a real SPARK_CONF_DIR keeps sessions off the archive")
    cache = str(tmp_path / "fresh")
    assert "ArchiveClassesAtExit" in _finish(_start(cache))
    cache_cds = os.path.join(cache, "sparkplans", "cds")
    [archive] = [os.path.join(cache_cds, n) for n in os.listdir(cache_cds) if n.endswith(".jsa")]
    stamp = archive[: -len(".jsa")] + ".stamp"
    size = os.path.getsize(archive)
    assert open(stamp).read() == str(size)
    assert os.path.getsize(archive[: -len(".jsa")] + ".log") > 0
    with open(archive, "rb") as f:
        good = f.read()

    assert "-XX:SharedArchiveFile=" + archive in _finish(_start(cache))

    def place(name: str, data: bytes, stamped: int) -> str:
        """A cache of its own whose published path holds *data*."""
        d = tmp_path / name / "sparkplans" / "cds"
        d.mkdir(parents=True)
        (d / os.path.basename(archive)).write_bytes(data)
        (d / os.path.basename(stamp)).write_text(str(stamped))
        return str(tmp_path / name)

    # Corrupt: the right size and header, every byte after the first
    # MiB flipped; the JVM's checksum rejects it.
    flip = bytes(b ^ 0x5A for b in range(256))
    corrupt = place("corrupt", good[: 1 << 20] + good[1 << 20 :].translate(flip), size)
    # Truncated: shorter than its stamp, so it is never passed.
    truncated = place("truncated", good[: len(good) // 3], size)
    # Mismatched classpath: a valid archive dumped by another launch;
    # the JVM's class-path check rejects it.
    other = str(tmp_path / "other.jsa")
    cp = tmp_path / "cp"
    cp.mkdir()
    subprocess.run(
        [cds._java(), f"-XX:ArchiveClassesAtExit={other}", "-XX:+VerifySharedSpaces",
         "-Xlog:cds*=off", "-cp", str(cp), "-version"],
        capture_output=True, check=True, timeout=120,
    )
    with open(other, "rb") as f:
        mismatched = place("mismatched", f.read(), os.path.getsize(other))
    # The three fallbacks run side by side, one core each.
    procs = [_start(c) for c in (corrupt, truncated, mismatched)]
    outs = [_finish(p) for p in procs]
    assert ["SharedArchiveFile" in out for out in outs] == [True, False, True]
