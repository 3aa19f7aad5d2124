"""The driver JVM's class-data-sharing archive (``session.get_spark``).

Each test works in its own cache (``XDG_CACHE_HOME``). The end-to-end
tests start ``get_spark`` in subprocesses, since only a process that
launches its own JVM uses or builds an archive; whether a JVM uses the
archive is read from its ``/proc/<pid>/maps``, never from timing.
"""

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pytest

from data_warehouse_migrate_spark import session

ROOT = str(Path(__file__).resolve().parents[1])
linux_only = pytest.mark.skipif(sys.platform != "linux",
                                reason="the archive is built on Linux only")

# A get_spark process: one JSON line with its answer, its JVM's command
# line and the archives that JVM mapped. "quick" leaves through os._exit,
# which skips the exit-time build.
_PROBE = """
import json, os, sys
from pyspark import SparkContext
from data_warehouse_migrate_spark.session import get_spark
spark = get_spark("cds-probe", master="local[1]",
                  extra_conf=json.loads(sys.argv[1]))
total = spark.range(5).selectExpr("sum(id)").first()[0]
pid = SparkContext._gateway.proc.pid
with open(f"/proc/{pid}/cmdline", "rb") as f:
    argv = [a.decode() for a in f.read().split(b"\\0") if a]
with open(f"/proc/{pid}/maps") as f:
    maps = sorted({line.split()[-1] for line in f
                   if line.rstrip().endswith(".jsa")})
print(json.dumps({"sum": total, "jvm": pid, "argv": argv, "maps": maps,
                  "probe": spark.conf.get("spark.dwms.probe", None)}),
      flush=True)
if sys.argv[2] == "quick":
    os._exit(0)
"""


def _env(cache, **extra):
    env = dict(os.environ, XDG_CACHE_HOME=str(cache), PYTHONPATH=ROOT)
    env.pop("SPARK_CONF_DIR", None)
    env.update(extra)
    return env


def _start(cache, conf=None, quick=False, **env):
    return subprocess.Popen(
        [sys.executable, "-c", _PROBE, json.dumps(conf or {}),
         "quick" if quick else "exit"],
        env=_env(cache, **env), stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True)


def _probe(cache, conf=None, quick=False, **env):
    """(the probe's answer from its last stdout line, everything else it
    printed: the JVM logs to stdout as well as stderr)."""
    proc = _start(cache, conf, quick, **env)
    out, err = proc.communicate(timeout=400)
    assert proc.returncode == 0, err[-3000:]
    *rest, last = out.strip().splitlines()
    return json.loads(last), "\n".join(rest) + err


def _cmdline(pid):
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return [a.decode(errors="replace") for a in f.read().split(b"\0")]
    except OSError:  # gone meanwhile
        return []


def _naming(text):
    """Pids of the processes whose command line holds ``text``."""
    return [int(e) for e in os.listdir("/proc")
            if e.isdigit() and int(e) != os.getpid()
            and any(text in a for a in _cmdline(e))]


def _wait_gone(text, seconds=20):
    deadline = time.monotonic() + seconds
    while _naming(text) and time.monotonic() < deadline:
        time.sleep(0.2)
    return _naming(text)


def _cds_dir(cache):
    return Path(cache, "data-warehouse-migrate-spark", "cds")


def _shared_flags(argv):
    return [a for a in argv if "SharedArchiveFile" in a
            or "ArchiveClassesAtExit" in a]


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """A cache whose archive the first process of its key built at exit:
    (cache, that process's answer, the archive)."""
    cache = tmp_path_factory.mktemp("cds-cache")
    first, _ = _probe(cache)
    archives = list(_cds_dir(cache).glob("*.jsa"))
    return cache, first, archives


def _fake_install(tmp_path):
    jdk, spark_home = tmp_path / "jdk", tmp_path / "spark"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "bin" / "java").write_text("#!/bin/sh\n")
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "jars" / "spark-core.jar").write_bytes(b"x" * 10)
    (spark_home / "RELEASE").write_text("Spark 4.1.2\n")
    return jdk, spark_home


def test_archive_key_tracks_jdk_and_jars(tmp_path):
    """A jar's size or mtime and the JDK's release file each change the
    key, so an archive is never offered to a JVM it was not dumped for."""
    jdk, spark_home = _fake_install(tmp_path)
    conf = {"spark.driver.memory": "8g"}

    def key():
        return session._archive_key(jdk / "bin" / "java", spark_home,
                                    str(spark_home / "conf"), conf)

    keys = [key()]
    assert key() == keys[0]
    jar = spark_home / "jars" / "spark-core.jar"
    st = jar.stat()
    jar.write_bytes(b"x" * 11)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns))
    keys.append(key())
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    keys.append(key())
    (jdk / "release").write_text('JAVA_VERSION="17.0.21"\n')
    keys.append(key())
    conf["spark.driver.memory"] = "4g"
    keys.append(key())
    assert len(set(keys)) == len(keys)


@linux_only
def test_no_archive_when_the_launch_must_not_use_one(tmp_path, monkeypatch):
    """A caller's own sharing flag, a conf directory holding a real file
    and a cache root that cannot be written each leave the launch as it
    was; a conf directory of templates only does not."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    assert session._ClassDataSharing.for_launch({}) is not None
    for flag in ("-Xshare:off", "-XX:SharedArchiveFile=/x.jsa",
                 "-XX:ArchiveClassesAtExit=/x.jsa"):
        conf = {"spark.driver.extraJavaOptions": f"-Dx=1 {flag}"}
        assert session._ClassDataSharing.for_launch(conf) is None
    (conf_dir / "spark-defaults.conf").write_text("spark.dwms.probe 42\n")
    assert session._ClassDataSharing.for_launch({}) is None
    (conf_dir / "spark-defaults.conf").unlink()
    not_a_dir = tmp_path / "file"
    not_a_dir.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(not_a_dir))
    assert session._ClassDataSharing.for_launch({}) is None


@linux_only
def test_first_process_builds_the_archive_at_exit(built):
    """From a fresh cache the process runs as before (its JVM maps no
    archive of ours and never dumps), its last stdout line is its own,
    nothing it started outlives it, and the archive exists afterwards."""
    cache, first, archives = built
    assert first["sum"] == 10
    assert [m for m in first["maps"] if str(cache) in m] == []
    assert _shared_flags(first["argv"]) == []
    assert not _wait_gone(str(cache))
    assert len(archives) == 1 and archives[0].stat().st_size > 0
    assert list(_cds_dir(cache).glob("*.tmp")) == []


@linux_only
def test_second_process_maps_the_archive(built):
    cache, first, archives = built
    second, err = _probe(cache, quick=True)
    assert second["sum"] == first["sum"]
    assert str(archives[0]) in second["maps"]
    assert "cds" not in err


@linux_only
def test_mismatched_archive_is_ignored_quietly(built, tmp_path, monkeypatch):
    """An archive the JVM refuses (dumped for another classpath) costs
    only the gain: the same answer, and not a line about it on stderr."""
    cache, first, archives = built
    extra = tmp_path / "classes"
    extra.mkdir()
    conf = {"spark.driver.extraClassPath": str(extra)}
    monkeypatch.setenv("XDG_CACHE_HOME", str(cache))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    cds = session._ClassDataSharing.for_launch(
        {"spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                               "8g"), **conf})
    shutil.copyfile(archives[0], cds.archive)
    try:
        out, err = _probe(cache, conf, quick=True)
    finally:
        cds.archive.unlink()
    assert out["sum"] == first["sum"]
    assert any(str(cds.archive) in a for a in _shared_flags(out["argv"]))
    assert str(cds.archive) not in out["maps"]
    assert "cds" not in err and "shared archive" not in err


@linux_only
def test_truncated_archive_is_never_published(built, tmp_path, monkeypatch):
    """A dump cut short fails validation (the validating JVM aborts on
    it), so it is deleted instead of published; the validator passes the
    whole archive on the same command line."""
    cache, first, archives = built
    env = _env(cache, SPARK_CONF_DIR=str(_cds_dir(cache) / "conf"))
    whole = archives[0].read_bytes()
    cut = tmp_path / "cut.jsa"
    cut.write_bytes(whole[:len(whole) // 2])
    assert session._maps(first["argv"], archives[0], env)
    assert not session._maps(first["argv"], cut, env)

    target = session._ClassDataSharing(tmp_path, "k")

    def dump(self, tmp, env, replay):
        shutil.copyfile(cut, tmp)
        return True

    monkeypatch.setattr(session._ClassDataSharing, "_dump", dump)
    target._build(os.getpid(), first["argv"], env, {})
    assert not target.archive.exists()
    assert sorted(p.name for p in tmp_path.iterdir()) == ["cut.jsa",
                                                          "k.lock"]


@linux_only
def test_killed_build_leaves_nothing(tmp_path):
    """SIGKILL of a process while it builds at exit takes the build down
    with it (the dump child and its JVM included) and publishes nothing:
    the next process starts without an archive and gets the same
    answer."""
    cache = tmp_path / "cache"
    proc = _start(cache)
    try:
        deadline = time.monotonic() + 300
        while not any("ArchiveClassesAtExit" in a
                      for p in _naming(str(cache))
                      for a in _cmdline(p)):
            assert proc.poll() is None and time.monotonic() < deadline
            time.sleep(0.2)
    finally:
        proc.kill()
        proc.communicate()
    assert not _wait_gone(str(cache))
    assert list(_cds_dir(cache).glob("*.jsa")) == []
    after, _ = _probe(cache, quick=True)
    assert after["sum"] == 10
    assert _shared_flags(after["argv"]) == []
    assert [m for m in after["maps"] if str(cache) in m] == []


@linux_only
def test_real_conf_directory_is_read_and_gets_no_archive(tmp_path):
    """A conf directory holding a spark-defaults.conf stays on the
    classpath and is read exactly as before: no archive, no build."""
    cache, conf_dir = tmp_path / "cache", tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.dwms.probe 42\n")
    out, _ = _probe(cache, SPARK_CONF_DIR=str(conf_dir))
    assert out["probe"] == "42" and out["sum"] == 10
    assert _shared_flags(out["argv"]) == []
    assert out["argv"][out["argv"].index("-cp") + 1].startswith(
        str(conf_dir))
    assert not list(_cds_dir(cache).glob("*.jsa"))
