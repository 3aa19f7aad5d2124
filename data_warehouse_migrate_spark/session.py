"""SparkSession factory tuned for the engine.

The reference does case-insensitive column matching everywhere
(reference ``migrator.py:595-614,703-728``); we mirror that with
``spark.sql.caseSensitive=false`` (Spark's default) plus explicit lowercase
matching in metadata code.

Scale posture: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), adaptive broadcast, Arrow for any pandas interchange. Shuffle
partitions default to the local core count for tests but should be sized to
~2-3× total executor cores on a real cluster; AQE coalesces the excess.

Start-up: a call that launches a local driver JVM itself starts it from a
dynamic AppCDS archive (JEP 350) of the classes a Spark session loads, kept
per machine under ``$XDG_CACHE_HOME`` (or ``~/.cache``) in
``data-warehouse-migrate-spark/cds/<key>.jsa``. The key hashes everything
the JVM checks an archive against: the JDK, Spark's jars and release, the
classpath settings and the heap size. Process start → session + first
action measured ~10 s without it and ~5 s with it. The first process of a
key runs as before (never in dump mode, which is slower) and, at
interpreter exit, builds the archive in a child that starts a dump-mode
session, runs ``range(1).collect()`` and stops (~28 s, once per key). The
archive is published only after a second JVM mapped it on the launch
classpath: a truncated archive crashes every JVM that maps it. CDS needs
the classpath's conf directory empty, so the launch points
``SPARK_CONF_DIR`` at an empty directory of the cache while the conf
directory holds nothing but ``*.template`` files; one holding any real
file is read as before and CDS stays off. It stays off too when the
caller's ``spark.driver.extraJavaOptions`` names ``-Xshare``,
``SharedArchiveFile`` or ``ArchiveClassesAtExit``, or when the cache root
is not writable.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import hashlib
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
from pathlib import Path

from pyspark.sql import SparkSession

# Tuned for local[N] testing; on a 1000-executor cluster the same configs hold
# except shuffle.partitions, which AQE re-coalesces from a higher initial value.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # coalesce by SIZE (advisoryPartitionSizeInBytes), not down to
    # defaultParallelism: with the default (true) every tiny shuffle keeps
    # cores× ~KB tasks whose fixed overhead dominates; size-based targets
    # scale with the data instead of the machine (r17 interleaved A/B,
    # 10-query expensive subset: 9/10 query mins improved, total -11%)
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # let the planner pick shuffled-hash over sort-merge when its size
    # conditions hold (skips the two sorts; AQE skew-join still splits
    # oversized partitions for both strategies, and SHJ spills since
    # Spark 3.x). Guide-recommended baseline; r17 interleaved A/B on the
    # 10 most expensive registry queries: 8/10 mins improved, total -8%,
    # the two losses sub-noise (<25 ms)
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": "128m",
    # list up to 1024 partition directories on the driver instead of in a
    # Spark job with one task per directory (default threshold 32): a
    # read_table of 48 dt= directories took 0.37-0.49 s median → 0.10-0.11 s,
    # of 730 (two years of days) 2.6-3.2 s → 0.13-0.14 s, local[4] on a
    # 4-core host, 8 reads per setting, two interleaved rounds
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1024",
    "spark.sql.caseSensitive": "false",
    # parquet TIMESTAMP(NANOS) (e.g. pandas-written event tables) has no
    # Spark timestamp equivalent — read as long nanos, convert explicitly
    # via readers.nanos_to_timestamp
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "data-warehouse-migrate-spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` ONLY when no
    cluster manager already supplied one: under ``spark-submit --master
    yarn/k8s`` the submitted ``spark.master`` wins (forcing local[] there
    would silently run a cluster job single-node on the driver host).
    Env-derived settings (cpus, driver memory) are read at CALL time so a
    harness that sets them after import still takes effect. A call that
    launches the local driver JVM starts it from this machine's
    class-data-sharing archive, or builds that at exit (module
    docstring).
    """
    from pyspark import SparkConf, SparkContext

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if master is None and not SparkConf().contains("spark.master"):
        master = f"local[{cpus}]"
    if master is not None:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    # local[N] runs the whole engine in the driver JVM. 8g measured FASTER
    # and steadier than 24g at sf0.1 (24g ran the query registry 3-5×
    # slower — large G1 heaps accumulate garbage and stall all 32 task
    # threads in long mixed collections); keep the heap small enough for
    # short GC cycles.
    conf["spark.driver.memory"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                                 "8g")
    conf["spark.sql.shuffle.partitions"] = cpus
    # DELIBERATELY NO spark.sql.files.minPartitionNum floor: a session-
    # wide scan-split floor was A/B'd in r8 (headline set, floor on/off
    # interleaved, best-of-2 per query) and LOST ~5% net at sf0.1 —
    # 32 range-splits of a small parquet file schedule 32 tasks but
    # row-group alignment yields only 1-3 real splits, so the per-task
    # overhead (footer read, codegen instance) outweighs the parallelism
    # everywhere except operators with EXTREME per-row CPU. Those spread
    # themselves at the operator level instead (entity.fuzzy_join's
    # explicit-width key-dedup exchange, skew.spread_input: measured
    # 3.6x on the d=2 variant explode); a production multi-file table
    # has natural splits and needs neither.
    if extra_conf:
        conf.update(extra_conf)
    cds = None
    if (master is not None and master.startswith("local")
            and SparkContext._gateway is None
            and "PYSPARK_GATEWAY_PORT" not in os.environ):
        cds = _ClassDataSharing.for_launch(conf)
    if cds is not None and cds.archive.exists():
        conf["spark.driver.extraJavaOptions"] = " ".join(filter(None, (
            conf.get("spark.driver.extraJavaOptions"),
            "-XX:SharedArchiveFile=" + shlex.quote(str(cds.archive)),
            _CDS_QUIET)))
    for k, v in conf.items():
        builder = builder.config(k, v)
    if cds is None:
        return builder.getOrCreate()
    with _environ("SPARK_CONF_DIR", str(cds.conf_dir)):
        spark = builder.getOrCreate()
    gateway = SparkContext._gateway  # None for a Spark Connect session
    if (gateway is not None and gateway.proc is not None
            and not cds.archive.exists()):
        cds.build_at_exit(gateway.proc.pid, master, conf)
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


# CDS logging off: an archive the JVM refuses (say, dumped for another
# classpath) then costs only the gain, with no line on stderr
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
_CDS_OPTIONS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
_SUBMIT = "org.apache.spark.deploy.SparkSubmit"
# a build took ~28 s on a 4-core host; one still running at this bound is
# killed and publishes nothing
_BUILD_TIMEOUT_S = 180
_VALIDATE_TIMEOUT_S = 60

# The archive build's child: a dump-mode session that loads what a session
# and its first action load, then stops. Its JVM writes the archive when it
# exits on stdin EOF. The child leads its own process group; when its
# parent dies (PR_SET_PDEATHSIG) it kills that group, its JVM included.
_DUMP = """
import ctypes, json, os, signal, sys
signal.signal(signal.SIGTERM, lambda *_: os.killpg(0, signal.SIGKILL))
ctypes.CDLL(None).prctl(1, signal.SIGTERM)
if os.getppid() != int(sys.argv[1]):
    sys.exit(1)
from pyspark import SparkContext
from pyspark.sql import SparkSession
builder = SparkSession.builder
for k, v in json.loads(sys.argv[2]).items():
    builder = builder.config(k, v)
spark = builder.getOrCreate()
spark.range(1).collect()
spark.stop()
jvm = SparkContext._gateway.proc
jvm.stdin.close()
sys.exit(jvm.wait())
"""


class _ClassDataSharing:
    """The class-data-sharing archive of one driver JVM launch: where it
    lives and, when it is missing, its build at interpreter exit."""

    def __init__(self, cache: Path, key: str):
        self.cache = cache
        self.archive = cache / f"{key}.jsa"
        self.conf_dir = cache / "conf"

    @classmethod
    def for_launch(cls, conf: dict[str, str]) -> _ClassDataSharing | None:
        """The archive for a launch with ``conf``, or None when the launch
        must not use one: the caller chose its own sharing flags, the conf
        directory holds a file the JVM would read, or the cache cannot be
        written."""
        java_options = conf.get("spark.driver.extraJavaOptions", "")
        if (sys.platform != "linux"
                or any(o in java_options for o in _CDS_OPTIONS)):
            return None
        from pyspark.find_spark_home import _find_spark_home

        spark_home = Path(_find_spark_home())
        conf_dir = os.environ.get("SPARK_CONF_DIR") or str(spark_home / "conf")
        java = shutil.which(
            os.path.join(os.environ["JAVA_HOME"], "bin", "java")
            if os.environ.get("JAVA_HOME") else "java")
        root = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser(
            "~/.cache")
        cache = Path(root, "data-warehouse-migrate-spark", "cds")
        try:
            if java is None or (os.path.isdir(conf_dir) and not all(
                    n.endswith(".template") for n in os.listdir(conf_dir))):
                return None
            (cache / "conf").mkdir(parents=True, exist_ok=True)
            if os.listdir(cache / "conf") or not os.access(cache, os.W_OK):
                return None
            key = _archive_key(Path(os.path.realpath(java)), spark_home,
                               conf_dir, conf)
        except OSError:
            return None
        return cls(cache, key)

    def build_at_exit(self, jvm_pid: int, master: str,
                      conf: dict[str, str]) -> None:
        """Build the archive when this interpreter exits, for the JVM
        command line of the launch that just ran (read from ``/proc``)."""
        try:
            with open(f"/proc/{jvm_pid}/cmdline", "rb") as f:
                argv = [a.decode() for a in f.read().split(b"\0") if a]
        except OSError:
            return
        if _SUBMIT not in argv:
            return
        env = dict(os.environ, SPARK_CONF_DIR=str(self.conf_dir))
        replay = {k: v for k, v in conf.items()
                  if k.startswith("spark.driver.")}
        replay["spark.master"] = master
        atexit.register(self._build, os.getpid(), argv, env, replay)

    def _build(self, pid: int, argv: list[str], env: dict[str, str],
               replay: dict[str, str]) -> None:
        """Dump, validate and publish the archive. One build at a time:
        the lock is an ``flock``, which the kernel drops when its holder
        dies, so a killed build leaves no stale lock."""
        if os.getpid() != pid:  # a forked child inherited the handler
            return
        try:
            fd = os.open(self.cache / f"{self.archive.stem}.lock",
                         os.O_RDWR | os.O_CREAT, 0o644)
        except OSError:
            return
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            if self.archive.exists():
                return
            for old in self.cache.glob(f"{self.archive.stem}.*.tmp"):
                old.unlink(missing_ok=True)  # what a killed build left
            tmp = self.cache / f"{self.archive.stem}.{pid}.tmp"
            try:
                if self._dump(tmp, env, replay) and _maps(argv, tmp, env):
                    with open(tmp, "rb") as f:
                        os.fsync(f.fileno())
                    os.replace(tmp, self.archive)
            finally:
                tmp.unlink(missing_ok=True)
        except (OSError, subprocess.SubprocessError):
            pass  # no archive: the next launch runs as this one did
        finally:
            os.close(fd)

    def _dump(self, tmp: Path, env: dict[str, str],
              replay: dict[str, str]) -> bool:
        """Run the dump child into ``tmp``; True when its JVM exited 0."""
        replay = dict(replay)
        replay["spark.driver.extraJavaOptions"] = " ".join(filter(None, (
            replay.get("spark.driver.extraJavaOptions"),
            "-XX:ArchiveClassesAtExit=" + shlex.quote(str(tmp)))))
        child = subprocess.Popen(
            [sys.executable, "-c", _DUMP, str(os.getpid()),
             json.dumps(replay)],
            env=env, cwd=self.cache, stdin=subprocess.DEVNULL,
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            start_new_session=True)
        try:
            return child.wait(timeout=_BUILD_TIMEOUT_S) == 0
        except subprocess.TimeoutExpired:
            return False
        finally:
            # a child that failed after its launch leaves a JVM that dumps
            # on its way out; the group takes it down with the child
            with contextlib.suppress(ProcessLookupError):
                os.killpg(child.pid, signal.SIGKILL)
            child.wait()


def _archive_key(java: Path, spark_home: Path, conf_dir: str,
                 conf: dict[str, str]) -> str:
    """Hash of everything a JVM checks a dynamic archive against (the JDK,
    the classpath's files, directories and order, the heap size): when any
    of them changes, the launch looks for a new archive instead of passing
    one the JVM would refuse."""
    def text(path: Path) -> str | None:
        return path.read_text(errors="replace") if path.is_file() else None

    st = java.stat()
    parts = [str(java), st.st_size, st.st_mtime_ns,
             text(java.parents[1] / "release"), text(spark_home / "RELEASE"),
             conf_dir, conf.get("spark.driver.extraClassPath"),
             conf.get("spark.driver.memory")]
    parts += [os.environ.get(v) for v in ("SPARK_CLASSPATH",
                                          "SPARK_DIST_CLASSPATH",
                                          "HADOOP_CONF_DIR", "YARN_CONF_DIR")]
    parts += sorted((e.name, e.stat().st_size, e.stat().st_mtime_ns)
                    for e in os.scandir(spark_home / "jars"))
    return hashlib.sha256(json.dumps(parts).encode()).hexdigest()[:32]


def _maps(argv: list[str], archive: Path, env: dict[str, str]) -> bool:
    """Whether a JVM started as ``argv`` maps ``archive`` and loads
    Spark's entry class from it. ``SparkSubmit --version`` checks the app
    classpath, which ``java -version`` never does; on a truncated archive
    the JVM aborts (SIGBUS), leaving no error file or core dump."""
    cmd = argv[:argv.index(_SUBMIT)] + [
        f"-XX:SharedArchiveFile={archive}", "-Xlog:class+load=info",
        "-XX:ErrorFile=/dev/null", "-XX:-CreateCoredumpOnCrash",
        _SUBMIT, "--version"]
    out = subprocess.run(cmd, env=env, stdin=subprocess.DEVNULL,
                         capture_output=True, text=True, errors="replace",
                         timeout=_VALIDATE_TIMEOUT_S)
    return (out.returncode == 0
            and f"{_SUBMIT} source: shared objects file (top)" in out.stdout)


@contextlib.contextmanager
def _environ(name: str, value: str):
    """``os.environ[name] = value`` for the block, restored after it."""
    old = os.environ.get(name)
    os.environ[name] = value
    try:
        yield
    finally:
        if old is None:
            os.environ.pop(name, None)
        else:
            os.environ[name] = old
