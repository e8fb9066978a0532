"""A class-data archive for the driver JVM that this process launches.

Every fresh process that builds a session starts a JVM that loads about
11,000 classes from Spark's jars.  A dynamic AppCDS archive (JEP 350) maps
them from one file instead; in a fresh process the session starts in about
half the time.  JDK 19's ``-XX:+AutoCreateSharedArchive`` keeps such an
archive current by itself; this module does the same with the options JDK
17 already has:

  * a complete archive for the current key exists: the JVM maps it
    (``-XX:SharedArchiveFile``);
  * none exists: the JVM writes one when it exits
    (``-XX:ArchiveClassesAtExit=<key>.<pid>.part``), and an ``atexit`` hook
    of this process ends the JVM, waits for the dump and renames a complete
    one to ``<key>.<size>.jsa``.  Only one process builds at a time.

The archive lives in ``${XDG_CACHE_HOME:-~/.cache}/dirt_hadoop_similarity_spark/cds/``.
Its key is the JDK's ``release`` file, the real path of the JDK and the
name, size and mtime of every jar in ``$SPARK_HOME/jars``; archives of
other keys are deleted.  A file whose size differs from the one in its name
or that lacks the archive magic (a truncated or foreign file, which the JVM
would crash on) is deleted before launch, and an archive the JVM reports it
could not map is deleted after; the next launch builds a new one.

JDK 17 neither dumps nor maps a dynamic archive while a directory on the
class path is non-empty, and Spark puts its conf directory there.  When
that directory holds only ``*.template`` files (which Spark never reads) and
nothing else adds a directory, the JVM is launched with ``SPARK_CONF_DIR``
set to an empty directory of the cache; the effective conf is the same.  In
every other case, and when the cache is not writable, the JVM starts as it
would without this module.  So does a caller whose Java options already
hold ``-Xshare``, ``SharedArchiveFile`` or ``ArchiveClassesAtExit``: that is
the way to turn the archive off (``-Xshare:off``).
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import re
import shutil
import subprocess
from dataclasses import dataclass

JAVA_OPTIONS = "spark.driver.extraJavaOptions"

#: the first four bytes of a dynamic archive (HotSpot's
#: CDS_DYNAMIC_ARCHIVE_MAGIC, little-endian)
_MAGIC = (0xF00BABA8).to_bytes(4, "little")
_CDS_OPTION = re.compile(r"-Xshare|SharedArchiveFile|ArchiveClassesAtExit")
_JAVA_ENV = ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS")
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
_CLASSPATH_ARGS = re.compile(r"class-?path|properties-file", re.IGNORECASE)
# JVM option values are split on whitespace, and ':' separates two archives
_UNSAFE_PATH = re.compile(r"[\s\"'\\:,=]")
# the dump at exit took about 17 s after a CLI job on a 4-vCPU host
_EXIT_WAIT_S = 120.0


@dataclass
class _Plan:
    java_options: str
    conf_dir: str
    archive: str | None  # the archive the JVM maps
    log: str | None  # where the JVM says whether it mapped it
    part: str | None  # the file the JVM dumps to at exit
    prefix: str  # <cache>/<key>


@contextlib.contextmanager
def driver_java_options(conf: dict):
    """Around the ``getOrCreate()`` that may launch the JVM: yields the
    ``spark.driver.extraJavaOptions`` to launch with (the caller's plus
    the archive's), or None to add nothing."""
    plan = _plan(conf)
    if plan is None:
        yield None
        return
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = plan.conf_dir
    try:
        yield plan.java_options
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if plan.log:
        _drop_unmapped(plan)
    elif proc is not None:
        atexit.register(_publish, proc, plan)


def _launching() -> bool:
    """True when the next ``getOrCreate()`` starts a driver JVM: no
    gateway in this process and none handed over by spark-submit."""
    from pyspark import SparkContext

    return SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ


def _plan(conf: dict) -> _Plan | None:
    if not _launching():
        return None
    caller = conf.get(JAVA_OPTIONS) or ""
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if _CDS_OPTION.search(
        " ".join([caller, submit_args, *(os.environ.get(v, "") for v in _JAVA_ENV)])
    ):
        return None
    try:
        from pyspark.find_spark_home import _find_spark_home

        spark_home = _find_spark_home()
        if not _only_jars_on_classpath(conf, spark_home, submit_args):
            return None
        cache = os.path.join(
            os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
            "dirt_hadoop_similarity_spark",
            "cds",
        )
        if _UNSAFE_PATH.search(cache):
            return None
        conf_dir = os.path.join(cache, "conf")
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir) or not os.access(cache, os.W_OK):
            return None
        prefix = os.path.join(cache, _key(spark_home))
        archive, building = _sweep(cache, prefix)
    except (OSError, TypeError, ValueError):
        # no JDK or Spark home to key on, or a cache we cannot use
        return None
    pid = os.getpid()
    quiet = "-Xlog:cds*=off"  # a dump warns once per signed jar
    if archive:
        log = f"{prefix}.{pid}.log"
        ours = (f"-XX:SharedArchiveFile={archive} {quiet}"
                f" -Xlog:cds+dynamic=warning:file={log}")
        part = None
    elif building:
        return None
    else:
        log = None
        part = f"{prefix}.{pid}.part"
        ours = f"-XX:ArchiveClassesAtExit={part} {quiet}"
    java_options = " ".join(filter(None, [caller, ours]))
    return _Plan(java_options, conf_dir, archive, log, part, prefix)


def _only_jars_on_classpath(conf: dict, spark_home: str, submit_args: str) -> bool:
    """Whether the driver's class path will hold no directory with a file
    in it once the conf directory is swapped for an empty one."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    names = os.listdir(conf_dir) if os.path.isdir(conf_dir) else []
    return not (
        any(not n.endswith(".template") for n in names)
        or any(os.environ.get(v) for v in _CLASSPATH_ENV)
        or conf.get("spark.driver.extraClassPath")
        or _CLASSPATH_ARGS.search(submit_args)
    )


def _key(spark_home: str) -> str:
    """The JDK's release file and real path, and (name, size, mtime) of
    every Spark jar: the archive holds classes of exactly these files."""
    java_home = os.environ.get("JAVA_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("java")))
    )
    with open(os.path.join(java_home, "release"), "rb") as f:
        h = hashlib.sha256(f.read())
    h.update(os.path.realpath(java_home).encode())
    for jar in sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar"))):
        st = os.stat(jar)
        h.update(f"\n{os.path.basename(jar)}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _sweep(cache: str, prefix: str) -> tuple[str | None, bool]:
    """Delete what no launch can use: other keys' archives, incomplete or
    second archives, and dumps and logs of processes that are gone.
    Returns the complete archive of this key, if any, and whether another
    live process is building one."""
    archive, building = None, False
    for name in os.listdir(cache):
        parts = name.split(".")
        if len(parts) != 3 or not parts[1].isdigit():
            continue
        key, num, ext = parts
        path, mine = os.path.join(cache, name), key == os.path.basename(prefix)
        if ext == "jsa":
            if mine and archive is None and _complete(path, int(num)):
                archive = path
                continue
        elif ext not in ("part", "log"):
            continue
        elif int(num) != os.getpid() and _alive(int(num)):
            building |= mine and ext == "part"
            continue
        with contextlib.suppress(FileNotFoundError):
            os.unlink(path)
    return archive, building


def _complete(path: str, size: int) -> bool:
    """An archive of ``size`` bytes that starts with the archive magic."""
    try:
        with open(path, "rb") as f:
            return os.fstat(f.fileno()).st_size == size and f.read(4) == _MAGIC
    except OSError:
        return False


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _drop_unmapped(plan: _Plan) -> None:
    """The JVM logs a warning when it cannot map the archive (and starts
    without it): delete such an archive so the next launch rebuilds it."""
    with contextlib.suppress(OSError):
        with open(plan.log, encoding="utf-8", errors="replace") as f:
            if f.read().strip():
                os.unlink(plan.archive)
    with contextlib.suppress(OSError):
        os.unlink(plan.log)


def _publish(proc: subprocess.Popen, plan: _Plan) -> None:
    """At exit: end the JVM (it exits when its stdin closes), wait for the
    archive it dumps, and give a complete one its final name."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        # stopped first, so its Python-side servers do not see the JVM go
        with contextlib.suppress(Exception):
            sc.stop()
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        proc.wait(timeout=_EXIT_WAIT_S)
    except subprocess.TimeoutExpired:
        return  # a later launch deletes the .part once this process is gone
    with contextlib.suppress(OSError):
        size = os.path.getsize(plan.part)
        if proc.returncode == 0 and _complete(plan.part, size):
            os.replace(plan.part, f"{plan.prefix}.{size}.jsa")
        else:
            os.unlink(plan.part)
