"""The driver JVM's class-data archive (``jvm_archive``).

The JVM tests launch each session in a subprocess whose cache is
``XDG_CACHE_HOME=tmp_path``; launches that do not depend on each other run
at the same time.  The cache rules themselves are checked without a JVM.
"""

import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.find_spark_home import _find_spark_home

from dirt_hadoop_similarity_spark import jvm_archive

REPO = Path(__file__).resolve().parent.parent
CDS = re.compile(r"-Xshare|SharedArchiveFile|ArchiveClassesAtExit")

# builds a session with get_spark in a fresh process and prints what it got
_LAUNCH = """
import json, sys
sys.path.insert(0, sys.argv[1])
cfg = json.loads(sys.argv[2])
if cfg.get("existing"):
    from pyspark.sql import SparkSession
    SparkSession.builder.master("local[1]").getOrCreate()
from dirt_hadoop_similarity_spark.session import get_spark
spark = get_spark(app_name="archive-test", master="local[1]",
                  extra_conf=cfg.get("conf"))
conf = spark.sparkContext.getConf()
print(json.dumps({
    "java_options": conf.get("spark.driver.extraJavaOptions", ""),
    "probe": conf.get("spark.dirt.test.probe", None),
    "vm_info": spark._jvm.java.lang.System.getProperty("java.vm.info"),
    "rows": spark.range(3).count() if cfg.get("job", True) else None,
}))
"""


def _env(cache, conf_dir=None, **extra):
    env = {k: v for k, v in os.environ.items()
           if k not in ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS",
                        "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                        "PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT")}
    env["XDG_CACHE_HOME"] = str(cache)
    if conf_dir is None:
        # a conf directory without a real file, whatever the installation's
        conf_dir = Path(cache).parent / "stock-conf"
        conf_dir.mkdir(parents=True, exist_ok=True)
        (conf_dir / "spark-defaults.conf.template").write_text("# template\n")
    env["SPARK_CONF_DIR"] = str(conf_dir)
    env.update(extra)
    return env


def _start(env, **cfg):
    return subprocess.Popen(
        [sys.executable, "-c", _LAUNCH, str(REPO), json.dumps(cfg)],
        env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )


def _result(proc):
    out, err = proc.communicate(timeout=600)
    assert proc.returncode == 0, err[-3000:]
    return json.loads(out.strip().splitlines()[-1])


def _files(cache):
    cds = Path(cache) / "dirt_hadoop_similarity_spark" / "cds"
    return sorted(p.name for p in cds.iterdir() if p.is_file()) if cds.is_dir() else []


def _archives(cache):
    return [n for n in _files(cache) if n.endswith(".jsa")]


def _complete(cache, name):
    path = Path(cache) / "dirt_hadoop_similarity_spark" / "cds" / name
    return jvm_archive._complete(str(path), int(name.split(".")[1]))


@pytest.fixture(scope="module")
def launches(tmp_path_factory):
    """Every launch of this module, run as two waves of concurrent
    processes: the second wave maps the archive the first one built."""
    root = tmp_path_factory.mktemp("archive")
    real_conf = root / "real-conf"
    real_conf.mkdir()
    (real_conf / "spark-defaults.conf").write_text("spark.dirt.test.probe 42\n")
    not_a_dir = root / "cache-file"
    not_a_dir.write_text("a file where the cache directory would be\n")
    # the first 4 KiB of an archive whose name says it is 160 MiB long
    cds = root / "truncated" / "dirt_hadoop_similarity_spark" / "cds"
    cds.mkdir(parents=True)
    truncated = cds / f"{jvm_archive._key(_find_spark_home())}.{160 << 20}.jsa"
    truncated.write_bytes(b"\xa8\xab\x0b\xf0" + bytes(4092))

    first = {
        # no job: a session alone is enough to build, and dumps faster
        "build": _start(_env(root / "build"), job=False),
        "truncated": _start(_env(root / "truncated"), job=False),
        "real_conf": _start(_env(root / "real_conf", conf_dir=real_conf)),
        "xshare_off": _start(_env(root / "xshare_off"),
                             conf={"spark.driver.extraJavaOptions": "-Xshare:off"}),
        "existing": _start(_env(root / "existing"), existing=True),
        "unwritable": _start(_env(not_a_dir)),
    }
    results = {k: _result(p) for k, p in first.items()}
    built = _archives(root / "build")

    # the class path holds the cache's conf directory, so the archive maps
    # only from where it was built
    class_log = root / "class-load.log"
    caller = f"-Dprobe.option=kept -Xlog:class+load=info:file={class_log}"
    results["map"] = _result(_start(
        _env(root / "build"), conf={"spark.driver.extraJavaOptions": caller}))
    return {"root": root, "results": results, "built": built,
            "truncated": truncated.name, "class_log": class_log.read_text(),
            "caller": caller}


def test_first_launch_writes_archive_and_second_maps_it(launches):
    root, results = launches["root"], launches["results"]
    assert "ArchiveClassesAtExit" in results["build"]["java_options"]
    # the build's exit left one complete archive and nothing else
    assert len(launches["built"]) == 1 and _files(root / "build") == launches["built"]
    assert _complete(root / "build", launches["built"][0])
    # the next launch maps it: classes come from the dynamic (top) archive
    assert "SharedArchiveFile" in results["map"]["java_options"]
    assert "source: shared objects file (top)" in launches["class_log"]
    assert results["map"]["rows"] == 3 and _archives(root / "build") == launches["built"]


def test_caller_java_options_are_kept(launches):
    options = launches["results"]["map"]["java_options"]
    assert launches["caller"] in options and "SharedArchiveFile" in options


def test_truncated_archive_is_replaced(launches):
    root = launches["root"] / "truncated"
    assert "ArchiveClassesAtExit" in launches["results"]["truncated"]["java_options"]
    (name,) = _archives(root)
    assert name != launches["truncated"] and _complete(root, name)


def test_real_conf_file_gets_no_archive(launches):
    # the conf directory would have to be swapped out to use an archive,
    # which would hide this file: no archive, and the file takes effect
    res = launches["results"]["real_conf"]
    assert res["probe"] == "42"
    assert not CDS.search(res["java_options"])
    assert _archives(launches["root"] / "real_conf") == []


def test_caller_xshare_off_is_respected(launches):
    res = launches["results"]["xshare_off"]
    assert "sharing" not in res["vm_info"]
    assert CDS.findall(res["java_options"]) == ["-Xshare"]
    assert _files(launches["root"] / "xshare_off") == []


def test_existing_spark_context_gets_nothing(launches):
    res = launches["results"]["existing"]
    assert not CDS.search(res["java_options"])
    assert _files(launches["root"] / "existing") == []


def test_unwritable_cache_still_starts(launches):
    res = launches["results"]["unwritable"]
    assert res["rows"] == 3 and not CDS.search(res["java_options"])


# -- the cache rules, without a JVM ------------------------------------------

@pytest.fixture
def cache(tmp_path, monkeypatch):
    """A launching process's view, with its cache under ``tmp_path``."""
    env = _env(tmp_path / "xdg")
    for k in list(os.environ):
        if k not in env:
            monkeypatch.delenv(k)
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    monkeypatch.setattr(jvm_archive, "_launching", lambda: True)
    cds = tmp_path / "xdg" / "dirt_hadoop_similarity_spark" / "cds"
    cds.mkdir(parents=True)
    return cds, jvm_archive._key(_find_spark_home())


def _dead_pid():
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def test_plan_dumps_when_no_archive(cache):
    cds, key = cache
    plan = jvm_archive._plan({})
    assert plan.part == f"{cds}/{key}.{os.getpid()}.part" and plan.archive is None
    assert plan.conf_dir == f"{cds}/conf" and os.listdir(plan.conf_dir) == []
    assert plan.java_options == f"-XX:ArchiveClassesAtExit={plan.part} -Xlog:cds*=off"


@pytest.mark.parametrize("content", [b"", b"\xa8\xab\x0b\xf0" + b"\0" * 30, os.urandom(64)],
                         ids=["empty", "truncated", "garbage"])
def test_incomplete_archive_is_deleted(cache, content):
    cds, key = cache
    bad = cds / f"{key}.64.jsa"
    bad.write_bytes(content)
    plan = jvm_archive._plan({})
    assert not bad.exists() and plan.part and plan.archive is None


def test_one_complete_archive_is_mapped_and_the_rest_dropped(cache):
    cds, key = cache
    for name, size in ((key, 8), (key, 9), ("0123456789abcdef", 8)):
        (cds / f"{name}.{size}.jsa").write_bytes(b"\xa8\xab\x0b\xf0" + bytes(size - 4))
    plan = jvm_archive._plan({"spark.driver.extraJavaOptions": "-Dx=1"})
    assert plan.part is None and [str(p) for p in cds.glob("*.jsa")] == [plan.archive]
    assert plan.archive.startswith(f"{cds}/{key}.")
    assert plan.java_options.startswith(f"-Dx=1 -XX:SharedArchiveFile={plan.archive} ")


def test_one_builder_at_a_time(cache):
    cds, key = cache
    dead = cds / f"{key}.{_dead_pid()}.part"
    dead.write_bytes(b"partial")
    assert jvm_archive._plan({}).part  # a dead builder's file is removed
    assert not dead.exists()
    live = cds / f"{key}.{os.getppid()}.part"
    live.write_bytes(b"partial")
    assert jvm_archive._plan({}) is None and live.exists()


def test_unmapped_archive_is_deleted(cache):
    cds, key = cache
    archive = cds / f"{key}.8.jsa"
    archive.write_bytes(b"\xa8\xab\x0b\xf0" + b"\0" * 4)
    plan = jvm_archive._plan({})
    with open(plan.log, "w") as f:
        f.write("[warning][cds,dynamic] Unable to use shared archive.\n")
    jvm_archive._drop_unmapped(plan)
    assert not archive.exists() and not os.path.exists(plan.log)


@pytest.mark.parametrize("setting", [
    ("conf", {"spark.driver.extraJavaOptions": "-XX:SharedArchiveFile=/x.jsa"}),
    ("conf", {"spark.driver.extraClassPath": "lib/extra.jar"}),
    ("env", {"JAVA_TOOL_OPTIONS": "-Xshare:off"}),
    ("env", {"HADOOP_CONF_DIR": "/etc/hadoop"}),
    ("env", {"PYSPARK_SUBMIT_ARGS": "--driver-class-path /x pyspark-shell"}),
], ids=["caller_archive", "extra_classpath", "tool_options", "hadoop_conf", "submit_args"])
def test_settings_that_turn_the_archive_off(cache, monkeypatch, setting):
    kind, values = setting
    if kind == "env":
        for k, v in values.items():
            monkeypatch.setenv(k, v)
    assert jvm_archive._plan(values if kind == "conf" else {}) is None


def test_not_launching_adds_nothing(cache, monkeypatch):
    monkeypatch.setattr(jvm_archive, "_launching", lambda: False)
    assert jvm_archive._plan({}) is None
