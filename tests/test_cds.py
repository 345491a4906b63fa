"""The driver JVM's class-data-sharing archive (``literature_to_facts_spark.cds``).

Every session here runs in a subprocess whose ``XDG_CACHE_HOME`` is the
test's own directory, so the user's archive is neither read nor written."""

import glob
import importlib.util
import json
import os
import pickle
import subprocess
import sys

import pytest
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

from literature_to_facts_spark import cds, config

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JAVA = os.path.join(cds._java_home(), "bin", "java")

# one short-lived driver: extract the corpus, write its graph, print one line
SESSION = """
import json, pickle, sys
from literature_to_facts_spark.config import get_spark
from literature_to_facts_spark.engine.graph import write_triples
from literature_to_facts_spark.engine.pipeline import extract_triples
with open(sys.argv[1], "rb") as f:
    docs, sides = pickle.load(f)
spark = get_spark(master="local[1]")
spark.sparkContext.setLogLevel("ERROR")
write_triples(extract_triples(spark, spark.createDataFrame(docs), sides), sys.argv[2])
mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
print(json.dumps({"jvm_pid": spark.sparkContext._gateway.proc.pid,
                  "args": list(mx.getRuntimeMXBean().getInputArguments())}))
spark.stop()
"""


@pytest.fixture(scope="module")
def gate(corpus, sides, shim_sides, tmp_path_factory):
    """(inputs pickle, graph check): perfbench's graph gate against the shim."""
    from test_spark_parity import shim_triple_set

    spec = importlib.util.spec_from_file_location(
        "perfbench_workloads", os.path.join(REPO, "perfbench", "workloads.py")
    )
    workloads = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(workloads)
    inputs = str(tmp_path_factory.mktemp("cds") / "inputs.pkl")
    with open(inputs, "wb") as f:
        pickle.dump((corpus.documents, sides), f)
    expected = shim_triple_set(corpus, shim_sides)
    return inputs, lambda graph: workloads.check_graph(graph, expected)


def _start(root, inputs) -> subprocess.Popen:
    """SESSION in a subprocess whose user cache is under ``root``."""
    env = {**os.environ, "XDG_CACHE_HOME": str(root / "cache"), "SPARK_GRAFT_DRIVER_MEM": "1g"}
    return subprocess.Popen(
        [sys.executable, "-c", SESSION, inputs, str(root / "graph")],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, cwd=REPO, env=env,
    )


def _archive_path(tmp_path) -> str:
    key = cds.archive_key(_find_spark_home(), cds._java_home())
    return str(tmp_path / "cache" / "literature_to_facts_spark" / "cds" / f"driver-{key}.jsa")


def _dump(path, *java_args) -> None:
    """A small dynamic archive of what ``java <java_args>`` loads."""
    subprocess.run([JAVA, f"-XX:ArchiveClassesAtExit={path}", cds.LOG_OFF, *java_args],
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    assert os.path.getsize(path) > 0


def _mismatched(path) -> None:
    """An archive dumped on another class path than Spark's."""
    (launcher,) = glob.glob(os.path.join(_find_spark_home(), "jars", "spark-launcher_*.jar"))
    _dump(path, "-cp", launcher, "org.apache.spark.launcher.Main")


@pytest.fixture
def fake_install(tmp_path, monkeypatch):
    """A Spark home with templates-only conf and two jars, a JDK home and
    an empty cache, all under ``tmp_path``."""
    spark_home, java_home = tmp_path / "spark", tmp_path / "jdk"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("")
    for jar in ("a.jar", "b.jar"):
        (spark_home / "jars" / jar).write_bytes(b"jar")
    java_home.mkdir()
    (java_home / "release").write_text('JAVA_VERSION="17"\n')
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("JAVA_HOME", str(java_home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setattr(SparkContext, "_gateway", None)
    return spark_home, java_home


def test_key_follows_the_jdk_and_the_jars(fake_install):
    spark_home, java_home = fake_install
    key = cds.archive_key(str(spark_home), str(java_home))
    assert cds.archive_key(str(spark_home), str(java_home)) == key
    os.utime(spark_home / "jars" / "a.jar", ns=(0, 10**18))
    touched = cds.archive_key(str(spark_home), str(java_home))
    (spark_home / "jars" / "c.jar").write_bytes(b"jar")
    added = cds.archive_key(str(spark_home), str(java_home))
    (java_home / "release").write_text('JAVA_VERSION="17.0.21"\n')
    upgraded = cds.archive_key(str(spark_home), str(java_home))
    assert len({key, touched, added, upgraded}) == 4


def test_archive_options_only_for_a_jvm_get_spark_launches(fake_install, monkeypatch):
    spark_home, _ = fake_install
    conf = {"spark.driver.defaultJavaOptions": config.DRIVER_JAVA_OPTIONS}
    miss = config._driver_archive(conf)
    assert miss.temp is not None and not os.listdir(miss.conf_dir)
    assert miss.java_options == f"-XX:ArchiveClassesAtExit={miss.temp} {cds.LOG_OFF}"
    open(miss.path, "wb").close()
    hit = config._driver_archive(conf)
    assert hit.temp is None and hit.path == miss.path
    assert hit.java_options == f"-XX:SharedArchiveFile={hit.path} {cds.LOG_OFF}"
    # the static options never change, whatever the archive
    assert config.DRIVER_JAVA_OPTIONS == "-XX:TieredStopAtLevel=1"
    assert config.LONG_LIVED_DRIVER_CONF == {"spark.driver.defaultJavaOptions": None}

    # a long-lived driver, a caller's own options, an extra class path
    for other in ({**conf, **config.LONG_LIVED_DRIVER_CONF},
                  {"spark.driver.defaultJavaOptions": f"-Xss4m {config.DRIVER_JAVA_OPTIONS}"},
                  {**conf, "spark.driver.extraClassPath": "/x.jar"}):
        assert config._driver_archive(other) is None
    # the launcher would put a conf directory on the class path
    with monkeypatch.context() as m:
        m.setenv("HADOOP_CONF_DIR", str(spark_home / "conf"))
        assert config._driver_archive(conf) is None
    # a conf directory with live configuration
    (spark_home / "conf" / "spark-defaults.conf").write_text("spark.a b\n")
    assert config._driver_archive(conf) is None
    (spark_home / "conf" / "spark-defaults.conf").unlink()
    # a driver JVM that already exists: spark-submit, or this process's own
    with monkeypatch.context() as m:
        m.setenv("PYSPARK_GATEWAY_PORT", "1")
        assert config._driver_archive(conf) is None
    with monkeypatch.context() as m:
        m.setattr(SparkContext, "_gateway", object())
        assert config._driver_archive(conf) is None
    assert config._driver_archive(conf) == hit


def test_publish_only_an_archive_a_dry_start_maps(tmp_path):
    root = tmp_path / "cds"
    root.mkdir()
    path, good = str(root / "driver-k.jsa"), str(root / "good.jsa")
    _dump(good, "-version")
    with open(good, "rb") as f:
        data = f.read()
    for name, content in (("truncated", data[: len(data) // 2]), ("garbage", b"\0" * 4096)):
        temp = str(root / f"{name}.tmp")
        with open(temp, "wb") as f:
            f.write(content)
        assert not cds.publish(temp, path, 0, JAVA, "")
        assert not os.path.exists(temp) and not os.path.exists(path)
    mismatched = str(root / "mismatched.tmp")
    _mismatched(mismatched)
    assert not cds.publish(mismatched, path, 0, JAVA, str(tmp_path / "other.jar"))
    # a JVM that did not exit cleanly publishes nothing, even a good dump
    temp = str(root / "failed.tmp")
    os.link(good, temp)
    assert not cds.publish(temp, path, 1, JAVA, "")
    assert not os.path.exists(temp) and not os.path.exists(path)

    stale, orphan, dumping = (str(root / n) for n in ("driver-old.jsa", "o.tmp", "d.tmp"))
    for p in (stale, orphan, dumping):
        open(p, "wb").close()
    os.utime(orphan, (0, 0))
    assert cds.publish(good, path, 0, JAVA, "")
    assert sorted(os.listdir(root)) == ["d.tmp", "driver-k.jsa"]


def test_sessions_start_whatever_the_archive_holds(tmp_path, gate):
    """Three one-shot drivers at once, each with a cache of its own: a
    priming run after a killed dump and an old install's archive, and hits
    on a garbage and on a mismatched archive.  Each prints only its own line
    and writes a graph that passes the gate; the priming run publishes a
    checked archive, deletes the rest and leaves no JVM behind."""
    inputs, check = gate
    sessions = {}
    for kind in ("priming", "garbage", "mismatched"):
        root = tmp_path / kind
        archive = _archive_path(root)
        os.makedirs(os.path.dirname(archive))
        if kind == "priming":
            orphan = f"{archive}.1.tmp"
            with open(orphan, "wb") as f:
                f.write(b"\0" * 4096)  # a truncated dump
            os.utime(orphan, (0, 0))
            _mismatched(archive.replace("driver-", "driver-0"))
        elif kind == "garbage":
            with open(archive, "wb") as f:
                f.write(os.urandom(1 << 20))
        else:
            _mismatched(archive)
        sessions[kind] = (root, archive, _start(root, inputs))

    for kind, (root, archive, proc) in sessions.items():
        stdout, stderr = proc.communicate(timeout=300)
        assert proc.returncode == 0, (kind, stderr[-3000:])
        lines = stdout.splitlines()
        assert len(lines) == 1, (kind, lines[:5])
        assert check(str(root / "graph")) is None, kind
        args = json.loads(lines[0])["args"]
        if kind == "priming":
            assert not os.path.exists(f"/proc/{json.loads(lines[0])['jvm_pid']}")
            assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in args)
            assert sorted(os.listdir(os.path.dirname(archive))) == [
                "conf", os.path.basename(archive)]
        else:
            assert f"-XX:SharedArchiveFile={archive}" in args, kind
