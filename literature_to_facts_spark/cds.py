"""Class-data-sharing archive for the driver JVM that ``config.get_spark`` launches.

Before its first job a cold driver JVM loads and verifies the Spark and Scala
classes of ~290 jars: on a 4-core host 8-9 of the ~12 CPU-s a perfbench
session set-up costs are the JVM's, against 4 with an archive.  A dynamic
AppCDS archive (JEP 350) maps those classes instead of loading them.  JDK 19 builds one by itself
(``-XX:+AutoCreateSharedArchive``); JDK 17 does not, so this module does:

* The archive lives in the user cache directory (``$XDG_CACHE_HOME``, else
  ``~/.cache``, then ``literature_to_facts_spark/cds``).  Its name is a key
  hashed from the JDK (its home and ``release`` file) and from the jars under
  ``SPARK_HOME/jars`` (names, sizes, mtimes), so a JDK or Spark upgrade misses.
* Hit: the JVM gets ``-XX:SharedArchiveFile=<archive>``.
* Miss: it gets ``-XX:ArchiveClassesAtExit=<temp file>`` and dumps the classes
  it loaded when it exits.  ``get_spark`` waits for every JVM it launches at
  this process's exit (at most ``EXIT_WAIT_S``, then kills it); after a
  miss's wait the dump is checked and renamed into place, and archives with
  other keys are deleted.
* A JVM that maps a truncated archive dies of SIGBUS, where a mismatched or
  garbage one is ignored.  So an archive is published by rename only, after
  the dumping JVM exited with code 0 and a dry ``-Xshare:on ... -version``
  start with that JVM's own class path mapped it.
* CDS refuses a non-empty directory on the class path, and Spark's launcher
  puts the conf directory (``SPARK_CONF_DIR``, else ``SPARK_HOME/conf``)
  first on it.  When that directory holds only ``*.template`` files, which
  Spark never reads, the launch gets an empty directory of the cache instead.
  When it holds live configuration, or the launcher would add more class path
  entries (``spark.driver.extraClassPath``, ``HADOOP_CONF_DIR``,
  ``YARN_CONF_DIR``, ``SPARK_DIST_CLASSPATH``), no archive is used.
* JDK unified logging prints CDS warnings on stdout (hundreds at a dump, one
  for a mismatched archive), where drivers print their result line; the
  archive options switch those tags off.

Costs, on a 4-core host: the archive takes 140-175 MB of disk, and the
priming run pays more set-up (perfbench crawl: 14.2 CPU-s, against 12.1
unprimed and 7.5 primed) and ~10 s of wall at exit for the dump.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import os
import shutil
import subprocess
import time
from dataclasses import dataclass

# unified-logging tags of the CDS warnings, which go to stdout by default
LOG_OFF = "-Xlog:cds=off,cds+dynamic=off"
# how long a driver waits at exit for its JVM to stop (and finish a dump)
EXIT_WAIT_S = 120
# class path entries the launcher adds beyond Spark's conf directory and jars
_CLASS_PATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "literature_to_facts_spark", "cds")


def _java_home() -> str:
    """The JDK ``spark-class`` runs: ``$JAVA_HOME``, else ``java`` on the PATH."""
    home = os.environ.get("JAVA_HOME")
    if home:
        return home
    java = shutil.which("java")
    if java is None:
        raise FileNotFoundError("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def archive_key(spark_home: str, java_home: str) -> str:
    h = hashlib.sha256(os.path.realpath(java_home).encode())
    with open(os.path.join(java_home, "release"), "rb") as f:
        h.update(f.read())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        h.update(f"\0{name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _templates_only(conf_dir: str) -> bool:
    try:
        return all(name.endswith(".template") for name in os.listdir(conf_dir))
    except FileNotFoundError:
        return True


@dataclass(frozen=True)
class Archive:
    path: str  # the published archive
    conf_dir: str  # the empty directory launched as SPARK_CONF_DIR
    temp: str | None  # where a miss dumps, None on a hit

    @property
    def java_options(self) -> str:
        if self.temp is None:
            return f"-XX:SharedArchiveFile={self.path} {LOG_OFF}"
        return f"-XX:ArchiveClassesAtExit={self.temp} {LOG_OFF}"

    def launch(self, get_or_create):
        """Call ``get_or_create``, which launches the JVM, with the empty conf
        directory.  Returns the session and, on a miss, the call that
        publishes the dump given the JVM's exit code (None on a hit)."""
        old = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            spark = get_or_create()
        finally:
            if old is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = old
        if self.temp is None:
            return spark, None
        system = spark.sparkContext._jvm.java.lang.System
        java = os.path.join(system.getProperty("java.home"), "bin", "java")
        return spark, functools.partial(
            publish, self.temp, self.path,
            java=java, class_path=system.getProperty("java.class.path"),
        )


def plan(conf: dict) -> Archive | None:
    """The archive for a driver JVM about to be launched with ``conf``, or
    None when its class path would not be Spark's conf directory and jars."""
    from pyspark.find_spark_home import _find_spark_home

    if conf.get("spark.driver.extraClassPath") or any(map(os.environ.get, _CLASS_PATH_ENV)):
        return None
    try:
        spark_home = _find_spark_home()
        if not _templates_only(
            os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        ):
            return None
        key = archive_key(spark_home, _java_home())
        root = cache_dir()
        conf_dir = os.path.join(root, "conf")
        os.makedirs(conf_dir, exist_ok=True)
    except OSError:
        return None
    path = os.path.join(root, f"driver-{key}.jsa")
    if os.path.isfile(path):
        return Archive(path, conf_dir, None)
    return Archive(path, conf_dir, f"{path}.{os.getpid()}.tmp")


def publish(temp: str, path: str, exit_code: int, java: str, class_path: str) -> bool:
    """Rename the archive a JVM dumped to ``temp`` onto ``path`` if that JVM
    exited with code 0 and a dry start of ``java`` on its ``class_path``
    maps it; then delete archives with other keys.  A rejected ``temp`` is
    deleted."""
    ok = exit_code == 0 and os.path.isfile(temp) and subprocess.run(
        [java, f"-XX:SharedArchiveFile={temp}", "-Xshare:on", LOG_OFF,
         # a truncated archive crashes the check: leave no crash report or core
         "-XX:ErrorFile=/dev/null", "-XX:-CreateCoredumpOnCrash",
         "-cp", class_path, "-version"],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    ).returncode == 0
    if not ok:
        with contextlib.suppress(FileNotFoundError):
            os.remove(temp)
        return False
    os.replace(temp, path)
    _prune(path)
    return True


def _prune(keep: str) -> None:
    """Delete archives with other keys, and dumps that no JVM still writes
    (a driver killed before its exit leaves its JVM's dump behind)."""
    root = os.path.dirname(keep)
    stale = time.time() - EXIT_WAIT_S
    for entry in os.scandir(root):
        with contextlib.suppress(FileNotFoundError):
            if (entry.name.endswith(".jsa") and entry.path != keep
                    or entry.name.endswith(".tmp") and entry.stat().st_mtime < stale):
                os.remove(entry.path)
