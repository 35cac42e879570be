"""The driver JVM's class-data archive (``session.get_spark``): the key,
the rule that promotes a dump, and three JVM launches, each in its own
Python process over a cache root of its own. A launch is clean when its
session runs a job and its stderr holds no ``cds`` line."""

import json
import os
import re
import subprocess
import sys
import time

from pyspark.find_spark_home import _find_spark_home

from paddleocr_spark.session import (
    _MAGIC as MAGIC, _alive, _archive_key, _class_archive, _conf_dir_unused,
    _has_header, _java, _promote, _write_record)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one session in a fresh process: report how its JVM was launched
CHILD = r"""
import json, os, sys
from paddleocr_spark import cachedir
cachedir._ROOT = sys.argv[1]
from paddleocr_spark.session import get_spark
spark = get_spark("archive_test", master="local[1]", shuffle_partitions=1)
pid = spark.sparkContext._gateway.proc.pid
with open(f"/proc/{pid}/cmdline") as f:
    args = f.read().split("\0")
with open(f"/proc/{pid}/maps") as f:
    maps = sorted({line.split()[-1] for line in f
                   if line.rstrip().endswith(".jsa")})
print(json.dumps({
    "pid": pid, "count": spark.range(10).count(), "maps": maps,
    "flags": [a for a in args if a.startswith(
        ("-XX:SharedArchiveFile", "-XX:ArchiveClassesAtExit", "-Xlog:cds"))],
    "classpath": spark._jvm.System.getProperty("java.class.path"),
    "jvm_conf_dir": spark._jvm.System.getenv("SPARK_CONF_DIR"),
    "conf_dir": os.environ.get("SPARK_CONF_DIR")}), flush=True)
"""


def _env(**extra):
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT")}
    return {**env, "SPARK_GRAFT_DRIVER_MEM": "1g", **extra}


def _cds_lines(text):
    return [line for line in text.splitlines()
            if re.search(r"\bcds\b", line, re.I)]


def _wait_exit(pid, timeout=120):
    deadline = time.monotonic() + timeout
    while _alive(pid):
        assert time.monotonic() < deadline, f"JVM {pid} still running"
        time.sleep(0.05)


def _launch(cache, **env):
    """Run one session to its first job; wait until its JVM exits."""
    r = subprocess.run([sys.executable, "-c", CHILD, cache], cwd=ROOT,
                       env=_env(**env), capture_output=True, text=True,
                       timeout=300)
    assert r.returncode == 0, r.stderr
    out = json.loads(r.stdout.strip().splitlines()[-1])
    _wait_exit(out["pid"])
    assert out["count"] == 10
    assert _cds_lines(r.stderr) == [], r.stderr
    return out


def _key_dir(cache):
    root = os.path.join(cache, "jvm")
    return os.path.join(root, _archive_key(_java(), _find_spark_home(), root))


def _dead_pid():
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


# -- without a JVM -----------------------------------------------------------

def _fake_jdk_and_spark(tmp_path):
    java = tmp_path / "jdk" / "bin" / "java"
    java.parent.mkdir(parents=True)
    java.write_text("")
    (tmp_path / "jdk" / "release").write_text('JAVA_VERSION="17.0.20"\n')
    jars = tmp_path / "spark" / "jars"
    jars.mkdir(parents=True)
    for name in ("a.jar", "b.jar"):
        (jars / name).write_bytes(b"x" * 10)
    (tmp_path / "spark" / "conf").mkdir()
    (tmp_path / "spark" / "conf" / "spark-env.sh.template").write_text("")
    return str(java), str(tmp_path / "spark")


def test_key_names_jdk_jar_listing_and_root(tmp_path):
    java, home = _fake_jdk_and_spark(tmp_path)
    root = str(tmp_path / "cache")
    key = _archive_key(java, home, root)
    assert re.fullmatch(r"v1_[0-9a-f]{16}", key)
    assert _archive_key(java, home, root) == key
    jar = os.path.join(home, "jars", "a.jar")
    keys = {key}

    def changed():
        k = _archive_key(java, home, root)
        assert k not in keys
        keys.add(k)

    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    changed()
    with open(jar, "ab") as f:
        f.write(b"y")
    changed()
    (tmp_path / "spark" / "jars" / "c.jar").write_bytes(b"")
    changed()
    os.remove(jar)
    changed()
    (tmp_path / "jdk" / "release").write_text('JAVA_VERSION="17.0.21"\n')
    changed()
    assert _archive_key(java, home, str(tmp_path / "other")) not in keys


def test_conf_dir_rule(tmp_path, monkeypatch):
    _, home = _fake_jdk_and_spark(tmp_path)
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        monkeypatch.delenv(var, raising=False)
    assert _conf_dir_unused(home, {})
    assert not _conf_dir_unused(home, {"spark.driver.extraClassPath": "x"})
    monkeypatch.setenv("HADOOP_CONF_DIR", str(tmp_path))
    assert not _conf_dir_unused(home, {})
    monkeypatch.delenv("HADOOP_CONF_DIR")
    monkeypatch.setenv("YARN_CONF_DIR", str(tmp_path))
    assert not _conf_dir_unused(home, {})
    monkeypatch.delenv("YARN_CONF_DIR")
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "missing"))
    assert _conf_dir_unused(home, {})
    monkeypatch.delenv("SPARK_CONF_DIR")
    (tmp_path / "spark" / "conf" / "spark-defaults.conf").write_text("")
    assert not _conf_dir_unused(home, {})


def test_promotion_waits_for_the_dumping_pid_and_a_header(tmp_path):
    root = tmp_path / "jvm"
    key, other = root / "v1_new", root / "v1_old"
    for d in (key, other):
        d.mkdir(parents=True)
    (other / "classes.jsa").write_bytes(MAGIC)
    archive, record = key / "classes.jsa", key / "dump.pid"

    # the dumping JVM still runs: nothing moves
    (key / "a.jsa.part").write_bytes(MAGIC + b"\0" * 64)
    assert _write_record(str(key), os.getpid(), "a.jsa.part", claim=True)
    assert not _write_record(str(key), os.getpid(), "b.jsa.part", claim=True)
    _promote(str(key))
    assert record.exists() and not archive.exists()

    # a killed dump: data written, header (written last) not yet
    (key / "a.jsa.part").write_bytes(b"\0" * 4096)
    _write_record(str(key), _dead_pid(), "a.jsa.part")
    _promote(str(key))
    assert os.listdir(key) == [] and other.exists()

    # a finished dump is promoted and every other key goes
    (key / "b.jsa.part").write_bytes(MAGIC + b"\0" * 64)
    _write_record(str(key), _dead_pid(), "b.jsa.part")
    _promote(str(key))
    assert os.listdir(key) == ["classes.jsa"] and _has_header(str(archive))
    assert os.listdir(root) == ["v1_new"]

    # a dump that wrote nothing only clears the record
    _write_record(str(key), _dead_pid(), "c.jsa.part")
    _promote(str(key))
    assert os.listdir(key) == ["classes.jsa"]


def test_class_archive_dumps_once_then_uses(tmp_path, monkeypatch):
    java, home = _fake_jdk_and_spark(tmp_path)
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("SPARK_HOME", home)
    monkeypatch.setattr("paddleocr_spark.session._java", lambda: java)
    monkeypatch.setattr("paddleocr_spark.cachedir._ROOT", str(tmp_path / "c"))
    key_dir, flags, part = _class_archive({})
    assert flags.split() == [f"-XX:ArchiveClassesAtExit={part}",
                             "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    assert os.listdir(os.path.join(key_dir, "conf")) == []
    # a second launch while this one's dump is in flight launches as is
    assert _class_archive({}) is None
    with open(part, "wb") as f:
        f.write(MAGIC)
    _write_record(key_dir, _dead_pid(), part)
    key_dir2, flags, part = _class_archive({})
    assert key_dir2 == key_dir and part is None
    assert flags.split()[0] == (
        "-XX:SharedArchiveFile=" + os.path.join(key_dir, "classes.jsa"))
    (tmp_path / "spark" / "conf" / "log4j2.properties").write_text("")
    assert _class_archive({}) is None


# -- JVM launches (three) ----------------------------------------------------

def test_dump_run_is_clean_and_writes_its_header_last(tmp_path):
    """The run that dumps prints nothing new; while the JVM writes the
    part, its header is still zero, so a dump killed at any point before
    the end is never promoted; the finished part is."""
    cache, err = str(tmp_path / "cache"), tmp_path / "stderr"
    with open(err, "w") as f:
        p = subprocess.Popen([sys.executable, "-c", CHILD, cache], cwd=ROOT,
                             env=_env(), stdout=subprocess.PIPE, stderr=f,
                             text=True)
        out = json.loads(p.stdout.readline())
        assert p.wait(timeout=300) == 0
    (flag,) = [a for a in out["flags"] if "ArchiveClassesAtExit" in a]
    part = flag.split("=", 1)[1]
    key_dir = _key_dir(cache)
    assert os.path.dirname(part) == key_dir
    assert out["classpath"].split(":")[0].rstrip("/") == os.path.join(
        key_dir, "conf")
    assert out["conf_dir"] is None
    headless = 0
    deadline = time.monotonic() + 120
    while _alive(out["pid"]):  # the JVM dumps after the Python exits
        assert time.monotonic() < deadline, "dump still running"
        try:
            with open(part, "rb") as f:
                head, size = f.read(4), os.fstat(f.fileno()).st_size
        except FileNotFoundError:
            head, size = b"", 0
        headless += size > 0 and head != MAGIC
        time.sleep(0.001)
    assert out["count"] == 10
    assert _cds_lines(err.read_text()) == [], err.read_text()
    assert headless, "no sample of the part before its header was written"
    _promote(key_dir)
    assert sorted(os.listdir(key_dir)) == ["classes.jsa", "conf"]
    assert _has_header(os.path.join(key_dir, "classes.jsa"))


def test_truncated_archive_falls_back_silently(tmp_path):
    cache = str(tmp_path / "cache")
    key_dir = _key_dir(cache)
    os.makedirs(key_dir)
    archive = os.path.join(key_dir, "classes.jsa")
    with open(archive, "wb") as f:  # a header cut after its magic
        f.write(MAGIC + os.urandom(4092))
    out = _launch(cache)
    assert f"-XX:SharedArchiveFile={archive}" in out["flags"]
    assert archive not in out["maps"]
    assert out["jvm_conf_dir"] == os.path.join(key_dir, "conf")
    assert out["conf_dir"] is None


def test_conf_dir_in_use_launches_as_before(tmp_path):
    cache, conf = str(tmp_path / "cache"), tmp_path / "conf"
    conf.mkdir()
    (conf / "notes.txt").write_text("not a template\n")
    out = _launch(cache, SPARK_CONF_DIR=str(conf))
    assert out["flags"] == []
    assert out["jvm_conf_dir"] == out["conf_dir"] == str(conf)
    assert not os.path.exists(cache)


def test_session_jvm_maps_the_archive_it_was_given(spark):
    """The suite's own session: a JVM launched with an archive maps it;
    one launched to dump it is the key's recorded dumper."""
    proc = spark.sparkContext._gateway.proc
    with open(f"/proc/{proc.pid}/cmdline") as f:
        args = f.read().split("\0")
    used = [a.split("=", 1)[1] for a in args
            if a.startswith("-XX:SharedArchiveFile=")]
    dumps = [a.split("=", 1)[1] for a in args
             if a.startswith("-XX:ArchiveClassesAtExit=")]
    assert len(used) + len(dumps) <= 1
    if used:
        with open(f"/proc/{proc.pid}/maps") as f:
            assert used[0] in f.read()
    if dumps:
        key_dir, part = os.path.split(dumps[0])
        with open(os.path.join(key_dir, "dump.pid")) as f:
            assert f.read().split() == [str(proc.pid), part]
