"""SparkSession factory with scale-aware defaults.

Single place for the physical-execution knobs the pipeline relies on:
AQE (runtime coalesce + skew-join split), Arrow for the driver's
``toPandas``, and a small Arrow batch size for the ``mapInArrow``
stages — media fixture rows carry ~40 KB of tensor bytes each, so the
default 10k-records-per-batch would materialize ~400 MB batches per
task; 512 keeps peak executor memory flat at any scale.

Python workers start from ``paddleocr_spark.worker_daemon`` (set as
``spark.python.daemon.module``), which takes pyspark's archives off the
workers' ``sys.path`` so a Python task's fixed setup cost reads no zip
or jar directory. It is set only where the workers can import this
package: from the working directory, ``PYTHONPATH`` or site-packages.

The driver JVM maps a class-data archive (JDK dynamic AppCDS), so it
does not load and verify Spark's ~13,000 classes from their jars on
every launch. This applies only when ``get_spark`` launches the JVM
itself: no gateway in this process and no ``PYSPARK_GATEWAY_PORT``
(under ``spark-submit``, or in a second session of one JVM, nothing
changes).

- **Key.** ``.cache/jvm/v1_<md5[:16]>/`` hashes the ``java`` binary's
  realpath and its JDK ``release`` file, the ``(name, size, mtime_ns)``
  listing of ``$SPARK_HOME/jars``, and the classpath rule below.
- **Classpath.** Spark's launcher puts the conf dir first on the
  classpath, and the JDK refuses to dump an archive when a classpath
  directory is not empty. So the launch points ``SPARK_CONF_DIR`` at the
  key's empty ``conf/`` (the environment is restored right after), and
  only when the real conf dir holds nothing but ``*.template`` files
  (or does not exist), ``HADOOP_CONF_DIR`` and ``YARN_CONF_DIR`` are
  unset and no ``spark.driver.extraClassPath`` is given. Otherwise the
  JVM launches with no archive flag at all.
- **Use.** With ``classes.jsa`` present, ``-XX:SharedArchiveFile`` is
  appended to ``spark.driver.extraJavaOptions``. The ``-Xlog`` flags
  that go with it silence the JDK's CDS log, so a stale, truncated or
  mismatched archive falls back to plain class loading without a line.
- **Build once.** With no archive and no dump in flight for the key,
  the JVM launches with ``-XX:ArchiveClassesAtExit=<uuid>.jsa.part``
  and writes the archive when it exits (~10 s, once per key); its pid
  goes to ``dump.pid``. A later launch renames the part to
  ``classes.jsa`` once that pid has exited, and only if the part starts
  with the archive magic: the JDK writes the header last, so a killed
  dump is never promoted. A promotion deletes every other key.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import uuid

__all__ = ["get_spark", "default_parallelism"]

_ARCHIVE = "classes.jsa"
_DUMP = "dump.pid"       # "<pid> <part name>" of the launch writing a dump
_MAGIC = (0xf00baba8).to_bytes(4, "little")  # a dynamic archive's header
_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# the dump's classpath, which a launch must repeat to map the archive
_CLASSPATH = "v1 <cache root>/<key>/conf/, then $SPARK_HOME/jars"


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS``, else the host's core count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def _driver_memory() -> str:
    """24g, capped at half the host's RAM: a heap the host cannot hold
    lets the JVM grow until the kernel kills it instead of collecting."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24 << 10, ram >> 21)}m"


def _workers_import_package() -> bool:
    """Whether a Python worker started here finds this package: its
    ``sys.path`` is the working directory, ``PYTHONPATH`` and
    site-packages. A daemon module the worker cannot import would fail
    every Python stage of the session."""
    import site

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
            *site.getsitepackages()]
    return any(p and os.path.realpath(p) == os.path.realpath(root)
               for p in seen)


def _java() -> str | None:
    """The ``java`` that ``bin/spark-class`` runs, resolved."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java else None


def _archive_key(java: str, spark_home: str, root: str) -> str:
    """``v1_<md5[:16]>`` of the JDK (``java``'s realpath and its
    ``release`` file), the ``(name, size, mtime_ns)`` jar listing and
    the classpath rule with the cache root and jar dir it names: any
    change names a new key, so no archive is reused across them."""
    h = hashlib.md5(f"{java}\0{_CLASSPATH}\0{os.path.realpath(root)}\0"
                    .encode())
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(java)),
                               "release"), "rb") as f:
            h.update(f.read())
    except OSError:
        pass
    jars = os.path.realpath(os.path.join(spark_home, "jars"))
    h.update(f"\0{jars}\0".encode())
    for e in sorted(os.scandir(jars), key=lambda e: e.name):
        st = e.stat()
        h.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return "v1_" + h.hexdigest()[:16]


def _conf_dir_unused(spark_home: str, extra_conf: dict) -> bool:
    """Whether pointing ``SPARK_CONF_DIR`` at an empty directory changes
    nothing the JVM reads: Spark reads no ``*.template`` file, and the
    Hadoop conf dirs and an extra class path would go on the classpath."""
    if (os.environ.get("HADOOP_CONF_DIR") or os.environ.get("YARN_CONF_DIR")
            or "spark.driver.extraClassPath" in extra_conf):
        return False
    conf = (os.environ.get("SPARK_CONF_DIR")
            or os.path.join(spark_home, "conf"))
    try:
        return all(n.endswith(".template") for n in os.listdir(conf))
    except FileNotFoundError:
        return True


def _alive(pid: int) -> bool:
    """Whether ``pid`` is running (a zombie has exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"


def _has_header(path: str) -> bool:
    try:
        with open(path, "rb") as f:
            return f.read(4) == _MAGIC
    except OSError:
        return False


def _promote(key_dir: str) -> None:
    """Finish the key's recorded dump once its JVM has exited: rename the
    part to the archive if the JDK wrote its header (it writes it last),
    else drop the part. A promotion deletes every other key."""
    record = os.path.join(key_dir, _DUMP)
    try:
        with open(record) as f:
            pid, part = f.read().split()
        if _alive(int(pid)):
            return
    except FileNotFoundError:
        return
    except ValueError:  # not "<pid> <part>": nothing to finish
        part = None
    if part is not None:
        part = os.path.join(key_dir, os.path.basename(part))
        if _has_header(part):
            # a racing launch may have promoted it first
            with contextlib.suppress(FileNotFoundError):
                os.replace(part, os.path.join(key_dir, _ARCHIVE))
            root, name = os.path.split(key_dir)
            for other in os.listdir(root):
                if other != name:
                    shutil.rmtree(os.path.join(root, other),
                                  ignore_errors=True)
        else:
            with contextlib.suppress(FileNotFoundError):
                os.remove(part)
    with contextlib.suppress(FileNotFoundError):
        os.remove(record)


def _write_record(key_dir: str, pid: int, part: str,
                  claim: bool = False) -> bool:
    """Write ``dump.pid`` whole. ``claim`` creates it only if absent and
    returns False when another launch holds it."""
    record = os.path.join(key_dir, _DUMP)
    tmp = os.path.join(key_dir, f".{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        f.write(f"{pid} {os.path.basename(part)}\n")
    if not claim:
        os.replace(tmp, record)
        return True
    try:
        os.link(tmp, record)
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


def _class_archive(extra_conf: dict) -> tuple[str, str, str | None] | None:
    """``(key dir, JVM flags, part or None)`` for a launch of the driver
    JVM, or None to launch it as is. With a part, this launch dumps the
    archive and has claimed the key's ``dump.pid``."""
    from pyspark.find_spark_home import _find_spark_home

    from .cachedir import cache_root

    spark_home, java = _find_spark_home(), _java()
    if java is None or not _conf_dir_unused(spark_home, extra_conf):
        return None
    root = cache_root("jvm")
    key_dir = os.path.join(root, _archive_key(java, spark_home, root))
    os.makedirs(os.path.join(key_dir, "conf"), exist_ok=True)
    _promote(key_dir)
    archive = os.path.join(key_dir, _ARCHIVE)
    if os.path.exists(archive):
        return key_dir, f"-XX:SharedArchiveFile={archive} {_QUIET}", None
    part = os.path.join(key_dir, f"{uuid.uuid4().hex}.jsa.part")
    # at most one launch per key dumps at a time
    if not _write_record(key_dir, os.getpid(), part, claim=True):
        return None
    return key_dir, f"-XX:ArchiveClassesAtExit={part} {_QUIET}", part


@contextlib.contextmanager
def _launch_env(conf_dir: str):
    """``SPARK_CONF_DIR`` set to ``conf_dir`` while the JVM launches."""
    old = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield
    finally:
        if old is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = old


def get_spark(app_name: str = "paddleocr_spark", master: str | None = None,
              shuffle_partitions: int | None = None, **extra_conf):
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    cores = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    shuffle = shuffle_partitions or cores
    b = (
        SparkSession.builder
        .master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", _driver_memory()))
        .config("spark.ui.enabled", "false")
    )
    if _workers_import_package():
        b = b.config("spark.python.daemon.module",
                     "paddleocr_spark.worker_daemon")
    cds = None
    if (SparkContext._gateway is None
            and "PYSPARK_GATEWAY_PORT" not in os.environ):
        try:
            cds = _class_archive(extra_conf)
        except OSError:  # an unwritable cache: launch as is
            pass
    launch, dump = contextlib.nullcontext(), None
    if cds is not None:
        key_dir, flags, dump = cds
        opts = extra_conf.get("spark.driver.extraJavaOptions")
        extra_conf = {**extra_conf, "spark.driver.extraJavaOptions":
                      f"{opts} {flags}" if opts else flags}
        launch = _launch_env(os.path.join(key_dir, "conf"))
    for k, v in extra_conf.items():
        b = b.config(k, v)
    try:
        with launch:
            spark = b.getOrCreate()
    finally:
        if dump is not None:
            # the JVM writes the part when it exits: record its pid
            gateway = SparkContext._gateway
            if gateway is not None and gateway.proc is not None:
                _write_record(key_dir, gateway.proc.pid, dump)
            else:
                os.remove(os.path.join(key_dir, _DUMP))
    spark.sparkContext.setLogLevel("WARN")
    return spark
