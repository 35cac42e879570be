"""Every Python stage crosses as Arrow batches (``mapInArrow``), so a
session's Python workers never load pandas. The check runs a fresh
session in its own Python process, since any test of the shared
session may already have run a pandas stage in its workers."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one fresh session: a store decode, its quarantine report and the HTML
# extractor over a 20-row documents table, then the /proc maps of every
# Python process below the JVM
CHILD = r"""
import json, os, sys
from paddleocr_spark.corpus import synthesize_docs, synthesize_media
from paddleocr_spark.functions.udfs import (
    decode_errors, decode_media_store, write_store_manifest)
from paddleocr_spark.operators.extract import extract_spans
from paddleocr_spark.operators.html_extract import html_main_content
from paddleocr_spark.session import get_spark
from paddleocr_spark.sources.tables import SCHEMAS, table_path

store, sf = sys.argv[1:]
spark = get_spark("arrow_crossing_test", master="local[2]",
                  shuffle_partitions=2)
(spark.createDataFrame([(i, f"Document {i} is about item {i}.", "en",
                         "web", 30) for i in range(20)],
                       SCHEMAS["documents"])
 .write.parquet(table_path(sf, "documents")))
docs = synthesize_docs(spark, 12, seed=5)
synthesize_media(spark, docs, seed=5, partitions=2).write.parquet(store)
write_store_manifest(spark, store)
counts = [extract_spans(docs, store).count(),
          decode_errors(decode_media_store(spark, store)).count(),
          html_main_content(spark, sf).count()]

def children(pid):
    out = []
    for p in os.listdir("/proc"):
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == pid:
            out += [int(p)] + children(int(p))
    return out

maps = {}
for pid in children(spark.sparkContext._gateway.proc.pid):
    try:
        with open(f"/proc/{pid}/cmdline") as f:
            if "python" not in f.read():
                continue
        with open(f"/proc/{pid}/maps") as f:
            maps[pid] = sorted({line.split()[-1] for line in f
                                if line.rstrip().endswith(".so")})
    except OSError:
        pass
print(json.dumps({"counts": counts, "maps": maps}), flush=True)
spark.stop()
"""


def _loaded(libs, package):
    return [p for p in libs if f"{os.sep}{package}{os.sep}" in p]


def test_fresh_session_workers_never_load_pandas(tmp_path):
    env = {k: v for k, v in os.environ.items()
           if k != "PYSPARK_GATEWAY_PORT"}
    r = subprocess.run(
        [sys.executable, "-c", CHILD, str(tmp_path / "store"),
         str(tmp_path / "sf")],
        cwd=ROOT, env={**env, "SPARK_GRAFT_DRIVER_MEM": "1g"},
        capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-4000:]
    got = json.loads(r.stdout.strip().splitlines()[-1])
    n_spans, n_errors, n_pages = got["counts"]
    assert n_spans > 0 and n_errors == 0 and n_pages == 20
    # the workers that ran the stages map pyarrow's libraries; none of
    # the session's Python processes maps pandas'
    workers = [pid for pid, libs in got["maps"].items()
               if _loaded(libs, "pyarrow")]
    assert workers, got["maps"]
    assert {pid: _loaded(libs, "pandas")
            for pid, libs in got["maps"].items()
            if _loaded(libs, "pandas")} == {}
