"""Arrow-batched Python stages for the extraction pipeline.

Every Python stage of the package is a ``mapInArrow`` body yielding
``row_batch`` batches: no worker converts through pandas.

Every byte consumer reads its input BY PATH through one loop,
``map_media_store``: each Python task reads its byte-balanced group of
files on the worker and calls the consumer's function once per unit —
a media store row (read with pyarrow) or a whole raw file (audio,
video, paged containers, text PDFs). A unit whose function raises
becomes one quarantine row, reported by ``decode_errors``. The hot
consumer is ``decode_media_store``: it runs
det (DB binarize + box post-process, ``toddleocr/postprocess/db.py``),
reading-order sort (``utils/utility.py:170-192``), cls decode
(``postprocess/cls.py``), CTC rec decode (``postprocess/rec.py``) and
table-structure decode + match (``postprocess/table.py``,
``postprocess/matcher.py``) per distinct media item, emitting one row
per output fragment (a UDTF in Spark terms: 1 media row → N fragment
rows, like the reference's one-image→many-boxes det stage).

Doing all stages in ONE Python crossing (instead of det / cls / rec as
separate UDF stages, as a literal port would) halves Arrow serialization
traffic and keeps the fat tensor columns from ever entering the JVM:
only small string fragments leave this stage.
"""

from __future__ import annotations

from pathlib import Path

__all__ = ["MEDIA_FRAGMENT_SCHEMA", "row_batch", "map_media_store",
           "decode_media_store", "decode_errors", "data_rows",
           "write_store_manifest", "manifest_path"]

MEDIA_FRAGMENT_SCHEMA = (
    "media_ref string, frag_idx int, box_idx int, out_kind string, "
    "out_text string, conf double, cls_label string, cls_score double, "
    "aux string"
)

_MEDIA_COLS = [
    "media_ref", "cand_boxes", "cand_scores", "det_map", "det_h", "det_w",
    "shape_list", "rec_logits", "rec_t", "rec_c", "cls_probs",
    "structure_probs", "struct_t", "struct_v", "loc_preds",
]

_FRAG_COLS = ["frag_idx", "box_idx", "out_kind", "out_text", "conf",
              "cls_label", "cls_score", "aux"]


def _decode_row_fn(bundle_bc):
    """The decode row function, closing over a
    ``sc.broadcast(MODEL_BUNDLE)`` handle — the charset/drop_score
    "weights" ship to each executor once via the broadcast machinery
    (torrent-style at cluster scale), not once per task in the
    serialized closure, mirroring the reference's load-model-once-per-
    process (toddleocr/engine.py:317-324)."""

    def decode_row(d):
        from paddleocr_spark.extract_core import decode_media_row

        return [(d["media_ref"], *(f[c] for c in _FRAG_COLS))
                for f in decode_media_row(d, bundle_bc.value)]

    return decode_row


# str(pa type) -> numpy dtype of the fixed-width types the stages emit
_FIXED = {"bool": "?", "int32": "i4", "int64": "i8", "float": "f4",
          "double": "f8"}


def _arrow_array(values: list, typ):
    """The pyarrow array of ``typ`` holding ``values`` (Python or NumPy
    values; None is a null), assembled from its buffers: ``pa.array``
    over Python objects (like ``Array.to_numpy``) loads pandas through
    pyarrow's pandas shim, ``Array.from_buffers`` does not."""
    import numpy as np
    import pyarrow as pa

    valid = [v is not None for v in values]
    n_null = valid.count(False)
    bufs = [pa.py_buffer(np.packbits(valid, bitorder="little"))
            if n_null else None]
    kids = None
    if pa.types.is_struct(typ):
        kids = [_arrow_array([v[i] if ok else None
                              for v, ok in zip(values, valid)], f.type)
                for i, f in enumerate(typ)]
    elif typ in (pa.string(), pa.binary()) or pa.types.is_list(typ):
        # list items, or the bytes of a string/binary value
        parts = [(v.encode() if isinstance(v, str) else v) if ok else b""
                 for v, ok in zip(values, valid)]
        ends = np.cumsum([len(p) for p in parts], dtype=np.int64)
        if ends.size and ends[-1] >= 2 ** 31:
            raise OverflowError(f"{typ} offsets past 2^31 in one batch")
        bufs.append(pa.py_buffer(np.concatenate(([0], ends)).astype("i4")))
        if pa.types.is_list(typ):
            kids = [_arrow_array([x for p in parts for x in p],
                                 typ.value_type)]
        else:
            bufs.append(pa.py_buffer(b"".join(parts)))
    else:
        data = np.array([v if ok else 0 for v, ok in zip(values, valid)],
                        dtype=_FIXED[str(typ)])
        bufs.append(pa.py_buffer(np.packbits(data, bitorder="little")
                                 if data.dtype == bool else data))
    return pa.Array.from_buffers(typ, len(values), bufs, n_null,
                                 children=kids)


def row_batch(schema):
    """The one way a Python stage hands rows back to the JVM: a function
    from a list of output tuples (in ``schema`` order, None a typed null
    in any column) to a ``pa.RecordBatch`` of ``schema`` — a DDL string
    or a ``StructType`` — for a ``mapInArrow`` body to yield. The schema
    converts to Arrow once, here on the driver; the closure ships it."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    row_type = pa.struct(to_arrow_schema(schema))

    def to_batch(rows):
        import pyarrow as pa

        return pa.RecordBatch.from_struct_array(_arrow_array(rows, row_type))

    return to_batch


# ---------------------------------------------------------------------------
# Pointer passing: media bytes are read by path on the worker, never
# scanned into a DataFrame (a parquet scan of the store, or Spark's
# binary-file source for raw files).
#
# Shipping ~60 KB of tensor bytes per row from the JVM to Python through
# the Arrow python-runner measures at ~8 MB/s/core (the row-to-Arrow
# copy of large binaries dominates; a passthrough Python stage over the
# fat columns costs 68 s for 540 MB at local[8] while the actual decode
# is 32 core-seconds). The reference never ships pixels either — it
# passes image PATHS and reads executor-side (toddleocr/datasets/
# simple.py:68). We do the same: the driver plans over FILE POINTERS
# (at production scale, Iceberg manifest entries) and each task reads
# its parquet split directly with pyarrow — vectorized, no JVM copy —
# or opens its raw files itself.
#
# The decode runs ONE Python task per core, not more: every Python task
# still pays a fixed setup cost before it touches a row. Under Spark's
# stock worker daemon that was ~0.15-0.25 CPU-s, almost all of it in
# worker_util.setup_spark_files -> importlib.invalidate_caches(), which
# re-read the directory of every archive on the worker's sys.path
# (pyspark.zip, the py4j zip, the spark-core jar). The session's daemon
# (paddleocr_spark/worker_daemon.py) takes those archives off sys.path,
# so a trivial Python stage at local[3] on a 4-core x86 host (Python
# 3.11) now costs ~0.03-0.04 worker CPU-s per task: 3 tasks 0.09-0.12 s,
# 12 tasks 0.35-0.47 s (stock daemon: 0.66-0.72 s and 2.65-2.89 s).
# Byte-balanced groups leave no straggler worth extra tasks to
# rebalance.

MANIFEST_SUFFIX = "_manifest"
MANIFEST_SCHEMA = "file string, n_rows long, n_bytes long"


def manifest_path(store_path: str) -> str:
    """Sibling dir ``<store>_manifest``: Spark's FileIndex hides
    ``_``-prefixed children, so it can't live INSIDE the store, and a
    plain-named subdir would break the store's partition discovery."""
    return store_path.rstrip("/") + MANIFEST_SUFFIX


def write_store_manifest(spark, store_path: str):
    """Write the store's file-level manifest table — the self-managed
    stand-in for an Iceberg manifest (no iceberg-spark-runtime jar
    ships in this image and there is no network to fetch one; probed,
    see BENCH/BASELINE.md). One row per data file: (file [relative
    name, so the store relocates], n_rows, n_bytes from the parquet
    footer). Written ONCE at store creation — the build-index-once
    pattern of the reference's LMDB dataset index
    (toddleocr/datasets/lmdb.py:51-65) — so query planning reads a
    table instead of listing the filesystem. The driver-side listing
    below runs only here, at write time (the Iceberg-commit analogue);
    footers are read executor-side. Planning collects this table to
    the driver (one (file, bytes) pair per file, see
    ``_store_files``)."""
    import os as _os

    names = [_os.path.basename(f)
             for f, _ in _list_files(store_path, "*.parquet")]
    # degenerate stores: a single parquet FILE is a valid store
    # (_list_files supports it) — footers must open the file
    # itself, not <file>/<file>; an empty store still writes an empty
    # manifest rather than crashing repartition(0)
    root = (_os.path.dirname(store_path)
            if _os.path.isfile(store_path) else store_path)

    to_batch = row_batch(MANIFEST_SCHEMA)

    def footer(batches):
        import os as _os2

        import pyarrow.parquet as pq

        for b in batches:
            rows = []
            for name in b.column("file").to_pylist():
                full = _os2.path.join(root, name)
                rows.append((name, pq.ParquetFile(full).metadata.num_rows,
                             _os2.path.getsize(full)))
            yield to_batch(rows)

    (spark.createDataFrame([(n,) for n in names], "file string")
     .repartition(max(1, min(len(names),
                             spark.sparkContext.defaultParallelism)))
     .mapInArrow(footer, schema=MANIFEST_SCHEMA)
     .write.mode("overwrite").parquet(manifest_path(store_path)))


def _list_files(path: str, pattern: str = "*") -> list[tuple[str, int]]:
    """Driver-side (path, n_bytes) listing of a file, a directory (its
    ``pattern`` children) or a glob, skipping ``_``/``.``-prefixed
    names as Spark's file sources do. Stores with a manifest plan from
    the manifest instead."""
    import glob as _glob
    import os as _os

    if _os.path.isdir(path):
        path = _os.path.join(path, pattern)
    files = [path] if _os.path.isfile(path) else sorted(
        f for f in _glob.glob(path) if _os.path.isfile(f)
        and not _os.path.basename(f).startswith("_"))
    return [(f, _os.path.getsize(f)) for f in files]


def _pack_groups(files: list[tuple[str, int]],
                 n_groups: int) -> list[list[str]]:
    """Greedy byte packing of (path, n_bytes) pairs: largest file first,
    each onto the group with the fewest bytes so far. No group exceeds
    the ideal share (total / n_groups) by more than the largest file."""
    import heapq

    groups: list[list[str]] = [[] for _ in range(n_groups)]
    loads = [(0, g) for g in range(n_groups)]
    for path, n_bytes in sorted(files, key=lambda f: (-f[1], f[0])):
        load, g = heapq.heappop(loads)
        groups[g].append(path)
        heapq.heappush(loads, (load + n_bytes, g))
    return groups


def _store_files(store_path: str) -> list[tuple[str, int]]:
    """(path, n_bytes) of every data file of a parquet store: from the
    manifest table (read on the driver with pyarrow, no Spark job — the
    Iceberg seam) or, for ad-hoc stores that never wrote one, a glob."""
    import os as _os

    man = manifest_path(store_path)
    if _os.path.exists(_os.path.join(man, "_SUCCESS")):
        root = (_os.path.dirname(store_path)
                if _os.path.isfile(store_path) else store_path)
        import pyarrow.parquet as pq

        return [(_os.path.join(root, r["file"]), r["n_bytes"]) for r in
                pq.read_table(man, columns=["file", "n_bytes"]).to_pylist()]
    return _list_files(store_path, "*.parquet")


def _groups_df(spark, files: list[tuple[str, int]], n_tasks: int):
    """DataFrame of the ``files`` paths with exactly one partition per
    byte-balanced group, ``min(#files, n_tasks)`` groups
    (``_pack_groups``). The groups reach the JVM as a literal array of
    path arrays indexed by ``spark.range`` — no shuffle, no window and
    no Python task before the loop itself (``createDataFrame`` of a
    Python list would convert through a Python RDD: one more Python
    task per partition)."""
    from pyspark.sql import functions as F

    groups = _pack_groups(files, max(1, min(len(files), n_tasks)))
    table = F.array(*[F.array(*map(F.lit, g)) for g in groups]).cast(
        "array<array<string>>")
    return (spark.range(len(groups), numPartitions=len(groups))
            .select(F.explode(F.element_at(
                table, F.col("id").cast("int") + 1)).alias("path")))


def map_media_store(spark, source, fn, schema: str,
                    columns: list[str] | None = None):
    """The one loop over media bytes: ``fn`` once per unit, inside one
    quarantine. A unit and its key are either

    - a media store ROW (``columns`` given): ``source`` is a parquet
      store path (manifest or glob), ``fn(row)`` gets a dict of
      ``columns``, the key is ``row["media_ref"]``; or
    - a whole FILE (``columns`` None): ``source`` is a directory or
      glob of files, or a DataFrame with a ``path`` column (the ingest
      stream's micro-batch, paths as ``file:`` URIs); ``fn(path,
      content)`` gets the file's bytes, read on the worker; the key is
      the path.

    ``fn`` returns (or yields) output tuples in ``schema`` order (zero,
    one or many per unit). The output schema is ``schema`` plus a
    trailing ``error string``, null on data rows. A unit whose ``fn``
    (or file read) raises yields exactly one row instead of any of its
    own: the key in the first column, nulls elsewhere and
    ``"<type>: <message>"`` (200 chars at most) in ``error`` — at
    10^12 docs one corrupt input must not kill the job (the reference
    resamples on parse error, ``datasets/simple.py:78-84``).
    ``decode_errors`` reports those rows, ``data_rows`` drops them.

    One Python task per core, each reading one byte-balanced group of
    files (``_groups_df``): every Python task has a fixed cost (see
    "Pointer passing" above) that no rebalancing repays. Each Arrow
    batch of a store file (each raw file) yields one output batch, empty
    ones included, its quarantine rows in the same batch as its data
    rows."""
    from pyspark.sql.types import StructType

    schema += ", error string"
    to_batch = row_batch(schema)
    nulls = (None,) * (len(StructType.fromDDL(schema)) - 2)
    if not isinstance(source, str):
        paths_df = source.select("path")
    else:
        files = (_store_files(source) if columns is not None
                 else _list_files(source))
        paths_df = _groups_df(spark, files,
                              spark.sparkContext.defaultParallelism)
    call = fn if columns is not None else (
        lambda path: fn(path, Path(path).read_bytes()))

    def batch_of(units):
        rows, errors = [], []
        for key, unit in units:
            n = len(rows)
            try:
                rows.extend(call(unit))
            except Exception as exc:
                del rows[n:]  # a generator's partial rows
                errors.append((key, *nulls,
                               f"{type(exc).__name__}: {exc}"[:200]))
        return to_batch([(*r, None) for r in rows] + errors)

    def per_file(batches):
        import pyarrow.parquet as pq

        for b in batches:
            for path in b.column("path").to_pylist():
                if columns is None:
                    path = path.removeprefix("file:")
                    yield batch_of([(path, path)])
                    continue
                # stream row-group batches instead of whole-file reads:
                # bounds per-task transient memory to ~tens of MB
                # regardless of file size (whole-file reads at full task
                # concurrency caused reclaim stalls), and
                # use_threads=False so workers don't each spin up
                # Arrow's cpu_count-wide pool (~32x oversubscription)
                pf = pq.ParquetFile(path)
                for rb in pf.iter_batches(batch_size=512, columns=columns,
                                          use_threads=False):
                    yield batch_of((d["media_ref"], d)
                                   for d in rb.to_pylist())

    return paths_df.mapInArrow(per_file, schema=schema)


def decode_media_store(spark, store_path: str):
    """media store directory → fragment DataFrame
    (``MEDIA_FRAGMENT_SCHEMA`` + ``error``; a media row whose decode
    raised is one quarantine row, see ``decode_errors``)."""
    from paddleocr_spark.extract_core import MODEL_BUNDLE

    bundle_bc = spark.sparkContext.broadcast(MODEL_BUNDLE)
    return map_media_store(spark, store_path, _decode_row_fn(bundle_bc),
                           MEDIA_FRAGMENT_SCHEMA, columns=_MEDIA_COLS)


# TableMaster variant: same det+rec, 3-rule cascade match instead of
# TableMatch (config.py:846-851); one row per table-bearing media.

_MASTER_COLS = [c for c in _MEDIA_COLS if c != "cls_probs"]


def _master_html_row(d):
    from paddleocr_spark.extract_core import master_html_for_row

    html = master_html_for_row(d)
    return [] if html is None else [(d["media_ref"], html)]


def master_html_store(spark, store_path: str):
    return data_rows(map_media_store(spark, store_path, _master_html_row,
                                     "media_ref string, master_html string",
                                     columns=_MASTER_COLS))


def decode_errors(df):
    """The quarantine report of any ``map_media_store`` output: (key,
    error), one row per failed unit, the key under the output's first
    column name (``media_ref`` for the store consumers). Zero rows on
    healthy input; at scale this is the per-run data-quality report the
    lineage/checkpoint rows point at."""
    from pyspark.sql import functions as F

    return df.where(F.col("error").isNotNull()).select(df.columns[0],
                                                       "error")


def data_rows(df):
    """The data rows of a ``map_media_store`` output, in the caller's
    schema: quarantine rows and the ``error`` column dropped."""
    from pyspark.sql import functions as F

    return df.where(F.col("error").isNull()).drop("error")
