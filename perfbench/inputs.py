"""Seeded workload inputs and their independent references.

Every input set is a pure function of (workload, seed, params). It is
built afresh in each run's own directory and excluded from every
metric. It is not cached across runs: building it runs Spark jobs that
warm the JVM, so a run that found its inputs cached would start its
set-ups colder and report a different ``setup_s``.

Extraction corpora come from ``corpus.synthesize_docs`` /
``synthesize_media``. Their reference is the sequential path: every
distinct media row of the store is decoded once with
``extract_core.decode_media_row``, then ``reference_path.extract_doc``
numbers each document's rows. Planted poison rows (a truncated
``det_map``) must raise in that decode and are dropped before
numbering, as the pipeline's quarantine drops them.

HTML pages are a seeded documents table in the shape of the repo's
``documents.parquet`` (``doc_id``, ``text`` of 8-96 words from the
corpus vocabulary); their reference is DuckDB over the same table.
"""

from __future__ import annotations

import hashlib
import os

__all__ = ["extract_inputs", "html_inputs", "HASH_EXPR", "spark_digest"]

# order-independent digest of an extraction output; conf is excluded
# (a float, compared through the rows it selects)
HASH_EXPR = "bit_xor(xxhash64(doc_id, `order`, kind, text, media_ref))"

# the worker pool that builds references; spawned, never forked (the
# parent runs a JVM gateway thread)
_POOL_SIZE = min(4, os.cpu_count() or 1)


def spark_digest(df) -> tuple[int, int]:
    """(row count, HASH_EXPR) of an extraction output DataFrame."""
    from pyspark.sql import functions as F

    row = df.agg(F.count("*").alias("n"),
                 F.expr(HASH_EXPR).alias("h")).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def _poison_refs(refs: list[str], seed: int, share: float) -> list[str]:
    """A fixed share of the refs, chosen by a seeded hash order."""
    if share <= 0:
        return []
    n = max(1, round(share * len(refs)))
    return sorted(refs, key=lambda r: hashlib.md5(
        f"{seed}:{r}".encode()).hexdigest())[:n]


def extract_inputs(spark, path: str, seed: int, n_docs: int,
                   heavy_frac: float, media_pool: int,
                   poison_share: float, media_files: int) -> dict:
    """Docs table + media store (with manifest) + reference digest,
    written under ``path``."""
    from pyspark.sql import functions as F

    from paddleocr_spark.corpus import (
        doc_record,
        synthesize_docs,
        synthesize_media,
    )
    from paddleocr_spark.functions.udfs import write_store_manifest

    docs_dir = os.path.join(path, "docs")
    media_dir = os.path.join(path, "media")
    (synthesize_docs(spark, n_docs, seed=seed, heavy_frac=heavy_frac,
                     media_pool=media_pool)
     .write.parquet(docs_dir))
    docs = spark.read.parquet(docs_dir)
    refs = sorted({s["media_ref"] for i in range(n_docs)
                   for s in doc_record(i, seed, heavy_frac,
                                       media_pool)["spans"]
                   if s["kind"] == "media"})
    poison = _poison_refs(refs, seed, poison_share)
    media = synthesize_media(spark, docs, seed=seed,
                             partitions=media_files)
    if poison:
        media = media.withColumn(
            "det_map",
            F.when(F.col("media_ref").isin(poison),
                   F.expr("substring(det_map, 1, 16)"))
            .otherwise(F.col("det_map")))
    media.write.parquet(media_dir)
    write_store_manifest(spark, media_dir)

    ref_path = os.path.join(path, "reference.parquet")
    _write_reference(ref_path, media_dir, set(poison), seed, n_docs,
                     heavy_frac, media_pool)
    n_rows, digest = spark_digest(spark.read.parquet(ref_path))
    return {"docs": docs_dir, "media": media_dir, "n_docs": n_docs,
            "n_media": len(refs), "poison": sorted(poison),
            "ref_rows": n_rows, "ref_hash": digest}


def _write_reference(out: str, media_dir: str, poison: set[str], seed: int,
                     n_docs: int, heavy_frac: float, media_pool: int) -> None:
    import glob
    import multiprocessing

    import pyarrow as pa
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(media_dir, "*.parquet")))
    step = max(1, -(-n_docs // (_POOL_SIZE * 4)))
    chunks = [(lo, min(n_docs, lo + step)) for lo in range(0, n_docs, step)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(_POOL_SIZE) as pool:
        frags: dict[str, list] = {}
        for part in pool.starmap(_decode_file,
                                 [(f, sorted(poison)) for f in files]):
            frags.update(part)
        cols = pool.starmap(_reference_rows,
                            [(lo, hi, seed, heavy_frac, media_pool, frags)
                             for lo, hi in chunks])
    table = pa.table({
        "doc_id": pa.array([v for c in cols for v in c["doc_id"]],
                           pa.string()),
        "order": pa.array([v for c in cols for v in c["order"]],
                          pa.int32()),
        "kind": pa.array([v for c in cols for v in c["kind"]], pa.string()),
        "text": pa.array([v for c in cols for v in c["text"]], pa.string()),
        "media_ref": pa.array([v for c in cols for v in c["media_ref"]],
                              pa.string()),
    })
    pq.write_table(table, out)


def _decode_file(path: str, poison: list[str]) -> dict[str, list]:
    """Decode every media row of one store file; a poison row must
    raise and maps to no fragments, any other row must not raise."""
    import pyarrow.parquet as pq

    from paddleocr_spark.extract_core import decode_media_row

    bad = set(poison)
    out = {}
    for row in pq.read_table(path).to_pylist():
        ref = row["media_ref"]
        try:
            out[ref] = decode_media_row(row)
        except ValueError:
            if ref not in bad:
                raise
            out[ref] = []
        else:
            if ref in bad:
                raise AssertionError(f"poison media {ref} decoded")
    return out


def _reference_rows(lo: int, hi: int, seed: int, heavy_frac: float,
                    media_pool: int, frags: dict[str, list]) -> dict:
    """Sequential reference rows for docs [lo, hi), as columns.

    ``extract_doc`` decodes per span; here its decode is pointed at the
    fragments already decoded once per distinct ref (this process is a
    pool worker that does nothing else)."""
    from paddleocr_spark import reference_path
    from paddleocr_spark.corpus import doc_record

    reference_path.decode_media_row = lambda fragments: fragments
    cols = {c: [] for c in ("doc_id", "order", "kind", "text", "media_ref")}
    for i in range(lo, hi):
        doc = doc_record(i, seed, heavy_frac, media_pool)
        for row in reference_path.extract_doc(doc, frags.__getitem__):
            for c in cols:
                cols[c].append(row[c])
    return cols


def html_inputs(path: str, seed: int, n_pages: int, rounds: int) -> None:
    """Seeded ``documents.parquet`` + DuckDB references for
    ``html_main_content`` and ``rounds`` of ``html_pagerank``, written
    under ``path``."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from paddleocr_spark.corpus import VOCAB
    from paddleocr_spark.operators import html_extract as hx

    rng = np.random.default_rng([seed, 0x47D1])
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), n)])
             for n in rng.integers(8, 97, n_pages)]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_pages), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(path, "documents.parquet"))

    # the template is fixed, so the expected extraction follows from
    # the text column alone (the same reasoning as the repo's oracle)
    main_sql = f"""
        SELECT doc_id::bigint AS doc_id,
               'Doc ' || doc_id::varchar AS title,
               trim(regexp_replace(
                   CASE WHEN doc_id < {hx.ENTITY_PLANT_N}
                        THEN text || '{hx.ENTITY_SUFFIX}'
                        ELSE text END,
                   '\\s+', ' ', 'g'))
                 || chr(10) || chr(10) || '{hx.PARA2}' AS main_text,
               2::bigint AS n_blocks_kept,
               3::bigint AS n_blocks_dropped
        FROM documents ORDER BY doc_id"""
    con = duckdb.connect()
    try:
        con.register("documents", docs)
        pq.write_table(con.sql(main_sql).arrow(),
                       os.path.join(path, "main_content.parquet"))
        rank_sql = (f"SELECT * FROM ({entry._pagerank_oracle(rounds)})"
                    " ORDER BY doc_id")
        pq.write_table(con.sql(rank_sql).arrow(),
                       os.path.join(path, "pagerank.parquet"))
    finally:
        con.close()
