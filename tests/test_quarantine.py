"""One quarantine contract over every byte consumer: the shared loop
(``functions/udfs.map_media_store``) turns one corrupt input into
exactly one ``decode_errors`` row naming it, and leaves every other
input's rows unchanged — for a media store row, a paged container, a
WAV, a Y4M, a text PDF and the container ingest stream."""

import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from paddleocr_spark.cachedir import cache_root
from paddleocr_spark.functions.udfs import (
    data_rows,
    decode_errors,
    decode_media_store,
    map_media_store,
)
from paddleocr_spark.sources import av_store, page_store, pdf_text_store
from paddleocr_spark.sources.media_files import explode_pages

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "paddleocr_spark")


def _plant(src: str, root) -> tuple[str, str, str]:
    """Copy the files of ``src`` into ``root/clean`` and ``root/bad``;
    in ``bad`` the middle file is cut to half its bytes. Returns (clean
    dir, bad dir, victim file name)."""
    names = sorted(n for n in os.listdir(src) if not n.startswith("_"))
    victim = names[len(names) // 2]
    dirs = []
    for leaf in ("clean", "bad"):
        d = root / leaf
        d.mkdir()
        for n in names:
            shutil.copy(os.path.join(src, n), d / n)
        dirs.append(str(d))
    data = (root / "bad" / victim).read_bytes()
    (root / "bad" / victim).write_bytes(data[:len(data) // 2])
    return dirs[0], dirs[1], victim


def _file_case(src_fn, rows_fn, schema):
    def case(spark, media_store, root):
        clean, bad, victim = _plant(src_fn(), root)
        return (map_media_store(spark, clean, rows_fn, schema),
                map_media_store(spark, bad, rows_fn, schema), victim)
    return case


def _store_row_case(spark, media_store, root):
    from paddleocr_spark.corpus import media_schema, synthesize_docs

    docs = synthesize_docs(spark, 8, seed=61, heavy_frac=0.0)
    clean = media_store(docs, 61, partitions=2)
    media = spark.read.schema(media_schema()).parquet(clean)
    victim = media.select("media_ref").orderBy("media_ref").first()[0]
    bad = str(root / "bad")
    (media.withColumn("det_map",
                      F.when(F.col("media_ref") == victim,
                             F.substring("det_map", 1, 3))
                      .otherwise(F.col("det_map")))
     .write.parquet(bad))
    return (decode_media_store(spark, clean),
            decode_media_store(spark, bad), victim)


def _stream_case(spark, media_store, root):
    from paddleocr_spark.streaming.incremental import streaming_page_ingest

    clean, bad, victim = _plant(page_store.ensure_page_store(cache_root()),
                                root)
    out = str(root / "out")
    streaming_page_ingest(spark, bad, out,
                          str(root / "ckpt")).awaitTermination()
    return (explode_pages(spark, clean),
            spark.read.parquet(out).drop("epoch"), victim)


CASES = {
    "store_row": _store_row_case,
    "container": _file_case(lambda: page_store.ensure_page_store(
        cache_root()), page_store._decoded_pages, page_store.PAGES_OUT_SCHEMA),
    "wav": _file_case(lambda: os.path.join(
        av_store.ensure_av_store(cache_root()), "audio"),
        av_store._audio_rows, av_store.AUDIO_SCHEMA),
    "y4m": _file_case(lambda: os.path.join(
        av_store.ensure_av_store(cache_root()), "video"),
        av_store._video_rows, av_store.VIDEO_SCHEMA),
    "text_pdf": _file_case(lambda: pdf_text_store.ensure_pdf_text_store(
        cache_root()), pdf_text_store._run_rows, pdf_text_store.RUNS_SCHEMA),
    "stream_ingest": _stream_case,
}


def _data(df):
    """Data rows with the key reduced to its base name (file consumers
    key on the path, which differs between the two directories)."""
    return sorted(((os.path.basename(r[0]), *r[1:])
                   for r in data_rows(df).collect()), key=repr)


@pytest.mark.parametrize("case", list(CASES))
def test_one_corrupt_input_one_quarantine_row(spark, media_store, tmp_path,
                                              case):
    clean, bad, victim = CASES[case](spark, media_store, tmp_path)
    assert decode_errors(clean).count() == 0
    errs = decode_errors(bad).collect()
    assert [os.path.basename(e[0]) for e in errs] == [victim], errs
    assert errs[0].error
    want = [r for r in _data(clean) if r[0] != victim]
    assert want
    # the other inputs' rows are unchanged, and none of the victim's
    # rows leaks next to its quarantine row
    assert _data(bad) == want


def test_failed_unit_leaks_no_partial_rows(spark, tmp_path):
    """A unit that fails after producing rows yields its quarantine row
    only."""
    (tmp_path / "a.bin").write_bytes(b"good")
    (tmp_path / "b.bin").write_bytes(b"bad")

    def rows(path, content):
        name = os.path.basename(path)
        yield (name, 0)
        if content == b"bad":
            raise ValueError("after one row")
        yield (name, 1)

    got = {tuple(r) for r in map_media_store(
        spark, str(tmp_path), rows, "name string, i long").collect()}
    assert got == {("a.bin", 0, None), ("a.bin", 1, None),
                   (str(tmp_path / "b.bin"), None,
                    "ValueError: after one row")}

    # store rows: one Arrow batch carries a long above 2^53, a null in
    # the same column and a quarantine row; the long comes out exact
    import pyarrow as pa
    import pyarrow.parquet as pq

    store = tmp_path / "store"
    store.mkdir()
    pq.write_table(pa.table({"media_ref": ["a", "b"]}),
                   store / "part-0.parquet")
    big = 2 ** 53 + 1

    def store_rows(d):
        yield (d["media_ref"], big)
        if d["media_ref"] == "b":
            raise ValueError("after one row")
        yield (d["media_ref"], None)

    got = {tuple(r) for r in map_media_store(
        spark, str(store), store_rows, "name string, i long",
        columns=["media_ref"]).collect()}
    assert got == {("a", big, None), ("a", None, None),
                   ("b", None, "ValueError: after one row")}


def test_one_byte_loop_in_the_package():
    """No sixth byte loop: only the ingest stream names the binaryFile
    source, and no module under sources/ or streaming/ runs a Python
    stage of its own (they pass per-unit functions to the shared
    loop)."""
    binary, loops = [], []
    for rel, src in _package_sources():
        if "binaryFile" in src:
            binary.append(rel)
        if (rel.startswith(("sources", "streaming"))
                and re.search(r"\.(mapInArrow|mapInPandas)\(", src)):
            loops.append(rel)
    assert binary == [os.path.join("streaming", "incremental.py")]
    assert loops == []


def test_one_arrow_crossing_in_the_package():
    """Every Python stage is a ``mapInArrow``: pandas is named only by
    the grouped-state stream (``applyInPandasWithState``) and the
    driver-side golden writer."""
    pandas = [rel for rel, src in _package_sources()
              if re.search(r"mapInPandas|pandas_udf|^\s*import pandas",
                           src, re.MULTILINE)]
    assert sorted(pandas) == ["golden.py",
                              os.path.join("streaming", "stateful.py")]


def _package_sources():
    """(path relative to the package, source) of every module."""
    for d, _, files in sorted(os.walk(PKG)):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, PKG), fh.read()
