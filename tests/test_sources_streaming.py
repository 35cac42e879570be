"""Sources (binary files, page explode) and Structured Streaming
incremental extraction."""

import os

from paddleocr_spark.corpus import synthesize_docs
from paddleocr_spark.operators.extract import extract_spans
from paddleocr_spark.sources.media_files import explode_pages
from paddleocr_spark.streaming.incremental import incremental_extract


def test_binary_source_page_explode(spark, tmp_path):
    d = tmp_path / "files"
    d.mkdir()
    (d / "a.bin").write_bytes(b"FAKEDOC" + bytes([3]) + b"payloadA")
    (d / "b.bin").write_bytes(b"plain-image-bytes")
    pages = explode_pages(spark, str(d)).collect()
    by_path = {}
    for r in pages:
        by_path.setdefault(os.path.basename(r.path), []).append(r)
    assert len(by_path["a.bin"]) == 3
    assert sorted(r.page for r in by_path["a.bin"]) == [0, 1, 2]
    assert all(r.is_multipage for r in by_path["a.bin"])
    assert bytes(by_path["a.bin"][0].content).startswith(b"PAGE")
    assert len(by_path["b.bin"]) == 1
    assert bytes(by_path["b.bin"][0].content) == b"plain-image-bytes"
    assert all(r.error is None for r in pages)


def test_incremental_extract_matches_batch(spark, tmp_path, media_store):
    """Two file-arrival waves through the stream == one batch run."""
    docs_dir = str(tmp_path / "docs")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    docs = synthesize_docs(spark, 12, seed=3, heavy_frac=0.0)
    media = media_store(docs, 3)

    from pyspark.sql import functions as F

    wave1 = docs.where(F.xxhash64("doc_id") % 2 == 0)
    wave2 = docs.where(F.xxhash64("doc_id") % 2 != 0)
    wave1.write.mode("append").parquet(docs_dir)
    q = incremental_extract(spark, docs_dir, media, out_dir, ckpt)
    q.awaitTermination()
    wave2.write.mode("append").parquet(docs_dir)
    q = incremental_extract(spark, docs_dir, media, out_dir, ckpt)
    q.awaitTermination()

    streamed = spark.read.parquet(out_dir)
    batch = extract_spans(docs, media)
    key = lambda rows: sorted((r.doc_id, r.order, r.kind, r.text,
                               r.media_ref) for r in rows)
    assert key(streamed.collect()) == key(batch.collect())


def test_pubtab_jsonl_source(spark, tmp_path):
    import json

    from paddleocr_spark.sources.pubtab import read_pubtab

    rows = [
        {"filename": "t1.png",
         "html": {"cells": [{"tokens": ["a"], "bbox": [0, 0, 5, 5]}],
                  "structure": {"tokens": ["<tr>", "<td></td>", "</tr>"]}}},
        {"filename": "t2.png",  # too many structure tokens -> filtered
         "html": {"cells": [{"tokens": ["b"], "bbox": [0, 0, 5, 5]}],
                  "structure": {"tokens": ["<td></td>"] * 600}}},
        {"filename": "t3.png",  # no cells -> filtered
         "html": {"cells": [],
                  "structure": {"tokens": ["<tr>", "</tr>"]}}},
    ]
    p = tmp_path / "pubtab.jsonl"
    with open(p, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
        f.write("{not valid json\n")  # corrupt row -> filtered

    out = read_pubtab(spark, str(p)).collect()
    assert [r.filename for r in out] == ["t1.png"]
    assert out[0].structure_tokens == ["<tr>", "<td></td>", "</tr>"]
    assert out[0].n_cells == 1


def test_windowed_event_counts_stream(spark, tmp_path):
    """Watermarked tumbling-window aggregation over a bounded stream
    driven to completion (events table as the file source)."""
    from paddleocr_spark.streaming.incremental import windowed_event_counts

    batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # the file-stream source needs a directory
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    import shutil
    shutil.copy("/root/testdata/sf0.001/events.parquet",
                events_dir / "part-0.parquet")
    stream = (spark.readStream.schema(batch.schema)
              .parquet(str(events_dir)))
    agg = windowed_event_counts(spark, stream, watermark="1 hour",
                                window="30 minutes")
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName("win_counts")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .start())
    q.processAllAvailable()
    q.stop()
    got = spark.sql(
        "SELECT sum(n) AS total FROM win_counts").collect()[0].total
    assert got == batch.count()


def test_real_image_ingest_pipeline(spark, tmp_path):
    """Non-fictional ingest: PNG/BMP bytes on disk → page explode (files
    read by path) → REAL decode (pure-NumPy codecs) → DetResizeForTest
    inside one Arrow-batched stage, emitting per-image shape records."""
    import numpy as np

    from paddleocr_spark.kernels.imgcodec import encode_png

    rng = np.random.default_rng(5)
    img_dir = tmp_path / "imgs"
    img_dir.mkdir()
    sizes = {"a.png": (40, 64), "b.png": (100, 52)}
    for name, (h, w) in sizes.items():
        (img_dir / name).write_bytes(
            encode_png(rng.integers(0, 256, (h, w, 3), dtype=np.uint8)))

    pages = explode_pages(spark, str(img_dir))

    def decode_resize(batches):
        import os

        import pandas as pd

        from paddleocr_spark.kernels.preprocess import det_resize_for_test
        from paddleocr_spark.sources.media_files import decode_image_bytes

        for pdf in batches:
            out = {"name": [], "src_h": [], "src_w": [],
                   "det_h": [], "det_w": []}
            for path, content in zip(pdf["path"], pdf["content"]):
                img = decode_image_bytes(bytes(content))
                resized, shape = det_resize_for_test(img,
                                                     limit_side_len=64,
                                                     limit_type="min")
                out["name"].append(os.path.basename(path))
                out["src_h"].append(int(shape[0]))
                out["src_w"].append(int(shape[1]))
                out["det_h"].append(resized.shape[0])
                out["det_w"].append(resized.shape[1])
            yield pd.DataFrame(out)

    rows = {r.name: r for r in pages.mapInPandas(
        decode_resize,
        schema="name string, src_h int, src_w int, det_h int, det_w int"
    ).collect()}
    assert rows["a.png"].src_h == 40 and rows["a.png"].src_w == 64
    # every output side is a /32 multiple with min side >= 64
    for r in rows.values():
        assert r.det_h % 32 == 0 and r.det_w % 32 == 0
        assert min(r.det_h, r.det_w) >= 64


def test_pgnet_label_source(spark, tmp_path):
    """PGDataSet re-creation (datasets/pgnet.py:8-60): delimiter parse,
    E2E label JSON → polys/texts/ignore_tags, per-source ratio
    sampling determinism, multi-file union, malformed-line handling."""
    import json

    from paddleocr_spark.sources.pgnet import (
        read_pgnet_labels,
        read_pgnet_sources,
    )

    def label(boxes):
        return json.dumps([
            {"transcription": t, "points": p} for t, p in boxes])

    f1 = tmp_path / "a.txt"
    f1.write_text("\n".join([
        "img1.jpg\t" + label([("hello", [[0, 0], [9, 0], [9, 4], [0, 4]]),
                              ("###", [[1, 1], [2, 1], [2, 2], [1, 2]])]),
        "img2.jpg\t" + label([("*", [[3, 3], [6, 3], [6, 6], [3, 6]])]),
        "no_tab_malformed_line",
        "img3.jpg\tnot-json",
    ]))
    f2 = tmp_path / "b.txt"
    f2.write_text("img9.jpg\t" + label([("x", [[0, 0], [1, 0], [1, 1],
                                               [0, 1]])]) + "\n")

    rows = {r["img_path"]: r for r in
            read_pgnet_labels(spark, str(f1)).collect()}
    # the tab-less line is dropped; the bad-JSON line surfaces as null
    assert set(rows) == {"img1.jpg", "img2.jpg", "img3.jpg"}
    r1 = rows["img1.jpg"]
    assert r1["texts"] == ["hello", "###"]
    assert r1["ignore_tags"] == [False, True]
    assert r1["polys"][0] == [[0.0, 0.0], [9.0, 0.0], [9.0, 4.0],
                              [0.0, 4.0]]
    assert rows["img2.jpg"]["ignore_tags"] == [True]
    assert rows["img3.jpg"]["polys"] is None

    # union of both sources at ratio 1.0 has all parseable rows
    full = read_pgnet_sources(spark, [str(f1), str(f2)])
    assert full.count() == 4
    assert {r["source_file"] for r in full.collect()} == {str(f1), str(f2)}

    # ratio sampling is deterministic and a subset
    s1 = read_pgnet_sources(spark, [str(f1)], ratio_list=[0.5])
    s2 = read_pgnet_sources(spark, [str(f1)], ratio_list=[0.5])
    got1 = sorted(r["img_path"] for r in s1.collect())
    assert got1 == sorted(r["img_path"] for r in s2.collect())
    assert set(got1) <= {"img1.jpg", "img2.jpg", "img3.jpg"}


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    """Streaming dropDuplicates state must keep exactly one row per
    content hash across micro-batches, equal to the batch dedup's
    group count — with duplicates split ACROSS files so the state
    store (not per-batch dedup) does the work."""
    from pyspark.sql import functions as F

    from paddleocr_spark.streaming.incremental import streaming_exact_dedup

    docs_dir = tmp_path / "docs_stream"
    docs_dir.mkdir()
    rows1 = [(1, "alpha beta", "en", "s", 10),
             (2, "gamma  delta", "en", "s", 12),
             (3, "alpha beta", "en", "s", 10)]       # dup of 1, same file
    rows2 = [(4, "ALPHA   beta", "en", "s", 12),      # dup of 1 after norm
             (5, "epsilon", "en", "s", 7)]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    spark.createDataFrame(rows1, schema).coalesce(1) \
        .write.parquet(str(docs_dir / "f1"))
    spark.createDataFrame(rows2, schema).coalesce(1) \
        .write.parquet(str(docs_dir / "f2"))

    out = tmp_path / "deduped"
    q = (streaming_exact_dedup(spark, str(docs_dir) + "/*")
         .writeStream.format("parquet")
         .option("path", str(out))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.read.parquet(str(out)).collect()
    # one row per distinct normalized content: {alpha beta},
    # {gamma delta}, {epsilon}
    hashes = [r["content_md5"] for r in got]
    assert len(hashes) == len(set(hashes)) == 3
    kept_docs = {r["doc_id"] for r in got}
    assert 2 in kept_docs and 5 in kept_docs
    assert len(kept_docs & {1, 3, 4}) == 1  # exactly one of the dups


def test_streaming_page_ingest_matches_batch(spark, tmp_path):
    """Two container-arrival waves through the ingest stream == one
    batch explode, INCLUDING the quarantined corrupt file (the stream
    must survive it, not die)."""
    import numpy as np

    from paddleocr_spark.functions.udfs import decode_errors
    from paddleocr_spark.kernels.pdf import encode_pdf
    from paddleocr_spark.kernels.tiff import encode_tiff
    from paddleocr_spark.streaming.incremental import streaming_page_ingest

    files_dir = tmp_path / "landing"
    files_dir.mkdir()
    rng = np.random.default_rng(31)
    img = lambda: rng.integers(0, 256, (12, 16, 3), dtype=np.uint8)

    # wave 1: a 2-page PDF + a corrupt container
    (files_dir / "a.pdf").write_bytes(
        encode_pdf([img(), img()], image_filter="FlateDecode"))
    (files_dir / "bad.pdf").write_bytes(b"%PDF-1.4\nnot really")
    out_dir, ckpt = str(tmp_path / "pages"), str(tmp_path / "ckpt")
    q = streaming_page_ingest(spark, str(files_dir), out_dir, ckpt)
    q.awaitTermination()

    # wave 2: a 3-page TIFF
    (files_dir / "b.tif").write_bytes(encode_tiff([img(), img(), img()]))
    q = streaming_page_ingest(spark, str(files_dir), out_dir, ckpt)
    q.awaitTermination()

    streamed = spark.read.parquet(out_dir).drop("epoch")
    batch = explode_pages(spark, str(files_dir))
    key = lambda df: sorted(
        (r.path.rsplit("/", 1)[-1], r.page,
         None if r.content is None else bytes(r.content), r.is_multipage,
         r.error) for r in df.collect())
    assert key(streamed) == key(batch)
    errs = decode_errors(streamed).collect()
    assert [e.path.rsplit("/", 1)[-1] for e in errs] == ["bad.pdf"]
    assert streamed.where("error IS NULL").count() == 5


def test_streaming_partitioned_sink_matches_batch_layout(spark, tmp_path):
    """Two event-arrival waves through the partitioned streaming sink
    must land in the SAME day-partitioned directory layout the batch
    job builds, with partition pruning immediately effective on it."""
    from pyspark.sql import functions as F

    from paddleocr_spark.operators.partitioning import epoch_day
    from paddleocr_spark.streaming.incremental import (
        streaming_partitioned_events,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    landing = tmp_path / "landing"
    ev.where(F.col("event_id") % 2 == 0).coalesce(1) \
      .write.parquet(str(landing / "w1"))
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    # the stream reads a directory of parquet files: flatten wave files
    flat = tmp_path / "flat"
    flat.mkdir()
    import glob
    import shutil
    for i, f in enumerate(glob.glob(str(landing / "w1" / "*.parquet"))):
        shutil.copy(f, flat / f"w1_{i}.parquet")
    q = streaming_partitioned_events(spark, str(flat), out_dir, ckpt)
    q.awaitTermination()
    # wave 2
    ev.where(F.col("event_id") % 2 == 1).coalesce(1) \
      .write.parquet(str(landing / "w2"))
    for i, f in enumerate(glob.glob(str(landing / "w2" / "*.parquet"))):
        shutil.copy(f, flat / f"w2_{i}.parquet")
    q = streaming_partitioned_events(spark, str(flat), out_dir, ckpt)
    q.awaitTermination()

    got = spark.read.parquet(out_dir)
    exp = ev.withColumn("event_day", epoch_day())
    key = lambda df: sorted((r.event_id, r.event_day)
                            for r in df.select("event_id",
                                               "event_day").collect())
    assert key(got) == key(exp)
    # layout is pruning-ready: a one-day filter touches one directory
    one_day = exp.groupBy("event_day").count().orderBy("count").collect()
    day = one_day[-1].event_day
    touched = {r[0].rsplit("event_day=", 1)[-1].split("/")[0]
               for r in got.where(F.col("event_day") == day)
               .select(F.input_file_name()).distinct().collect()}
    assert touched == {str(day)}


def test_pgnet_multichar_delimiter(spark, tmp_path):
    """The JSON payload starts len(delimiter) past the match — the
    `+ 1` form left delimiter bytes in front of the JSON for any
    multi-char delimiter and silently nulled EVERY label."""
    import json

    from paddleocr_spark.sources.pgnet import read_pgnet_labels

    f = tmp_path / "multi.txt"
    body = json.dumps([{"transcription": "hi",
                        "points": [[0, 0], [4, 0], [4, 2], [0, 2]]}])
    f.write_text("img1.jpg||" + body + "\n")
    (row,) = read_pgnet_labels(spark, str(f), delimiter="||").collect()
    assert row["img_path"] == "img1.jpg"
    assert row["texts"] == ["hi"]
    assert row["polys"] == [[[0.0, 0.0], [4.0, 0.0], [4.0, 2.0],
                             [0.0, 2.0]]]


def test_check_img_rejects_unknown_types():
    """Unrecognized inputs must fail at normalization, not as a
    shape/dtype crash far downstream."""
    import pytest

    from paddleocr_spark.sources.media_files import check_img

    for bad in (None, memoryview(b"abc"), 123, ["x"]):
        with pytest.raises(TypeError, match="unsupported input type"):
            check_img(bad)


def test_zero_page_and_truncated_fakedoc_quarantine(spark, tmp_path):
    """A zero-page container and a truncated FAKEDOC header must each
    surface as a quarantine row — never vanish from both the data and
    the decode_errors report."""
    from paddleocr_spark.functions.udfs import data_rows, decode_errors

    (tmp_path / "zero.doc").write_bytes(b"FAKEDOC\x00payload")
    (tmp_path / "trunc.doc").write_bytes(b"FAKEDOC")
    pages = explode_pages(spark, str(tmp_path / "*.doc"))
    errs = {r["path"].rsplit("/", 1)[-1]: r["error"]
            for r in decode_errors(pages).collect()}
    assert set(errs) == {"zero.doc", "trunc.doc"}
    assert "zero pages" in errs["zero.doc"]
    assert "truncated FAKEDOC" in errs["trunc.doc"]
    # and nothing leaked into the data rows
    assert data_rows(pages).count() == 0
