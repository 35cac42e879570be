"""End-to-end span-sequence equality: the distributed Spark pipeline
must produce EXACTLY the per-document ordered (kind, text, media_ref,
order) sequence of the sequential pure-Python reference path — the
BASELINE.json per-row invariant, verified per FIXTURES.md §3."""

import pytest

from paddleocr_spark.corpus import synthesize_docs
from paddleocr_spark.operators.extract import extract_spans
from paddleocr_spark.reference_path import golden_corpus

N_DOCS = 40
SEED = 42
HEAVY = 0.05  # force at least one media-heavy doc into the small corpus


def _golden_key_rows(golden):
    return sorted((r["doc_id"], r["order"], r["kind"], r["text"],
                   r["media_ref"]) for r in golden)


@pytest.fixture(scope="module")
def pipeline_result(spark, media_store):
    docs = synthesize_docs(spark, N_DOCS, seed=SEED, heavy_frac=HEAVY)
    media = media_store(docs, SEED)
    out = extract_spans(docs, media).collect()
    _, _, golden = golden_corpus(N_DOCS, seed=SEED, heavy_frac=HEAVY)
    return out, golden


def test_span_sequence_equality(pipeline_result):
    out, golden = pipeline_result
    got = sorted((r.doc_id, r.order, r.kind, r.text, r.media_ref) for r in out)
    assert got == _golden_key_rows(golden)


def test_confidences_match(pipeline_result):
    out, golden = pipeline_result
    got = {(r.doc_id, r.order): round(r.conf, 6) for r in out}
    want = {(r["doc_id"], r["order"]): round(r["conf"], 6) for r in golden}
    assert got == want


def test_partition_count_independence(spark, media_store):
    """Same results at different parallelism (FIXTURES.md §3 invariant:
    local[2]-vs-local[8] analogue via partition counts): the docs'
    partitions and the store's file count (so the decode's task count)
    both vary."""
    import glob
    import os

    docs = synthesize_docs(spark, 15, seed=7, heavy_frac=0.0)
    one = media_store(docs, 7, partitions=1)
    five = media_store(docs, 7, partitions=5)
    n_files = lambda p: len(glob.glob(os.path.join(p, "*.parquet")))
    assert (n_files(one), n_files(five)) == (1, 5)
    a = extract_spans(docs.repartition(1), one).collect()
    # salt_width=3 forces multi-bucket salted ordering even on these
    # small docs (every doc with >3 spans spans several buckets)
    b = extract_spans(docs.repartition(7), five, salt_width=3).collect()
    key = lambda rows: sorted((r.doc_id, r.order, r.kind, r.text, r.media_ref)
                              for r in rows)
    assert key(a) == key(b)


def test_salted_ordering_equals_window_on_pathological_doc(spark,
                                                           media_store):
    """The salted two-phase ordering must be bit-identical to the
    plain per-doc window, including on a pathological media-heavy doc
    that spans many offset buckets (the skew case it exists for)."""
    docs = synthesize_docs(spark, 10, seed=11, heavy_frac=0.0,
                           patho_docs=1, patho_spans=3000, patho_pool=4)
    media = media_store(docs, 11)
    rows = lambda out: sorted(
        (r.doc_id, r.order, r.kind, r.text, r.media_ref, round(r.conf, 9))
        for r in out)
    plain = rows(extract_spans(docs, media, salt_width=0).collect())
    salted = rows(extract_spans(docs, media, salt_width=256).collect())
    assert plain == salted
    # the pathological doc really exercised multiple buckets
    assert sum(r[0].startswith("patho") for r in plain) > 256


def test_auto_salt_decision():
    """salt_width="auto" must pick the plain window for ordinary
    corpora and the salted path when a doc exceeds SALT_WIDTH spans —
    asserted via the physical plan's Window node count (plain = 1 big
    window; salted = rank window + tiny running-sum window)."""
    from paddleocr_spark.operators.extract import SALT_WIDTH

    assert SALT_WIDTH == 4096


def test_rotated_components_exercised_in_fixtures():
    """The corpus must contain ROTATED det components (VERDICT r2
    fidelity gap): some media's detected quad has non-axis-aligned
    corners, so min_area_rect / polygon_mask_mean / unclip_rect run on
    rotated geometry inside the oracle-checked pipeline."""
    import numpy as np

    from paddleocr_spark.corpus import media_record

    rotated = 0
    axis = 0
    for i in range(40):
        rec = media_record(f"m{i:08d}")
        for b in rec["gt_boxes"]:
            quad = np.asarray(b).reshape(4, 2)
            ys = sorted(quad[:, 1])
            # an axis-aligned quad has two pairs of equal y
            if abs(ys[0] - ys[1]) > 1.5 or abs(ys[2] - ys[3]) > 1.5:
                rotated += 1
            else:
                axis += 1
    assert rotated >= 5, (rotated, axis)
    assert axis >= 5, (rotated, axis)  # both regimes still covered


def test_order_is_dense_per_doc(pipeline_result):
    out, _ = pipeline_result
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r.order)
    for orders in by_doc.values():
        assert sorted(orders) == list(range(len(orders)))


def test_store_decode_equals_sequential_reference(spark, media_store):
    """The store decode (one Spark row loop over executor-side pyarrow
    reads) equals the sequential reference: ``decode_media_row`` over
    the store's rows read with pyarrow, fragment for fragment."""
    import glob
    import os

    import pyarrow.parquet as pq

    from paddleocr_spark.extract_core import decode_media_row
    from paddleocr_spark.functions.udfs import decode_media_store

    docs = synthesize_docs(spark, 12, seed=21, heavy_frac=0.0)
    store = media_store(docs, 21, partitions=3)
    want = []
    for path in sorted(glob.glob(os.path.join(store, "*.parquet"))):
        for row in pq.read_table(path).to_pylist():
            want += [(row["media_ref"], f["frag_idx"], f["box_idx"],
                      f["out_kind"], f["out_text"], round(f["conf"], 9),
                      f["cls_label"], round(f["cls_score"], 9), f["aux"])
                     for f in decode_media_row(row)]
    got = [(r.media_ref, r.frag_idx, r.box_idx, r.out_kind, r.out_text,
            round(r.conf, 9), r.cls_label, round(r.cls_score, 9), r.aux)
           for r in decode_media_store(spark, store).collect()]
    assert want and sorted(got) == sorted(want)


def test_model_bundle_roundtrip():
    """The broadcast model bundle must resolve to exactly the module
    defaults — otherwise the Spark decode (bundle path) and the
    sequential golden (None path) silently diverge."""
    from paddleocr_spark.extract_core import (
        _CHARSET,
        DROP_SCORE,
        MODEL_BUNDLE,
        resolve_bundle,
    )

    cs, ds = resolve_bundle(MODEL_BUNDLE)
    assert cs == _CHARSET and ds == DROP_SCORE
    assert resolve_bundle(None) == (_CHARSET, DROP_SCORE)


@pytest.fixture(scope="module")
def poisoned(spark, media_store, tmp_path_factory):
    """(docs, clean store, poisoned store, victim media_ref, store
    without the victim): the poisoned store is the clean one with the
    victim's det_map truncated so dequantize/reshape raises."""
    from pyspark.sql import functions as F

    from paddleocr_spark.corpus import media_schema

    docs = synthesize_docs(spark, 8, seed=33, heavy_frac=0.0)
    clean = media_store(docs, 33, partitions=2)
    media = spark.read.schema(media_schema()).parquet(clean)
    victim = media.select("media_ref").orderBy("media_ref").first()[0]
    root = tmp_path_factory.mktemp("poison")
    poisoned = str(root / "poisoned")
    (media.withColumn(
        "det_map",
        F.when(F.col("media_ref") == victim,
               F.substring(F.col("det_map"), 1, 3))
        .otherwise(F.col("det_map")))
     .write.parquet(poisoned))
    without = str(root / "without")
    media.where(F.col("media_ref") != victim).write.parquet(without)
    return docs, clean, poisoned, victim, without


def test_poison_media_row_quarantined(spark, poisoned):
    """A corrupt media row in the store must not kill the decode job:
    it becomes one quarantine row (countable via decode_errors), is
    excluded from span assembly, and every other row decodes
    unchanged."""
    from paddleocr_spark.functions.udfs import (
        decode_errors,
        decode_media_store,
    )

    docs, clean, poisoned, victim, _ = poisoned
    frags = decode_media_store(spark, poisoned)
    errs = decode_errors(frags).collect()
    assert [e["media_ref"] for e in errs] == [victim]
    assert errs[0]["error"]  # non-empty reason string

    # the victim leaves exactly its quarantine row: key, nulls, error
    (bad,) = [r for r in frags.collect() if r.media_ref == victim]
    assert bad.error and all(v is None for k, v in bad.asDict().items()
                             if k not in ("media_ref", "error"))
    # all other media decode exactly as from the clean store
    key = lambda rows: sorted((r.media_ref, r.box_idx, r.out_kind,
                               r.out_text, round(r.conf, 9))
                              for r in rows if r.media_ref != victim)
    assert key([r for r in frags.collect() if r.error is None]) == key(
        decode_media_store(spark, clean).collect())

    # span assembly drops the quarantined media silently
    spans = extract_spans(docs, poisoned).collect()
    assert spans
    assert all(r.media_ref != victim for r in spans)
    assert all(r.kind is not None for r in spans)


def test_store_metric_skips_quarantined_row(spark, poisoned):
    """A store metric counts no quarantine row: det_iou_metric over the
    poisoned store equals its value over the store without the victim
    row."""
    from paddleocr_spark.operators.metrics import det_iou_metric

    _, _, poisoned, _, without = poisoned
    assert (det_iou_metric(poisoned).collect()
            == det_iou_metric(without).collect())


def test_clean_text_python_twin_matches_spark_on_control_chars(spark):
    """The pure-Python clean_text (golden path) and the JVM
    clean_text_col must agree on adversarial edges: control characters
    outside Java's ASCII \\s class (\\x00, \\x1c-\\x1f) survive BOTH
    sides (SQL trim strips U+0020 only), and \\t/\\n/\\v edges collapse
    to a stripped space on both."""
    from pyspark.sql import functions as F

    from paddleocr_spark.extract_core import clean_text
    from paddleocr_spark.operators.extract import clean_text_col

    cases = [
        "\x1cfoo", "foo\x00", "\x1ffoo bar\x1d", "\tfoo\n", " foo ",
        "\vfoo\f", "foo\x00bar", "a  \t b", "\x00", "", "  ",
        "\x1c \x1d", "foo \x1e", "\x1e foo",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "t string")
    got = [r.c for r in
           df.select(clean_text_col(F.col("t")).alias("c")).collect()]
    want = [clean_text(c) for c in cases]
    assert got == want, list(zip(cases, got, want))


def test_duplicate_offsets_order_deterministically(spark, media_store):
    """The schema allows two spans at the SAME offset; the ordering
    tie must break deterministically (kind/media_ref/text tiebreak) and
    identically on the plain and salted paths."""
    from paddleocr_spark.corpus import docs_schema

    docs = synthesize_docs(spark, 4, seed=7, heavy_frac=0.0)
    media = media_store(docs, 7)
    dup = spark.createDataFrame(
        [("dup_doc", [("text", "zz ties last", "", 5),
                      ("text", "aa ties first", "", 5),
                      ("text", "mm ties mid", "", 5)])], docs_schema())
    docs2 = docs.unionByName(dup)

    key = lambda df: sorted((r.doc_id, r.order, r.kind, r.text,
                             r.media_ref) for r in df.collect())
    plain = key(extract_spans(docs2, media, salt_width=0))
    salted = key(extract_spans(docs2, media, salt_width=2))
    assert plain == salted
    dup_rows = [(o, t) for (d, o, k, t, m) in plain if d == "dup_doc"]
    assert dup_rows == [(0, "aa ties first"), (1, "mm ties mid"),
                        (2, "zz ties last")]
    # and stable across repeated runs
    assert plain == key(extract_spans(docs2, media, salt_width=0))
