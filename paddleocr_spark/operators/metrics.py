"""Metric aggregations — the reference's evaluator classes re-expressed
as partial/final ``groupBy().agg()`` (their accumulate/get_metric split
IS Spark's partial aggregation; SURVEY.md §2.4).

- ``rec_metric_pairs``: RecMetric semantics (``toddleocr/metrics/
  rec.py:10-59``) — exact-match accuracy + 1 - mean normalized edit
  distance, with the ``is_filter`` normalization (lowercase, strip
  non-alphanumeric; ``rec.py:20-24``). Edit distance is JVM-side
  ``F.levenshtein`` (the reference uses rapidfuzz's
  ``Levenshtein.normalized_distance``, ``rec.py:38``). Applied to
  consecutive-doc text pairs so a DuckDB oracle can verify it.
- ``corpus_rec_metric`` / ``corpus_det_metric``: the same aggregations
  over the synthetic extraction corpus, comparing the distributed
  pipeline's outputs against generator ground truth (DetMetric's
  per-image accumulate + combine_results finalize,
  ``toddleocr/metrics/det.py:6-53``).
"""

from __future__ import annotations

from paddleocr_spark.sources.tables import load_table

__all__ = ["training_stats", "rec_metric_pairs", "cls_cnt_metric_pairs", "corpus_rec_metric",
           "corpus_det_metric", "det_iou_metric", "table_structure_metric",
           "sr_metric", "can_metric", "e2e_metric", "ct_metric"]


LOG_WINDOW_SIZE = 20  # reference default: config.py:135 log_window_size


def training_stats(spark, sf_dir: str):
    """TrainingStats + AverageMeter as window aggregations
    (``toddleocr/utils/stats.py:9-45``, ``utils/utility.py:151-167``).

    The reference smooths each logged metric series with the MEDIAN of
    a trailing deque(maxlen=window_size) and tracks a cumulative
    weighted mean (AverageMeter). Re-expressed over the ``events``
    table: one series per event_type ordered by (ts, event_id); per
    row the trailing-20 median (``smoothed``, rounded 6 per
    TrainingStats.get) and the running mean (``avg_meter``).

    Spark disallows ``median()`` with a window FRAME, so the trailing
    median is ``array_sort(collect_list)`` over the ROWS frame + the
    two-middle-element interpolation — exact, JVM-side, O(window) per
    row, and frame-bounded so state never exceeds window_size rows
    regardless of series length (the deque semantics, distributed).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    frame = w.rowsBetween(-(LOG_WINDOW_SIZE - 1), 0)
    arr = F.array_sort(F.collect_list("value").over(frame))
    n = F.size(arr)
    lo = F.element_at(arr, (F.floor((n - 1) / 2) + 1).cast("int"))
    hi = F.element_at(arr, (F.floor(n / 2) + 1).cast("int"))
    return (load_table(spark, sf_dir, "events")
            .select(
                "event_type",
                F.row_number().over(w).alias("step"),
                F.round((lo + hi) / 2, 6).alias("smoothed"),
                # exact-decimal running sum, ONE double division:
                # float summation order differs between engines (6/10k
                # last-ulp mismatches with a plain avg window), decimal
                # accumulation is exact and engine-independent
                F.round(
                    F.sum(F.col("value").cast("decimal(28,6)")).over(
                        w.rowsBetween(Window.unboundedPreceding, 0))
                    .cast("double") / F.row_number().over(w),
                    6).alias("avg_meter"))
            .orderBy("event_type", "step"))


def rec_metric_pairs(spark, sf_dir: str):
    """Pair doc i with doc i+1; metric row over all pairs."""
    from pyspark.sql import functions as F

    df = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    norm = lambda c: F.regexp_replace(F.lower(c), "[^0-9a-z]", "")
    a = df.select("doc_id", norm(F.col("text")).alias("pred"))
    b = df.select((F.col("doc_id") - 1).alias("doc_id"),
                  norm(F.col("text")).alias("target"))
    pairs = a.join(b, "doc_id")
    # greatest(..., 1): rapidfuzz normalized_distance("", "") is 0.0,
    # not 0/0 (which would be NULL here and NaN in DuckDB)
    dist = (F.levenshtein("pred", "target").cast("double")
            / F.greatest(F.length("pred"), F.length("target"), F.lit(1)))
    return pairs.agg(
        F.sum((F.col("pred") == F.col("target")).cast("long"))
        .alias("correct_num"),
        F.count("*").cast("long").alias("all_num"),
        F.round(F.avg((F.col("pred") == F.col("target")).cast("double")), 6)
        .alias("acc"),
        F.round(1 - F.avg(dist), 6).alias("norm_edit_dis"),
    )


def cls_cnt_metric_pairs(spark, sf_dir: str):
    """ClsMetric / CNTMetric exact-match accuracy
    (``toddleocr/metrics/cls.py:4-29``, ``metrics/rec.py:62-87``): the
    same partial (correct, all) accumulate + final acc shape as
    RecMetric, without the edit-distance term. Applied to
    consecutive-doc label pairs so a DuckDB oracle verifies it."""
    from pyspark.sql import functions as F

    df = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    a = df.select("doc_id", F.col("lang").alias("pred"))
    b = df.select((F.col("doc_id") - 1).alias("doc_id"),
                  F.col("lang").alias("label"))
    pairs = a.join(b, "doc_id")
    match = (F.col("pred") == F.col("label")).cast("long")
    return pairs.agg(
        F.sum(match).alias("correct_num"),
        F.count("*").cast("long").alias("all_num"),
        F.round(F.avg(match.cast("double")), 6).alias("acc"),
    )


def _text_gt(media_df):
    """Ground-truth (media_ref, box_idx, gt_text) rows for boxes that
    live in text_block layout regions (the ones the pipeline emits as
    text fragments)."""
    from pyspark.sql import functions as F

    return (media_df
            .select("media_ref", "gt_texts",
                    F.explode("gt_text_idx").alias("box_idx"))
            .select("media_ref", "box_idx",
                    F.element_at("gt_texts", F.col("box_idx") + 1)
                    .alias("gt_text")))


def corpus_rec_metric(media_df, fragments_df):
    """Recognized text vs generator ground truth, joined on
    (media_ref, box_idx). acc should be 1.0 when the pipeline is
    bit-exact."""
    from pyspark.sql import functions as F

    gt = _text_gt(media_df)
    pred = (fragments_df
            .where(F.col("out_kind") == "text_block")
            .select("media_ref", "box_idx",
                    F.col("out_text").alias("pred_text")))
    joined = gt.join(pred, ["media_ref", "box_idx"], "left")
    match = (F.col("pred_text") == F.col("gt_text")).cast("long")
    # greatest(..., 1): see rec_metric_pairs — empty-vs-empty is
    # distance 0.0 (rapidfuzz), never 0/0
    dist = (F.levenshtein(F.coalesce("pred_text", F.lit("")), "gt_text")
            .cast("double")
            / F.greatest(F.length(F.coalesce("pred_text", F.lit(""))),
                         F.length("gt_text"), F.lit(1)))
    return joined.agg(
        F.sum(F.coalesce(match, F.lit(0))).alias("correct_num"),
        F.count("*").cast("long").alias("all_num"),
        F.round(F.avg(F.coalesce(match, F.lit(0)).cast("double")), 6)
        .alias("acc"),
        F.round(1 - F.avg(dist), 6).alias("norm_edit_dis"),
    )


def corpus_det_metric(media_df, fragments_df):
    """Detection precision/recall/hmean: per-media matched counts
    (exact text equality as the match test in fixture world), then the
    combine_results-style global finalize."""
    from pyspark.sql import functions as F

    gt = _text_gt(media_df)
    pred = (fragments_df
            .where(F.col("out_kind") == "text_block")
            .select("media_ref", "box_idx",
                    F.col("out_text").alias("pred_text")))
    per_media = (gt.join(pred, ["media_ref", "box_idx"], "full")
                 .groupBy("media_ref")
                 .agg(F.sum(F.col("gt_text").isNotNull().cast("long"))
                      .alias("gt_care"),
                      F.sum(F.col("pred_text").isNotNull().cast("long"))
                      .alias("det_care"),
                      F.sum(((F.col("pred_text") == F.col("gt_text"))
                             .cast("long"))).alias("matched")))
    return _combine_results(per_media, "gdm")


def _combine_results(partials, order: str, f_name: str = "hmean"):
    """The combine_results finalize (``toddleocr/metrics/det.py``) over
    per-media (matched, gt_care, det_care) partials: the three totals
    in ``order`` (``m``, ``g``, ``d``), then precision, recall and
    their harmonic mean named ``f_name``, each rounded to 6 places."""
    from pyspark.sql import functions as F

    names = {"m": "matched_total", "g": "gt_total", "d": "det_total"}
    m, g, d = F.col("m"), F.col("g"), F.col("d")
    totals = partials.agg(F.sum("matched").alias("m"),
                          F.sum("gt_care").alias("g"),
                          F.sum("det_care").alias("d"))
    return totals.select(
        *[F.col(c).cast("long").alias(names[c]) for c in order],
        F.round(F.when(d > 0, m / d).otherwise(0.0), 6).alias("precision"),
        F.round(F.when(g > 0, m / g).otherwise(0.0), 6).alias("recall"),
        F.round(F.when((d + g) > 0, 2 * m / (d + g)).otherwise(0.0), 6)
        .alias(f_name))


def det_iou_metric(store_path: str):
    """DetectionIoUEvaluator as a distributed job (the reference's
    valid() evaluation flow, ``toddleocr/utils/valid.py:10-82``):
    per-media greedy IoU matching in the media row loop emitting
    (matched, gt_care, det_care) partials, then a global agg +
    combine_results finalize — partial/final exactly as DetMetric
    (``toddleocr/metrics/det.py:6-53``)."""

    def eval_row(d):
        import numpy as np

        from paddleocr_spark.extract_core import det_boxes
        from paddleocr_spark.kernels.eval_det_iou import evaluate_image

        pred = det_boxes(d)
        gt = [{"points": np.asarray(b, dtype=np.float64).reshape(4, 2)}
              for b in d["gt_boxes"]]
        return [(d["media_ref"],
                 *evaluate_image(gt, [{"points": p} for p in pred]))]

    partials = _map_media(
        store_path, eval_row,
        "media_ref string, matched long, gt_care long, det_care long",
        ["media_ref", "det_map", "det_h", "det_w", "shape_list",
         "gt_boxes"])
    return _combine_results(partials, "mgd")


def _map_media(store_path, row_fn, schema, columns):
    """The per-media partials of a store metric, through the shared
    media row loop in the active session. Quarantined rows are dropped,
    so no aggregate counts a media row whose evaluation raised."""
    from pyspark.sql import SparkSession

    from paddleocr_spark.functions.udfs import data_rows, map_media_store

    return data_rows(map_media_store(SparkSession.active(), store_path,
                                     row_fn, schema, columns=columns))


def sr_metric(store_path: str):
    """SRMetric (``toddleocr/metrics/sr.py:87-150``): mean PSNR + SSIM
    between image pairs, as per-media partials + a global mean. The
    pair is the stored det map vs a deterministic 4-bit-requantized
    degradation of it (the fixture stand-in for SR input/output)."""
    from pyspark.sql import functions as F

    def eval_row(d):
        import numpy as np

        from paddleocr_spark.corpus import dequantize_map
        from paddleocr_spark.kernels.sr import psnr, ssim

        img = dequantize_map(d["det_map"], int(d["det_h"]), int(d["det_w"]))
        degraded = (np.round(img * 15.0) / 15.0).astype(np.float32)
        return [(d["media_ref"], psnr(img, degraded), ssim(img, degraded))]

    partials = _map_media(store_path, eval_row,
                          "media_ref string, psnr double, ssim double",
                          ["media_ref", "det_map", "det_h", "det_w"])
    return partials.agg(
        F.count("*").cast("long").alias("n_media"),
        F.round(F.avg("psnr"), 6).alias("mean_psnr"),
        F.round(F.avg("ssim"), 6).alias("mean_ssim"))


def can_metric(store_path: str):
    """CANMetric (``toddleocr/metrics/rec.py:90-148``): difflib
    SequenceMatcher word scores + exact-match exp rate, accumulated as
    length-weighted partials. Pairs are (gt text, RAW un-rotated
    decode) per text-region box, so rotated boxes keep the metric away
    from the trivial 1.0."""
    from pyspark.sql import functions as F

    def eval_row(d):
        from difflib import SequenceMatcher

        from paddleocr_spark.corpus import CHARSET, dequantize_logits
        from paddleocr_spark.kernels.ctc import ctc_decode

        idxs = [int(i) for i in d["gt_text_idx"]]
        if not idxs:
            return []
        scores = []
        for i in idxs:
            gt = d["gt_texts"][i]
            raw, _ = ctc_decode(
                dequantize_logits(d["rec_logits"][i], int(d["rec_t"]),
                                  int(d["rec_c"])), CHARSET)
            m = SequenceMatcher(None, gt, raw, autojunk=False).ratio()
            scores.append(m * (len(gt) + len(raw)) / len(gt) / 2)
        n = len(scores)
        word_rate = sum(scores) / n
        exp_rate = sum(1 for s in scores if s == 1) / n
        return [(d["media_ref"], word_rate * n, exp_rate * n, n)]

    partials = _map_media(
        store_path, eval_row,
        "media_ref string, word_right double, exp_right double, n long",
        ["media_ref", "gt_texts", "gt_text_idx", "rec_logits",
         "rec_t", "rec_c"])
    return partials.agg(
        F.sum("n").cast("long").alias("n_words"),
        F.round(F.sum("word_right") / F.sum("n"), 6).alias("word_rate"),
        F.round(F.sum("exp_right") / F.sum("n"), 6).alias("exp_rate"))


def e2e_metric(store_path: str):
    """E2EMetric (``toddleocr/metrics/e2e.py:7-66`` +
    ``_det_eval.get_score_A``): end-to-end text spotting — a predicted
    box counts only if it IoU>0.5-matches a gt box AND its recognized
    text equals the gt text (normalized). Predictions use the RAW
    un-rotated decode, so rotated boxes miss — precision/recall/f sit
    strictly below the det-only metric. Greedy per-media matching +
    combine_results finalize."""

    def norm(t):
        return "".join(c for c in t.lower() if c.isalnum())

    def eval_row(d):
        import numpy as np

        from paddleocr_spark.extract_core import det_boxes, raw_rec
        from paddleocr_spark.kernels.eval_det_iou import poly_iou
        from paddleocr_spark.kernels.reading_order import sorted_boxes

        # rec_logits are stored in sorted_boxes order — sort pred_boxes
        # the same way or texts[pi] pairs with a DIFFERENT box (same
        # fix as golden.py's e2e twin)
        pred_boxes = sorted_boxes(det_boxes(d))
        texts = [t for t, _ in raw_rec(d)]
        gt = [(np.asarray(b, dtype=np.float64).reshape(4, 2),
               norm(d["gt_texts"][i]))
              for i, b in enumerate(d["gt_boxes"])]
        used = set()
        matched = 0
        for pi, pb in enumerate(pred_boxes):
            for gi, (gb, gtext) in enumerate(gt):
                if gi in used:
                    continue
                if poly_iou(np.asarray(pb, dtype=np.float64), gb) > 0.5 \
                        and norm(texts[pi]) == gtext:
                    used.add(gi)
                    matched += 1
                    break
        return [(d["media_ref"], matched, len(gt), len(pred_boxes))]

    partials = _map_media(
        store_path, eval_row,
        "media_ref string, matched long, gt_care long, det_care long",
        ["media_ref", "det_map", "det_h", "det_w", "shape_list",
         "gt_boxes", "gt_texts", "rec_logits", "rec_t", "rec_c"])
    return _combine_results(partials, "mgd", "f_score_e2e")


def ct_metric(store_path: str):
    """CTMetric (``toddleocr/metrics/ct.py:6-28``): DetEval-protocol
    scoring of detections — per-media sigma/tau coverage tables +
    one-to-one/one-to-many/many-to-one matching
    (``metrics/_det_eval.py:293-834``, rec_flag=False), distributed as
    mapInArrow partials (recall_accum, precision_accum, n_gt, n_det)
    + a global sum/ratio finalize. Unlike the greedy IoU metric, this
    credits split (one gt → many dets) and merged (many gts → one det)
    detections at the fsc_k=0.8 discount."""
    from pyspark.sql import functions as F

    def eval_row(d):
        import numpy as np

        from paddleocr_spark.extract_core import det_boxes
        from paddleocr_spark.kernels.det_eval import (
            deteval_sample,
            sigma_tau_tables,
        )

        pred = det_boxes(d)
        gt_polys = [np.asarray(b, dtype=np.float64).reshape(4, 2)
                    for b in d["gt_boxes"]]
        sigma, tau = sigma_tau_tables(gt_polys, list(d["gt_texts"]), pred)
        return [(d["media_ref"], *deteval_sample(sigma, tau))]

    partials = _map_media(
        store_path, eval_row,
        "media_ref string, recall_accum double, precision_accum double, "
        "n_gt long, n_det long",
        ["media_ref", "det_map", "det_h", "det_w", "shape_list",
         "gt_boxes", "gt_texts"])
    totals = partials.agg(F.sum("recall_accum").alias("ra"),
                          F.sum("precision_accum").alias("pa"),
                          F.sum("n_gt").alias("g"),
                          F.sum("n_det").alias("d"))
    r = F.when(F.col("g") > 0, F.col("ra") / F.col("g")).otherwise(0.0)
    p = F.when(F.col("d") > 0, F.col("pa") / F.col("d")).otherwise(0.0)
    return totals.select(
        F.col("g").cast("long").alias("total_num_gt"),
        F.col("d").cast("long").alias("total_num_det"),
        F.round(r, 6).alias("recall"),
        F.round(p, 6).alias("precision"),
        F.round(F.when((p + r) > 0, 2 * p * r / (p + r)).otherwise(0.0),
                6).alias("f_score"))


def table_structure_metric(media_df, fragments_df):
    """TableStructureMetric (``toddleocr/metrics/table.py:6-56``):
    exact-match accuracy of the decoded structure-token string against
    ground truth, over table media."""
    from pyspark.sql import functions as F

    gt = (media_df.where(F.col("gt_structure") != "")
          .select("media_ref", "gt_structure"))
    pred = (fragments_df.where(F.col("out_kind") == "table")
            .select("media_ref", F.col("aux").alias("pred_structure")))
    joined = gt.join(pred, "media_ref", "left")
    match = (F.col("pred_structure") == F.col("gt_structure")).cast("long")
    return joined.agg(
        F.sum(F.coalesce(match, F.lit(0))).alias("correct_num"),
        F.count("*").cast("long").alias("all_num"),
        F.round(F.avg(F.coalesce(match, F.lit(0)).cast("double")), 6)
        .alias("acc"),
    )
