"""Golden artifacts for the extraction pipeline's CORRECTNESS oracles.

The extraction kernels are not SQL-expressible, but their *golden
output is*: the sequential pure-Python reference path
(``reference_path.golden_corpus``, mirroring toddleocr's per-image flow
``config.py:419-439``) is materialized as parquet next to the media
store, and each extraction query gets a DuckDB oracle of the form
``SELECT ... FROM read_parquet('golden_*.parquet')``. The driver then
hash-compares the distributed Spark result against the sequential
result — a genuine independent check of everything that can break at
scale (explode/join/shuffle/window plumbing, Arrow crossings, store
round-trips), since the two sides share only the NumPy kernel math.

Metric goldens replicate the Spark aggregation semantics exactly:
integer sums are exact; the two float averages (norm edit distance)
agree to well past the 6-dp rounding both sides apply.
"""

from __future__ import annotations

import os

import numpy as np

from .corpus import POLY_SHAPE_LIST, dequantize_map, poly_map_count, poly_map_record
from .extract_core import decode_media_row, master_html_for_row
from .kernels.db import db_postprocess
from .kernels.db_poly import db_postprocess_poly
from .kernels.eval_det_iou import evaluate_image
from .kernels.reading_order import sorted_boxes
from .reference_path import golden_corpus

__all__ = ["levenshtein", "det_polygon_rows", "compute_goldens",
           "materialize_goldens", "GOLDEN_FILES"]

GOLDEN_FILES = [
    "golden_spans.parquet",
    "golden_fragments.parquet",
    "golden_rec_metric.parquet",
    "golden_det_metric.parquet",
    "golden_det_iou_metric.parquet",
    "golden_table_structure_metric.parquet",
    "golden_master_html.parquet",
    "golden_sr_metric.parquet",
    "golden_can_metric.parquet",
    "golden_e2e_metric.parquet",
    "golden_ct_metric.parquet",
    "golden_det_polygons.parquet",
    "golden_image_phash.parquet",
]

# fragment column order shared with the Spark UDF so oracle
# and pipeline schemas stay in lockstep
from .functions.udfs import _FRAG_COLS  # noqa: E402


def levenshtein(a: str, b: str) -> int:
    """Plain DP edit distance — the twin of Spark's F.levenshtein and
    DuckDB's levenshtein() (reference: rapidfuzz normalized_distance at
    toddleocr/metrics/rec.py:38, same unit-cost model)."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def det_polygon_rows(n_docs: int, seed: int = 42) -> list[dict]:
    """Poly-mode DB decode (box_type="poly" + use_dilation) over the
    curved-text fixture maps — sequential twin of operators/det_poly."""
    rows = []
    for mid in range(poly_map_count(n_docs)):
        pm = poly_map_record(mid, seed)
        polys, poly_scores = db_postprocess_poly(pm, POLY_SHAPE_LIST)
        for pi, (poly, sc) in enumerate(zip(polys, poly_scores)):
            smicro = int(round(sc * 1e6))
            for ki, (x, y) in enumerate(poly.tolist()):
                rows.append({"map_id": mid, "poly_idx": pi,
                             "point_idx": ki, "x": int(x),
                             "y": int(y), "score_micro": smicro})
    return rows


def compute_goldens(n_docs: int, seed: int = 42, heavy_frac: float = 0.01):
    """Run the sequential reference path and derive every golden table.
    Returns {name: list[dict]} keyed like GOLDEN_FILES (sans ext)."""
    _, media, golden = golden_corpus(n_docs, seed, heavy_frac)

    spans = [{"doc_id": r["doc_id"], "order": r["order"], "kind": r["kind"],
              "text": r["text"], "media_ref": r["media_ref"],
              "conf": float(r["conf"])} for r in golden]

    frags = []
    for ref in sorted(media):
        for f in decode_media_row(media[ref]):
            frags.append({"media_ref": ref,
                          **{k: f[k] for k in _FRAG_COLS}})

    # --- corpus_rec_metric / corpus_det_metric (text-region boxes) ---
    pred_text = {(r["media_ref"], r["box_idx"]): r["out_text"]
                 for r in frags if r["out_kind"] == "text_block"}
    correct = 0
    dists = []
    gt_keys = set()
    for ref, m in media.items():
        for i in m["gt_text_idx"]:
            gt_keys.add((ref, i))
            gt = m["gt_texts"][i]
            p = pred_text.get((ref, i))
            if p is not None and p == gt:
                correct += 1
            pp = p if p is not None else ""
            # max(..., 1): rapidfuzz normalized_distance("", "") is 0.0
            dists.append(levenshtein(pp, gt) / max(len(pp), len(gt), 1))
    all_num = len(gt_keys)
    rec_metric = [{
        "correct_num": correct, "all_num": all_num,
        "acc": round(correct / all_num, 6) if all_num else 0.0,
        "norm_edit_dis": (round(1.0 - sum(dists) / len(dists), 6)
                          if dists else 0.0),
    }]

    # full-join counts per media, then the combine_results finalize
    g_tot = len(gt_keys)
    d_tot = len(pred_text)
    m_tot = sum(1 for k, p in pred_text.items()
                if k in gt_keys and p == media[k[0]]["gt_texts"][k[1]])
    det_metric = [{
        "gt_total": g_tot, "det_total": d_tot, "matched_total": m_tot,
        "precision": round(m_tot / d_tot, 6) if d_tot else 0.0,
        "recall": round(m_tot / g_tot, 6) if g_tot else 0.0,
        "hmean": (round(2 * m_tot / (d_tot + g_tot), 6)
                  if (d_tot + g_tot) else 0.0),
    }]

    # --- det_iou_metric (greedy IoU matching per media) ---
    mm = gg = dd = 0
    for m in media.values():
        pm = dequantize_map(m["det_map"], int(m["det_h"]), int(m["det_w"]))
        pred = db_postprocess(pm, [float(x) for x in m["shape_list"]])
        gt = [{"points": np.asarray(b, dtype=np.float64).reshape(4, 2)}
              for b in m["gt_boxes"]]
        a, b, c = evaluate_image(gt, [{"points": p} for p in pred])
        mm += a
        gg += b
        dd += c
    det_iou = [{
        "matched_total": mm, "gt_total": gg, "det_total": dd,
        "precision": round(mm / dd, 6) if dd else 0.0,
        "recall": round(mm / gg, 6) if gg else 0.0,
        "hmean": round(2 * mm / (dd + gg), 6) if (dd + gg) else 0.0,
    }]

    # --- table_structure_metric ---
    pred_aux = {r["media_ref"]: r["aux"] for r in frags
                if r["out_kind"] == "table"}
    tbl = [(ref, m["gt_structure"]) for ref, m in media.items()
           if m["gt_structure"]]
    t_correct = sum(1 for ref, gt in tbl if pred_aux.get(ref) == gt)
    table_metric = [{
        "correct_num": t_correct, "all_num": len(tbl),
        "acc": round(t_correct / len(tbl), 6) if tbl else 0.0,
    }]

    # --- SR / CAN / E2E metric goldens (sequential replicas of the
    # Spark mapInArrow jobs in operators/metrics.py) ---
    from difflib import SequenceMatcher

    from .corpus import CHARSET
    from .kernels.ctc import ctc_decode
    from .kernels.eval_det_iou import poly_iou
    from .kernels.sr import psnr, ssim

    psnrs, ssims = [], []
    word_right = exp_right = n_words = 0.0
    e_m = e_g = e_d = 0

    def _norm(t):
        return "".join(c for c in t.lower() if c.isalnum())

    from .corpus import dequantize_logits

    for m in media.values():
        img = dequantize_map(m["det_map"], int(m["det_h"]), int(m["det_w"]))
        degraded = (np.round(img * 15.0) / 15.0).astype(np.float32)
        psnrs.append(psnr(img, degraded))
        ssims.append(ssim(img, degraded))

        raw_texts = [ctc_decode(dequantize_logits(lg, m["rec_t"],
                                                  m["rec_c"]), CHARSET)[0]
                     for lg in m["rec_logits"]]
        idxs = list(m["gt_text_idx"])
        if idxs:
            scores = []
            for i in idxs:
                gt = m["gt_texts"][i]
                r = raw_texts[i]
                s = SequenceMatcher(None, gt, r, autojunk=False).ratio()
                scores.append(s * (len(gt) + len(r)) / len(gt) / 2)
            n = len(scores)
            word_right += (sum(scores) / n) * n
            exp_right += (sum(1 for s in scores if s == 1) / n) * n
            n_words += n

        pm = img  # same dequantized map computed at the top of the loop
        # rec_logits/gt_texts are stored in sorted_boxes order
        # (corpus.media_record) — pred_boxes must be sorted the same
        # way or texts[pi] belongs to a DIFFERENT box (27% of media on
        # this corpus have a same-row pair whose connected-component
        # order differs from the tol-10 reading order)
        pred_boxes = sorted_boxes(
            db_postprocess(pm, [float(x) for x in m["shape_list"]]))
        gt_items = [(np.asarray(b, dtype=np.float64).reshape(4, 2),
                     _norm(m["gt_texts"][i]))
                    for i, b in enumerate(m["gt_boxes"])]
        used: set = set()
        for pi, pb in enumerate(pred_boxes):
            for gi, (gb, gtext) in enumerate(gt_items):
                if gi in used:
                    continue
                if poly_iou(np.asarray(pb, dtype=np.float64), gb) > 0.5 \
                        and _norm(raw_texts[pi]) == gtext:
                    used.add(gi)
                    e_m += 1
                    break
        e_g += len(gt_items)
        e_d += len(pred_boxes)

    sr = [{"n_media": len(media),
           "mean_psnr": round(sum(psnrs) / len(psnrs), 6) if psnrs else 0.0,
           "mean_ssim": round(sum(ssims) / len(ssims), 6) if ssims else 0.0}]
    can = [{"n_words": int(n_words),
            "word_rate": (round(word_right / n_words, 6)
                          if n_words else 0.0),
            "exp_rate": (round(exp_right / n_words, 6)
                         if n_words else 0.0)}]
    e2e = [{"matched_total": e_m, "gt_total": e_g, "det_total": e_d,
            "precision": round(e_m / e_d, 6) if e_d else 0.0,
            "recall": round(e_m / e_g, 6) if e_g else 0.0,
            "f_score_e2e": round(2 * e_m / (e_d + e_g), 6)
            if (e_d + e_g) else 0.0}]

    # --- ct_metric (DetEval protocol, sequential twin) ---
    from .kernels.det_eval import deteval_sample, sigma_tau_tables

    ct_parts = []
    for m in media.values():
        pm = dequantize_map(m["det_map"], int(m["det_h"]), int(m["det_w"]))
        pred = db_postprocess(pm, [float(x) for x in m["shape_list"]])
        gt_polys = [np.asarray(b, dtype=np.float64).reshape(4, 2)
                    for b in m["gt_boxes"]]
        sigma, tau = sigma_tau_tables(gt_polys, list(m["gt_texts"]), pred)
        ct_parts.append(deteval_sample(sigma, tau))
    ct_ra = sum(p[0] for p in ct_parts)
    ct_pa = sum(p[1] for p in ct_parts)
    ct_g = sum(p[2] for p in ct_parts)
    ct_d = sum(p[3] for p in ct_parts)
    ct_r = ct_ra / ct_g if ct_g else 0.0
    ct_p = ct_pa / ct_d if ct_d else 0.0
    ct = [{"total_num_gt": ct_g, "total_num_det": ct_d,
           "recall": round(ct_r, 6), "precision": round(ct_p, 6),
           "f_score": round(2 * ct_p * ct_r / (ct_p + ct_r), 6)
           if (ct_p + ct_r) else 0.0}]

    # --- TableMaster-variant HTML per table media ---
    master = []
    for ref in sorted(media):
        html = master_html_for_row(media[ref])
        if html is not None:
            master.append({"media_ref": ref, "master_html": html})

    # --- perceptual image hashes (original + the sr_metric-style
    # 4-bit requantized degradation) — sequential twin of
    # operators/multimodal.image_phash
    from .kernels.phash import phash64

    phash_rows = []
    for ref in sorted(media):
        m = media[ref]
        pm = dequantize_map(m["det_map"], int(m["det_h"]),
                            int(m["det_w"]))
        degraded = (np.round(pm * 15.0) / 15.0).astype(np.float32)
        for variant, img in ((0, pm), (1, degraded)):
            phash_rows.append({"media_ref": ref, "variant": variant,
                               "phash": phash64(img)})

    return {
        "golden_spans": spans,
        "golden_fragments": frags,
        "golden_master_html": master,
        "golden_sr_metric": sr,
        "golden_can_metric": can,
        "golden_e2e_metric": e2e,
        "golden_ct_metric": ct,
        "golden_rec_metric": rec_metric,
        "golden_det_metric": det_metric,
        "golden_det_iou_metric": det_iou,
        "golden_table_structure_metric": table_metric,
        "golden_det_polygons": det_polygon_rows(n_docs, seed),
        "golden_image_phash": phash_rows,
    }


_INT32_COLS = {"order", "frag_idx", "box_idx"}

# bump when golden SEMANTICS change (e.g. the e2e sorted-boxes
# alignment fix) so cached goldens from older code recompute instead
# of silently serving stale values
GOLDEN_VERSION = 5

_GOLDEN_COLS = {
    "golden_spans": ["doc_id", "order", "kind", "text", "media_ref",
                     "conf"],
    "golden_fragments": ["media_ref", *_FRAG_COLS],
    "golden_master_html": ["media_ref", "master_html"],
    "golden_sr_metric": ["n_media", "mean_psnr", "mean_ssim"],
    "golden_can_metric": ["n_words", "word_rate", "exp_rate"],
    "golden_e2e_metric": ["matched_total", "gt_total", "det_total",
                          "precision", "recall", "f_score_e2e"],
    "golden_ct_metric": ["total_num_gt", "total_num_det",
                         "recall", "precision", "f_score"],
    "golden_rec_metric": ["correct_num", "all_num", "acc",
                          "norm_edit_dis"],
    "golden_det_metric": ["gt_total", "det_total", "matched_total",
                          "precision", "recall", "hmean"],
    "golden_det_iou_metric": ["matched_total", "gt_total", "det_total",
                              "precision", "recall", "hmean"],
    "golden_table_structure_metric": ["correct_num", "all_num", "acc"],
    "golden_det_polygons": ["map_id", "poly_idx", "point_idx", "x", "y",
                            "score_micro"],
    "golden_image_phash": ["media_ref", "variant", "phash"],
}


def materialize_goldens(path: str, n_docs: int, seed: int = 42,
                        heavy_frac: float = 0.01, force: bool = False):
    """Write every golden table as a single parquet file under path
    (idempotent). Pure Python + pyarrow — needs no SparkSession, so the
    oracle side can ensure goldens exist independently of the driver's
    query-execution order."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    version_file = os.path.join(path, "golden_version.txt")

    def _cached_version() -> int:
        try:
            with open(version_file) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return 0

    if (not force
            and _cached_version() == GOLDEN_VERSION
            and all(os.path.exists(os.path.join(path, f))
                    for f in GOLDEN_FILES)):
        return
    os.makedirs(path, exist_ok=True)
    tables = compute_goldens(n_docs, seed, heavy_frac)
    for name, rows in tables.items():
        # empty tables still need their column schema (a zero-column
        # parquet file breaks every downstream read_parquet oracle)
        df = pd.DataFrame(rows, columns=_GOLDEN_COLS[name]
                          if not rows else None)
        for c in df.columns:
            if c in _INT32_COLS:
                df[c] = df[c].astype(np.int32)
            elif df[c].dtype == np.int64 or c in ("correct_num", "all_num",
                                                  "gt_total", "det_total",
                                                  "matched_total"):
                df[c] = df[c].astype(np.int64)
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       os.path.join(path, f"{name}.parquet"))
    with open(version_file, "w") as f:
        f.write(str(GOLDEN_VERSION))
