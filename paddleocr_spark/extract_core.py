"""Shared per-media decode logic — the semantic core of the extract
pipeline, written once and used by BOTH:

- the pure-Python golden path (``paddleocr_spark.reference_path``), the
  pytest oracle that mirrors the reference's sequential per-image flow
  (``toddleocr/config.py:419-439`` det → sorted_boxes → crop → cls →
  rec; ``config.py:830-855`` table pipeline), and
- the distributed Spark UDF (``paddleocr_spark.functions.udfs``).

Keeping one implementation guarantees the Spark job is tested for what
can actually break at scale: explode/join/shuffle/window plumbing and
ordering — not a second copy of the math.
"""

from __future__ import annotations

import re

import numpy as np

from .corpus import (
    BOILERPLATE_RE,
    dequantize_logits,
    dequantize_map,
    select_regions,
)
from .kernels.cls import CLS_LABELS, cls_decode, should_rotate
from .kernels.ctc import batched_ctc_decode, build_charset, ctc_decode
from .kernels.db import db_postprocess
from .kernels.master_match import table_master_match
from .kernels.matcher import filter_ocr_result, get_pred_html, match_result
from .kernels.reading_order import sorted_boxes
from .kernels.table import TableVocab, table_decode, wrap_html

__all__ = ["clean_text", "det_boxes", "raw_rec", "decode_media_row",
           "master_html_for_row", "DROP_SCORE"]

# rec results below this confidence are dropped, as the engine's
# drop_score (toddleocr/engine.py:355, config default 0.5).
DROP_SCORE = 0.5

# ASCII-mode \s: Java regex (the Spark twin clean_text_col) matches
# only ASCII whitespace by default, while Python's \s is Unicode-wide
# (U+00A0, U+2028, ...). The (?a) flag pins this reference path to the
# Spark semantics so 'bit-identical on any input' stays true — on a
# real web corpus NBSP-separated tokens would otherwise collapse here
# but not in the pipeline.
_WS = re.compile(r"(?a)\s+")
_BP = re.compile(BOILERPLATE_RE)

_CHARSET = build_charset()
_VOCAB = TableVocab()

# The "model weights" of the fixture world: everything the decode
# stages need beyond the row itself. The Spark path broadcasts this
# bundle once per executor (functions/udfs.py), exactly as the
# reference loads model+dicts once per process (engine.py:317-324) —
# the north rule's "weights broadcast once per executor".
MODEL_BUNDLE = {
    "chars": list(_CHARSET[1:]),   # charset minus the blank
    "drop_score": DROP_SCORE,
}


def resolve_bundle(bundle: dict | None):
    """bundle dict → (charset, drop_score); None → module defaults."""
    if bundle is None:
        return _CHARSET, DROP_SCORE
    return (build_charset(bundle["chars"]),
            float(bundle["drop_score"]))


def clean_text(text: str) -> str:
    """Boilerplate strip + whitespace collapse. MUST stay equivalent to
    the Spark expression in operators/extract.py and the DuckDB oracle
    SQL (same regexes)."""
    # strip U+0020 ONLY: Spark SQL trim() and DuckDB trim() strip
    # spaces, nothing else. Any \t\n\r\f\v at the edges has already
    # been collapsed to a single space by the (?a)\s+ pass (the same
    # ASCII class Java's \s matches), and other control chars
    # (\x00, \x1c-\x1f) survive on BOTH sides by the same rule.
    return _WS.sub(" ", _BP.sub("", text)).strip(" ")


def _expand_xyxy(box: np.ndarray, h: float, w: float, margin: int = 2):
    """Quad -> padded [x1,y1,x2,y2], clipped to the image
    (toddleocr/utils/visual.py:161 ``expand``, used at config.py:823)."""
    x1, y1 = box[:, 0].min(), box[:, 1].min()
    x2, y2 = box[:, 0].max(), box[:, 1].max()
    return [
        max(0.0, float(x1) - margin),
        max(0.0, float(y1) - margin),
        min(w, float(x2) + margin),
        min(h, float(y2) + margin),
    ]


def det_boxes(row: dict) -> list:
    """A media row's det boxes: its stored uint8 prob map dequantized,
    then the DB post-process (db.py:201-230) at the row's
    ``shape_list``, in the kernel's order (unsorted)."""
    pm = dequantize_map(row["det_map"], int(row["det_h"]),
                        int(row["det_w"]))
    return db_postprocess(pm, [float(x) for x in row["shape_list"]])


def raw_rec(row: dict) -> list[tuple[str, float]]:
    """(text, conf) of each stored rec logits tensor, CTC-decoded one by
    one with the default charset: no cls rotation, no drop_score."""
    t, c = int(row["rec_t"]), int(row["rec_c"])
    return [ctc_decode(dequantize_logits(lg, t, c), _CHARSET)
            for lg in row["rec_logits"]]


def _table_decode(row: dict, shape_list: list[float]):
    """(tokens, cell boxes, score) of a media row's stored table-structure
    tensors: float16 structure probs and float32 location preds."""
    t = int(row["struct_t"])
    sp = np.frombuffer(row["structure_probs"], dtype=np.float16).reshape(
        t, int(row["struct_v"])).astype(np.float32)
    lp = np.frombuffer(row["loc_preds"], dtype=np.float32).reshape(t, 8)
    return table_decode(sp, lp, shape_list, _VOCAB)


def decode_media_row(row: dict, bundle: dict | None = None) -> list[dict]:
    """Decode one media fixture row into output span fragments.

    Input keys match the ``media`` store schema (corpus.media_schema).
    Flow (the PP-Structure page pipeline, one page = one media item):

    1. layout: ``select_regions`` = PicoDet-style score filter +
       per-class hard NMS over the candidate boxes
       (toddleocr/postprocess/picodet.py:155-186), reading-order
       sorted — the region set DECIDES which fragments exist.
    2. det once per page (DB post-process, db.py:201-230), boxes
       assigned to regions by center containment.
    3. per region: figure → single fragment; text_block → cls rotate
       predicate (config.py:375-378; rotation = string reversal in
       fixture world) then rec per box with DROP_SCORE; table →
       structure decode + OCR match + HTML merge (config.py:830-855 —
       no cls in the table OCR path, config.py:803-828).

    Returns ordered fragments: dicts with frag_idx (dense order key),
    box_idx (global det index; -1 for region-level fragments),
    out_kind, out_text, conf, cls_label, cls_score, aux.

    ``bundle``: broadcast model bundle (MODEL_BUNDLE shape); None uses
    module defaults (sequential golden path).
    """
    charset, drop_score = resolve_bundle(bundle)
    regions = select_regions(row["cand_boxes"], row["cand_scores"])
    if not regions:
        return []

    shape_list = [float(x) for x in row["shape_list"]]
    boxes = sorted_boxes(det_boxes(row))
    t, c = int(row["rec_t"]), int(row["rec_c"])
    # rec in wh-ratio-sorted micro-batches with scatter-back, as the
    # reference batches before the model forward (config.py:387-416)
    rec = batched_ctc_decode(
        [dequantize_logits(lg, t, c) for lg in row["rec_logits"]],
        boxes, charset)
    assert len(rec) == len(boxes), (len(rec), len(boxes))
    # label_list passed explicitly, as the reference config does
    # (cls_decode's None fallback is the reference's identity map)
    cls = cls_decode(np.stack(
        [np.asarray(p, dtype=np.float32) for p in row["cls_probs"]]),
        CLS_LABELS) if len(boxes) else []
    centers_y = [float(np.asarray(b)[:, 1].mean()) for b in boxes]

    frags: list[dict] = []
    for reg in regions:
        kind = reg["label"]
        x1, y1, x2, y2, reg_score = reg["bbox"]
        if kind == "figure":
            frags.append({
                "box_idx": -1, "out_kind": "figure", "out_text": "",
                "conf": float(reg_score), "cls_label": "",
                "cls_score": 0.0, "aux": "",
            })
            continue
        idxs = [i for i, cy in enumerate(centers_y) if y1 <= cy < y2]
        if kind == "text_block":
            for i in idxs:
                text, conf = rec[i]
                label, cscore = cls[i]
                if should_rotate(label, cscore):
                    text = text[::-1]
                if not text or conf < drop_score:
                    continue
                frags.append({
                    "box_idx": i, "out_kind": "text_block",
                    "out_text": text, "conf": float(conf),
                    "cls_label": label, "cls_score": float(cscore),
                    "aux": "",
                })
            continue
        # table region
        tokens, cell_bboxes, struct_score = _table_decode(row, shape_list)
        h, w = shape_list[0], shape_list[1]
        dt_xyxy = [_expand_xyxy(np.asarray(boxes[i]), h, w) for i in idxs]
        rec_reg = [rec[i] for i in idxs]
        kept = [(b, r) for b, r in zip(dt_xyxy, rec_reg)
                if r[0] and r[1] >= drop_score]
        dt_xyxy = [b for b, _ in kept]
        rec_kept = [r for _, r in kept]
        dt_xyxy, rec_kept = filter_ocr_result(cell_bboxes, dt_xyxy, rec_kept)
        matched = match_result(dt_xyxy, cell_bboxes)
        body, _ = get_pred_html(tokens, matched, rec_kept)
        frags.append({
            "box_idx": -1, "out_kind": "table",
            "out_text": wrap_html(body), "conf": float(struct_score),
            "cls_label": "", "cls_score": 0.0,
            "aux": "".join(tokens),  # raw structure-token string (metrics)
        })
    for fi, f in enumerate(frags):
        f["frag_idx"] = fi
    return frags


def master_html_for_row(row: dict) -> str | None:
    """TableMaster-variant HTML for a media item's table region — the
    reference's ``algorithm == "TableMaster"`` branch of the table
    pipeline (``toddleocr/config.py:846-851``): same det + rec, but the
    3-rule ``TableMasterMatcher`` cascade instead of ``TableMatch``.

    Boxes are passed as the ``_ocr`` r_boxes form (xyxy with a ±1
    margin clipped to the image, ``config.py:805-816``); structure
    cells collapse their 8-coord corners to xyxy; no drop_score filter
    (the reference hands every rec result to the master matcher).
    Returns None when the media has no table region."""
    regions = select_regions(row["cand_boxes"], row["cand_scores"])
    treg = next((r for r in regions if r["label"] == "table"), None)
    if treg is None:
        return None
    shape_list = [float(x) for x in row["shape_list"]]
    h, w = shape_list[0], shape_list[1]
    boxes = sorted_boxes(det_boxes(row))
    rec = raw_rec(row)
    _, y1, _, y2, _ = treg["bbox"]
    idxs = [i for i, b in enumerate(boxes)
            if y1 <= float(np.asarray(b)[:, 1].mean()) < y2]
    tokens, cell_bboxes, _ = _table_decode(row, shape_list)
    cells_xyxy = [[float(b[0::2].min()), float(b[1::2].min()),
                   float(b[0::2].max()), float(b[1::2].max())]
                  for b in np.asarray(cell_bboxes).reshape(-1, 8)]
    dt_xyxy = [_expand_xyxy(np.asarray(boxes[i]), h, w, margin=1)
               for i in idxs]
    texts = [rec[i][0] for i in idxs]
    body = table_master_match(tokens, cells_xyxy, dt_xyxy, texts)
    return wrap_html(body)
