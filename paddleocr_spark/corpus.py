"""Deterministic synthesizer for the interleaved text+media corpus.

Produces the exact ``BASELINE.json`` ``input_hint`` shape:

    docs(doc_id: string,
         spans: array<struct<kind:string, text:string,
                             media_ref:string, offset:int>>)

plus a ``media`` fixture store keyed by ``media_ref`` that stands in for
decoded images and model forward passes (synthetic DB probability maps,
CTC logits, direction-classifier probs, table-structure tensors) — the
model-free analogue of the reference's det/rec/cls/tab tensors
(``toddleocr/engine.py:326-391``, ``toddleocr/config.py:294-439``).

Every value is a pure function of ``(seed, doc index)`` or of the
``media_ref`` string, so generation is distributed (``mapInArrow``),
reproducible, and independent of partition count — the property that
lets the same generator run at SF=1e-6 locally and at 10^12-doc scale
on a real cluster.

No Spark imports at module top level beyond types — the per-row
generators are plain NumPy and are reused by the pure-Python reference
path in ``paddleocr_spark.reference_path`` (the pytest oracle).
"""

from __future__ import annotations

import hashlib

import numpy as np

from .kernels.ctc import DEFAULT_CHARS, build_charset, ctc_decode
from .kernels.db import db_postprocess
from .kernels.nms import layout_select
from .kernels.reading_order import sorted_boxes
from .kernels.table import TABLE_TOKENS, TableVocab

__all__ = [
    "BOILERPLATE",
    "BOILERPLATE_RE",
    "VOCAB",
    "LAYOUT_CLASSES",
    "doc_record",
    "patho_doc_record",
    "media_record",
    "select_regions",
    "region_y_bounds",
    "dequantize_map",
    "dequantize_logits",
    "synthesize_docs",
    "synthesize_media",
    "docs_schema",
    "media_schema",
]

# ---------------------------------------------------------------------------
# Constants

# Boilerplate phrases injected into text spans; the cleaner strips them.
# (The reference's analogue is the don't-care ignore-tag mechanism,
# toddleocr/transforms/custom/label_ops.py:39-42.)
BOILERPLATE = [
    "cookie consent banner",
    "all rights reserved",
    "subscribe to our newsletter",
    "privacy policy terms of use",
    "click here to accept",
]
# Regex used by BOTH the Spark cleaner and the DuckDB oracle.
BOILERPLATE_RE = "|".join(BOILERPLATE)

VOCAB = (
    "the a spark table scan join filter sort merge window batch stream "
    "query row column value key order part line data agg group hash "
    "vector small big fast slow customer dup"
).split()

LAYOUT_CLASSES = ["text_block", "table", "figure"]

# Detection probability-map geometry (multiples of 32, as
# DetResizeForTest guarantees; toddleocr/transforms/operators.py:277-278).
MAP_H, MAP_W = 64, 96
SRC_H, SRC_W = 128, 192  # "source image" size; ratio 0.5 each axis
SHAPE_LIST = [float(SRC_H), float(SRC_W), MAP_H / SRC_H, MAP_W / SRC_W]

# Layout geometry: media are divided into 1-3 horizontal-strip regions
# along the det grid's 3 rows (PP-Structure layout analysis,
# toddleocr/postprocess/picodet.py:155-186); region kinds decided by
# layout_select (score filter + per-class hard NMS) over candidate
# boxes — the fixture analogue of PicoDet head output.
GRID_ROWS, GRID_COLS = 3, 2
ROW_BOUNDS = [0, 21, 42, 64]          # det-map y bounds of the 3 grid rows
REGION_SPLITS = [[3], [1, 2], [2, 1], [1, 1, 1]]
MAP_TO_SRC = SRC_H // MAP_H           # 2x: map px -> src px
# cls: probability that a text-region box is upside-down ("180"); its
# stored rec logits then decode to the REVERSED text, so the pipeline
# must apply the rotate predicate (config.py:375-378) to recover it.
ROT_P = 0.1

REC_T = 40  # logit timesteps (fits 12 chars at <=2 repeats + blanks)
CHARSET = build_charset(DEFAULT_CHARS)
REC_C = len(CHARSET)

_TEXT_CHARS = [c for c in DEFAULT_CHARS if c != " "]


def _key(*parts) -> np.random.Generator:
    """Seeded RNG from string/int parts — stable across processes."""
    h = hashlib.md5("|".join(str(p) for p in parts).encode()).digest()
    return np.random.default_rng(np.frombuffer(h, dtype=np.uint64))


# ---------------------------------------------------------------------------
# Document rows


def doc_record(doc_idx: int, seed: int = 42, heavy_frac: float = 0.01,
               media_pool: int | None = None) -> dict:
    """One (doc_id, spans) row. ~1% of docs are media-heavy (120-400
    media spans) to exercise salted repartitioning (skew; north rule)."""
    rng = _key("doc", seed, doc_idx)
    heavy = rng.random() < heavy_frac
    if heavy:
        n_spans = int(rng.integers(120, 400))
        media_p = 0.9
    else:
        n_spans = int(rng.integers(1, 12))
        media_p = 0.4
    spans = []
    for off in range(n_spans):
        if rng.random() < media_p:
            mid = int(rng.integers(0, media_pool)) if media_pool else int(
                rng.integers(0, 1 << 30))
            spans.append({
                "kind": "media",
                "text": "",
                "media_ref": f"m{mid:08d}",
                "offset": off,
            })
        else:
            n_words = int(rng.integers(5, 30))
            words = [VOCAB[int(i)] for i in rng.integers(0, len(VOCAB), n_words)]
            if rng.random() < 0.5:
                # inject boilerplate at a random word boundary
                pos = int(rng.integers(0, n_words + 1))
                words.insert(pos, BOILERPLATE[int(rng.integers(0, len(BOILERPLATE)))])
            spans.append({
                "kind": "text",
                "text": " ".join(words),
                "media_ref": "",
                "offset": off,
            })
    return {"doc_id": f"doc{doc_idx:010d}", "spans": spans}


def patho_doc_record(doc_idx: int, seed: int = 42,
                     patho_spans: int = 100_000,
                     patho_pool: int = 8) -> dict:
    """A pathological media-heavy document for the skew study: ~10^5
    spans, 95% media drawn from a HOT pool of ``patho_pool`` refs —
    the worst case the north rule's salted repartitioning exists for
    (one doc = one straggler sort task without it, and the hot refs
    stress the AQE skew-join split on the spans↔fragments join). Never
    generated by default; the skew bench opts in via synthesize_docs'
    ``patho_docs``."""
    rng = _key("patho", seed, doc_idx)
    media_ids = rng.integers(0, patho_pool, patho_spans)
    is_media = rng.random(patho_spans) < 0.95
    spans = []
    for off in range(patho_spans):
        if is_media[off]:
            spans.append({"kind": "media", "text": "",
                          "media_ref": f"m{int(media_ids[off]):08d}",
                          "offset": off})
        else:
            words = [VOCAB[int(i)] for i in rng.integers(0, len(VOCAB), 6)]
            spans.append({"kind": "text", "text": " ".join(words),
                          "media_ref": "", "offset": off})
    return {"doc_id": f"patho{doc_idx:07d}", "spans": spans}


# ---------------------------------------------------------------------------
# Media fixture rows


def _gen_text(rng: np.random.Generator) -> str:
    n = int(rng.integers(3, 13))
    chars = [_TEXT_CHARS[int(i)] for i in rng.integers(0, len(_TEXT_CHARS), n)]
    # occasional interior space (never leading/trailing)
    if n >= 5 and rng.random() < 0.3:
        chars[n // 2] = " "
    return "".join(chars)


def _gen_logits(rng: np.random.Generator, text: str) -> np.ndarray:
    """(REC_T, REC_C) float32 whose greedy-CTC decode equals ``text``,
    exercising repeat-collapse and blank-drop (rec.py:77-94)."""
    logits = rng.random((REC_T, REC_C), dtype=np.float32) * 0.05
    t = 0
    for k, ch in enumerate(text):
        idx = CHARSET.index(ch)
        remaining = len(text) - k
        budget = REC_T - t - 2 * remaining  # 1 step + 1 blank per char left
        reps = int(rng.integers(1, 3)) if budget >= 1 else 1
        for _ in range(reps):
            logits[t, idx] = 0.8 + 0.19 * float(rng.random())
            t += 1
        # blank separator (mandatory between repeats of the same char)
        logits[t, 0] = 0.8 + 0.19 * float(rng.random())
        t += 1
    for tt in range(t, REC_T):
        logits[tt, 0] = 0.8 + 0.19 * float(rng.random())
    return logits


def dequantize_map(raw: bytes, h: int, w: int) -> np.ndarray:
    """uint8-stored prob map -> float32 in [0,1]. The store carries
    uint8 (as a real pipeline stores uint8 image bytes, not float
    tensors); generator goldens and the pipeline decode BOTH consume
    this dequantized form, so results stay bit-exact."""
    return (np.frombuffer(raw, dtype=np.uint8).reshape(h, w)
            .astype(np.float32) / 255.0)


def dequantize_logits(raw: bytes, t: int, c: int) -> np.ndarray:
    """float16-stored logits -> float32 (same on both paths)."""
    return np.frombuffer(raw, dtype=np.float16).reshape(t, c) \
        .astype(np.float32)


def _gen_regions(rng: np.random.Generator) -> list[dict]:
    """Partition the 3 det-grid rows into 1-3 consecutive regions, each
    with a layout class (at most one table — the media schema carries a
    single structure tensor)."""
    split = REGION_SPLITS[int(rng.integers(0, len(REGION_SPLITS)))]
    regions = []
    r0 = 0
    table_used = False
    for n_rows in split:
        roll = rng.random()
        if roll < 0.2 and not table_used:
            cls = "table"
            table_used = True
        elif roll < 0.4:
            cls = "figure"
        else:
            cls = "text_block"
        regions.append({"rows": (r0, r0 + n_rows), "cls": cls})
        r0 += n_rows
    return regions


def _region_src_bbox(reg: dict) -> list[float]:
    r0, r1 = reg["rows"]
    return [0.0, ROW_BOUNDS[r0] * float(MAP_TO_SRC),
            float(SRC_W), ROW_BOUNDS[r1] * float(MAP_TO_SRC)]


def _gen_layout_cands(rng: np.random.Generator, regions: list[dict]):
    """PicoDet-style candidate set (src coords): one high-score main
    candidate per region, 0-2 shrunk same-class duplicates (IoU ≥ 0.7
    with the main → always NMS-suppressed), 0-2 sub-threshold noise
    candidates. Returns (boxes (N,4), class_scores (N,3)) in a shuffled
    order so selection is genuinely score-driven."""
    cands: list[tuple[list[float], int, float]] = []
    for reg in regions:
        x1, y1, x2, y2 = _region_src_bbox(reg)
        ci = LAYOUT_CLASSES.index(reg["cls"])
        main_score = 0.75 + 0.2 * float(rng.random())
        cands.append(([x1, y1, x2, y2], ci, main_score))
        h = y2 - y1
        for _ in range(int(rng.integers(0, 3))):
            dy1 = float(rng.random()) * 0.08 * h
            dy2 = float(rng.random()) * 0.08 * h
            dx1 = float(rng.random()) * 0.08 * SRC_W
            dx2 = float(rng.random()) * 0.08 * SRC_W
            dup = [x1 + dx1, y1 + dy1, x2 - dx2, y2 - dy2]
            cands.append((dup, ci, 0.45 + 0.25 * float(rng.random())))
    for _ in range(int(rng.integers(0, 3))):
        nx = float(rng.random()) * (SRC_W - 50)
        ny = float(rng.random()) * (SRC_H - 50)
        noise = [nx, ny, nx + 10 + float(rng.random()) * 40,
                 ny + 10 + float(rng.random()) * 40]
        cands.append((noise, int(rng.integers(0, 3)),
                      0.05 + 0.3 * float(rng.random())))
    perm = rng.permutation(len(cands))
    boxes = np.array([cands[int(i)][0] for i in perm], dtype=np.float64)
    scores = np.full((len(cands), len(LAYOUT_CLASSES)), 0.0)
    for n, i in enumerate(perm):
        _, ci, s = cands[int(i)]
        for c in range(len(LAYOUT_CLASSES)):
            scores[n, c] = s if c == ci else 0.15 * float(rng.random())
    return boxes, scores


def _rows_2d(a, width: int) -> np.ndarray:
    """list/object-array of row vectors → (N, width) float64. Arrow
    hands list<list<float>> columns back as object ndarrays of float32
    ndarrays, which np.asarray refuses to stack directly."""
    rows = [np.asarray(r, dtype=np.float64) for r in a]
    return np.stack(rows) if rows else np.zeros((0, width))


def select_regions(cand_boxes, cand_scores):
    """Candidates → regions in reading order: layout_select (score
    filter + per-class hard NMS + top-k) then a (y1, x1) sort. Shared
    by the generator (gt_regions), the sequential reference path and
    the Spark decode UDF."""
    regions = layout_select(_rows_2d(cand_boxes, 4),
                            _rows_2d(cand_scores, len(LAYOUT_CLASSES)))
    regions.sort(key=lambda d: (d["bbox"][1], d["bbox"][0]))
    return regions


def _fill_rot_rect(pm: np.ndarray, cy: float, cx: float, h: float,
                   w: float, ang: float, val: float) -> None:
    """Fill a rotated w×h rectangle centered at (cx, cy), angle ``ang``
    radians, via a coordinate-frame mask (pure NumPy fillPoly)."""
    yy, xx = np.mgrid[0:pm.shape[0], 0:pm.shape[1]]
    ca, sa = np.cos(ang), np.sin(ang)
    u = (xx - cx) * ca + (yy - cy) * sa
    v = -(xx - cx) * sa + (yy - cy) * ca
    pm[(np.abs(u) <= w / 2) & (np.abs(v) <= h / 2)] = val


# ---------------------------------------------------------------------------
# Poly-mode det fixtures (box_type="poly", toddleocr/postprocess/db.py:38-84):
# curved-text probability maps decoded by kernels/db_poly. Separate from
# the extraction corpus' quad maps — curved components are exactly what
# quad mode approximates away, so they get their own oracle-checked
# query (operators/det_poly.py) instead of riding the extraction path.

POLY_MAP_H, POLY_MAP_W = 96, 128
POLY_SHAPE_LIST = [192.0, 256.0, 0.5, 0.5]  # 2x map -> src, like SHAPE_LIST


def poly_map_count(n_docs: int) -> int:
    """Fixture count scaled to the sf's documents table (bounded: the
    sequential golden path must stay cheap at correctness scale)."""
    return max(12, min(120, n_docs // 5))


def _fill_arc(pm: np.ndarray, cy: float, cx: float, r0: float, r1: float,
              a0: float, a1: float, val: float) -> None:
    """Fill a thick annulus sector (the curved-text blob shape):
    radius in [r0, r1], upward-positive angle in [a0, a1]."""
    yy, xx = np.mgrid[0:pm.shape[0], 0:pm.shape[1]].astype(np.float64)
    r = np.hypot(yy - cy, xx - cx)
    ang = np.arctan2(cy - yy, xx - cx)
    pm[(r >= r0) & (r <= r1) & (ang >= a0) & (ang <= a1)] = val


def poly_map_record(map_idx: int, seed: int = 42) -> np.ndarray:
    """Deterministic curved-text DB prob map #``map_idx``: 1-3 blobs in
    distinct quadrants — thick arcs (curved text lines), rotated and
    axis-aligned bars — plus sub-box_thresh and sub-min_size decoys,
    mirroring the quad fixtures' filter coverage (db.py:59-74)."""
    rng = _key("polymap", map_idx, seed)
    pm = (rng.random((POLY_MAP_H, POLY_MAP_W), dtype=np.float32)
          * 0.15).astype(np.float32)
    ch, cw = POLY_MAP_H // 2, POLY_MAP_W // 2
    cells = [(0, 0), (0, 1), (1, 0), (1, 1)]
    n_blobs = int(rng.integers(1, 4))
    for ci in rng.permutation(4)[:n_blobs]:
        rcell, ccell = cells[int(ci)]
        y0, x0 = rcell * ch, ccell * cw
        roll = float(rng.random())
        if roll < 0.12:
            # binarizes (>0.3) but fails box_thresh 0.7
            val = 0.4 + 0.2 * float(rng.random())
        else:
            val = 0.85 + 0.13 * float(rng.random())
        shape_roll = float(rng.random())
        if shape_roll < 0.5:
            # thick arc: center below the cell so the sector opens up
            cy = y0 + ch * (0.8 + 0.3 * float(rng.random()))
            cx = x0 + cw * (0.35 + 0.3 * float(rng.random()))
            r1 = min(ch, cw) * (0.55 + 0.2 * float(rng.random()))
            r0 = max(4.0, r1 - (5.0 + 5.0 * float(rng.random())))
            a0 = 0.35 + 0.4 * float(rng.random())
            a1 = a0 + 1.2 + 1.0 * float(rng.random())
            _fill_arc(pm, cy, cx, r0, r1, a0, a1, val)
        elif shape_roll < 0.7:
            sign = 1.0 if rng.random() < 0.5 else -1.0
            ang = sign * np.deg2rad(float(rng.integers(12, 36)))
            _fill_rot_rect(pm, y0 + ch * 0.5, x0 + cw * 0.5,
                           8.0 + 4.0 * float(rng.random()),
                           cw * 0.5, ang, val)
        elif shape_roll < 0.9:
            h = int(rng.integers(8, ch // 2))
            w = int(rng.integers(16, cw - 8))
            yy = y0 + int(rng.integers(2, ch - h - 2))
            xx = x0 + int(rng.integers(2, cw - w - 2))
            pm[yy:yy + h, xx:xx + w] = val
        else:
            # tiny blob: fails the min_size + 2 mini-box gate
            yy = y0 + int(rng.integers(2, ch - 4))
            xx = x0 + int(rng.integers(2, cw - 4))
            pm[yy:yy + 2, xx:xx + 2] = 0.9
    return pm


def _gen_det_map(rng: np.random.Generator, cells: list[tuple[int, int]]):
    """Synthetic DB prob map with text components in the given grid
    cells, including boxes that fail box_thresh / min_size filters
    (db.py:109-118). ~1/3 of the passing components are ROTATED
    rectangles (±12-35°), so min_area_rect's rotating calipers,
    the convex polygon_mask_mean rasterizer, unclip_rect's edge-normal
    offset and clip_det_res run on genuinely non-axis-aligned
    geometry inside the oracle-checked pipeline — not only in kernel
    unit tests."""
    pm = (rng.random((MAP_H, MAP_W), dtype=np.float32) * 0.15).astype(np.float32)
    ch, cw = MAP_H // GRID_ROWS, MAP_W // GRID_COLS
    for r, q in cells:
        if rng.random() < 0.25:
            continue  # empty cell
        y0, x0 = r * ch, q * cw
        roll = rng.random()
        if roll < 0.12:
            # low-score box: binarizes (>0.3) but fails box_thresh 0.7
            val = 0.4 + 0.2 * float(rng.random())
            h = int(rng.integers(8, ch - 4))
            w = int(rng.integers(12, cw - 4))
        elif roll < 0.22:
            # tiny box: fails min_size
            val = 0.9
            h, w = 2, 2
        else:
            val = 0.85 + 0.13 * float(rng.random())
            h = int(rng.integers(8, ch - 4))
            w = int(rng.integers(12, cw - 4))
            if rng.random() < 0.35:
                sign = 1.0 if rng.random() < 0.5 else -1.0
                ang = sign * np.deg2rad(float(rng.integers(12, 36)))
                rh, rw = float(min(h, 10)), float(min(w, 24))
                bw = rw * abs(np.cos(ang)) + rh * abs(np.sin(ang))
                bh = rw * abs(np.sin(ang)) + rh * abs(np.cos(ang))
                if bw <= cw - 3 and bh <= ch - 3:
                    cx = x0 + 1 + bw / 2 + float(rng.random()) * (cw - bw - 3)
                    cy = y0 + 1 + bh / 2 + float(rng.random()) * (ch - bh - 3)
                    _fill_rot_rect(pm, cy, cx, rh, rw, ang, val)
                    continue
                # cell too small for the rotated footprint: axis-aligned
        yy = y0 + int(rng.integers(1, max(2, ch - h - 1)))
        xx = x0 + int(rng.integers(1, max(2, cw - w - 1)))
        pm[yy:yy + h, xx:xx + w] = val
    return pm


def _table_tokens(rows: int, cols: int) -> list[str]:
    toks = ["<thead>", "<tr>"] + ["<td></td>"] * cols + ["</tr>", "</thead>",
                                                         "<tbody>"]
    for _ in range(rows - 1):
        toks += ["<tr>"] + ["<td></td>"] * cols + ["</tr>"]
    toks.append("</tbody>")
    return toks


def _gen_structure(rng: np.random.Generator, vocab: TableVocab,
                   grid_rows: tuple[int, int]):
    """Token-prob tensor decoding to an R x 2 table (table.py:43-74)
    whose R rows are the det-grid rows [grid_rows), with per-<td>
    normalized cell bboxes aligned to those grid cells (so the region's
    detected boxes land inside their cells for TableMatch)."""
    r0, r1 = grid_rows
    rows, cols = r1 - r0, GRID_COLS
    tokens = _table_tokens(rows, cols)
    steps = len(tokens) + 1  # + eos
    probs = (rng.random((steps, len(vocab.character))) * 0.05).astype(np.float32)
    locs = np.zeros((steps, 8), dtype=np.float32)
    cw = 1.0 / GRID_COLS
    cell_i = 0
    for t, tok in enumerate(tokens):
        probs[t, vocab.dict[tok]] = 0.9 + 0.09 * float(rng.random())
        if tok == "<td></td>":
            r, q = divmod(cell_i, cols)
            x0 = q * cw
            y0 = ROW_BOUNDS[r0 + r] * MAP_TO_SRC / SRC_H
            y1 = ROW_BOUNDS[r0 + r + 1] * MAP_TO_SRC / SRC_H
            x1 = x0 + cw
            locs[t] = [x0, y0, x1, y0, x1, y1, x0, y1]
            cell_i += 1
    probs[len(tokens), vocab.eos] = 0.95
    return probs, locs, tokens


def region_y_bounds(reg: dict) -> tuple[float, float]:
    return (ROW_BOUNDS[reg["rows"][0]] * float(MAP_TO_SRC),
            ROW_BOUNDS[reg["rows"][1]] * float(MAP_TO_SRC))


def media_record(media_ref: str, seed: int = 42) -> dict:
    """Full fixture row for one media_ref — a pure function of the ref
    string. The generator itself runs the det + layout kernels so rec
    logits align 1:1 with the boxes the pipeline will detect and
    gt_regions equals the pipeline's layout_select output.

    cls is LOAD-BEARING: a text-region box flagged "180" stores logits
    that decode to the reversed text, so only a pipeline that applies
    the rotate predicate (should_rotate → reverse, the fixture-world
    analogue of cv2.rotate before rec at config.py:375-378) recovers
    gt_texts. Layout NMS is LOAD-BEARING: the region set (and hence
    which fragments exist, their kinds and order) is decided by
    layout_select over overlapping multi-candidate input."""
    rng = _key("media", seed, media_ref)
    regions = _gen_regions(rng)
    cand_boxes, cand_scores = _gen_layout_cands(rng, regions)
    # quantize to the float32 the parquet store carries, so the golden
    # path and the Spark decode select over bit-identical values
    cand_boxes = cand_boxes.astype(np.float32)
    cand_scores = cand_scores.astype(np.float32)
    sel = select_regions(cand_boxes, cand_scores)
    # generator invariant: NMS must recover exactly the true regions,
    # in reading order, with their classes
    assert len(sel) == len(regions), (media_ref, sel, regions)
    for d, reg in zip(sel, regions):
        assert d["label"] == reg["cls"], (media_ref, d, reg)
    top = max(sel, key=lambda d: d["bbox"][4])
    gt_regions = [[float(v) for v in d["bbox"]]
                  + [float(LAYOUT_CLASSES.index(d["label"]))] for d in sel]

    # det boxes live only in text/table regions' grid cells; quantize
    # to the stored form FIRST so golden and pipeline both derive from
    # the dequantized tensors
    cells = [(r, q) for reg in regions if reg["cls"] != "figure"
             for r in range(*reg["rows"]) for q in range(GRID_COLS)]
    pm_q = np.round(_gen_det_map(rng, cells) * 255.0).astype(np.uint8)
    pm = pm_q.astype(np.float32) / 255.0
    boxes = sorted_boxes(db_postprocess(pm, SHAPE_LIST))

    def region_of(box):
        cy = float(np.asarray(box)[:, 1].mean())
        for reg in regions:
            y1, y2 = region_y_bounds(reg)
            if y1 <= cy < y2:
                return reg
        return None

    box_regions = [region_of(b) for b in boxes]
    texts: list[str] = []
    logits_q = []
    cls: list[list[float]] = []
    gt_text_idx: list[int] = []
    for i, breg in enumerate(box_regions):
        text = _gen_text(rng)
        texts.append(text)
        in_text = breg is not None and breg["cls"] == "text_block"
        if in_text:
            gt_text_idx.append(i)
        rot = in_text and rng.random() < ROT_P
        stored = text[::-1] if rot else text
        lq = _gen_logits(rng, stored).astype(np.float16)
        got, _ = ctc_decode(lq.astype(np.float32), CHARSET)
        assert got == stored, (got, stored)
        logits_q.append(lq)
        # float32-quantized like the parquet store, so the in-memory
        # golden path and the store-backed pipeline emit bit-identical
        # cls scores
        if rot:
            probs = [0.15 + 0.1 * float(rng.random()), 0.75]
        else:
            probs = [0.9, 0.05 + 0.1 * float(rng.random())]
        cls.append([float(np.float32(p)) for p in probs])

    rec = {
        "media_ref": media_ref,
        "media_kind": top["label"],
        "gt_boxes": [[float(v) for v in np.asarray(b).reshape(8)]
                     for b in boxes],
        "gt_structure": "",
        "cand_boxes": [[float(v) for v in b] for b in cand_boxes],
        "cand_scores": [[float(v) for v in s] for s in cand_scores],
        "gt_regions": gt_regions,
        "gt_text_idx": gt_text_idx,
        "det_map": pm_q.tobytes(),  # uint8 H*W
        "det_h": MAP_H,
        "det_w": MAP_W,
        "shape_list": [float(x) for x in SHAPE_LIST],
        "n_boxes": len(boxes),
        "rec_logits": [lq.tobytes() for lq in logits_q],  # float16 T*C
        "rec_t": REC_T,
        "rec_c": REC_C,
        "cls_probs": cls,
        "gt_texts": texts,
        "structure_probs": None,
        "struct_t": 0,
        "struct_v": 0,
        "loc_preds": None,
    }
    treg = next((reg for reg in regions if reg["cls"] == "table"), None)
    if treg is not None:
        vocab = TableVocab(TABLE_TOKENS)
        sp, lp, toks = _gen_structure(rng, vocab, treg["rows"])
        rec["structure_probs"] = sp.astype(np.float16).tobytes()  # float16
        rec["struct_t"] = sp.shape[0]
        rec["struct_v"] = sp.shape[1]
        rec["loc_preds"] = lp.tobytes()  # float32 (tiny)
        rec["gt_structure"] = "".join(toks)
    return rec


# ---------------------------------------------------------------------------
# Spark-side distributed synthesis


_DOCS_DDL = ("doc_id string, spans array<struct<kind: string, "
             "text: string, media_ref: string, offset: int>>")
_MEDIA_DDL = (
    "media_ref string, media_kind string, gt_boxes array<array<float>>, "
    "gt_structure string, cand_boxes array<array<float>>, "
    "cand_scores array<array<float>>, gt_regions array<array<float>>, "
    "gt_text_idx array<int>, det_map binary, det_h int, det_w int, "
    "shape_list array<float>, n_boxes int, rec_logits array<binary>, "
    "rec_t int, rec_c int, cls_probs array<array<float>>, "
    "gt_texts array<string>, structure_probs binary, struct_t int, "
    "struct_v int, loc_preds binary")


def docs_schema():
    from pyspark.sql.types import StructType

    return StructType.fromDDL(_DOCS_DDL)


def media_schema():
    from pyspark.sql.types import StructType

    return StructType.fromDDL(_MEDIA_DDL)


def synthesize_docs(spark, n_docs: int, seed: int = 42,
                    heavy_frac: float = 0.01, media_pool: int | None = None,
                    patho_docs: int = 0, patho_spans: int = 100_000,
                    patho_pool: int = 8):
    """Distributed, partition-independent corpus generation:
    spark.range drives per-index mapInArrow; each row derives only
    from (seed, id). ``patho_docs`` appends that many pathological
    ~10^5-span documents (ids n_docs..n_docs+patho_docs) for the skew
    study — the first n_docs rows are bit-identical either way."""
    from paddleocr_spark.functions.udfs import row_batch

    if media_pool is None:
        media_pool = max(16, n_docs * 2)
    to_batch = row_batch(docs_schema())

    def gen(batches):
        for b in batches:
            rows = [doc_record(i, seed, heavy_frac, media_pool)
                    if i < n_docs
                    else patho_doc_record(i - n_docs, seed,
                                          patho_spans, patho_pool)
                    for i in b.column("id").to_pylist()]
            yield to_batch([
                (r["doc_id"],
                 [(s["kind"], s["text"], s["media_ref"], s["offset"])
                  for s in r["spans"]]) for r in rows])

    return spark.range(n_docs + patho_docs).mapInArrow(
        gen, schema=docs_schema())


def synthesize_media(spark, docs_df, seed: int = 42,
                     partitions: int | None = None):
    """Media store for exactly the refs the corpus uses: distinct
    media_ref → explicit repartition → mapInArrow content generation.

    The explicit repartition AFTER distinct matters: the distinct's
    shuffle carries only tiny media_ref strings, so AQE coalesces it to
    ~1 partition — and the expensive generation (and any downstream
    write) would run on one core. Cheap-rows-in / fat-rows-out UDF
    stages must set their own parallelism."""
    from pyspark.sql import functions as F

    from paddleocr_spark.functions.udfs import row_batch

    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism * 2
    refs = (docs_df
            .select(F.explode("spans").alias("s"))
            .where(F.col("s.kind") == "media")
            .select(F.col("s.media_ref").alias("media_ref"))
            .distinct()
            .repartition(partitions, "media_ref"))

    cols = media_schema().fieldNames()
    to_batch = row_batch(media_schema())

    def gen(batches):
        for b in batches:
            # chunk the fat output rows so each yielded batch stays
            # ~10 MB regardless of the session's Arrow input batch size
            refs_list = b.column("media_ref").to_pylist()
            for i in range(0, len(refs_list), 256):
                rows = [media_record(ref, seed)
                        for ref in refs_list[i:i + 256]]
                yield to_batch([tuple(r[c] for c in cols) for r in rows])

    return refs.mapInArrow(gen, schema=media_schema())
