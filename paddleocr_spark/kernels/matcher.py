"""OCR-box <-> table-cell matching and HTML merge.

Exact re-creation of ``TableMatch`` (``toddleocr/postprocess/matcher.py``):

- ``distance`` / ``compute_iou``       — ``matcher.py:8-43``
- ``match_result`` nearest-cell assignment (lexicographic min over
  (1-IoU, L1 distance), first-occurrence tie-break) — ``matcher.py:66-90``
- ``get_pred_html`` ordered merge of structure tokens with matched OCR
  text, <b> handling and space joining — ``matcher.py:92-135``
- ``_filter_ocr_result`` drops OCR boxes wholly above the table
  — ``matcher.py:182-192``

Logically this is a per-document nearest-neighbor theta-join
(boxes x cells with a rank-1 window); both sides are tiny per document,
so it runs inside the per-media Python stage.
"""

from __future__ import annotations

import numpy as np

__all__ = ["distance", "compute_iou", "match_result", "get_pred_html", "filter_ocr_result"]


def distance(box_1, box_2) -> float:
    x1, y1, x2, y2 = box_1
    x3, y3, x4, y4 = box_2
    dis = abs(x3 - x1) + abs(y3 - y1) + abs(x4 - x2) + abs(y4 - y2)
    dis_2 = abs(x3 - x1) + abs(y3 - y1)
    dis_3 = abs(x4 - x2) + abs(y4 - y2)
    return dis + min(dis_2, dis_3)


def compute_iou(rec1, rec2) -> float:
    """IoU of (x1, y1, x2, y2) rectangles (the reference docstring says
    (y0, x0, y1, x1) but it is applied to x-first bboxes; the formula is
    symmetric in the axis naming)."""
    s1 = (rec1[2] - rec1[0]) * (rec1[3] - rec1[1])
    s2 = (rec2[2] - rec2[0]) * (rec2[3] - rec2[1])
    sum_area = s1 + s2
    left = max(rec1[1], rec2[1])
    right = min(rec1[3], rec2[3])
    top = max(rec1[0], rec2[0])
    bottom = min(rec1[2], rec2[2])
    if left >= right or top >= bottom:
        return 0.0
    intersect = (right - left) * (bottom - top)
    return intersect / (sum_area - intersect) * 1.0


def match_result(dt_boxes, cell_bboxes) -> dict[int, list[int]]:
    """For each OCR bbox (x1,y1,x2,y2), pick the cell with lexicographic
    min (1-IoU, L1-distance); returns cell_index -> [ocr indices]."""
    matched: dict[int, list[int]] = {}
    for i, gt_box in enumerate(dt_boxes):
        distances = []
        for j, pred_box in enumerate(cell_bboxes):
            pred_box = list(pred_box)
            if len(pred_box) == 8:
                pred_box = [
                    np.min(pred_box[0::2]),
                    np.min(pred_box[1::2]),
                    np.max(pred_box[0::2]),
                    np.max(pred_box[1::2]),
                ]
            distances.append(
                (distance(gt_box, pred_box), 1.0 - compute_iou(gt_box, pred_box))
            )
        sorted_distances = sorted(distances, key=lambda item: (item[1], item[0]))
        best = distances.index(sorted_distances[0])
        matched.setdefault(best, []).append(i)
    return matched


def get_pred_html(pred_structures, matched_index, ocr_contents):
    """Merge structure tokens with matched OCR texts (``matcher.py:92-135``).

    ocr_contents: list of (text, conf) in det reading order.
    Returns (html_body_str, token_list).
    """
    end_html: list[str] = []
    td_index = 0
    for tag in pred_structures:
        if "</td>" in tag:
            if tag == "<td></td>":
                end_html.extend("<td>")
            if td_index in matched_index:
                b_with = False
                # NOTE reference quirk (matcher.py:102-104): the containment
                # test runs against the (text, conf) TUPLE, i.e. tuple
                # membership, so it fires only when a recognized text equals
                # "<b>" exactly — replicated literally for output parity.
                if (
                    "<b>" in ocr_contents[matched_index[td_index][0]]
                    and len(matched_index[td_index]) > 1
                ):
                    b_with = True
                    end_html.extend("<b>")
                for i, ocr_idx in enumerate(matched_index[td_index]):
                    content = ocr_contents[ocr_idx][0]
                    if len(matched_index[td_index]) > 1:
                        if len(content) == 0:
                            continue
                        if content[0] == " ":
                            content = content[1:]
                        if "<b>" in content:
                            content = content[3:]
                        if "</b>" in content:
                            content = content[:-4]
                        if len(content) == 0:
                            continue
                        if i != len(matched_index[td_index]) - 1 and content[-1] != " ":
                            content += " "
                    end_html.extend(content)
                if b_with:
                    end_html.extend("</b>")
            if tag == "<td></td>":
                end_html.append("</td>")
            else:
                end_html.append(tag)
            td_index += 1
        else:
            end_html.append(tag)
    return "".join(end_html), end_html


def filter_ocr_result(cell_bboxes, dt_boxes, rec_res):
    """Drop OCR rows wholly above the table's topmost cell edge
    (``matcher.py:182-192``)."""
    if len(cell_bboxes) == 0:
        return dt_boxes, rec_res
    cb = np.asarray(cell_bboxes)
    y1 = cb[:, 1::2].min()
    new_boxes, new_rec = [], []
    for box, rec in zip(dt_boxes, rec_res):
        if np.max(np.asarray(box)[1::2]) < y1:
            continue
        new_boxes.append(box)
        new_rec.append(rec)
    return new_boxes, new_rec
