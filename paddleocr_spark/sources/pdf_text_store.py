"""Deterministic text-PDF fixture store + the oracle-checked
text-extraction queries.

``kernels/pdf_text.py`` is the born-digital half of the north rule's
"PDF/layout parse": text read straight from content streams, no
rasterization. This module makes it CORRECTNESS-checkable the same
way ``page_store`` checks the image-container walk: a tiny store of
real text PDFs whose runs are ANALYTIC — run ``r`` of page ``p`` of
file ``f`` is

    text  = vocab[(f + p + r) % 5] + f" f{f}p{p}r{r}"
    x     = 36 + 10*r + 2*p
    y     = 720 - 16*r - 4*p
    size  = 8 + 2*((f + r) % 3)

so the expected rows are derivable by hand and the DuckDB oracle is a
constant ``VALUES`` table — the extractor never runs oracle-side. The
vocabulary deliberately contains parens and a backslash so the
literal-string escape path is on the checked path, the writer rotates
through all four text-op forms (Td+Tj, Tm+TJ, TL+T*, TD+'), odd
pages run under a translated ``cm`` graphics state, pages with ≥3
runs split across a ``/Contents`` array, and odd FILES compress
their content streams — every decoder branch is exercised by the
oracle-checked query, not just unit tests.

Two queries:

- ``pdf_text_runs``: the shared file loop
  (``functions/udfs.map_media_store``: each file read by path on the
  worker, bytes → runs; the only Python crossing) → one row per run.
- ``pdf_page_text``: the same extraction, then READING-ORDER page
  assembly entirely in Catalyst — ``sort_array`` over
  (-y, x, text) structs + ``array_join`` (device y grows upward, so
  top-of-page first), the ``sorted_boxes`` idea as a relational
  aggregation. DuckDB twin: ``string_agg(.. ORDER BY y DESC, x)``.
"""

from __future__ import annotations

import os

__all__ = ["TEXT_RUN_SPEC", "ensure_pdf_text_store", "pdf_text_runs",
           "pdf_page_text", "pdf_text_document_spans",
           "pdf_text_runs_oracle_sql", "pdf_page_text_oracle_sql",
           "pdf_text_document_spans_oracle_sql"]

# PP-Structure-style layout kind from font size (the reference's
# layout stage labels regions title/text/table/figure; for
# born-digital runs the font size IS the signal — a static point
# threshold keeps the Spark query and the DuckDB oracle trivially
# identical)
TITLE_MIN_PT = 12.0

_VOCAB = ["alpha", "bravo(q)", "back\\slash", "delta", "echo"]
# file 4's runs carry CJK words, routed by the writer through a
# Type0/Identity-H composite font with a Flate-compressed /ToUnicode
# CMap (2-byte codes; bfchar + both bfrange forms) — the born-digital
# CJK shape the latin-1 path can't represent
_CJK_VOCAB = ["汉字测试", "中文(括号)", "日本語テキスト"]
# (file index) → file name; odd files get FlateDecode content streams
_FILES = [f"text_{f:02d}.pdf" for f in range(5)]


def _n_pages(f: int) -> int:
    return 1 + ((f + 1) % 3)


def _n_runs(f: int, p: int) -> int:
    return 2 + (f + p) % 3


def _run(f: int, p: int, r: int) -> tuple[str, float, float, float]:
    word = _CJK_VOCAB[(p + r) % 3] if f == 4 \
        else _VOCAB[(f + p + r) % 5]
    return (f"{word} f{f}p{p}r{r}",
            float(36 + 10 * r + 2 * p),
            float(720 - 16 * r - 4 * p),
            float(8 + 2 * ((f + r) % 3)))


# the analytic expectation: one row per run of every store page
TEXT_RUN_SPEC = [
    (name, p, r, *_run(f, p, r))
    for f, name in enumerate(_FILES)
    for p in range(_n_pages(f))
    for r in range(_n_runs(f, p))
]


def ensure_pdf_text_store(root: str) -> str:
    """Write the text-PDF files under ``root`` (idempotent, DONE
    marker). Driver-side and O(1): 5 tiny files — fixture synthesis,
    not data-plane work."""
    # v2: + file 4 (Type0/CID composite font, CJK runs)
    store = os.path.join(root, "pdftextstore_v2")
    marker = os.path.join(store, "_DONE")
    if os.path.exists(marker):
        return store
    from paddleocr_spark.kernels.pdf_text import _encode_text_pdf

    os.makedirs(store, exist_ok=True)
    for f, name in enumerate(_FILES):
        pages = [[_run(f, p, r) for r in range(_n_runs(f, p))]
                 for p in range(_n_pages(f))]
        data = _encode_text_pdf(pages, compress_content=bool(f % 2))
        with open(os.path.join(store, name), "wb") as fh:
            fh.write(data)
    with open(marker, "w") as fh:
        fh.write("ok\n")
    return store


RUNS_SCHEMA = ("file string, page long, run_idx long, text string, "
               "x double, y double, size double")


def _run_rows(path: str, content: bytes):
    """One text PDF → one row per run, in content-stream order."""
    from paddleocr_spark.kernels.pdf_text import extract_pdf_text

    name = os.path.basename(path)
    return [(name, p, r, text, x, y, size)
            for p, runs in enumerate(extract_pdf_text(content))
            for r, (text, x, y, size) in enumerate(runs)]


def _runs_df(spark):
    """Every run of the store through the file loop (one Python
    crossing, bytes in, rows out)."""
    from paddleocr_spark.cachedir import cache_root
    from paddleocr_spark.functions.udfs import data_rows, map_media_store

    store = ensure_pdf_text_store(cache_root())
    return data_rows(map_media_store(spark, store, _run_rows, RUNS_SCHEMA))


def pdf_text_runs(spark, sf_dir: str):
    """CORRECTNESS query: every text run of every store page, in
    content-stream order. The store is sf-independent (the operator
    under test is the content-stream parse, not corpus scaling)."""
    return _runs_df(spark)


def pdf_page_text(spark, sf_dir: str):
    """CORRECTNESS query: reading-order page text assembled in
    Catalyst — sort runs by (y desc, x asc) per page and join."""
    from pyspark.sql import functions as F

    runs = _runs_df(spark)
    ordered = F.transform(
        F.sort_array(F.collect_list(
            F.struct((-F.col("y")).alias("ny"), F.col("x"),
                     F.col("text")))),
        lambda s: s["text"])
    return (runs.groupBy("file", "page")
            .agg(F.count("*").alias("n_runs"),
                 F.array_join(ordered, " ").alias("page_text")))


def pdf_text_document_spans(spark, sf_dir: str):
    """CORRECTNESS query: the north-star span projection of the PDF
    store — one row per run as ``(doc_id, order, kind, text)`` where
    ``doc_id`` is the file, ``order`` is the document-wide reading
    order (page, then top-down, then left-to-right), and ``kind`` is
    the PP-Structure-style layout label (title vs text by font size).
    This is the same output contract as the flagship ``extract_full``
    (kind, text, media_ref, order), produced from born-digital input
    with no media decode at all."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    runs = _runs_df(spark)
    w = Window.partitionBy("file").orderBy(
        "page", F.desc("y"), F.asc("x"), F.asc("run_idx"))
    return (runs
            .withColumn("order", F.row_number().over(w) - F.lit(1))
            .withColumn("kind",
                        F.when(F.col("size") >= TITLE_MIN_PT,
                               F.lit("title")).otherwise(F.lit("text")))
            .select(F.col("file").alias("doc_id"),
                    F.col("order").cast("long").alias("order"),
                    "kind", "text"))


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def pdf_text_runs_oracle_sql() -> str:
    """Constant VALUES oracle from the analytic run formulas (the
    extractor never runs here)."""
    rows = ",\n  ".join(
        f"({_sql_quote(name)}, CAST({p} AS BIGINT), "
        f"CAST({r} AS BIGINT), {_sql_quote(text)}, "
        f"CAST({x} AS DOUBLE), CAST({y} AS DOUBLE), "
        f"CAST({size} AS DOUBLE))"
        for name, p, r, text, x, y, size in TEXT_RUN_SPEC)
    return ("SELECT * FROM (VALUES\n  " + rows +
            ') AS t(file, page, run_idx, text, x, y, "size")')


def pdf_page_text_oracle_sql() -> str:
    # trailing `text` key makes the oracle a TOTAL order like the
    # Spark side's (ny, x, text) struct sort — correctness must not
    # rest on the fixture never producing duplicate (y, x)
    return ("SELECT file, page, CAST(COUNT(*) AS BIGINT) AS n_runs, "
            "string_agg(text, ' ' ORDER BY y DESC, x ASC, text ASC) "
            "AS page_text FROM (" + pdf_text_runs_oracle_sql() +
            ") GROUP BY file, page")


def pdf_text_document_spans_oracle_sql() -> str:
    return (
        "SELECT file AS doc_id, "
        "CAST(row_number() OVER (PARTITION BY file "
        "ORDER BY page, y DESC, x ASC, run_idx ASC) - 1 AS BIGINT) "
        "AS \"order\", "
        f"CASE WHEN \"size\" >= {TITLE_MIN_PT} THEN 'title' "
        "ELSE 'text' END AS kind, text "
        "FROM (" + pdf_text_runs_oracle_sql() + ")")
