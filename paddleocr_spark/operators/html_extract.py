"""HTML main-content extraction over the documents table — the
HTML/DOM half of the north rule's "main-content extraction (HTML
boilerplate strip, PDF/layout parse, DOM heuristics)".

The corpus has no HTML column, so ``htmlize_documents`` wraps each
doc's text in a deterministic page template — title, nav link bar,
short h1, the article paragraph (markup-escaped), a related-links
farm, a second fixed paragraph, a short teaser, footer — with PURE
column expressions, mirrored verbatim in the DuckDB oracle. The
extractor (``kernels/html.py``, Arrow-batched mapInArrow) must then
invert the construction exactly: drop the nav/footer subtrees, the
link farm (link density), and the short blocks (min length), keep the
two real paragraphs in order, decode the escaped entities, and recover
the title. The first ENTITY_PLANT_N docs carry planted ``& < >``
characters so the escape/decode path is load-bearing, not decorative.

At 100 TB this is one Arrow-batched Python stage over a text column —
embarrassingly parallel, no shuffle, column-pruned to (doc_id, html).
"""

from __future__ import annotations

from paddleocr_spark.sources.tables import (
    derived_table,
    load_table,
    table_path,
    table_rows,
)

__all__ = ["ENTITY_PLANT_N", "PARA2", "htmlize_documents",
           "html_main_content", "html_links", "html_link_graph",
           "build_link_graph_table", "html_pagerank", "LINK_COEFFS",
           "LINK_GRAPH_SCHEMA",
           "PR_ITERS", "PR_SCALE"]

ENTITY_PLANT_N = 10
ENTITY_SUFFIX = " AT&T says 2<3 & 4>1"
PARA2 = ("Closing thoughts follow in a second paragraph long enough "
         "to clear the minimum block threshold.")
# the related-links block points at 3 other docs of the SAME corpus:
# dst_i = (a_i * doc_id + b_i) mod N — a deterministic link graph the
# oracle reproduces from the same formulas (collisions and self-loops
# are kept: they exist on the real web too and both sides agree)
LINK_COEFFS = ((7, 1), (13, 5), (31, 11))
PR_ITERS = 10
PR_SCALE = 10 ** 12  # fixed-point: rank 1.0 == 10^12

_RESULT_SCHEMA = ("doc_id long, title string, main_text string, "
                  "n_blocks_kept long, n_blocks_dropped long")
_RESULT_KEYS = ("title", "main_text", "n_blocks_kept", "n_blocks_dropped")


def htmlize_documents(spark, sf_dir: str):
    """(doc_id, html): the deterministic page template around each
    doc's (escaped) text."""
    from pyspark.sql import functions as F

    df = load_table(spark, sf_dir, "documents")
    n = table_rows(sf_dir, "documents")  # the link formulas need N
    body = F.when(F.col("doc_id") < ENTITY_PLANT_N,
                  F.concat(F.col("text"), F.lit(ENTITY_SUFFIX))) \
            .otherwise(F.col("text"))
    esc = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(body, "&", "&amp;"), "<", "&lt;"),
        ">", "&gt;")
    related = [F.lit("<div class='related'>")]
    for a, b in LINK_COEFFS:
        dst = (F.col("doc_id") * a + b) % n
        related += [F.lit("<a href='/doc/"), dst, F.lit("'>doc "),
                    dst, F.lit("</a> ")]
    related.append(F.lit("</div>"))
    html = F.concat(
        F.lit("<html><head><title>Doc "), F.col("doc_id"),
        F.lit("</title><style>body{margin:0}</style></head><body>"),
        F.lit("<nav><a href='/'>Home</a> <a href='/about'>About</a> "
              "<a href='/contact'>Contact</a></nav>"),
        F.lit("<h1>Doc "), F.col("doc_id"), F.lit("</h1>"),
        F.lit("<p>"), esc, F.lit("</p>"),
        *related,
        F.lit("<p>"), F.lit(PARA2), F.lit("</p>"),
        F.lit("<p>Read more</p>"),
        F.lit("<footer>(c) 2026 Example Corp. All rights reserved. "
              "<a href='/tos'>Terms</a></footer>"),
        F.lit("</body></html>"))
    return df.select("doc_id", html.alias("html"))


def html_main_content(spark, sf_dir: str):
    """Per doc: title + main text + block-keep/drop counts from the
    DOM heuristics. Expected on this template: title 'Doc <id>', main
    text = normalized article + PARA2, 2 kept / 3 dropped blocks (the
    short h1, the link farm, the teaser)."""
    from paddleocr_spark.functions.udfs import row_batch

    docs = htmlize_documents(spark, sf_dir)
    to_batch = row_batch(_RESULT_SCHEMA)

    def extract(batches):
        from paddleocr_spark.kernels.html import main_content

        for b in batches:
            yield to_batch([(d["doc_id"], *map(main_content(d["html"]).get,
                                               _RESULT_KEYS))
                            for d in b.to_pylist()])

    return docs.mapInArrow(extract, schema=_RESULT_SCHEMA)


def html_links(spark, sf_dir: str):
    """(doc_id, pos, href) for every anchor in every page, in document
    order — one Arrow-batched pass with the same tokenizer the
    main-content extractor uses (so script bodies and comments can
    never fake a link). On this template each page yields 7 rows: the
    3 nav links, the 3 related-doc links, the footer /tos."""
    from paddleocr_spark.functions.udfs import row_batch

    docs = htmlize_documents(spark, sf_dir)
    schema = "doc_id long, pos long, href string"
    to_batch = row_batch(schema)

    def extract(batches):
        from paddleocr_spark.kernels.html import extract_links

        for b in batches:
            yield to_batch([(d["doc_id"], pos, href)
                            for d in b.to_pylist()
                            for pos, href in enumerate(
                                extract_links(d["html"]))])

    return docs.mapInArrow(extract, schema=schema)


def html_link_graph(spark, sf_dir: str):
    """Distinct (src, dst) edges of the intra-corpus link graph:
    /doc/<id> hrefs parsed back to ids. Collisions between the three
    formulas collapse under DISTINCT; self-loops are kept."""
    from pyspark.sql import functions as F

    return (html_links(spark, sf_dir)
            .where(F.col("href").startswith("/doc/"))
            .select(F.col("doc_id").alias("src"),
                    F.expr("CAST(substring(href, 6) AS BIGINT)")
                    .alias("dst"))
            .distinct())


# what build_link_graph_table writes; deg is the outdegree of src
LINK_GRAPH_SCHEMA = "src long, dst long, deg long"


def build_link_graph_table(spark, sf_dir: str) -> str:
    """Build (or load) the persisted link-graph edge table for this
    corpus — the same build-once shape as the near-dup edge table
    (operators/dedup.py) and the IVF index: the HTML parse runs ONCE
    and every downstream consumer (PageRank's rounds, re-runs across
    sessions) reads (src, dst, deg) rows from parquet, deg being the
    outdegree of src. At production scale the link graph IS its own
    table, written by the link-extraction job. Returns the table
    directory. v2 is the (src, dst, deg) layout, so a v1 (src, dst)
    table is never served; the template coefficients determine the
    edges, so they key the table too."""
    return derived_table(
        "link_graph", "v2", [table_path(sf_dir, "documents")], LINK_COEFFS,
        lambda out: html_link_graph(spark, sf_dir)
        .selectExpr("src", "dst", "count(*) OVER (PARTITION BY src) AS deg")
        .write.parquet(out))


def html_pagerank(spark, sf_dir: str, iters: int = PR_ITERS,
                  checkpoint_dir: str | None = None):
    """Deterministic fixed-point PageRank over the extracted link
    graph — the canonical web-scale iterative DataFrame job.

    All arithmetic is 64-bit integer on ranks scaled by PR_SCALE
    (rank 1.0 == 10^12): contribution = rank DIV outdeg, rank = base
    + (85 * inflow) DIV 100 with base = (15 * PR_SCALE DIV 100) DIV N.
    Integer sums are order-independent, so the result is bit-exact
    across partitionings, engines, and the DuckDB oracle's
    unrolled-CTE twin. Each round is one equi-join (edges LEFT JOIN
    ranks; a node absent from ranks had no inflow, so its rank is
    base) and one map-side-combinable sum over dst; round 1 joins
    nothing, N comes from the parquet footers as a literal, and the
    documents are joined once, after the last round. Measured at 5
    rounds on 2,000 pages (local[3], 4-core host): 13 Spark jobs per
    call. The rounds run on ``operators/_cache.iterate``, whose
    checkpoint every third round keeps the plan depth bounded;
    ``checkpoint_dir=`` selects its cluster-durable reliable mode.
    Every node has outdegree >= 1 by construction, so no dangling-mass
    term."""
    from pyspark.sql import functions as F

    from paddleocr_spark.operators._cache import eager_persist, iterate

    # the link graph is a PERSISTED corpus-prep table (built once per
    # corpus by build_link_graph_table, reused across sessions — the
    # HTML parse never re-runs for PageRank); the memory persist on
    # top keeps the rounds off the parquet scan, and round 1 fills it
    edges = eager_persist(
        spark.read.schema(LINK_GRAPH_SCHEMA)
        .parquet(build_link_graph_table(spark, sf_dir)),
        materialize=False)
    nodes = load_table(spark, sf_dir, "documents").select("doc_id")
    n = table_rows(sf_dir, "documents") or 1  # an empty corpus ranks no node
    # `div` is Spark's true 64-bit integer division — NOT `/` +
    # cast(long), which routes through a double and can round across
    # an integer boundary once N or the ranks grow
    base = f"{15 * PR_SCALE // 100 // n}L"
    rank0 = f"{PR_SCALE // n}L"  # every node's rank before round 1
    # a node absent from ranks had no inflow in the round before
    rank = f"coalesce(rank_fp, {base})"
    if not iters:
        return nodes.select("doc_id", F.expr(rank0).alias("rank_fp"))

    def pagerank_round(ranks, r):
        # round 1 joins nothing: every node still has rank0
        contrib = edges if r == 1 else edges.join(
            ranks, edges.src == ranks.doc_id, "left")
        return (contrib.groupBy("dst")
                .agg(F.sum(F.expr(f"{rank0 if r == 1 else rank} div deg"))
                     .alias("inflow"))
                .select(F.col("dst").alias("doc_id"), F.expr(
                    f"{base} + (85 * inflow) div 100").alias("rank_fp")))

    ranks, _ = iterate(None, pagerank_round, iters,
                       checkpoint_dir=checkpoint_dir)

    # a dst outside the documents never appears as a src, so it
    # contributed nothing; this join drops it
    return (nodes.join(ranks, "doc_id", "left")
            .select("doc_id", F.expr(rank).alias("rank_fp")))
