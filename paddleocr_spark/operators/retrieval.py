"""BM25 keyword search over the documents corpus.

The text-retrieval counterpart of ``operators/similarity.py``'s vector
top-k family: score documents against a fixed set of keyword queries
with BM25 (Robertson/Sparck-Jones idf in the Lucene always-positive
form) and return the top-k per query. A training-data pipeline uses
exactly this shape for targeted corpus slicing ("pull the documents
about X") and for quality-weighted retrieval baselines.

Plan shape (designed for 10^12 docs):
- ONE scan of documents computes per-doc length AND the query-term
  hits in the same projection (``F.filter`` on the token array before
  the explode, so the exploded row count is bounded by matches + one
  sentinel row per doc, never corpus tokens);
- corpus stats (N, avgdl) ride a SENTINEL term prepended to every
  doc's matched-token array: the sentinel rows flow through the very
  same explode -> groupBy as the term hits, and the grouped relation
  (one sentinel row per doc + the matched (doc, term) pairs — tiny
  next to the corpus) is materialized ONCE as a tracked cache that
  both the tf branch and the stats branch read. The naive "separate
  stats aggregate" form re-scans and re-tokenizes the whole corpus a
  second time (Catalyst pushes the grouping-key filters below the
  aggregate, so exchange reuse cannot unify the branches — measured).
  At production scale the grouped relation is its own table;
- tf = one map-side-combinable groupBy over the hits;
- df(term) comes from a window over the tiny tf relation partitioned
  by term — no second corpus scan;
- stats broadcast via crossJoin; query terms broadcast-join onto tf;
- top-k per query is a rank window over the scored rows (rows =
  matched docs, not corpus size).

Cross-engine parity: the score arithmetic contains NO transcendental
and NO float division in EITHER engine. The two prior driver hash
mismatches (r03, r04) were not reproducible with the in-sandbox DuckDB
and the one remaining cross-engine hazard was the
``ln`` in idf — a 1-ulp libm difference (JVM ``Math.log`` vs whichever
libm the driver's DuckDB links) flips ``round(ln(.)*1e9)`` by 1
whenever the product lands near a half-integer. Round 5 eliminates it:

- ``idf_nano = int(round(ln((2N+2)/(2df+1)) * 1e9))`` is computed
  ONCE, in PYTHON (``bm25_idf_nano``), from the exact integer pair
  ``(n_docs, df)``, and injected as a LITERAL into both the Spark plan
  (a ``create_map`` term lookup) and the DuckDB oracle (a
  ``VALUES (term, idf_nano)`` relation). Neither engine evaluates a
  logarithm. The integers feeding the literal are engine-independent:
  Spark collects ``(term, df)`` + ``(n_docs, sum_dl)`` from the cached
  grouped relation (a ≤9-row driver stat job, same class as the
  scalar collects in checkpoint.py); the oracle builder computes the
  same integers with DuckDB over the same parquet
  (``bm25_corpus_stats``) using the oracle's own tokenization SQL —
  both were row-identical in every observed run (the mismatch was
  always hash-of-values, i.e. the float, never the integers);
- corpus stats are exact bigints (``n_docs``, ``sum_dl = sum(dl)``) —
  no float ``avg`` whose value could depend on summation order;
- ``tf_norm`` is the exact rational ``num10 / den10`` with
  ``num10 = 22*tf*sum_dl`` and
  ``den10 = 10*tf*sum_dl + 3*sum_dl + 9*dl*n_docs``
  (the BM25 k1=1.2, b=0.75 form multiplied through by ``10*sum_dl``);
- per-(doc, term) ``contrib_micro = round(idf_nano * num10 / (1000 *
  den10))`` is ``(2a + b) div (2b)``, ``a = idf_nano*num10``,
  ``b = 1000*den10``: integers only, in ``DECIMAL(38,0)`` on Spark and
  ``HUGEINT`` in DuckDB so no product can overflow; the bigints are
  summed exactly; ranking ties break on doc_id;
- the final result carries an explicit total ``orderBy(query_id,
  rank)`` so output order can never affect an order-sensitive hash.

At 10^12-doc scale the driver-side stat collect becomes a persisted
corpus-stats table (the prep-table pattern of ``operators/curation.py``)
built by the same one-scan job; the literal-injection structure is
unchanged — idf is always a ≤|terms|-row broadcast lookup, never a
per-row transcendental.
"""

from __future__ import annotations

from paddleocr_spark.sources.tables import load_table

__all__ = ["BM25_QUERIES", "BM25_K1", "BM25_B", "BM25_TOPK", "bm25_topk",
           "bm25_idf_nano", "bm25_corpus_stats"]

# fixed query set over the synthetic corpus vocabulary: a rare term
# (df~25/500), mixed common terms, and a stopword-ish pair
BM25_QUERIES = {
    "rare_dup": ["dup", "join"],
    "scan_sort": ["scan", "sort", "fast"],
    "window_agg": ["window", "agg"],
    "stop_pair": ["the", "a"],
}
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10
# prepended to every doc's matched-token array so corpus stats flow
# through the same scan/exchange as the hits; never a real token
# (norm_content output is lowercase alnum + spaces)
_SENTINEL = "\x00doc"


def bm25_idf_nano(n_docs: int, df: int) -> int:
    """THE idf quantization, evaluated exactly once per (n_docs, df)
    pair — in Python, on the driver / oracle-builder — and injected
    as a literal into BOTH engines. Lucene always-positive form:
    idf = ln(1 + (N - df + 0.5)/(df + 0.5)) = ln((2N+2)/(2df+1))."""
    import math

    return int(round(math.log((2 * n_docs + 2.0) / (2 * df + 1.0)) * 1e9))


def bm25_corpus_stats(sf_dir: str):
    """(n_docs, sum_dl, {term: df}) for the query-term vocabulary,
    computed with DuckDB over ``{sf_dir}/documents.parquet`` using the
    oracle's own tokenization (``regexp_replace`` + ``string_split``).
    Used by the oracle builder to derive the idf literals it injects;
    the Spark plan derives the same integers from its own grouped
    relation (proven row-identical in every driver round)."""
    import duckdb

    norm = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
    terms = sorted({t for ts in BM25_QUERIES.values() for t in ts})
    terms_sql = ", ".join(f"'{t}'" for t in terms)
    con = duckdb.connect()
    try:
        n_docs, sum_dl = con.execute(f"""
            SELECT count(*)::bigint,
                   sum(len(string_split({norm}, ' ')))::bigint
            FROM read_parquet('{sf_dir}/documents.parquet')
        """).fetchone()
        dfs = dict(con.execute(f"""
            SELECT term, count(DISTINCT doc_id)::bigint AS df
            FROM (SELECT doc_id,
                         unnest(string_split({norm}, ' ')) AS term
                  FROM read_parquet('{sf_dir}/documents.parquet'))
            WHERE term IN ({terms_sql})
            GROUP BY term
        """).fetchall())
    finally:
        con.close()
    return int(n_docs), int(sum_dl), {t: int(dfs.get(t, 0)) for t in terms}


def bm25_topk(spark, sf_dir: str):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from paddleocr_spark.operators.dedup import norm_content

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(norm_content(F, F.col("text")), " ")
    all_terms = sorted({t for ts in BM25_QUERIES.values() for t in ts})
    term_arr = F.array(*[F.lit(t) for t in all_terms])

    # one scan: doc length + query-term hits + a sentinel row per doc,
    # all from the same token array
    hits = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        F.explode(F.concat(
            F.array(F.lit(_SENTINEL)),
            F.filter(toks, lambda w: F.array_contains(term_arr, w))))
        .alias("term"))
    from paddleocr_spark.operators._cache import eager_persist

    # materialize=False: the stat job right below is the first
    # (sequential) consumer and fills the cache while computing the
    # stats — one job instead of an extra count() pass
    grouped = eager_persist(
        hits.groupBy("doc_id", "term", "dl")
        .agg(F.count("*").cast("long").alias("tf")), materialize=False)

    # driver-side corpus stats off the CACHED grouped relation: one
    # tiny agg job (≤ |terms|+1 rows collected), no second corpus
    # scan. sentinel rows are exactly one per doc, carrying dl ->
    # exact bigint n_docs/sum_dl (count + sum, never a float avg);
    # per-term row counts are df ((doc, term) rows are distinct).
    stat_rows = (grouped.groupBy("term")
                 .agg(F.count("*").cast("long").alias("df"),
                      F.sum("dl").cast("long").alias("sdl"))
                 .collect())
    n_docs = sum_dl = 0
    dfs = {}
    for r in stat_rows:
        if r["term"] == _SENTINEL:
            n_docs, sum_dl = int(r["df"]), int(r["sdl"])
        else:
            dfs[r["term"]] = int(r["df"])
    # the ONLY transcendental, evaluated in Python and injected as a
    # literal map — neither engine computes a logarithm (see module
    # docstring for the cross-engine rationale)
    idf = {t: bm25_idf_nano(n_docs, dfs.get(t, 0)) for t in all_terms}
    idf_map = F.create_map(
        *[lit for t in all_terms for lit in (F.lit(t), F.lit(idf[t]))])

    tf = grouped.where(F.col("term") != _SENTINEL)
    qrows = [(qid, t) for qid, ts in sorted(BM25_QUERIES.items())
             for t in ts]
    qdf = spark.createDataFrame(qrows, "query_id string, term string")

    # tf_norm = tf*(k1+1) / (tf + k1*(1-b) + k1*b*dl/avgdl) multiplied
    # through by 10*sum_dl is num10/den10; contrib_micro = (2a + b) div
    # (2b), a = idf_nano*num10, b = 1000*den10 (see module docstring)
    dec = lambda c: c.cast("decimal(38,0)")
    tf_n = dec(F.col("tf"))
    a = dec(idf_map[F.col("term")]) * 22 * tf_n * sum_dl
    b = 1000 * (10 * tf_n * sum_dl + 3 * sum_dl
                + 9 * dec(F.col("dl")) * n_docs)

    scored = (tf.join(F.broadcast(qdf), "term")
              .select("query_id", "doc_id", a.alias("a"), b.alias("b"))
              .groupBy("query_id", "doc_id")
              .agg(F.sum(F.expr("(2 * a + b) div (2 * b)"))
                   .alias("score_micro")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id"))
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= BM25_TOPK)
            .select("query_id", "rank", "doc_id", "score_micro")
            .orderBy("query_id", "rank"))
