"""Benchmark harness. Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec}, "sf": <sf>, "docs_per_sec": ...}

Env knobs:
  SPARK_GRAFT_SF_DIR   input dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[] parallelism (default: the host's cores)
  SPARK_GRAFT_SCALING  if set, additionally run the flagship extract at
                       local[8] and local[32] on the SAME cached corpus
                       (media store copied to tmpfs, removed after),
                       interleaved over 2 rounds, and report best-of
                       throughput at both + scaling efficiency (the
                       single-host substitute for the N-vs-4N-executor
                       criterion; see BASELINE.md). On a 4-core host:
                       SPARK_GRAFT_SCALING=1 SPARK_GRAFT_SCALING_PAIR=2,8
                       python bench.py
  SPARK_GRAFT_HTML_SCALING  same N-vs-4N study for the HTML/DOM
                       main-content extraction (200k tiled pages)
  SPARK_GRAFT_SKEW     hot-doc salting study (pathological span counts)
  SPARK_GRAFT_STRESS   dedup/ANN stress at ~52.5k docs with a planted
                       hot band + cluster formation
  SPARK_GRAFT_SCALING_PAIR  "lo,hi" cores for the scaling studies
                       (default "8,32")

Corpus synthesis is cached under .cache/ and excluded from timings —
the benchmark measures the extraction/query jobs, not data generation.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from paddleocr_spark.corpus import docs_schema  # noqa: E402
from paddleocr_spark.session import default_parallelism  # noqa: E402
from paddleocr_spark.sources.tables import load_table, table_rows  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_parallelism()
# override corpus size (docs); default = |documents| at SF_DIR
NDOCS = int(os.environ.get("SPARK_GRAFT_NDOCS", "0")) or None

BENCH_QUERIES = [
    "extract_full",
    "extract_media_fragments",
    "corpus_det_metric",
    "clean_boilerplate",
    "quality_scores",
    "table_master_html",
    "ser_entities",
    "re_pairs",
    "ser_token_metric",
    "kie_node_metric",
    "ct_metric",
    "repetition_scores",
    "bpe_token_stats",
    "html_main_content",
    "html_links",
    "html_pagerank",
    "redact_pii",
    "benchmark_contamination",
    "stratified_sample",
    "token_budget_mix",
    "curated_corpus",
    "exact_dedup",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "near_dup_pairs",
    "duplicate_clusters",
    "fuzzy_dedup_survivors",
    "simhash32",
    "simhash_near_dups",
    "cosine_topk_bruteforce",
    "cosine_topk_lsh",
    "cosine_topk_ivf",
    "cosine_topk_ivf_refined",
    "embedding_near_dups",
    "rec_metric_pairs",
    "training_stats",
    "pricing_summary",
    "bucketed_join_agg",
    "partitioned_events_agg",
    "revenue_by_region",
    "top_customers_per_nation",
    "event_sessions",
    # full-coverage tail: every remaining queries() entry, so the
    # per-round bench times the ENTIRE 59-query surface (the fixture-
    # store queries synthesize their deterministic stores on first
    # call; that one-time cost is visible in their first-run figure)
    "sampled_union",
    "filter_lang_length",
    "token_stats",
    "corpus_profile",
    "fingerprints",
    "event_hourly",
    "event_type_majority",
    "threshold_sweep",
    "corpus_rec_metric",
    "cls_cnt_metric_pairs",
    "det_iou_metric",
    "kie_re_metric",
    "e2e_metric",
    "sr_metric",
    "can_metric",
    "table_structure_metric",
    "pubtab_valid",
    "pgnet_labels",
    "sr_pairs_filtered",
    "paged_store_pages",
    "audio_features",
    "video_frames",
]


def _storage_memory_used(spark) -> int:
    """Bytes of block-manager storage memory currently used across the
    (local-mode: single) executor — the suite's cache-lifecycle
    metric. Reads the driver's own BlockManager via the JVM handle;
    returns -1 if the internal API moves."""
    try:
        status = (spark.sparkContext._jsc.sc().env().blockManager()
                  .master().getStorageStatus())
        return int(sum(s.memUsed() for s in status))
    except Exception:
        return -1


def _warm_workers(spark, cores: int) -> None:
    """Pre-fork python workers and pay their import cost (pyarrow +
    the kernels) outside the timings."""

    def warm(batches):
        import pyarrow  # noqa: F401

        import paddleocr_spark.extract_core  # noqa: F401

        yield from batches

    (spark.range(cores * 4).repartition(cores * 4)
     .mapInArrow(warm, schema="id long")
     .write.mode("overwrite").format("noop").save())


def _sf_of(path: str) -> float:
    name = os.path.basename(path.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


# tmpfs store copies made by the current scaling study
_TMPFS_COPIES: set = set()


def _tmpfs_media(media_path: str) -> str:
    """Copy the media store to tmpfs for the scaling study. The sandbox
    VM's single virtio disk sustains ~40 MB/s cold reads — a fixed
    budget that one process saturates, flattening any CPU scaling. A
    real N-executor cluster reads from object storage whose aggregate
    bandwidth scales with N; tmpfs emulates that property so the study
    measures the JOB's scalability, not this VM's disk. There is no
    disk fallback: a store that does not fit in /dev/shm fails the
    study (a partial copy is removed) rather than mixing disk-bound
    runs into it. The copy is reused by every run of one study and
    removed when the study ends (``_TMPFS_COPIES``)."""
    import shutil

    from paddleocr_spark.functions.udfs import manifest_path

    def copy(src, dst):
        _TMPFS_COPIES.add(dst)
        if not os.path.exists(os.path.join(dst, "_SUCCESS")):
            shutil.rmtree(dst, ignore_errors=True)
            try:
                shutil.copytree(src, dst)
            except OSError:
                shutil.rmtree(dst, ignore_errors=True)
                raise

    # key by the versioned cache dir (…/v5_seed42_nN/media) so fixture
    # schema bumps never reuse a stale copy
    version = os.path.basename(os.path.dirname(media_path.rstrip("/")))
    dst = f"/dev/shm/paddleocr_media_{version}"
    copy(media_path, dst)
    # relocate the manifest sibling too (file names are relative, so
    # the copied manifest plans the copied store)
    if os.path.exists(os.path.join(manifest_path(media_path), "_SUCCESS")):
        copy(manifest_path(media_path), manifest_path(dst))
    return dst


def _run_extract_throughput(master_cores: int, n_docs: int) -> float:
    """Fresh session at local[N]; returns STEADY-STATE docs/sec for the
    flagship extract job over the cached corpus: workers pre-forked, one
    untimed warm pass (fork/import ramp, page cache), then the timed
    pass. A settle delay after stop() keeps the next session from
    contending with this JVM's shutdown."""
    import __spark_entry__ as entry_mod
    from paddleocr_spark.session import get_spark

    spark = get_spark(f"bench_scaling_{master_cores}",
                      master=f"local[{master_cores}]",
                      shuffle_partitions=master_cores)
    try:
        docs_path, media_path = entry_mod.corpus_paths(spark, SF_DIR,
                                                       n_docs=n_docs)
        media_path = _tmpfs_media(media_path)
        from paddleocr_spark.operators.extract import extract_spans

        _warm_workers(spark, master_cores)
        docs = spark.read.schema(docs_schema()).parquet(docs_path)
        extract_spans(docs, media_path).write.mode("overwrite") \
            .format("noop").save()  # warm pass, untimed
        t0 = time.time()
        extract_spans(docs, media_path).write.mode("overwrite") \
            .format("noop").save()
        dt = time.time() - t0
        return n_docs / dt
    finally:
        spark.stop()
        time.sleep(10)


def _run_skew_study() -> dict:
    """Skew evidence (north rule: "salted repartitioning handles
    skew"): a corpus with pathological ~10^5-span documents, extracted
    with the plain per-doc window (salt_width=0, the straggler
    baseline) and with the salted two-phase ordering. Reports wall
    times, output-equality checksum, and the exact rows-per-sort-task
    distribution for both (per-doc counts for the plain window, per
    (doc, offset-bucket) counts for the salted path)."""
    import __spark_entry__ as entry_mod
    from paddleocr_spark.corpus import synthesize_docs, synthesize_media
    from paddleocr_spark.functions.udfs import write_store_manifest
    from paddleocr_spark.operators.extract import SALT_WIDTH, extract_spans
    from paddleocr_spark.session import get_spark
    from pyspark.sql import functions as F

    base, patho, pspans = 2000, 2, 100_000
    spark = get_spark("bench_skew", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    try:
        root = os.path.join(entry_mod.CACHE_ROOT,
                            f"skew_v1_s{entry_mod.SEED}_b{base}"
                            f"_p{patho}x{pspans}")
        docs_path = os.path.join(root, "docs")
        media_path = os.path.join(root, "media")
        if not os.path.exists(os.path.join(media_path, "_SUCCESS")):
            docs = synthesize_docs(spark, base, seed=entry_mod.SEED,
                                   heavy_frac=0.01, patho_docs=patho,
                                   patho_spans=pspans)
            docs.write.mode("overwrite").parquet(docs_path)
            docs = spark.read.schema(docs_schema()).parquet(docs_path)
            media = synthesize_media(spark, docs, seed=entry_mod.SEED,
                                     partitions=64)
            media.write.mode("overwrite").parquet(media_path)
            write_store_manifest(spark, media_path)
        _warm_workers(spark, CPUS)
        docs = spark.read.schema(docs_schema()).parquet(docs_path)

        res: dict = {"n_docs": base + patho, "patho_docs": patho,
                     "patho_spans": pspans, "salt_width": SALT_WIDTH}
        sums = {}
        for label, salt in (("window", 0), ("salted", SALT_WIDTH)):
            out = extract_spans(docs, media_path, salt_width=salt)
            out.write.mode("overwrite").format("noop").save()  # warm
            t0 = time.time()
            out.write.mode("overwrite").format("noop").save()
            res[f"wall_sec_{label}"] = round(time.time() - t0, 2)
            # order-independent xor checksum (a long sum overflows
            # under ANSI mode)
            sums[label] = out.agg(F.expr(
                "bit_xor(xxhash64(doc_id, order, kind, text, media_ref))"
            ).alias("s")).collect()[0]["s"]
        res["outputs_equal"] = sums["window"] == sums["salted"]

        # exact sort-task loads: plain window = all rows of a doc in
        # one task; salted = rows per (doc, offset-bucket)
        dbg = extract_spans(docs, media_path, keep_offset=True)
        per_doc = dbg.groupBy("doc_id").count()
        per_bkt = dbg.groupBy(
            "doc_id", F.floor(F.col("offset") / SALT_WIDTH)).count()
        for label, d in (("window", per_doc), ("salted", per_bkt)):
            stats = d.agg(
                F.max("count").alias("mx"),
                F.expr("percentile_approx(count, 0.5)").alias("med"),
            ).collect()[0]
            res[f"max_task_rows_{label}"] = int(stats["mx"])
            res[f"median_task_rows_{label}"] = int(stats["med"])
        return res
    finally:
        spark.stop()
        time.sleep(5)


def _run_stress_study() -> dict:
    """Dedup/ANN stress at ~52.5k docs with a planted hot band: the
    sf0.1 documents tiled 10× (suffix-varied → distinct content) plus
    2,500 IDENTICAL boilerplate docs (5%) — every copy shares all 16
    band hashes, the adversarial hot-band case. Reports stage times,
    candidate counts for the naive band join vs the exact-dedup-first
    composition, band-key occupancy, and the per-task row distribution
    of the composed join (straggler evidence)."""
    from paddleocr_spark.operators._cache import release
    from paddleocr_spark.operators.dedup import (
        _band_hashes,
        _signatures,
        lsh_candidate_pairs_df,
    )
    from paddleocr_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("bench_stress", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    try:
        base = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
        tiles = [base.select((F.col("doc_id") + 100_000 * k)
                             .alias("doc_id"),
                             F.concat("text", F.lit(f" variant {k}"))
                             .alias("text"))
                 for k in range(10)]
        tiled = tiles[0]
        for t in tiles[1:]:
            tiled = tiled.unionByName(t)
        boiler = spark.range(2500).select(
            (F.col("id") + 5_000_000).alias("doc_id"),
            F.lit("cookie consent banner please accept our cookie "
                  "policy and subscribe to our newsletter all rights "
                  "reserved terms of use apply").alias("text"))
        corpus = tiled.unionByName(boiler)
        corpus.persist()
        n = corpus.count()
        _warm_workers(spark, CPUS)
        res: dict = {"n_docs": n, "hot_group": 2500}

        t0 = time.time()
        _signatures(F, corpus).write.mode("overwrite") \
            .format("noop").save()
        res["sig_sec"] = round(time.time() - t0, 2)

        for label, exact_first in (("naive", False),
                                   ("exact_first", True)):
            t0 = time.time()
            pairs = lsh_candidate_pairs_df(corpus,
                                           exact_first=exact_first)
            pairs = pairs.persist()
            res[f"cand_pairs_{label}"] = pairs.count()
            res[f"cand_sec_{label}"] = round(time.time() - t0, 2)
            if exact_first:
                # straggler evidence: rows per task of the band join
                dist = (pairs.groupBy(F.spark_partition_id()
                                      .alias("p")).count()
                        .agg(F.max("count").alias("mx"),
                             F.expr("percentile_approx(count, 0.5)")
                             .alias("med")).collect()[0])
                res["join_task_rows_max"] = int(dist["mx"])
                res["join_task_rows_median"] = int(dist["med"])
            pairs.unpersist()
            release(spark)

        # band-key occupancy: the skew the exact-first pass removes
        occ = (_band_hashes(F, _signatures(F, corpus))
               .groupBy("band", "band_hash").count()
               .agg(F.max("count").alias("mx"),
                    F.expr("percentile_approx(count, 0.5)").alias("med"))
               .collect()[0])
        res["band_occupancy_max_naive"] = int(occ["mx"])
        res["band_occupancy_median"] = int(occ["med"])

        # cluster formation at stress scale: connected components over
        # the exact-first candidate graph — the full fuzzy-dedup path
        # (signatures → bands → candidates → components) at 52.5k docs
        from paddleocr_spark.operators.graph import _star

        t0 = time.time()
        pairs = lsh_candidate_pairs_df(corpus, exact_first=True).persist()
        labels, rounds = _star(pairs, "doc_a", "doc_b")
        res["cluster_nodes"] = labels.count()
        cstats = (labels.groupBy("label").count()
                  .agg(F.count("*").alias("ncl"),
                       F.max("count").alias("mx")).collect()[0])
        res["cluster_sec"] = round(time.time() - t0, 2)
        res["cluster_rounds"] = rounds
        res["n_clusters"] = int(cstats["ncl"])
        res["max_cluster_size"] = int(cstats["mx"])
        pairs.unpersist()
        release(spark)

        corpus.unpersist()
        return res
    finally:
        spark.stop()
        time.sleep(5)


def _run_html_throughput(master_cores: int) -> dict:
    """Fresh session at local[N]: steady-state pages/sec for the DOM
    main-content extraction over a 40x-tiled 200k-page corpus (the
    sf0.1 documents replicated with shifted ids into a temp documents
    table, so the html queries' sf_dir contract holds). One untimed
    warm pass, then the timed pass — the N-vs-4N evidence for the
    north rule's named HTML/DOM operator."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from paddleocr_spark.operators.html_extract import html_main_content
    from paddleocr_spark.session import get_spark

    spark = get_spark(f"bench_html_{master_cores}",
                      master=f"local[{master_cores}]",
                      shuffle_partitions=master_cores)
    tmp = tempfile.mkdtemp(prefix="html_scale_")
    try:
        base = load_table(spark, SF_DIR, "documents")
        tiles = [base.select((F.col("doc_id") + 1_000_000 * k).alias("doc_id"),
                             *[c for c in base.columns if c != "doc_id"])
                 for k in range(40)]
        tiled = tiles[0]
        for t in tiles[1:]:
            tiled = tiled.unionByName(t)
        # write enough splits that BOTH parallelism levels have
        # abundant tasks — a ~10-file corpus caps the scan at 10
        # tasks and silently flattens the local[32] measurement
        tiled.repartition(128).write.mode("overwrite") \
            .parquet(f"{tmp}/documents.parquet")
        n = table_rows(tmp, "documents")
        _warm_workers(spark, master_cores)
        df = html_main_content(spark, tmp)
        df.write.mode("overwrite") \
            .format("noop").save()  # warm pass, untimed
        dt = float("inf")  # best-of-3, same protocol as the extract
        for _ in range(3):  # scaling study (GC/host noise rejection)
            t0 = time.time()
            df.write.mode("overwrite").format("noop").save()
            dt = min(dt, time.time() - t0)
        return {"n_pages": n, "pages_per_sec": round(n / dt, 1)}
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
        time.sleep(10)


def main() -> None:
    import __spark_entry__ as entry_mod
    from paddleocr_spark.session import get_spark

    sf = _sf_of(SF_DIR)
    spark = get_spark("bench", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    n_docs = table_rows(SF_DIR, "documents")
    # warm the corpus cache and python workers outside the timings
    entry_mod.corpus_paths(spark, SF_DIR, n_docs=n_docs)
    _warm_workers(spark, CPUS)

    from paddleocr_spark.operators._cache import release

    # corpus-prep artifacts: persisted tables the queries serve from
    # (link graph, n-gram table, near-dup edges, IVF index). Built and
    # timed SEPARATELY so per-query figures measure the QUERY, not a
    # one-time cache fill — the r03 driver numbers for html_pagerank /
    # benchmark_contamination were 3-8x steady state for exactly this
    # reason. At production scale these are standing tables written by
    # their own jobs; a no-op when already on disk.
    prep: dict[str, float] = {}

    def _prep(name, fn):
        t0 = time.time()
        fn()
        release(spark)
        prep[name] = round(time.time() - t0, 3)

    from paddleocr_spark.operators.curation import build_gram_table
    from paddleocr_spark.operators.dedup import build_near_dup_edges
    from paddleocr_spark.operators.html_extract import (
        build_link_graph_table,
    )
    from paddleocr_spark.operators.similarity import build_ivf_index

    _prep("link_graph_table",
          lambda: build_link_graph_table(spark, SF_DIR))
    _prep("contam_gram_table", lambda: build_gram_table(spark, SF_DIR))
    _prep("near_dup_edge_table",
          lambda: build_near_dup_edges(spark, SF_DIR))
    _prep("ivf_index", lambda: build_ivf_index(spark, SF_DIR))

    queries = entry_mod.queries()
    # full coverage, guaranteed: any queries() entry missing from the
    # hand-ordered list above is appended (alphabetically) rather than
    # silently untimed
    bench_queries = BENCH_QUERIES + sorted(
        set(queries) - set(BENCH_QUERIES))
    timings: dict[str, float] = {}
    peak_storage = 0
    for name in bench_queries:
        t0 = time.time()
        queries[name](spark, SF_DIR).write.mode("overwrite") \
            .format("noop").save()
        timings[name] = round(time.time() - t0, 3)
        peak_storage = max(peak_storage, _storage_memory_used(spark))
        # tracked intermediate caches (kie/dedup eager persists) and
        # the finished query's localCheckpoint blocks don't accumulate
        # across the suite (the noop write above fully materialized
        # the result, so releasing checkpoints is safe)
        release(spark)
    # cache-lifecycle gate: the suite is done issuing queries, so the
    # session-lifetime pins (KIE fragments) are torn down too — after
    # the final release NOTHING may remain resident (a leaked persist
    # would accumulate across a long-lived session exactly as the
    # registry docstring warns)
    release(spark, "session")
    # the remaining blocks (broadcast pieces of the last query's
    # joins) are owned by Spark's async
    # ContextCleaner, which frees them once the JVM/Python references
    # are collected — drive a few GC cycles so `leaked` measures TRUE
    # leaks (unreleasable blocks that would accumulate forever), not
    # cleaner latency. Measured: drains to exactly 0 in <=2 cycles.
    import gc

    leaked = _storage_memory_used(spark)
    for _ in range(5):
        if leaked <= 0:
            break
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(2)
        leaked = _storage_memory_used(spark)

    total = round(sum(timings.values()), 3)
    docs_per_sec = round(n_docs / timings["extract_full"], 1)
    out = {
        "metric": "end-to-end extract + analytics suite wall-clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "prep": prep,
        # prep-inclusive total so round-over-round comparisons stay
        # apples-to-apples with rounds that timed prep inside queries
        # (the r4 cost reclassification): value == query time only,
        # value_with_prep == value + all prep-table builds this run
        "value_with_prep": round(total + sum(prep.values()), 3),
        "sf": sf,
        "n_docs": n_docs,
        "docs_per_sec": docs_per_sec,
        "cpus": CPUS,
        # cache lifecycle over the full suite: highest block-manager
        # storage use observed after any query, and what remains
        # resident after the final release (should be ~0)
        "peak_storage_bytes": peak_storage,
        "leaked_storage_bytes": leaked,
    }
    spark.stop()

    if os.environ.get("SPARK_GRAFT_SKEW"):
        out["skew"] = _run_skew_study()

    if os.environ.get("SPARK_GRAFT_STRESS"):
        out["stress_dedup"] = _run_stress_study()

    if os.environ.get("SPARK_GRAFT_HTML_SCALING"):
        pair = os.environ.get("SPARK_GRAFT_SCALING_PAIR", "8,32")
        lo, hi = (int(x) for x in pair.split(","))
        r_lo = _run_html_throughput(lo)
        r_hi = _run_html_throughput(hi)
        out["html_scaling"] = {
            "n_pages": r_lo["n_pages"],
            f"pages_per_sec_local[{lo}]": r_lo["pages_per_sec"],
            f"pages_per_sec_local[{hi}]": r_hi["pages_per_sec"],
            "efficiency": round((r_hi["pages_per_sec"]
                                 / r_lo["pages_per_sec"]) / (hi / lo), 3),
        }

    if os.environ.get("SPARK_GRAFT_SCALING"):
        pair = os.environ.get("SPARK_GRAFT_SCALING_PAIR", "8,32")
        lo, hi = (int(x) for x in pair.split(","))
        scale_docs = NDOCS or n_docs
        # interleaved (lo, hi, lo, hi) so host noise hits both configs,
        # best-of per config: the protocol of BENCH/scaling_r*.json
        runs: dict[int, list] = {lo: [], hi: []}
        try:
            for _ in range(2):
                for cores in (lo, hi):
                    runs[cores].append(round(
                        _run_extract_throughput(cores, scale_docs), 1))
        finally:
            import shutil

            for d in _TMPFS_COPIES:
                shutil.rmtree(d, ignore_errors=True)
        tp_lo, tp_hi = max(runs[lo]), max(runs[hi])
        out["scaling"] = {
            "n_docs": scale_docs,
            "runs": {f"local[{c}]": v for c, v in runs.items()},
            f"docs_per_sec_local[{lo}]": tp_lo,
            f"docs_per_sec_local[{hi}]": tp_hi,
            "efficiency": round((tp_hi / tp_lo) / (hi / lo), 3),
        }

    print(json.dumps(out))


if __name__ == "__main__":
    main()
