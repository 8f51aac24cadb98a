#!/usr/bin/env python
"""Benchmark harness (driver contract + scaling evidence).

Default mode (what the per-round driver runs):
    python bench.py
prints ONE JSON line:
    {"metric": "total_bench_sec", "value": N, "unit": "sec",
     "queries": {name: sec, ...}, "spread": {name: [min, max], ...},
     "sf": ..., "kg_docs_per_sec": ...}

Every query (including the KG pipeline) runs SPARK_GRAFT_BENCH_RUNS times
(default 3); "queries" reports per-query MEDIANS and "spread" the min/max,
so round-over-round comparisons aren't polluted by the 10-15% single-run
variance measured on this shared box (ROUNDLOG r2 gap 4). "value" is the
sum of the medians (the comparable headline); "wall_sec" is the true
elapsed time of the whole bench including repeats.

Env knobs:
    SPARK_GRAFT_SF_DIR      parquet dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS        local[N] parallelism (default 32)
    SPARK_GRAFT_KG_DOCS     synthetic KG corpus size (default 40000)
    SPARK_GRAFT_BENCH_RUNS  timed runs per query (default 3, median reported)
    SPARK_GRAFT_STRESS_DOCS composed-dedup stress corpus size (default
                            500000; 0 disables the stress stage)

Scaling mode (north_rule: throughput efficiency >= 0.8 from N to 4N
executors; sandboxed as local[4] vs local[16] — see SCALING_PAIR for why):
    python bench.py --scaling [n_docs]
materializes one parquet corpus, runs the KG pipeline at both parallelism
levels in fresh warmed JVMs (sequentially, nothing else running) and writes
BENCH/BASELINE.md. Timings are wall-clock sensitive: do not run other load
concurrently.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("jamie-spark-bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def run_kg_bench(
    spark, n_docs: int, warmup: bool = True, n_runs: int = 1
) -> tuple[list[float], int]:
    """Full KG pipeline on a distributed synthetic corpus; returns
    (per-run seconds, rows).

    The corpus is materialized (cached + counted) BEFORE the clock starts so
    we time the engine, not the generator. ``warmup`` runs the same pipeline
    once on a tiny corpus first so JIT/codegen compilation (measured at
    ~10-15s of cold-JVM variance) doesn't pollute the throughput number —
    on a real cluster executors are long-lived and warm. Each timed run uses
    its own checkpoint dir (resume-skip would make repeat runs free).
    """
    from jamie_spark import fixtures, pipeline

    concepts = fixtures.concept_df(spark)
    if warmup:
        wpages = fixtures.pages_df_distributed(spark, 2000, seed=7).cache()
        wpages.count()
        pipeline.run_kg(wpages, concepts)["canonical_triples"].count()
        wpages.unpersist()

    pages = fixtures.pages_df_distributed(spark, n_docs, seed=42).cache()
    pages.count()
    # one untimed FULL-SIZE pass before the clock: the r04 record showed the
    # first timed run up to 2.4x the median (cold code paths the 2k-doc
    # warmup does not reach at 40k-doc shuffle sizes), which made the
    # kg_pipeline spread — and the headline docs/sec — a JIT artifact
    pipeline.run_kg(
        pages, concepts, checkpoint_dir="/tmp/jamie_bench_ckpt_warm"
    )["canonical_triples"].count()
    times, n = [], 0
    for run in range(n_runs):
        t0 = time.perf_counter()
        result = pipeline.run_kg(
            pages, concepts,
            checkpoint_dir=f"/tmp/jamie_bench_ckpt_main_{run}",
        )
        n = result["canonical_triples"].count()
        times.append(time.perf_counter() - t0)
    pages.unpersist()
    return times, n


def main() -> None:
    from statistics import median

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = int(os.environ.get("SPARK_GRAFT_KG_DOCS", "40000"))
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}

    t0 = time.perf_counter()
    kg_times, kg_rows = run_kg_bench(spark, n_docs, n_runs=n_runs)
    kg_sec = median(kg_times)
    timings["kg_pipeline"] = round(kg_sec, 3)
    spread["kg_pipeline"] = [round(min(kg_times), 3), round(max(kg_times), 3)]

    bench_queries = [
        "q1_pricing",
        "broadcast_dim_join",
        "tumbling_window",
        "skew_salted_agg",
        "sessionization",
        "asof_join",
        "asof_join_fwd",
        "range_count_1h",
        "search_bm25",
        "search_bm25_indexed",
        "sample_events",
        "percentiles",
        "approx_distinct_hll",
        "q3_shipping_topk",
        "q5_regional_revenue",
        "r2_pair_counts",
        "n3_window_top1",
        "e2_eval_prf",
        "e3_rel_strict",
        "e3_rel_relax",
        "e4_mod_family",
        "kg_mentions",
        "kg_triples_window",
        "kg_degrees",
        "kg_two_hop",
        "kg_triangles",
        "kg_pagerank",
        "kg_communities",
        "kg_kcore",
        "kg_entity_sim",
        "kg_entity_sim_zipf",
        "kg_bfs_distances",
        "kg_incremental_canon",
        "kg_negative_sample",
        "kg_snapshot_asof",
        "kg_triple_intervals",
        "kg_triple_provenance",
        "link_edges",
        "link_host_graph",
        "link_host_rank",
        "link_host_rank_weighted",
        "link_anchor_concepts",
        "crawl_budget_hosts",
        "crawl_frontier",
        "kg_snapshot_diff",
        # stream_link_hosts_replay is a correctness vehicle (replay loop
        # over a /tmp store), untimed for the same reason as
        # stream_dedup_replay below
        "kg_pipeline_triples_numpy",
        "approx_percentiles",
        "cms_user_counts",
        "quality_repetition",
        "decontam_overlap",
        "sample_stratified",
        "source_quality_rollup",
        "curation_pipeline",
        "token_budget_sample",
        # stream_dedup_replay is deliberately NOT timed here: it is a
        # correctness vehicle (two full pipeline batches per call, ~20s of
        # fixed stage constants at 80 pages) and folding it in would shift
        # the headline by a constant; the stream stress stage below measures
        # the same loop's real per-batch cost at 5k pages/batch
        "dedup_passages",
        "dedup_passages_cdc",
        "dedup_incremental",
        "token_counts",
        "text_quality",
        "lang_id",
        "quality_filter",
        "dedup_exact",
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "dedup_near_pairs",
        "dedup_clusters",
        "dedup_simhash",
        "dedup_embedding_cosine",
        "doc_fingerprint",
        "sim_cosine_topk",
        "sim_int8_topk",
        "sim_lsh_topk",
        "sim_ivf_topk",
    ]
    qmap = entry_mod.queries()
    for name in bench_queries:
        # drop every cached block BETWEEN queries: pipeline-building entries
        # persist intermediates internally, and by r04 the accumulated cache
        # pressure drifted 10+ UNCHANGED queries 1.2-1.7x slower in-session
        # while isolated runs improved (VERDICT r04 'what's wrong' #2 — the
        # same fix the stress stages got in r04). Intra-query runs stay
        # warm: the median is a warm-query number, the cross-query state is
        # what must not accumulate.
        spark.catalog.clearCache()
        runs = []
        for _ in range(n_runs):
            t = time.perf_counter()
            qmap[name](spark, sf_dir).count()
            runs.append(time.perf_counter() - t)
        timings[name] = round(median(runs), 3)
        spread[name] = [round(min(runs), 3), round(max(runs), 3)]

    # composed-dedup scale stress (run ONCE, not medianed: it exists to
    # evidence near-linear candidate volume under power-law boilerplate at
    # sf1-equivalent size, not to be a low-variance latency signal)
    stress_docs = int(os.environ.get("SPARK_GRAFT_STRESS_DOCS", "500000"))
    stress = {}
    if stress_docs > 0:
        from jamie_spark import fixtures, textstats

        # drop every cached block so stress timings reflect the operators:
        # cache pressure accumulated over 60+ timed queries measurably
        # distorted the memory-hungry stress stages (54s vs 22s isolated,
        # observed r4)
        spark.catalog.clearCache()
        sdocs = fixtures.boilerplate_docs_df(spark, stress_docs).cache()
        sdocs.count()
        t = time.perf_counter()
        n_cand = textstats.minhash_pairs(sdocs).count()
        t_cand = time.perf_counter() - t
        t = time.perf_counter()
        n_pairs = textstats.near_dup_pairs(sdocs).count()
        timings["dedup_stress_pairs"] = round(time.perf_counter() - t, 3)
        t = time.perf_counter()
        textstats.dedup_clusters(sdocs).count()
        timings["dedup_stress_clusters"] = round(time.perf_counter() - t, 3)
        sdocs.unpersist()
        for k in ("dedup_stress_pairs", "dedup_stress_clusters"):
            spread[k] = [timings[k], timings[k]]
        stress = {
            "stress_docs": stress_docs,
            "stress_candidates": n_cand,
            "stress_cand_per_doc": round(n_cand / stress_docs, 3),
            "stress_candidate_sec": round(t_cand, 3),
            "stress_verified_pairs": n_pairs,
        }

        # token-accounting scale stress (r5): token_budget_sample and
        # sequence_pack share the two-phase md5-prefix prefix sum that
        # replaced r4's single-partition window sort — the one scale-killer
        # the r4 verdict found. Stress exactly the shape that killed it:
        # 90% of docs in ONE source (Common Crawl is one source), where the
        # old plan sorted 450k rows in a single task.
        from pyspark.sql import functions as PF

        pdocs = (
            fixtures.boilerplate_docs_df(spark, stress_docs)
            .withColumn(
                "source",
                PF.when(
                    PF.pmod(PF.xxhash64("doc_id", PF.lit(5)), PF.lit(10)) < 9,
                    PF.lit("cc"),
                ).otherwise(
                    PF.concat(
                        PF.lit("s"),
                        PF.pmod(PF.xxhash64("doc_id", PF.lit(7)), PF.lit(5)),
                    )
                ),
            )
            .cache()
        )
        pdocs.count()
        t = time.perf_counter()
        n_kept = textstats.token_budget_sample(
            pdocs, budget=200_000, group_col="source"
        ).count()
        timings["pack_stress_budget"] = round(time.perf_counter() - t, 3)
        t = time.perf_counter()
        textstats.sequence_pack(pdocs, 2048, group_col="source").count()
        timings["pack_stress_sequence"] = round(time.perf_counter() - t, 3)
        # LM-perplexity scale stress (late r5): self-scored bigram model —
        # gram explode + two hash aggs + equi-join scoring. The boilerplate
        # corpus alone is DEGENERATE for an LM (repeated passages -> a tiny
        # distinct-gram model that AQE broadcasts; measured 0.49s at 500k
        # docs, which over-states the operator), so two unique tokens per
        # doc force a corpus-sized model table (>= 2 unique grams/doc) and
        # the join becomes the real shuffle shape; gram cardinality is
        # recorded so the number cannot be over-read
        ldocs = pdocs.select(
            "doc_id",
            PF.concat(
                PF.col("text"), PF.lit(" u"), PF.col("doc_id"),
                PF.lit(" v"), PF.col("doc_id"),
            ).alias("text"),
        )
        t = time.perf_counter()
        lm = textstats.lm_surprisal(ldocs)
        n_lm = lm.count()
        timings["lm_stress_surprisal"] = round(time.perf_counter() - t, 3)
        spread["lm_stress_surprisal"] = [
            timings["lm_stress_surprisal"], timings["lm_stress_surprisal"]
        ]
        stress["lm_docs_scored"] = n_lm
        pdocs.unpersist()
        for k in ("pack_stress_budget", "pack_stress_sequence"):
            spread[k] = [timings[k], timings[k]]
        stress["pack_budget_kept"] = n_kept

        # graph-analytics scale stress: power-law edge set (Zipf-ish heads on
        # both endpoints — the canonical web-KG degree distribution), sized by
        # the same knob. Evidences the degree-ordered triangle orientation and
        # the integer-PageRank iteration shape at hub degrees the sf0.01 word
        # graph never reaches.
        from pyspark.sql import functions as SF

        from jamie_spark import canon, kgstats

        n_edges = stress_docs
        gedges = fixtures.zipf_edges_df(
            spark, n_edges, max(n_edges // 10, 100), num_partitions=cpus
        ).persist()
        gedges.count()
        t = time.perf_counter()
        n_tri = kgstats.triangles(gedges).count()
        timings["graph_stress_triangles"] = round(time.perf_counter() - t, 3)
        t = time.perf_counter()
        kgstats.pagerank_fixed(gedges, iters=3).count()
        timings["graph_stress_pagerank"] = round(time.perf_counter() - t, 3)
        # LPA + k-core under the same hubs (VERDICT r03 #5): both are
        # peel/propagate loops whose per-round shuffle volume under a
        # power-law degree distribution is the open scale question
        t = time.perf_counter()
        kgstats.label_propagation(gedges, iters=3).count()
        timings["graph_stress_lpa"] = round(time.perf_counter() - t, 3)
        t = time.perf_counter()
        kgstats.kcore(gedges, k=3, iters=3).count()
        timings["graph_stress_kcore"] = round(time.perf_counter() - t, 3)
        # r5 additions under the same power-law hubs: bounded BFS from the
        # max-degree hub (frontier blows to hub-degree size in one hop —
        # the worst frontier the operator can meet at this edge count) and
        # incremental CC folding a 10% edge batch into labels computed on
        # the other 90% (per-batch maintenance cost vs the full solve)
        hub = (
            gedges.groupBy("src")
            .agg(SF.count(SF.lit(1)).alias("fan"))
            .orderBy(SF.desc("fan"), "src")
            .first()["src"]
        )
        t = time.perf_counter()
        kgstats.bfs_distances(gedges, hub, max_hops=4).count()
        timings["graph_stress_bfs"] = round(time.perf_counter() - t, 3)
        tagged = gedges.withColumn(
            "tag", SF.pmod(SF.xxhash64("src", "dst", SF.lit(11)), SF.lit(10))
        ).persist()
        tagged.count()
        base_lab = canon.connected_components(
            tagged.where(SF.col("tag") != 0).select("src", "dst"),
            small_graph_edges=0,
        ).persist()
        base_lab.count()
        t = time.perf_counter()
        canon.incremental_components(
            base_lab,
            tagged.where(SF.col("tag") == 0).select("src", "dst"),
            small_graph_edges=0,
        ).count()
        timings["graph_stress_inc_cc"] = round(time.perf_counter() - t, 3)
        base_lab.unpersist()
        tagged.unpersist()
        max_oriented = (
            kgstats.orient(gedges)
            .groupBy("lo")
            .agg(SF.count(SF.lit(1)).alias("fan"))
            .agg(SF.max("fan"))
            .first()[0]
        )
        gedges.unpersist()
        for k in ("graph_stress_triangles", "graph_stress_pagerank",
                  "graph_stress_lpa", "graph_stress_kcore",
                  "graph_stress_bfs", "graph_stress_inc_cc"):
            spread[k] = [timings[k], timings[k]]
        stress.update(
            {
                "graph_edges": n_edges,
                "graph_triangles": n_tri,
                "graph_max_oriented_fanout": max_oriented,
            }
        )

        # link-tier scale stress (r5): the REAL extraction path — the
        # codegen'd <a> scan + URL canonicalization regex chain over raw
        # html at stress_docs pages (the graph stress above uses synthetic
        # Zipf edges; this measures the tier that PRODUCES edges), then the
        # host rollup shuffle over the extracted multigraph, weighted
        # PageRank on it, and one frontier derivation reusing the cached
        # extraction (crawl_frontier's `links` input — the per-cycle
        # scheduler shape), whose cost is the corpus-sized candidate
        # distinct + anti-join + quota prefix sum.
        from jamie_spark import linkgraph

        spark.catalog.clearCache()
        lpages = fixtures.pages_df_distributed(
            spark, stress_docs, seed=77, n_partitions=cpus
        ).persist()
        lpages.count()
        t = time.perf_counter()
        links = linkgraph.extract_links(lpages).persist()
        n_links = links.count()
        timings["link_stress_extract"] = round(time.perf_counter() - t, 3)
        t = time.perf_counter()
        hg = linkgraph.host_graph(links).persist()
        n_host_pairs = hg.count()
        timings["link_stress_hostgraph"] = round(time.perf_counter() - t, 3)
        t = time.perf_counter()
        kgstats.pagerank_weighted(
            hg.select(
                SF.col("src_host").alias("src"),
                SF.col("dst_host").alias("dst"),
                SF.col("n_links").alias("w"),
            ),
            iters=3,
        ).count()
        timings["link_stress_pagerank"] = round(time.perf_counter() - t, 3)
        t = time.perf_counter()
        n_frontier = linkgraph.crawl_frontier(
            lpages, top_hosts=10, per_host_quota=1000, iters=3, links=links
        ).count()
        timings["link_stress_frontier"] = round(time.perf_counter() - t, 3)
        hg.unpersist()
        links.unpersist()
        lpages.unpersist()
        for k in ("link_stress_extract", "link_stress_hostgraph",
                  "link_stress_pagerank", "link_stress_frontier"):
            spread[k] = [timings[k], timings[k]]
        stress.update(
            {
                "link_pages": stress_docs,
                "link_edges_extracted": n_links,
                "link_host_pairs": n_host_pairs,
                "link_frontier_urls": n_frontier,
            }
        )

    # streaming-ingest stress (run once): the production loop —
    # stream_kg_dedup micro-batches near-dup against the persisted
    # signature store before extraction. 4 equal batches where batches 2-4
    # are half mirrors of batch 1: evidences (a) the mirrors actually drop,
    # (b) per-batch wall time does NOT grow with store history (the
    # O(batch + matched rows) claim — the store side is semi-joined to the
    # batch's band keys before any window).
    stream_docs = int(os.environ.get("SPARK_GRAFT_STREAM_DOCS", "20000"))
    if stream_docs > 0:
        import shutil

        # re-imported here (not reusing the stress block's bindings): this
        # block must stand alone when SPARK_GRAFT_STRESS_DOCS=0
        from pyspark.sql import functions as SF

        from jamie_spark import fixtures, streaming

        base = f"/tmp/jamie_bench_stream_{os.getpid()}"
        shutil.rmtree(base, ignore_errors=True)
        in_dir, s_out, s_ck, s_store = (
            f"{base}/in", f"{base}/out", f"{base}/ckpt", f"{base}/store"
        )
        concepts = fixtures.concept_df(spark)
        quarter = stream_docs // 4
        # actual written volume: batch 0 is `quarter`, batches 1-3 are
        # quarter//2 fresh + quarter//2 mirrors each — record the REAL
        # count, not the env knob (they differ when stream_docs % 4 != 0
        # or quarter is odd)
        docs_written = quarter + 3 * 2 * (quarter // 2)
        batch_secs = []
        timed_out = False
        for b in range(4):
            if b == 0:
                pages = fixtures.pages_df_distributed(spark, quarter, seed=100)
            else:
                fresh = fixtures.pages_df_distributed(
                    spark, quarter // 2, seed=200 + b
                ).withColumn(
                    "url", SF.concat(SF.lit(f"https://f{b}.test/"), SF.col("url"))
                )
                mirrors = fixtures.pages_df_distributed(
                    spark, quarter // 2, seed=100
                ).withColumn(
                    "url", SF.concat(SF.lit(f"https://m{b}.test/"), SF.col("url"))
                )
                pages = fresh.unionByName(mirrors)
            pages.coalesce(4).write.mode("append").parquet(in_dir)
            t = time.perf_counter()
            q = streaming.stream_kg_dedup(
                streaming.read_page_stream(
                    spark, in_dir, max_files_per_trigger=9999
                ),
                concepts, s_out, s_ck, s_store,
            )
            finished = q.awaitTermination(600)
            if not finished:
                # do NOT start the next loop iteration against the same
                # checkpoint/store while this query is live — stop it and
                # record the truncation instead of a bogus timing
                q.stop()
                timed_out = True
                batch_secs.append(round(time.perf_counter() - t, 3))
                break
            batch_secs.append(round(time.perf_counter() - t, 3))
        # if batch 0 timed out before ANY signature partition landed, the
        # glob read raises path-not-found and would crash the bench —
        # defeating the point of recording the truncation (ADVICE r04)
        import glob as _glob

        if _glob.glob(f"{s_store}/batch=*"):
            n_surv = spark.read.option("basePath", s_store).parquet(
                f"{s_store}/batch=*"
            ).count()
        else:
            n_surv = 0
        timings["stream_stress_total"] = round(sum(batch_secs), 3)
        spread["stream_stress_total"] = [
            timings["stream_stress_total"], timings["stream_stress_total"]
        ]
        stress.update(
            {
                "stream_docs": docs_written,
                "stream_batch_secs": batch_secs,
                "stream_survivors": n_surv,
                "stream_timed_out": timed_out,
                # mirrors are half of batches 2-4: survivors should be
                # ~docs_written - 3 * quarter/2
                "stream_dropped": docs_written - n_surv,
            }
        )
        shutil.rmtree(base, ignore_errors=True)

    wall = round(time.perf_counter() - t0, 3)
    # headline = sum of per-query MEDIANS only; the single-run stress stages
    # are deliberately excluded (they exist as scale evidence, not as a
    # low-variance latency signal, and they resize with SPARK_GRAFT_*_DOCS —
    # folding them in would break round-over-round comparability)
    stress_keys = {k for k in timings if "_stress_" in k}
    result = {
        "metric": "total_bench_sec",
        "value": round(
            sum(v for k, v in timings.items() if k not in stress_keys), 3
        ),
        "stress_sec": round(
            sum(v for k, v in timings.items() if k in stress_keys), 3
        ),
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "runs_per_query": n_runs,
        "wall_sec": wall,
        "sf": sf_dir,
        "cpus": cpus,
        "kg_docs": n_docs,
        "kg_triples": kg_rows,
        "kg_docs_per_sec": round(n_docs / kg_sec, 1),
        **stress,
    }
    # Driver-record hygiene (VERDICT r03 "what's wrong" #3): the driver
    # captures a bounded stdout TAIL, and r03's full JSON (with per-query
    # spread) overflowed it mid-object. Land the full record on disk, then
    # print a compact line (spread externalized) as the VERY LAST stdout —
    # after spark.stop(), so no JVM shutdown chatter follows it.
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/latest_bench_full.json", "w") as fo:
        json.dump(result, fo, indent=1)
    slim = {k: v for k, v in result.items() if k != "spread"}
    slim["spread_file"] = "BENCH/latest_bench_full.json"
    spark.stop()
    print(json.dumps(slim), flush=True)


CORPUS_PATH = "/tmp/jamie_bench_corpus.parquet"


def materialize_corpus(n_docs: int) -> None:
    """Generate the bench corpus ONCE (distributed) and land it as parquet.

    Both scaling runs then read the identical on-disk input — the sandbox
    analog of the Iceberg pages table, columnar and off-heap (caching 10^6
    rows of html bytes as JVM objects measured as a GC drag)."""
    from jamie_spark import fixtures

    spark = build_spark(32)
    spark.sparkContext.setLogLevel("ERROR")
    fixtures.pages_df_distributed(spark, n_docs, seed=42, n_partitions=64)\
        .write.mode("overwrite").parquet(CORPUS_PATH)
    spark.stop()


def kg_from_parquet(cpus: int, n_docs: int) -> None:
    """Timed KG run over the pre-materialized parquet corpus (one JVM)."""
    from jamie_spark import fixtures, pipeline

    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    concepts = fixtures.concept_df(spark)
    # warm the leg like a long-lived cluster executor (the same lesson the
    # per-query bench learned in r5): ONE untimed full-size pass before the
    # clock. Smaller warmups measurably under-warm — a 2k pass left ~14s
    # and a 200k pass still ~8s of first-full-size-run constants (codegen
    # at real shuffle sizes, python-worker scale-up, JVM heap growth)
    # inside the local[16] clock, which reads as fake anti-scaling: the
    # decomposed stages themselves scale at 0.93 (annotate+checkpoint) —
    # see BENCH/NOTES.md §9. The north rule is about steady-state
    # THROUGHPUT on long-lived executors, so the steady-state run is the
    # honest one to time.
    pages = spark.read.parquet(CORPUS_PATH)
    pipeline.run_kg(pages, concepts,
                    checkpoint_dir=f"/tmp/jamie_warm_ckpt_{cpus}")[
        "canonical_triples"
    ].count()
    t0 = time.perf_counter()
    result = pipeline.run_kg(pages, concepts,
                             checkpoint_dir=f"/tmp/jamie_ckpt_{cpus}")
    n = result["canonical_triples"].count()
    dt = time.perf_counter() - t0
    print(json.dumps({"cpus": cpus, "docs": n_docs, "sec": round(dt, 3),
                      "docs_per_sec": round(n_docs / dt, 1), "triples": n}))
    spark.stop()


def kg_only(cpus: int, n_docs: int) -> None:
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    times, rows = run_kg_bench(spark, n_docs)
    sec = times[0]
    print(json.dumps({"cpus": cpus, "docs": n_docs, "sec": round(sec, 3),
                      "docs_per_sec": round(n_docs / sec, 1), "triples": rows}))
    spark.stop()


#: The two cluster sizes. On one 32-CPU box a python-heavy Spark job uses
#: ~2 threads per task slot (JVM task + python worker); local[32] would
#: oversubscribe and anti-scale (measured), which a real 4N-executor cluster
#: does not do. local[4] vs local[16] keeps slots*2 <= CPUs at both sizes —
#: the honest single-box stand-in for N vs 4N executors.
SCALING_PAIR = (4, 16)


def scaling(n_docs: int) -> None:
    """N vs 4N cores on the identical parquet corpus -> BENCH/BASELINE.md.

    Each leg runs SPARK_GRAFT_SCALING_RUNS times (default 3) in fresh JVMs,
    legs ALTERNATING so slow drift in external load on the shared box hits
    both legs equally; the efficiency is computed from per-leg medians.
    (Single-run pairings measured anywhere from 0.70 to 1.08 on this box —
    the medians are stable at ~0.9; see BENCH/NOTES.md §6.)
    """
    lo, hi = SCALING_PAIR
    n_runs = int(os.environ.get("SPARK_GRAFT_SCALING_RUNS", "3"))
    materialize_corpus(n_docs)
    times: dict[int, list[float]] = {lo: [], hi: []}
    rates: dict[int, list[float]] = {lo: [], hi: []}
    for _ in range(n_runs):
        for cpus in (lo, hi):
            out = subprocess.run(
                [sys.executable, __file__, "--kg-parquet", str(cpus), str(n_docs)],
                capture_output=True, text=True, check=True,
            )
            line = out.stdout.strip().splitlines()[-1]
            r = json.loads(line)
            times[cpus].append(r["sec"])
            rates[cpus].append(r["docs_per_sec"])
            print(line)
    from statistics import median

    t_lo, t_hi = median(times[lo]), median(times[hi])
    eff = (t_lo / t_hi) / (hi // lo)
    runs_lo = ", ".join(f"{t:.1f}" for t in times[lo])
    runs_hi = ", ".join(f"{t:.1f}" for t in times[hi])
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/BASELINE.md", "w") as fo:
        fo.write(
            "# BENCH — measured throughput + scaling efficiency\n\n"
            "Full KG pipeline (extract -> annotate -> link -> canonicalize -> "
            "count) over an identical pre-materialized parquet corpus at two "
            "parallelism levels (sandbox stand-in for N vs 4N executors per "
            "BASELINE.md; no real cluster available). Each Spark task slot of "
            "a python-UDF-heavy job occupies ~2 OS threads (JVM task + python "
            "worker), so the pair is chosen to keep both runs un-oversubscribed "
            f"on the 32-CPU box: local[{lo}] vs local[{hi}].\n\n"
            f"Protocol: one shared on-disk corpus, fresh JVM per run, ONE "
            f"untimed full-size pipeline pass per leg before the clock "
            f"(steady-state executors; first-run JIT/heap-growth constants "
            f"excluded — smaller warmups measurably under-warm, "
            f"BENCH/NOTES.md §9), {n_runs} runs per leg ALTERNATING legs "
            "(shared-box drift hits both legs equally), per-leg medians.\n\n"
            f"| parallelism | docs | runs (sec) | median sec | docs/sec (median) |\n"
            f"|---|---|---|---|---|\n"
            f"| local[{lo}] | {n_docs} | {runs_lo} | {t_lo:.2f} | {n_docs / t_lo:,.0f} |\n"
            f"| local[{hi}] | {n_docs} | {runs_hi} | {t_hi:.2f} | {n_docs / t_hi:,.0f} |\n\n"
            f"**Scaling efficiency (T{lo}/T{hi})/{hi // lo} = {eff:.3f}** "
            f"(north_rule gate: >= 0.8)\n\n"
            "The python inference stage alone (no downstream constants) "
            "measures 0.97 leg-to-leg efficiency (BENCH/NOTES.md §6); the "
            "pipeline number includes the dictionary's driver-side "
            "preparation, which is constant-time by design (it scales with "
            "the DICTIONARY, not the corpus), and the stage checkpoint.\n"
        )
    print(json.dumps({"scaling_efficiency": round(eff, 3),
                      "runs_lo": times[lo], "runs_hi": times[hi]}))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--kg-only":
        kg_only(int(sys.argv[2]), int(sys.argv[3]))
    elif len(sys.argv) > 1 and sys.argv[1] == "--kg-parquet":
        kg_from_parquet(int(sys.argv[2]), int(sys.argv[3]))
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling":
        nd = int(sys.argv[2]) if len(sys.argv) > 2 else int(
            os.environ.get("SPARK_GRAFT_SCALING_DOCS", "3600000")
        )
        scaling(nd)
    else:
        main()
