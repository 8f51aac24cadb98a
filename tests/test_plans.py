"""Physical-plan quality gates: the optimizations we designed for must
actually appear in the executed plans (SURVEY.md §4)."""

import pytest
from pyspark.sql import functions as F

from jamie_spark import fixtures, infer, link, pipeline, textstats


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_lang_filter_pushed_to_parquet_scan(spark, tmp_path):
    """The lang filter must reach the parquet source as a PushedFilter, not
    hide behind the python stage."""
    path = str(tmp_path / "pages")
    fixtures.pages_df(spark, 50, seed=3).write.parquet(path)
    pages = spark.read.parquet(path)
    flat = infer.annotate_pages_flat(pages)
    plan = _plan(flat)
    assert "PushedFilters" in plan
    assert "EqualTo(lang,ja)" in plan.replace(" ", "").replace("'", "") or (
        "lang" in plan.split("PushedFilters")[1][:200]
    )


def test_column_pruning_reaches_scan(spark, tmp_path):
    """The flat stage selects url/html/text — warc_ts must be pruned from
    the scan ReadSchema."""
    path = str(tmp_path / "pages2")
    fixtures.pages_df(spark, 50, seed=3).write.parquet(path)
    pages = spark.read.parquet(path)
    flat = infer.annotate_pages_flat(pages)
    plan = _plan(flat)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "warc_ts" not in read_schema
    assert "url" in read_schema


def test_linking_plan_has_no_dictionary_join(spark):
    """Entity linking never shuffles the mention side against the
    dictionary: the dictionary is collected into a driver-built index, and
    the distinct surfaces probe it in one Arrow pass with no join."""
    surfaces = spark.createDataFrame(
        [("肺癌", "Disease")], "surface string, sem_type string"
    )
    links = link.link_surfaces(
        surfaces, fixtures.concept_df(spark), materialize=False
    )
    plan = _plan(links)
    assert "Join" not in plan
    assert plan.count("MapInArrow") == 1


def test_minhash_band_join_no_python(spark):
    """Dedup LSH must be pure JVM — no python/pandas stages in the plan."""
    docs = spark.createDataFrame(
        [(i, "a b c d e f g h") for i in range(10)],
        "doc_id long, text string",
    )
    plan = _plan(textstats.minhash_pairs(docs))
    assert "Python" not in plan and "ArrowEval" not in plan


def test_lsh_candidate_shuffles_carry_ids_only(spark):
    """The LSH candidate-dedup exchanges must move id pairs, never the
    64-float embedding payloads (the round-1 scale-killer: embeddings were
    duplicated x n_tables and dragged through dropDuplicates)."""
    from jamie_spark import sim

    emb = spark.createDataFrame(
        [(i, [float(i % 7) / 7] * sim.DIM) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    for df in (
        sim.candidate_pairs(emb),
        sim.lsh_topk(emb, n_queries=3, k=2),
        sim.ivf_topk(emb, n_queries=3, k=2, n_cells=4),
    ):
        plan = _plan(df)
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line:
                assert "embedding" not in line and ", qe" not in line and (
                    ", ce" not in line
                ), f"embedding payload in shuffle: {line.strip()}"


def test_whole_stage_codegen_in_quality_scores(spark):
    """The quality-score plan stays JVM-side with codegen spans (the `*(n)`
    markers); higher-order lambda expressions run interpreted but still in
    the JVM — no python stage anywhere."""
    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(10)], "doc_id long, text string"
    )
    plan = _plan(textstats.quality_scores(docs))
    assert "*(1)" in plan
    assert "Python" not in plan


def test_quantile_sketch_no_python_and_partial_agg(spark, tmp_path):
    """The quantile sketch must stay JVM-side (no Python eval node) and its
    count aggregation must map-side combine (partial_count before the
    exchange) — the shape that makes a 1000-executor sketch one small
    shuffle of <= ~64*k cells per group."""
    path = str(tmp_path / "ev")
    spark.createDataFrame(
        [(i % 3, 1.0 + i) for i in range(100)], "g int, value double"
    ).write.parquet(path)
    sk = textstats.quantile_sketch(
        spark.read.parquet(path), "value", ("g",)
    )
    plan = _plan(sk)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan  # map-side combine before the exchange


def test_link_extraction_no_python(spark):
    """The anchor scan over raw crawl HTML must be one codegen'd JVM pass —
    regexp_extract_all + explode + regexp chain, no Python/Arrow stage."""
    from jamie_spark import linkgraph

    pages = fixtures.pages_df(spark, 20, seed=5)
    links = linkgraph.extract_links(pages)
    plan = _plan(links)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "*(1)" in plan  # whole-stage codegen span


def test_anchor_concepts_broadcasts_dictionary(spark):
    """Anchor-text entity linking must broadcast the alias dictionary —
    the anchor-token side (web-sized) must never shuffle for the join."""
    from jamie_spark import linkgraph

    pages = fixtures.pages_df(spark, 20, seed=5)
    links = linkgraph.extract_links(pages)
    df = linkgraph.anchor_concepts(links, fixtures.concept_df(spark))
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    # exchanges may carry the tiny alias distinct (concept_id, tok) and the
    # post-join url/concept rollups — never the anchor TOKEN STREAM (a tok
    # exchange that still carries page urls = the big side shuffled pre-join)
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line and "tok" in line:
            assert "url" not in line, f"token stream shuffled: {line.strip()}"


def test_host_graph_partial_aggregation(spark):
    """The host rollup must map-side combine (partial_count before the
    exchange) — at 1e12 edges the shuffle moves host-pair partials, not
    raw edge rows."""
    from jamie_spark import linkgraph

    pages = fixtures.pages_df(spark, 20, seed=5)
    hosts = linkgraph.host_graph(linkgraph.extract_links(pages))
    plan = _plan(hosts)
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_entity_sim_zipf_no_cartesian(spark):
    """Pair generation on the power-law graph must go through the wedge
    equi-join (shared-neighbor key), never a cartesian product."""
    from jamie_spark import kgstats

    df = kgstats.neighbor_jaccard(
        fixtures.zipf_edges_md5_df(spark, 500, 1000),
        min_shared=2,
        threshold=0.5,
    )
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_int8_quantization_computed_once_per_row(spark):
    """The quantization (array_max + transform) must appear in Project
    nodes only; a Filter containing transform(...) means the sq>0 pushdown
    re-inlined the whole quantization into the scan filter (the r5 plan's
    O(DIM^2)-per-row duplication)."""
    from jamie_spark import sim

    emb = spark.createDataFrame(
        [
            (i, [float((i * 5 + j) % 11) - 5.0 for j in range(sim.DIM)])
            for i in range(20)
        ],
        "vec_id long, embedding array<float>",
    )
    plan = _plan(sim.cosine_topk_int8(emb, n_queries=3, k=2))
    for line in plan.splitlines():
        if "Filter" in line:
            # the cheap amax>0 pre-filter (one array_max per row) is the
            # designed shape; the broken shape carried the full CASE WHEN
            # quantization (and its per-element array_max) in the filter
            assert "CASE WHEN" not in line, (
                "quantization re-inlined into a filter:\n" + line.strip()[:400]
            )


def test_canonical_triples_plan_has_no_sort_merge_join(spark):
    """The canonical join must broadcast the canonical map: neither the
    checkpointed links nor the driver-built map carries statistics, so an
    un-hinted join is planned as a SortMergeJoin with an injected runtime
    bloom filter that aggregates the corpus-sized triples."""
    pages = fixtures.pages_df(spark, 60, seed=11)
    result = pipeline.run_kg(pages, fixtures.concept_df(spark))
    canonical = result["canonical_triples"]
    try:
        assert canonical.count() > 0
        plan = _plan(canonical)  # the final adaptive plan, after the action
        assert "SortMergeJoin" not in plan
        assert "bloom_filter_agg" not in plan
    finally:
        pipeline.release(result)


def test_driver_tables_are_local_relations(spark, tmp_path):
    """Driver-built tables must plan as a JVM ``LocalTableScan``: a
    ``Scan ExistingRDD`` over pickled rows runs Python worker tasks every
    time the frame is evaluated. The "no Python" gates above look for
    ``Python`` in the plan string and cannot see that scan."""
    from jamie_spark import canon, lineage

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    frames = {
        "canonicalize_concepts": canon.canonicalize_concepts(
            fixtures.concept_df(spark)
        ),
        "connected_components": canon.connected_components(edges),
        "read_lineage (missing)": lineage.read_lineage(
            spark, str(tmp_path / "no_such_run")
        ),
    }
    for name, df in frames.items():
        df.collect()
        plan = _plan(df)
        assert "LocalTableScan" in plan, f"{name}:\n{plan}"
        assert "ExistingRDD" not in plan, f"{name}:\n{plan}"
    assert sorted(
        tuple(r) for r in frames["connected_components"].collect()
    ) == [("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")]


def test_lineage_row_reads_back_unchanged(spark, tmp_path):
    """An appended lineage row round-trips field for field, a null modulus
    (ledgers written before it was recorded) included."""
    from jamie_spark import lineage

    base = str(tmp_path / "run")
    written = [
        ("kg_triples", 3, 8, "http://a/", "http://z/", "m:1", 12, 7),
        ("kg_triples", 0, None, "", "http://b/", "m:2", 0, 0),
    ]
    for stage, bucket, n, lo, hi, model, rows, triples in written:
        lineage.append_lineage_row(
            spark, base, stage, bucket, lo, hi, model, rows, triples,
            n_buckets=n,
        )
    back = lineage.read_lineage(spark, base).collect()
    cols = [
        "stage", "bucket", "n_buckets", "url_min", "url_max",
        "model_version", "row_count", "triple_count",
    ]
    assert sorted(tuple(r[c] for c in cols) for r in back) == sorted(written)
    assert all(r["completed_at"] is not None for r in back)
