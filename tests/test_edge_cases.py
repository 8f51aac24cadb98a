"""Empty/degenerate-input hardening for the round-3 operator families:
every operator must return an empty (or sensible) result, never raise, when
fed zero rows — the state every incremental production run eventually hits.
"""

import datetime as dt

from pyspark.sql import functions as F

from jamie_spark import kgstats, search, temporal, textstats


def _empty_edges(spark):
    return spark.createDataFrame([], "src string, dst string")


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def test_kgstats_empty_graph(spark):
    e = _empty_edges(spark)
    assert kgstats.degrees(e).count() == 0
    assert kgstats.two_hop(e).count() == 0
    assert kgstats.two_hop(e, max_fanout=1).count() == 0
    assert kgstats.triangles(e).count() == 0
    assert kgstats.triangle_count(e) == 0
    assert kgstats.pagerank_fixed(e, iters=2).count() == 0
    assert kgstats.label_propagation(e, iters=2).count() == 0


def test_kgstats_final_ops_empty_graph(spark):
    e = _empty_edges(spark)
    assert kgstats.kcore(e, k=2, iters=3).count() == 0
    assert kgstats.neighbor_jaccard(e).count() == 0


def test_approx_distinct_empty_frame(spark):
    from jamie_spark import textstats

    empty = spark.createDataFrame([], "v string")
    r = textstats.approx_distinct(empty, "v").first()
    assert r["v_empty"] == r["m"] and r["estimate"] == 0.0


def test_asof_forward_empty_right(spark):
    import datetime as dt2

    left = spark.createDataFrame(
        [(1, dt2.datetime(2024, 1, 1), "x")],
        "user_id long, ts timestamp, tag string",
    )
    empty_r = spark.createDataFrame([], "user_id long, ts timestamp, value double")
    out = temporal.asof_join(left, empty_r, direction="forward").collect()
    assert len(out) == 1 and out[0]["value_right"] is None
    import pytest

    with pytest.raises(ValueError, match="direction"):
        temporal.asof_join(left, empty_r, direction="sideways")


def test_kgstats_self_loops_only(spark):
    e = spark.createDataFrame([("a", "a"), ("b", "b")], "src string, dst string")
    # undirected projection drops self-loops -> no triangles/communities
    assert kgstats.triangles(e).count() == 0
    assert kgstats.label_propagation(e, iters=2).count() == 0
    # directed ops still see the loops
    degs = {r["node"]: (r["out_deg"], r["in_deg"]) for r in kgstats.degrees(e).collect()}
    assert degs == {"a": (1, 1), "b": (1, 1)}
    pr = {r["node"] for r in kgstats.pagerank_fixed(e, iters=2).collect()}
    assert pr == {"a", "b"}


def test_search_empty_and_unmatched(spark):
    empty = _empty_docs(spark)
    assert search.bm25_scores(empty, ("spark",)).count() == 0
    assert search.search_topk(empty, ("spark",), k=5).count() == 0
    docs = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    # no document contains any query term -> empty, not an error
    assert search.search_topk(docs, ("zzz",), k=5).count() == 0


def test_search_index_empty_corpus(spark, tmp_path):
    idx = str(tmp_path / "empty_idx")
    search.build_index(_empty_docs(spark), idx)
    assert search.search_index(spark, idx, ("spark",), k=5).count() == 0


def test_temporal_empty_sides(spark):
    schema_l = "user_id long, ts timestamp, tag string"
    schema_r = "user_id long, ts timestamp, value double"
    empty_l = spark.createDataFrame([], schema_l)
    empty_r = spark.createDataFrame([], schema_r)
    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), "a")], schema_l
    )
    # empty right: every left row survives with a null match
    out = temporal.asof_join(left, empty_r).collect()
    assert len(out) == 1 and out[0]["value_right"] is None
    assert temporal.asof_join(empty_l, empty_r).count() == 0
    assert temporal.range_count(
        spark.createDataFrame([], "user_id long, ts timestamp"), 3600
    ).count() == 0


def test_passages_and_sampling_empty(spark):
    empty = _empty_docs(spark)
    assert textstats.common_passages(empty, k=4, stride=2, min_docs=1).count() == 0
    assert textstats.common_passages_cdc(empty, k=4, stride=2, min_docs=1).count() == 0
    assert textstats.sample_hash(
        spark.createDataFrame([], "event_id long"), ("event_id",), 0.5
    ).count() == 0


def test_quantize_zero_vector_excluded(spark):
    from jamie_spark import sim

    emb = spark.createDataFrame(
        [(0, [0.0] * 64), (1, [1.0] * 64), (2, [0.5] * 64), (3, [-1.0] * 64)],
        "vec_id long, embedding array<float>",
    )
    q = {r["vec_id"]: (r["sq"]) for r in sim.quantize_int8(emb).collect()}
    assert q[0] == 0  # zero vector -> all-zero qvec, sq 0
    assert q[1] == 64 * 127 * 127
    topk = sim.cosine_topk_int8(emb, n_queries=4, k=3).collect()
    # zero vector never appears on either side
    assert all(r["query_id"] != 0 and r["neighbor_id"] != 0 for r in topk)
    scores = {(r["query_id"], r["neighbor_id"]): r["score"] for r in topk}
    assert scores[(1, 2)] == 1.0 and scores[(1, 3)] == -1.0


def test_int8_topk_drops_nan_embeddings_like_exact_path_without_them(spark):
    """A NaN element makes max|x| NaN, which Spark orders above every
    number, so the ``amax > 0`` pre-filter alone admits the vector (and the
    NaN -> int cast then fails the query under ANSI). With the isnan guard
    the int8 top-k must equal the exact top-k over the finite rows."""
    from jamie_spark import sim

    finite = [
        (0, [1.0] * 64),
        (2, [0.5] * 64),
        (3, [-1.0] * 64),
        (4, [float(j % 5) - 2.0 for j in range(64)]),
    ]
    schema = "vec_id long, embedding array<float>"
    with_nan = spark.createDataFrame(
        finite + [(1, [float("nan")] + [1.0] * 63)], schema
    )
    quant = sim.cosine_topk_int8(with_nan, n_queries=5, k=3).collect()
    exact = sim.cosine_topk(
        spark.createDataFrame(finite, schema), n_queries=5, k=3
    ).collect()
    assert all(r["query_id"] != 1 and r["neighbor_id"] != 1 for r in quant)
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    quant, exact = sorted(quant, key=key), sorted(exact, key=key)
    assert [(*key(r), r["neighbor_id"]) for r in quant] == [
        (*key(r), r["neighbor_id"]) for r in exact
    ]
    for q, e in zip(quant, exact):
        assert abs(q["score"] - e["score"]) <= 0.01
