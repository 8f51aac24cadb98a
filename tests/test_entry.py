"""Local replica of the driver's correctness gate: every ``queries()`` entry
runs on Spark at sf0.01 and is compared against its ``oracle_sql()`` twin in
DuckDB — row count, column names, and order-insensitive values."""

import math
import os
import shutil

import duckdb
import pytest

import __spark_entry__ as entry_mod
from jamie_spark import frames

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _normalize(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    return v


def _rows_to_sorted(rows):
    return sorted(tuple(_normalize(v) for v in r) for r in rows)


ORACLED = sorted(set(entry_mod.oracle_sql()) & set(entry_mod.queries()))
ROWS_ONLY = sorted(set(entry_mod.queries()) - set(entry_mod.oracle_sql()))


def test_oracle_keys_subset_of_queries():
    assert set(entry_mod.oracle_sql()) <= set(entry_mod.queries())


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, duck, pinned_rdds, name):
    _assert_matches_oracle(spark, duck, pinned_rdds, name)


def test_stream_dedup_replay_distributed_matches_oracle(
    spark, duck, pinned_rdds, monkeypatch
):
    """stream_dedup_replay again, its dedup micro-batches forced onto the
    distributed branch, into a fresh replay dir so no partition of an
    earlier run can stand in for a missing one."""
    from jamie_spark import streaming

    monkeypatch.setattr(streaming, "SMALL_BATCH_SIG_ROWS", 0)
    shutil.rmtree(f"/tmp/jamie_stream_replay_{os.getpid()}", ignore_errors=True)
    _assert_matches_oracle(spark, duck, pinned_rdds, "stream_dedup_replay")


def _assert_matches_oracle(spark, duck, pinned_rdds, name):
    """Also: the entry and its collect run in one ``frames.scope()``, and
    no RDD they pinned outlives it."""
    q = entry_mod.queries()[name]
    before = pinned_rdds()
    with frames.scope():
        sdf = q(spark, SF_DIR)
        spark_cols = [c.lower() for c in sdf.columns]
        spark_rows = _rows_to_sorted([tuple(r) for r in sdf.collect()])
    assert pinned_rdds() == before, f"{name}: pinned RDDs left behind"

    res = duck.sql(entry_mod.oracle_sql()[name])
    duck_cols = [c.lower() for c in res.columns]
    duck_rows = _rows_to_sorted(res.fetchall())

    assert spark_cols == duck_cols, f"{name}: column mismatch"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    mismatches = [
        (a, b) for a, b in zip(spark_rows, duck_rows) if a != b
    ][:5]
    assert not mismatches, f"{name}: value mismatch {mismatches}"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    sdf = entry_mod.queries()[name](spark, SF_DIR)
    assert sdf.count() > 0, f"{name}: returned no rows"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "subj_id" in df.columns


def test_lsh_topk_recall_floor(spark):
    """LSH-ANN must recover >= 0.8 of the exact top-5 sets (the gate an ANN
    user would accept; defaults measure 0.90 at both sf0.01 and sf0.1)."""
    exact = entry_mod.queries()["sim_cosine_topk"](spark, SF_DIR)
    approx = entry_mod.queries()["sim_lsh_topk"](spark, SF_DIR)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.8, f"LSH top-k recall {recall:.2f} below floor"


def test_ivf_topk_recall_floor(spark):
    """IVF ANN (the second scale flavor next to LSH) must recover >= 0.8 of
    the exact top-5 sets (defaults measure 0.92 at sf0.01, 0.98 at sf0.1)."""
    exact = entry_mod.queries()["sim_cosine_topk"](spark, SF_DIR)
    approx = entry_mod.queries()["sim_ivf_topk"](spark, SF_DIR)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.8, f"IVF top-k recall {recall:.2f} below floor"


def test_sig_impls_identical(spark):
    """The Arrow/numpy signature stage and the JVM fold twin must bucket
    every (vector, table) identically — the determinism guard that lets the
    fast GEMM path share the fold-mirroring DuckDB oracle."""
    from jamie_spark import sim

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = {(r["vec_id"], r["table_id"]): r["bucket"]
         for r in sim.bucket_signatures(emb, impl="arrow").collect()}
    j = {(r["vec_id"], r["table_id"]): r["bucket"]
         for r in sim.bucket_signatures(emb, impl="jvm").collect()}
    assert a == j


def test_adaptive_planes_bound_buckets_at_10x(spark):
    """10x the sf0.1 corpus with NO manual re-tune: planes_for_corpus must
    auto-raise the plane count above the floor, and the resulting max bucket
    must stay within a small multiple of TARGET_BUCKET — the property that
    keeps the candidate join linear on a 100x scale-up. Cross-checked
    against the un-tuned floor config, which must produce strictly bigger
    buckets on the same corpus."""
    from pyspark.sql import functions as F

    from jamie_spark import sim

    n = 20_000  # 10x the sf0.1 embeddings table
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 63), j ->"
            " cast(pmod(xxhash64(id, j), 1000) / 1000.0 - 0.5 as float))"
        ).alias("embedding"),
    )
    derived = sim.planes_for_corpus(n)
    assert derived > sim.N_PLANES  # auto-scaled, no manual re-tune

    def max_bucket(n_planes):
        sig = sim.bucket_signatures(emb, n_planes=n_planes)
        return (
            sig.groupBy("table_id", "bucket")
            .count()
            .agg(F.max("count").alias("m"))
            .first()["m"]
        )

    tuned = max_bucket(derived)
    floor = max_bucket(sim.N_PLANES)
    assert tuned <= 8 * sim.TARGET_BUCKET, (
        f"max bucket {tuned} vs target {sim.TARGET_BUCKET}"
    )
    assert tuned < floor, (derived, tuned, floor)


def test_lsh_pair_recall_and_precision(spark):
    """LSH dedup pairs: subset of the exact >=0.45 pairs (precision 1.0 — the
    verify step is exact) with pair recall >= 0.9."""
    from jamie_spark import sim

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {
        (r["vec_a"], r["vec_b"]): r["score"]
        for r in sim.cosine_pairs(emb, threshold=0.45).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"]): r["score"]
        for r in sim.cosine_pairs_lsh(emb, threshold=0.45).collect()
    }
    assert set(lsh) <= set(exact), "LSH produced a pair the exact path lacks"
    for k, v in lsh.items():
        assert exact[k] == v, f"score mismatch for {k}"
    recall = len(lsh) / len(exact)
    assert recall >= 0.9, f"LSH pair recall {recall:.2f} below floor"


def test_int8_topk_recall_floor(spark):
    """Quantized cosine top-k must keep >= 0.9 recall@5 vs the exact path
    (int8 symmetric quantization typically loses < 2%)."""
    from jamie_spark import sim

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = sim.cosine_topk(emb, n_queries=10, k=5).collect()
    quant = sim.cosine_topk_int8(emb, n_queries=10, k=5).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hit = tot = 0
    for r in quant:
        tot += 1
        hit += r["neighbor_id"] in exact_sets[r["query_id"]]
    assert tot == 50
    assert hit / tot >= 0.9, hit / tot
