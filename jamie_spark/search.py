"""BM25 keyword search over the documents table.

The retrieval operator a webtext corpus user reaches for first: score every
document against a small bag of query terms with BM25 (Robertson/Sparck
Jones idf in the Lucene `ln(1 + (N - df + .5)/(df + .5))` form, k1/b term
saturation + length normalization).

Scale shape: one explode + two hash aggregations over the corpus (term
frequencies and document lengths), a BROADCAST of the per-term document
frequencies (|query| rows) and of the 1-row corpus stats — the corpus-sized
stream is never shuffled by anything wider than doc_id. Catalyst prunes the
scan to (doc_id, text).

Determinism for the oracle: per-term scores are fixed-pointed to integer
1e-6 units BEFORE the per-document sum, so the aggregation is exact int64
arithmetic — float summation order can never flip a value-hash. (The ln/
division inputs are IEEE-identical in both engines; a 1-ulp libm divergence
would have to land within 5e-13 of a rounding boundary to matter.)
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Sequence

from pyspark.sql import functions as F

from .frames import local_frame

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

#: fixed-point units per score unit — single source for engine and oracle
SCORE_FP = 1_000_000


def _bm25_doc_scores(
    tf_rows: "DataFrame",
    df_t: "DataFrame",
    dl: "DataFrame",
    stats: "DataFrame",
    k1: float,
    b: float,
    term_col: str,
) -> "DataFrame":
    """Shared BM25 scoring tail — the ONE copy of the idf/saturation/
    fixed-point formula, consumed by both the scan path (bm25_scores) and
    the materialized index (search_index) so the two can never drift.
    ``tf_rows`` must carry (doc_id, ``term_col``, tf)."""
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    sat = (
        F.col("tf") * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    term_fp = F.round(idf * sat * SCORE_FP).cast("long")
    return (
        tf_rows.join(F.broadcast(df_t), term_col)
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", term_fp.alias("fp"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("fp") / SCORE_FP, 4).alias("score"))
    )


def _ranked_topk(scored: "DataFrame", k: int) -> "DataFrame":
    """Deterministic (rank, doc_id, score) top-k, ties by doc_id — shared
    by every search entry point. orderBy().limit(k) compiles to
    TakeOrderedAndProject (distributed per-partition top-k, no global
    sort); the rank window runs over only the k survivors."""
    from pyspark.sql import Window

    topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "score"
    )


def bm25_scores(
    docs: "DataFrame",
    terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> "DataFrame":
    """(doc_id, score) for every document matching >= 1 query term.

    score(d) = sum over matched terms t of
        ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
        * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    """
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    # dl feeds two branches (stats + the scoring join) but materializing it
    # measured net-NEGATIVE here (the eager job + exchange cost more than
    # the saved explode; search_bm25 1.1s plain vs 1.7s checkpointed at
    # sf1.0) — the scan path stays lazy; the indexed path is the scale
    # answer for repeated queries
    dl = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        words.where(F.col("w").isin(list(terms)))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    return _bm25_doc_scores(tf, df_t, dl, stats, k1, b, "w")


#: term-hash partition count for the materialized index
INDEX_BUCKETS = 64


def build_index(docs: "DataFrame", path: str, n_buckets: int = INDEX_BUCKETS) -> None:
    """Materialize the inverted index: postings (term, doc_id, tf) PARTITIONED
    by ``bucket = pmod(xxhash64(term), n_buckets)``, plus per-document lengths
    and the 1-row corpus stats.

    The point of the layout: a query for |Q| terms reads ONLY the <= |Q|
    bucket directories (Spark partition pruning on the bucket column), i.e.
    ~|Q|/n_buckets of the index — per-query cost is independent of corpus
    width. Document frequencies are NOT precomputed per term because they
    fall out of the pruned postings read for free (COUNT per term).
    """
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    (
        tf.withColumn(
            "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets))
        )
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{path}/postings")
    )
    dl = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    dl.write.mode("overwrite").parquet(f"{path}/doclen")
    # n_buckets is part of the index's identity: queries MUST bucket terms
    # with the writer's modulus, so it is persisted and validated at read
    dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    ).withColumn("n_buckets", F.lit(n_buckets)).write.mode(
        "overwrite"
    ).parquet(f"{path}/stats")


def search_index(
    spark,
    path: str,
    terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int | None = None,
) -> "DataFrame":
    """Query the materialized index: identical results to :func:`search_topk`
    (asserted by the shared oracle) but the postings scan touches only the
    query terms' hash buckets — the bucket IN-filter is a partition filter,
    so pruning happens at file-listing time, before any I/O.

    ``n_buckets`` is read from the index's stats by default; passing a value
    that disagrees with what the writer used raises instead of silently
    pruning to the wrong buckets (a modulus mismatch would drop matching
    postings with no error)."""
    stats = spark.read.schema("n_docs long, avgdl double, n_buckets int").parquet(
        f"{path}/stats"
    )
    stored = [r["n_buckets"] for r in stats.select("n_buckets").collect()]
    stored_buckets = stored[0] if stored and stored[0] is not None else INDEX_BUCKETS
    if n_buckets is not None and n_buckets != stored_buckets:
        raise ValueError(
            f"index at {path} was built with n_buckets={stored_buckets}, "
            f"query requested {n_buckets}"
        )
    n_buckets = stored_buckets
    bucket_of = {t: None for t in terms}
    # same hash the writer used, evaluated cheaply on a literal frame
    for row in (
        local_frame(spark, [(t,) for t in terms], "term string")
        .select("term", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).alias("b"))
        .collect()
    ):
        bucket_of[row["term"]] = row["b"]
    # explicit schemas: an EMPTY corpus legitimately writes data-less
    # directories (partitionBy emits only _SUCCESS), and schema inference
    # would fail on them — the index must round-trip the degenerate case
    postings = (
        spark.read.schema("doc_id long, term string, tf long, bucket int")
        .option("basePath", f"{path}/postings")
        .parquet(f"{path}/postings")
        .where(F.col("bucket").isin(list(set(bucket_of.values()))))
        .where(F.col("term").isin(list(terms)))
    )
    dl = spark.read.schema("doc_id long, dl long").parquet(f"{path}/doclen")
    stats = stats.select("n_docs", "avgdl")
    df_t = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return _ranked_topk(
        _bm25_doc_scores(postings, df_t, dl, stats, k1, b, "term"), k
    )


def search_topk(
    docs: "DataFrame", terms: Sequence[str], k: int = 10, **kw
) -> "DataFrame":
    """Deterministic top-k: (rank, doc_id, score), ties broken by doc_id
    (shared rank tail — see :func:`_ranked_topk` for the plan rationale)."""
    return _ranked_topk(bm25_scores(docs, terms, **kw), k)
