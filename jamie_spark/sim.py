"""Similarity search over an embedding column (``array<float>``).

* :func:`cosine_topk` / :func:`cosine_pairs` — brute-force exact paths: the
  correctness baselines (and the recall yardstick for the LSH paths). Dot
  products run as a sequential left fold over the array
  (``aggregate(zip_with(...))``) entirely JVM-side, so results are
  bit-identical to a sequential sum in any engine (the DuckDB oracle uses the
  same index-ordered formula).
* :func:`cosine_pairs_lsh` / :func:`lsh_topk` — random-hyperplane LSH: the
  registered scale paths. Planes are derived deterministically from md5 (no
  RNG, resume-safe — and exactly reproducible in DuckDB, so both are
  value-oracled). The plan shape is the one that survives 100 TB:

  1. signatures: ``n_tables`` × ``n_planes`` sign bits per vector, all
     JVM-side folds against literal plane arrays;
  2. candidates: equi-join on (table_id, bucket) producing ID PAIRS ONLY —
     embeddings are never carried through the candidate/dedup shuffles
     (carrying two 64-float arrays through dropDuplicates was measured as
     the round-1 bottleneck);
  3. verify: attach embeddings once per deduped pair (query side broadcast
     for top-k) and score exactly.

  Recall is tuned by (n_planes, n_tables): OR-amplification over tables.
  ``n_planes`` is AUTO-DERIVED per corpus by default (one cheap count() ->
  :func:`planes_for_corpus`, holding the expected bucket near
  ``TARGET_BUCKET``), so a 100x corpus gets ~7 more planes instead of 100x
  bigger buckets — no manual re-tune. The derived value at both sandbox
  corpora is the floor (4, 16), measuring 0.90 top-5 recall / >=0.97 pair
  recall (tests gate at 0.8); the DuckDB oracle re-derives the same count
  in SQL so the entries stay value-checked at any size.

  Candidate-volume honesty: per-plane collision probability for a pair at
  angle θ is 1 - θ/π, so how much LSH can prune at a given recall is set by
  the THRESHOLD, not the corpus. At this module's test threshold 0.45
  (θ≈63°, p≈0.65/plane) a 0.97-recall config still admits ~50-60% of all
  pairs on the sandbox corpora — the win there is the plan SHAPE (bounded
  buckets, id-only shuffles), which is what survives 10^12 rows. At real
  dedup thresholds (0.9 ⇒ θ≈26°, p≈0.86/plane) the same machinery prunes
  orders of magnitude.
"""

from __future__ import annotations

import logging
from typing import TYPE_CHECKING

from pyspark.sql import Window
from pyspark.sql import functions as F

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

logger = logging.getLogger(__name__)

DIM = 64


def _per_query_topk(scored: "DataFrame", k: int) -> "DataFrame":
    """Shared per-query rank tail: (query_id, rank, neighbor_id, score),
    ties by neighbor_id — the ONE copy of the ranking contract every ANN
    entry point (exact, LSH, IVF, int8) returns through, so a tie-break or
    rounding change cannot silently diverge one variant."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


def _dot(a: str, b: str) -> "F.Column":
    """Sequential index-ordered dot product of two array<float> columns.

    Deliberately the ``aggregate(zip_with(...))`` fold: an unrolled
    64-term ``0D + a[0]*b[0] + ...`` sum was measured 5x SLOWER (3.3s vs
    0.6s per 1M pairs on this box — 128 independent GetArrayItem calls
    lose to the fold's single array walk), so the fold IS the fast form
    here despite being a higher-order function.
    """
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) ->"
        " cast(x as double) * cast(y as double)), 0D, (acc, v) -> acc + v)"
    )


def _norm(a: str) -> "F.Column":
    return F.sqrt(
        F.expr(
            f"aggregate({a}, 0D, (acc, x) ->"
            " acc + cast(x as double) * cast(x as double))"
        )
    )


def cosine_topk(
    embeddings: "DataFrame", n_queries: int = 10, k: int = 5
) -> "DataFrame":
    """(query_id, rank, neighbor_id, score) — exact brute-force cosine top-k.

    Queries = the first ``n_queries`` vec_ids. Scores rounded to 4 decimals;
    rank ties break on neighbor_id (deterministic).
    """
    base = embeddings.select(
        "vec_id", "embedding", _norm("embedding").alias("n")
    )
    q = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("n").alias("na"),
    )
    c = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("n").alias("nb"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _pair_score().alias("score"))
    )
    return _per_query_topk(scored, k)


def cosine_pairs(embeddings: "DataFrame", threshold: float = 0.45) -> "DataFrame":
    """(vec_a, vec_b, score) — embedding-cosine near-duplicate pairs.

    Exact all-pairs path — the CORRECTNESS/RECALL BASELINE ONLY. The
    registered dedup entry is :func:`cosine_pairs_lsh`; O(n^2) candidate
    generation is a non-starter at corpus scale.

    Scoring is ``dot(a, b) / (norm_a * norm_b)`` with the norms computed once
    per VECTOR and carried as scalars — one fold per pair. (The tempting
    normalize-the-array-first formulation costs 5 folds per pair in practice:
    Catalyst collapses the normalization projection into the join output and
    re-evaluates transform+norm for both sides of every pair — measured 100x
    slower on the sf0.1 bench.) The DuckDB oracle mirrors the formula exactly.
    """
    a, b = (_with_norm(embeddings, f"vec_{s}") for s in ("a", "b"))
    return (
        a.crossJoin(F.broadcast(b))
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", _pair_score().alias("score"))
        .where(F.col("score") >= threshold)
    )


N_PLANES = 4
N_TABLES = 16
#: expected vectors per LSH bucket the auto-tuner aims for: n_planes is
#: derived per corpus so bucket volume (hence candidate-join cost) stays
#: ~linear in corpus size with NO manual re-tune on a 100x scale-up. Single
#: source of truth for the Spark entries AND the DuckDB oracle (which
#: re-derives the same plane count in SQL from COUNT(*)).
TARGET_BUCKET = 200


def planes_for_corpus(n_rows: int, target_bucket: int = TARGET_BUCKET) -> int:
    """n_planes so the expected bucket holds ~target_bucket vectors:
    candidate volume per table is n * bucket_size, so keeping the bucket
    bounded keeps the candidate join linear in corpus size. Floor at
    ``N_PLANES`` (recall tuning below that corpus size is moot). This is
    the default for every LSH entry point when ``n_planes`` is not given —
    derived from one cheap count() (parquet metadata for table scans)."""
    import math

    return max(N_PLANES, math.ceil(math.log2(max(n_rows, 2) / target_bucket)))


def _resolve_planes(
    embeddings: "DataFrame", n_planes: int | None, n_rows: int | None
) -> int:
    """Shared auto-derive gate for every LSH entry point (ADVICE r03): when
    both ``n_planes`` and ``n_rows`` are None, the derivation needs a corpus
    count — an eager job at plan-construction time, which re-executes the
    whole upstream plan if ``embeddings`` is derived and uncached. Log it
    loudly so the extra job is never silent; callers with derived inputs
    should pass ``n_rows`` (known) or ``n_planes`` (pinned)."""
    if n_planes is not None:
        return n_planes
    if n_rows is None:
        logger.warning(
            "sim: auto-deriving n_planes fires an eager count() over the "
            "input now (metadata-cheap for a table scan, a full re-execution "
            "for a derived uncached frame) — pass n_rows= or n_planes= to "
            "skip this job"
        )
        n_rows = embeddings.count()
    return planes_for_corpus(n_rows)


def _plane_component(table: int, p: int, i: int) -> float:
    """Deterministic pseudo-random plane component in [-0.5, 0.5).

    Derived from the first 4 hex digits of md5("t:p:i") — reproducible in any
    engine/language, no RNG state (resume-safe). Computed driver-side and
    shipped as an array literal: planes are constants, so evaluating md5 per
    row (or building 64 nested column adds) would only bloat codegen.
    """
    import hashlib

    hx = hashlib.md5(f"{table}:{p}:{i}".encode()).hexdigest()[:4]
    return (int(hx, 16) % 1000) / 1000.0 - 0.5


def bucket_signatures(
    embeddings: "DataFrame",
    n_planes: int = N_PLANES,
    n_tables: int = N_TABLES,
    impl: str = "arrow",
) -> "DataFrame":
    """(vec_id, table_id, bucket) — one sign-pattern bucket per hash table.

    OR-amplification: ``n_tables`` independent tables of ``n_planes`` planes.
    Fewer planes per table -> coarser buckets -> higher per-table recall;
    more tables -> union of candidates -> higher total recall.

    Two implementations, verified bit-identical on both test corpora
    (``tests/test_entry.py::test_sig_impls_identical``; identical because
    the sign margin — min |dot| ~4e-7 — is ten orders above any summation
    -order noise):

    * ``"arrow"`` (default): one ``mapInArrow`` stage, the whole plane bank
      as a single numpy matmul per Arrow batch. This is the case the brief's
      "UDFs are the slow path ... unless Arrow-vectorized" carve-out exists
      for: 64 interpreted higher-order folds per row lose to one SIMD GEMM
      by ~4x wall-clock (and far more at width).
    * ``"jvm"``: per-plane ``aggregate(zip_with(...))`` folds against
      literal arrays — no Python anywhere; the form the DuckDB oracle
      mirrors expression-for-expression.
    """
    df = embeddings.select("vec_id", "embedding")
    if impl == "arrow":
        return _bucket_signatures_arrow(df, n_planes, n_tables)
    if impl != "jvm":
        raise ValueError(f"unknown impl: {impl!r}")
    rows = []
    for t in range(n_tables):
        sig = None
        for p in range(n_planes):
            plane = F.array(
                *[F.lit(_plane_component(t, p, i)) for i in range(DIM)]
            )
            dot_p = F.aggregate(
                F.zip_with(
                    F.col("embedding").cast("array<double>"),
                    plane,
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            bit = F.when(dot_p > 0, F.lit(2**p)).otherwise(F.lit(0))
            sig = bit if sig is None else sig + bit
        rows.append(
            F.struct(F.lit(t).alias("table_id"), sig.cast("long").alias("bucket"))
        )
    return df.select(
        "vec_id", F.explode(F.array(*rows)).alias("tb")
    ).select(
        "vec_id",
        F.col("tb.table_id").alias("table_id"),
        F.col("tb.bucket").alias("bucket"),
    )


def _bucket_signatures_arrow(
    df: "DataFrame", n_planes: int, n_tables: int
) -> "DataFrame":
    """Arrow/numpy signature stage: (batch x DIM) @ (DIM x n_tables*n_planes)
    in one GEMM, sign bits packed per table. Plane bank built driver-side
    (same md5 constants as the JVM/oracle paths) and shipped by closure."""
    import numpy as np

    bank = np.array(
        [
            [_plane_component(t, p, i) for i in range(DIM)]
            for t in range(n_tables)
            for p in range(n_planes)
        ]
    ).T  # (DIM, n_tables * n_planes)
    powers = 2 ** np.arange(n_planes)

    def sig_batches(batches):
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids = rb.column("vec_id").to_numpy()
            ecol = rb.column("embedding")
            # list<float> -> flat values buffer -> (rows, DIM): zero row-wise
            # Python objects (the to_pydict path materialized every vector as
            # a Python list — measured as the stage's dominant cost). flatten()
            # respects offsets; ragged rows would fail the reshape loudly.
            emb = (
                ecol.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64)
                .reshape(len(ids), -1)
            )
            bits = (emb @ bank > 0).reshape(len(ids), n_tables, n_planes)
            buckets = (bits * powers).sum(axis=2).astype("int64")
            yield pa.RecordBatch.from_pydict(
                {
                    "vec_id": pa.array(np.repeat(ids, n_tables)),
                    "table_id": pa.array(
                        np.tile(np.arange(n_tables, dtype="int32"), len(ids)),
                        pa.int32(),
                    ),
                    "bucket": pa.array(buckets.reshape(-1)),
                }
            )

    return df.mapInArrow(
        sig_batches, schema="vec_id long, table_id int, bucket long"
    )


def candidate_pairs(
    embeddings: "DataFrame",
    n_planes: int | None = None,
    n_tables: int = N_TABLES,
    n_rows: int | None = None,
) -> "DataFrame":
    """(vec_a, vec_b) — deduped same-bucket candidate pairs, IDS ONLY.

    The candidate/dedup shuffles move two longs per row — never the
    embedding payloads. Downstream verification attaches embeddings exactly
    once per surviving pair. ``n_planes=None`` (default) auto-derives from
    the corpus count via :func:`planes_for_corpus` so buckets stay bounded
    at any scale. The derivation fires an EAGER count() at plan-construction
    time — metadata-cheap on a parquet scan, but a full extra execution when
    ``embeddings`` is a derived, uncached frame: pass ``n_rows`` (or
    ``n_planes``) explicitly in that case.
    """
    n_planes = _resolve_planes(embeddings, n_planes, n_rows)
    sig = bucket_signatures(embeddings, n_planes, n_tables)
    # pre-shuffle the NARROW signature rows by the join key: a small
    # embeddings file scans as 1-2 splits, and without this the self-join
    # and the pair-distinct's partial aggregation ran 2-way regardless of
    # cores (measured 42s of the 57s total at sf1.0). Scale-neutral: this
    # is the partitioning the join needs anyway once sig outgrows
    # broadcast, and the shuffle moves 24-byte id rows, never embeddings.
    # The partition count is pinned (AQE would coalesce 7MB of sig rows
    # into 2-3 partitions, blind to the join's 1000x row fan-out) to the
    # cluster's parallelism — a conf-derived value, not a constant.
    sig = sig.repartition(
        embeddings.sparkSession.sparkContext.defaultParallelism,
        "table_id", "bucket",
    )
    return (
        sig.alias("a")
        .join(sig.alias("b"), ["table_id", "bucket"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
    )


def _with_norm(embeddings: "DataFrame", id_alias: str) -> "DataFrame":
    """(id_alias, qe|ce, na|nb) — embedding + precomputed scalar norm."""
    side = "q" if id_alias.endswith("a") else "c"
    return embeddings.select(
        F.col("vec_id").alias(id_alias),
        F.col("embedding").alias(f"{side}e"),
        _norm("embedding").alias(f"n{id_alias[-1]}"),
    )


def _pair_score() -> "F.Column":
    """round(dot(qe, ce) / (na * nb), 4) — one fold per pair."""
    return F.round(_dot("qe", "ce") / (F.col("na") * F.col("nb")), 4)


def cosine_pairs_lsh(
    embeddings: "DataFrame",
    threshold: float = 0.45,
    n_planes: int | None = None,
    n_tables: int = N_TABLES,
    n_rows: int | None = None,
) -> "DataFrame":
    """(vec_a, vec_b, score) — embedding near-dup pairs, LSH-bucketed.

    The registered scale path for embedding dedup: same output contract and
    scoring formula as :func:`cosine_pairs` restricted to LSH candidates
    (pair recall >=0.97 at the test scales). ``n_planes`` defaults to the
    corpus-derived :func:`planes_for_corpus` value — no manual re-tune at
    100x. Candidates are id pairs; embeddings + scalar norms attach once per
    deduped pair for the exact verify.
    """
    cand = candidate_pairs(embeddings, n_planes, n_tables, n_rows=n_rows)
    a, b = (_with_norm(embeddings, f"vec_{s}") for s in ("a", "b"))
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .select("vec_a", "vec_b", _pair_score().alias("score"))
        .where(F.col("score") >= threshold)
    )


N_IVF_CELLS = 16
N_IVF_PROBE = 2


def ivf_cells(
    embeddings: "DataFrame", n_cells: int = N_IVF_CELLS
) -> tuple["DataFrame", "DataFrame"]:
    """(centroids, assignment) — the IVF coarse quantizer.

    Centroids are a deterministic seed sample (the first ``n_cells``
    vectors — no k-means training pass, so the whole structure is
    reproducible in any engine and resume-safe; with clustered corpora the
    Voronoi cells of a random sample already concentrate neighbors, which
    is the IVF bet). Assignment = argmax cosine to a BROADCAST centroid
    table with map-side-combinable ``max_by`` — one narrow shuffle on
    vec_id, no window sort. Returns (centroids(cid, ce, nc),
    cells(vec_id, cell)).
    """
    base = embeddings.select(
        "vec_id", "embedding", _norm("embedding").alias("n")
    )
    centroids = F.broadcast(
        base.where(F.col("vec_id") < n_cells).select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("ce"),
            F.col("n").alias("nc"),
        )
    )
    scored = (
        base.select(
            "vec_id", F.col("embedding").alias("qe"), F.col("n").alias("na")
        )
        .join(centroids.withColumnRenamed("nc", "nb"), how="cross")
        .select(
            "vec_id",
            "cid",
            (_dot("qe", "ce") / (F.col("na") * F.col("nb"))).alias("score"),
        )
    )
    cells = scored.groupBy("vec_id").agg(
        F.max_by(
            "cid", F.struct(F.col("score"), -F.col("cid"))
        ).alias("cell")
    )
    return centroids, cells


def ivf_topk(
    embeddings: "DataFrame",
    n_queries: int = 10,
    k: int = 5,
    n_cells: int = N_IVF_CELLS,
    nprobe: int = N_IVF_PROBE,
) -> "DataFrame":
    """(query_id, rank, neighbor_id, score) — ANN via IVF cell probing:
    each query scans the ``nprobe`` nearest Voronoi cells, then scores
    candidates exactly. The second ANN flavor next to :func:`lsh_topk` —
    IVF wins when the corpus is clustered (cells align with clusters; 0.92+
    top-5 recall at ~12% candidate fraction on the test corpora), LSH wins
    on spread-out data and needs no assignment pass.

    Plan shape: the candidate join moves (query_id, cell) x (vec_id, cell)
    id rows only; embeddings attach once; query side broadcast.
    """
    centroids, cells = ivf_cells(embeddings, n_cells)
    base = embeddings.select(
        "vec_id", "embedding", _norm("embedding").alias("n")
    )
    q_emb = F.broadcast(
        base.where(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("n").alias("na"),
        )
    )
    probe_scores = q_emb.join(
        centroids.withColumnRenamed("nc", "nb"), how="cross"
    ).select(
        "query_id",
        "cid",
        (_dot("qe", "ce") / (F.col("na") * F.col("nb"))).alias("score"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("cid")
    )
    probes = (
        probe_scores.withColumn("pr", F.row_number().over(w_probe))
        .where(F.col("pr") <= nprobe)
        .select("query_id", F.col("cid").alias("cell"))
    )
    cand = (
        F.broadcast(probes)
        .join(cells, "cell")
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    n_emb = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("n").alias("nb"),
    )
    scored = (
        cand.join(n_emb, "neighbor_id")
        .join(q_emb, "query_id")
        .select("query_id", "neighbor_id", _pair_score().alias("score"))
    )
    return _per_query_topk(scored, k)


def lsh_topk(
    embeddings: "DataFrame",
    n_queries: int = 10,
    k: int = 5,
    n_planes: int | None = None,
    n_tables: int = N_TABLES,
    n_rows: int | None = None,
) -> "DataFrame":
    """(query_id, rank, neighbor_id, score) — ANN via same-bucket candidates
    unioned over ``n_tables`` hash tables, then scored exactly.

    Approximate: recall < 1 vs :func:`cosine_topk` by construction (tests
    gate recall at 0.8). ``n_planes`` defaults to the corpus-derived
    :func:`planes_for_corpus` value (derived ONCE from the full corpus —
    both join sides must bucket with the same plane count). Plan shape:
    candidate ids dedup first (no embedding payloads in the shuffle), then
    ONE join attaches neighbor embeddings and the tiny query side arrives
    by broadcast. As in :func:`candidate_pairs`, pass ``n_rows`` when the
    input is a derived, uncached frame (the auto-derive count() would run
    the upstream plan once extra).
    """
    n_planes = _resolve_planes(embeddings, n_planes, n_rows)
    # query-side signatures computed from the TINY query subset (broadcast)
    # rather than by filtering the corpus signature stage: the latter gives
    # the two join sides different subplans above the mapInArrow node, so
    # exchange reuse can't collapse them and the full-corpus GEMM + scan
    # would execute twice. Signatures are per-row deterministic — both
    # derivations bucket identically.
    sig = bucket_signatures(embeddings, n_planes, n_tables)
    qsig = F.broadcast(
        bucket_signatures(
            embeddings.where(F.col("vec_id") < n_queries), n_planes, n_tables
        ).withColumnRenamed("vec_id", "query_id")
    )
    cand = (
        qsig.join(sig.withColumnRenamed("vec_id", "neighbor_id"),
                  ["table_id", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    base = embeddings.select(
        "vec_id", "embedding", _norm("embedding").alias("n")
    )
    q_emb = F.broadcast(
        base.where(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("n").alias("na"),
        )
    )
    n_emb = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("n").alias("nb"),
    )
    scored = (
        cand.join(n_emb, "neighbor_id")
        .join(q_emb, "query_id")
        .select("query_id", "neighbor_id", _pair_score().alias("score"))
    )
    return _per_query_topk(scored, k)


def quantize_int8(embeddings: "DataFrame") -> "DataFrame":
    """(vec_id, qvec, sq) — symmetric per-vector int8 scalar quantization.

    qvec[i] = round(x[i] * 127 / max|x|)  in [-127, 127]; sq = sum(qvec^2)
    (int64, exact). The scale cancels out of the quantized cosine
    (dot_int / sqrt(sq_a * sq_b)), so it is not even stored. Zero vectors
    quantize to all-zero (sq = 0) and are excluded from scoring downstream.

    Why: the embedding column is the widest thing the similarity family ever
    moves — int8 cuts those bytes 4x at a recall cost measured under 2%
    (tests gate recall@5 >= 0.9 vs the exact path). Quantized dots are pure
    int64 folds: engine-exact, hence value-oracle-able like everything else.
    """
    # STAGED projections: the single-select form inlined ``amax`` (an
    # array_max over a transform) into the per-element quantization lambda —
    # O(DIM^2) interpreted work per row — and inlined ``qvec`` again into
    # the sq fold. Materializing each as a column makes every piece compute
    # once per row (CollapseProject never duplicates non-cheap expressions).
    amax = F.array_max(
        F.transform("embedding", lambda x: F.abs(x.cast("double")))
    )
    staged = embeddings.select("vec_id", "embedding", amax.alias("_amax"))
    qvec = F.when(
        F.col("_amax").isNull() | (F.col("_amax") == 0),
        F.transform("embedding", lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            "embedding",
            lambda x: F.round(
                x.cast("double") * 127.0 / F.col("_amax")
            ).cast("int"),
        )
    )
    q = staged.select("vec_id", qvec.alias("qvec"))
    sq = F.aggregate(
        F.col("qvec"),
        F.lit(0).cast("long"),
        lambda acc, v: acc + (v * v).cast("long"),
    )
    return q.select("vec_id", "qvec", sq.alias("sq"))


def cosine_topk_int8(
    embeddings: "DataFrame", n_queries: int = 10, k: int = 5
) -> "DataFrame":
    """(query_id, rank, neighbor_id, score) — brute-force cosine top-k over
    int8-quantized vectors: same contract as :func:`cosine_topk`,
    int64-exact dot products.

    Role: the recall/correctness yardstick for the quantized REPRESENTATION
    (the tests gate recall@5 >= 0.9 against the exact path). The 4x byte
    win of int8 pays off where the representation crosses an exchange or
    lands in storage — candidate-verify joins, ANN shortlists, persisted
    vector tables — NOT in this broadcast top-k, whose candidate side
    streams straight from the scan (a materialization barrier here was
    measured as pure added cost: localCheckpoint +1.3s, repartition +0.4s
    at sf0.1; both rejected). Locally the int fold scores ~2x slower than
    the double fold — the trade is bytes, not FLOPs.
    """
    # zero-vector exclusion happens BEFORE quantization on the equivalent
    # cheap predicate: sq > 0  <=>  max|x| > 0 (the max element quantizes to
    # +-127, so sq >= 127^2; amax null/0 => all-zero qvec => sq = 0). A
    # filter on the computed ``sq`` column is pushed through the projection
    # by substitution, re-inlining the whole quantization into the scan
    # filter — the duplication this rewrite removes (plan-asserted in
    # tests; same row set by the equivalence above). Spark orders NaN above
    # every number, so a NaN element makes amax NaN and ``amax > 0`` true:
    # the isnan guard keeps such vectors out, as the sq > 0 filter did.
    amax = F.array_max(
        F.transform("embedding", lambda x: F.abs(x.cast("double")))
    )
    base = quantize_int8(
        embeddings.where(amax.isNotNull() & (amax > 0) & ~F.isnan(amax))
    )
    q = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("qvec").alias("qa"),
        F.col("sq").alias("sqa"),
    )
    c = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qvec").alias("qb"),
        F.col("sq").alias("sqb"),
    )
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v.cast("long"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot / (F.sqrt(F.col("sqa")) * F.sqrt(F.col("sqb"))), 4
            ).alias("score"),
        )
    )
    return _per_query_topk(scored, k)
