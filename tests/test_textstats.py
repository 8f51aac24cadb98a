"""Training-data op guards: the document-frequency cap on n-gram Jaccard
(the quadratic-blowup guard for boilerplate shingles)."""

from pyspark.sql import functions as F

from jamie_spark import textstats


def _docs(spark, n=20):
    # every doc shares the boilerplate shingle "x y z"; the tail shingle
    # "y z u{i}" is unique per doc
    return spark.createDataFrame(
        [(i, f"x y z u{i}") for i in range(n)], "doc_id long, text string"
    )


def test_hot_shingle_capped_out(spark):
    """A shingle shared by every document must be dropped by the DF cap —
    without it, k docs sharing one boilerplate shingle produce k^2/2 join
    rows at the self-join (the 100 TB failure mode)."""
    docs = _docs(spark)
    capped = textstats.ngram_jaccard_pairs(docs, n=3, threshold=0.2, max_df=5)
    assert capped.count() == 0  # only the unique tail shingles survive

    uncapped = textstats.ngram_jaccard_pairs(
        docs, n=3, threshold=0.2, max_df=1000
    )
    assert uncapped.count() == 20 * 19 // 2  # all pairs at jaccard 1/3


def test_cap_keeps_low_df_pairs(spark):
    """Docs that are near-dups through low-DF shingles still pair up."""
    rows = [(i, f"x y z u{i}") for i in range(10)]
    rows += [(100, "p q r s t"), (101, "p q r s t")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = textstats.ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_df=5)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs.collect()}
    assert got == {(100, 101): 1.0}


def test_dedup_clusters_transitive(spark):
    """Near-dup CLUSTERS are transitive: 1~2 and 2~3 above threshold merge
    {1,2,3} into one cluster with keeper=1 even though 1~3 alone scores
    0.25 (< threshold); unrelated and unpaired docs stay out."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c d e f g h"),        # ~1 at 0.667
            (3, "c d e f g h j k"),        # ~2 at 0.5, ~1 at 0.25
            (4, "p q r s t u"),
            (5, "p q r s t u"),            # exact dup pair {4,5}
            (9, "z z z unique document"),  # no pairs -> absent
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["cluster_rep"], r["is_keeper"])
        for r in textstats.dedup_clusters(docs, n=3, threshold=0.5).collect()
    }
    assert rows == {
        1: (1, True), 2: (1, False), 3: (1, False),
        4: (4, True), 5: (4, False),
    }


def test_near_dup_pairs_match_exact_on_candidates(spark):
    """Verified shortlist pairs are a subset of the exact path with EQUAL
    jaccard scores (the composition changes recall, never precision)."""
    docs = spark.createDataFrame(
        [(i, f"w{i} x y z common tail {i % 4}") for i in range(30)],
        "doc_id long, text string",
    )
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in textstats.ngram_jaccard_pairs(
            docs, n=3, threshold=0.3
        ).collect()
    }
    composed = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in textstats.near_dup_pairs(docs, n=3, threshold=0.3).collect()
    }
    assert set(composed) <= set(exact)
    for k, v in composed.items():
        assert exact[k] == v
    assert composed, "composition found no pairs on a near-dup-rich corpus"


def test_band_bucket_cap_bounds_candidates_power_law(spark):
    """Scale stress (sf1-equivalent shape): a power-law boilerplate corpus
    whose universal footer shingles create MinHash mega-buckets. The
    MAX_BAND_BUCKET chain-link cap must hold candidate volume near-LINEAR
    in corpus size, where the uncapped band join measurably goes quadratic
    (~96x docs at 20k, ~490x at 100k). The injected every-97th-doc
    near-duplicates must still be recovered through the capped path."""
    from pyspark.sql import functions as F

    from jamie_spark import fixtures

    n = 50_000
    docs = fixtures.boilerplate_docs_df(spark, n).cache()
    try:
        docs.count()
        capped = textstats.minhash_pairs(docs).count()
        assert capped < 4 * n, f"candidates {capped} not near-linear at {n}"

        pairs = textstats.near_dup_pairs(docs)
        expected = len([i for i in range(1, n) if i % 97 == 0])
        found = pairs.where(
            (F.col("doc_b") == F.col("doc_a") + 1)
            & (F.col("doc_b") % 97 == 0)
        ).count()
        assert found >= 0.95 * expected, (found, expected)
    finally:
        docs.unpersist()

    # the blowup the cap prevents, demonstrated at a smaller size so the
    # quadratic query stays affordable in CI
    small_n = 20_000
    small = fixtures.boilerplate_docs_df(spark, small_n).cache()
    try:
        small.count()
        capped_s = textstats.minhash_pairs(small).count()
        uncapped_s = textstats.minhash_pairs(
            small, max_bucket=10**9
        ).count()
        assert uncapped_s > 20 * small_n, "stress corpus lost its teeth"
        assert capped_s < 4 * small_n
    finally:
        small.unpersist()


def test_incremental_dedup_against_store(spark, tmp_path):
    """Production ingest shape: batch B dedups against batch A's persisted
    signatures without re-reading A's text; appending B's signatures lets a
    later batch C find B's docs. Exact copies estimate at 1.0."""
    from pyspark.sql import functions as F

    a_texts = [(i, f"unique alpha document number {i} " + " ".join(
        f"w{i}x{j}" for j in range(12))) for i in range(10)]
    docs_a = spark.createDataFrame(a_texts, "doc_id long, text string")
    store = str(tmp_path / "sigstore")
    textstats.write_signature_store(docs_a, store)

    b_texts = [
        (100, a_texts[3][1]),                 # exact copy of A doc 3
        (101, a_texts[5][1] + " extra tail"), # near copy of A doc 5
        (102, "completely different content " + " ".join(
            f"z{j}" for j in range(14))),
    ]
    docs_b = spark.createDataFrame(b_texts, "doc_id long, text string")
    out = textstats.dedup_incremental(docs_b, store, min_agree=0.2)
    rows = {(r["new_doc_id"], r["stored_doc_id"]): r["est_jaccard"]
            for r in out.collect()}
    assert rows[(100, 3)] == 1.0
    assert any(n == 101 and s == 5 for n, s in rows)
    assert not any(n == 102 for n, s in rows)

    # commit B, then C (copy of a B doc) matches against the grown store
    textstats.write_signature_store(docs_b, store, mode="append")
    docs_c = spark.createDataFrame(
        [(200, b_texts[2][1])], "doc_id long, text string"
    )
    out_c = {(r["new_doc_id"], r["stored_doc_id"]): r["est_jaccard"]
             for r in textstats.dedup_incremental(docs_c, store).collect()}
    assert out_c[(200, 102)] == 1.0


def test_approx_distinct_accuracy_and_determinism(spark):
    """md5-HLL estimate within the standard error envelope of the true
    distinct count, and bit-stable across partitionings (the whole point:
    an engine-exact sketch)."""
    from pyspark.sql import functions as F

    for true_n in (500, 5_000, 40_000):
        df = spark.range(0, true_n * 3).select(
            (F.col("id") % true_n).alias("v")
        )
        row = textstats.approx_distinct(df, "v").first()
        est = row["estimate"]
        assert abs(est - true_n) / true_n < 0.15, (true_n, est)
        row2 = textstats.approx_distinct(df.repartition(17), "v").first()
        assert row2["estimate"] == est  # exact-arithmetic sketch: no drift
    # null-only input: zero estimate via linear counting (all empty)
    nulls = spark.createDataFrame([(None,)], "v string")
    r = textstats.approx_distinct(nulls, "v").first()
    assert r["v_empty"] == r["m"] and r["estimate"] == 0.0


def test_quantile_sketch_merge_property(spark):
    """The 1000-executor contract: sketching two halves independently and
    summing bucket counts must equal sketching the union in one pass —
    associative, order-free merge (what lets a reducer fold partial
    sketches without a second data pass)."""
    from pyspark.sql import functions as F

    rows = [(i % 3, 0.01 + (i * 7919 % 5000) / 13.0) for i in range(2000)]
    df = spark.createDataFrame(rows, "g int, value double")
    a, b = df.where("value < 180"), df.where("value >= 180")
    whole = textstats.quantile_sketch(df, "value", ("g",))
    merged = (
        textstats.quantile_sketch(a, "value", ("g",))
        .unionByName(textstats.quantile_sketch(b, "value", ("g",)))
        .groupBy("g", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    assert sorted(map(tuple, whole.collect())) == sorted(
        map(tuple, merged.collect())
    )


def test_approx_percentiles_error_bound(spark):
    """The estimate is the bucket LOWER bound, so it must not exceed the
    exact empirical (lower) quantile, and must be within the documented
    relative error 1/QS_K plus one tick below it."""
    import math

    rows = [(i % 2, 0.01 + (i * 104729 % 90000) / 37.0) for i in range(5000)]
    df = spark.createDataFrame(rows, "g int, value double")
    got = {
        r["g"]: (r["p50"], r["p90"], r["p99"])
        for r in textstats.approx_percentiles(df, "value", ("g",)).collect()
    }
    by_g = {0: [], 1: []}
    for g, v in rows:
        by_g[g].append(v)
    tick = 1.0 / textstats.QS_SCALE
    rel = 1.0 / textstats.QS_K
    for g, vals in by_g.items():
        vals.sort()
        for qi, q in enumerate((0.5, 0.9, 0.99)):
            exact = vals[math.ceil(q * len(vals)) - 1]
            est = got[g][qi]
            assert est <= exact + 1e-9, (g, q, est, exact)
            assert exact <= est * (1 + rel) + tick + 1e-9, (g, q, est, exact)


def test_approx_percentiles_zero_and_small_values(spark):
    """Zeros land in the reserved -1 bucket and report 0.0; sub-tick values
    floor to tick 0 as well — no log-of-zero edge."""
    df = spark.createDataFrame(
        [(0, 0.0)] * 60 + [(0, 0.004)] * 30 + [(0, 512.0)] * 10,
        "g int, value double",
    )
    row = textstats.approx_percentiles(df, "value", ("g",)).collect()[0]
    assert row["p50"] == 0.0  # 90% of rows are sub-tick
    assert row["p99"] > 400


def test_cms_one_sided_bound_and_merge(spark):
    """CMS guarantees est >= true count for every key (min over rows can
    only over-count via collisions); merging = slot-wise counter sums must
    equal the one-pass sketch (the executor-fold property shared with the
    HLL and quantile sketches)."""
    from pyspark.sql import functions as F

    # skewed key distribution: key i appears ~1000/i times
    rows = [(f"k{i}",) for i in range(1, 40) for _ in range(1000 // i)]
    df = spark.createDataFrame(
        [(j, k) for j, (k,) in enumerate(rows)], "rid long, user string"
    )
    sk = textstats.cms_sketch(df, "user")
    keys = tuple(f"k{i}" for i in range(1, 40)) + ("absent",)
    est = {r["k"]: r["est"] for r in textstats.cms_estimate(sk, keys).collect()}
    true = {f"k{i}": 1000 // i for i in range(1, 40)}
    for k, t in true.items():
        assert est[k] >= t, (k, est[k], t)
    # total over-count across all keys is bounded by collision mass
    assert est["absent"] <= sum(true.values()) // 10

    a, b = df.where("rid < 500"), df.where("rid >= 500")
    merged = (
        textstats.cms_sketch(a, "user")
        .unionByName(textstats.cms_sketch(b, "user"))
        .groupBy("row_id", "slot")
        .agg(F.sum("c").alias("c"))
    )
    assert sorted(map(tuple, sk.collect())) == sorted(
        map(tuple, merged.collect())
    )


def test_repetition_scores_semantics(spark):
    """Templated repetition scores high; natural-ish prose scores 0; docs
    too short to shingle score 0 (not null)."""
    docs = spark.createDataFrame(
        [
            (1, "buy now buy now buy now buy now"),   # heavy 3-gram repeats
            (2, "the quick brown fox jumps over dogs"),  # all distinct
            (3, "too short"),                          # < n words
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in textstats.repetition_scores(docs).collect()}
    assert got[1]["rep_ratio"] > 0.5
    assert got[2]["rep_ratio"] == 0.0
    assert got[3]["n_grams"] == 0 and got[3]["rep_ratio"] == 0.0


def test_decontam_overlap_semantics(spark):
    """A verbatim benchmark leak scores ~1.0, a partial quote scores low,
    disjoint text scores 0."""
    bench = spark.createDataFrame(
        [(100, "the capital of france is paris indeed")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "the capital of france is paris indeed"),      # leak
            (2, "he said the capital of france then left for rome today"),
            (3, "completely unrelated text about gardening tips here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["containment"]
        for r in textstats.decontam_overlap(docs, bench).collect()
    }
    assert got[1] == 1.0
    assert 0.0 < got[2] < 0.5
    assert got[3] == 0.0


def test_sample_stratified_rates_and_determinism(spark):
    """Per-group rates land near their targets, membership is stable across
    calls, and a group's members equal sample_hash at that group's rate
    (the same rule, threshold swapped per stratum)."""
    from pyspark.sql import functions as F

    rows = [(i, ["a", "b"][i % 2]) for i in range(20000)]
    df = spark.createDataFrame(rows, "id long, grp string")
    frac = {"a": 0.3, "b": 0.05}
    s1 = textstats.sample_stratified(df, ("id",), "grp", frac)
    counts = {
        r["grp"]: r["n"]
        for r in s1.groupBy("grp").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert abs(counts["a"] / 10000 - 0.3) < 0.03
    assert abs(counts["b"] / 10000 - 0.05) < 0.015
    # determinism + per-group equivalence with the flat sampler
    ids_a = {r["id"] for r in s1.where("grp = 'a'").collect()}
    flat_a = {
        r["id"]
        for r in textstats.sample_hash(
            df.where("grp = 'a'"), ("id",), 0.3
        ).collect()
    }
    assert ids_a == flat_a


def test_curation_pipeline_stages_prune(spark):
    """Each composed stage must actually remove its targets: the quality
    gate drops the too-short doc, the keeper stage drops the exact dup,
    the repetition ceiling drops the template spam, sampling respects the
    per-source rate (1.0 keeps everything here)."""
    good = (
        "the alpha of beta and gamma in delta to epsilon is zeta "
        "the eta of theta and iota in kappa to lambda is mu nu"
    )  # 24 tokens, all trigrams distinct, stopword-rich
    rows = [
        (1, good, "s1"),                          # good -> kept
        (2, "too short", "s1"),                   # fails min_tokens
        (3, good, "s1"),                          # exact dup of 1 -> dropped
        (4, ("buy now " * 40) + good, "s1"),      # repetition > ceiling
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    kept = {r["doc_id"] for r in textstats.curation_pipeline(docs).collect()}
    assert kept == {1}


def test_token_budget_sample_semantics(spark):
    """Budget is a floor on kept tokens per group: every group's kept set
    reaches >= budget (or everything if the group is smaller), the boundary
    doc is kept, membership is deterministic, and dropping any kept doc
    would leave the prefix under budget (minimality in md5 order)."""
    rows = [(i, " ".join(["w"] * (10 + i % 7)), f"g{i % 3}") for i in range(90)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    budget = 100
    got = textstats.token_budget_sample(docs, budget, group_col="source")
    per_group = {}
    for r in got.collect():
        per_group.setdefault(r["source"], []).append(r)
    assert set(per_group) == {"g0", "g1", "g2"}
    for g, kept in per_group.items():
        kept.sort(key=lambda r: r["cum_tokens"])
        total = kept[-1]["cum_tokens"]
        assert total >= budget  # floor semantics
        # minimal prefix: without its last doc the budget is NOT met
        assert total - kept[-1]["n_tokens"] < budget
    # determinism
    again = textstats.token_budget_sample(docs, budget, group_col="source")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, again.collect()))


def test_token_budget_two_phase_scale_shape(spark):
    """VERDICT r04 'done' bar for the token_budget_sample scale fix: under a
    90%-single-source skew the output is identical to the single-walk
    semantics, and the per-row window partitions by (group, md5-prefix
    BUCKET) — so no window partition can exceed ~1/256th of a source, where
    the r4 plan put a whole source into one sort task."""
    import contextlib
    import hashlib
    import io

    n = 3000
    rows = [
        (i, " ".join(["w"] * (5 + i % 11)), "big" if i % 10 else f"s{i % 3}")
        for i in range(n)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    budget = 700
    out = textstats.token_budget_sample(docs, budget, group_col="source")
    got = sorted(map(tuple, out.collect()))
    # reference semantics: per-group md5-ordered walk, keep while the budget
    # is not yet met BEFORE the doc
    per: dict[str, list] = {}
    for i, text, src in rows:
        k = hashlib.md5(str(i).encode()).hexdigest()
        per.setdefault(src, []).append((k, i, len(text.split())))
    exp = []
    for src, lst in per.items():
        cum = 0
        for _, i, ntok in sorted(lst):
            if cum < budget:
                cum += ntok
                exp.append((i, src, ntok, cum))
    assert got == sorted(exp)
    # plan shape: the per-row window (the one ordering by the md5 key _k)
    # must include the bucket column _b in its partition spec
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(True)
    plan = buf.getvalue()
    row_wins = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "_k#" in ln
    ]
    assert row_wins, "per-row window not found in plan"
    assert all("_b#" in ln for ln in row_wins), row_wins
    # and the skewed source really is split across many buckets
    n_buckets = (
        docs.where("source = 'big'")
        .select(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2))
        .distinct()
        .count()
    )
    assert n_buckets > 100


def test_sequence_pack_assignment(spark):
    """Docs laid end-to-end in md5 order per group: seq_id/seq_offset are the
    integer div/mod of each doc's start offset, contiguous across docs."""
    rows = [(i, " ".join(["w"] * (3 + i % 5)), f"g{i % 2}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = textstats.sequence_pack(docs, 16, group_col="source").collect()
    import hashlib

    per = {}
    for i, text, src in rows:
        k = hashlib.md5(str(i).encode()).hexdigest()
        per.setdefault(src, []).append((k, i, len(text.split())))
    exp = {}
    for src, lst in per.items():
        start = 0
        for _, i, ntok in sorted(lst):
            exp[i] = (src, ntok, start // 16, start % 16)
            start += ntok
    assert len(got) == 40
    for r in got:
        assert exp[r["doc_id"]] == (
            r["source"], r["n_tokens"], r["seq_id"], r["seq_offset"]
        )


def test_pii_scrub_semantics(spark):
    docs = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org and 10.0.0.7 plus 03-1234-5678 done"),
            (2, "address u@1.2.3.4.example.org has an ip inside its domain"),
            (3, "no pii here at all"),
            (4, "version 1.2.3.4 and 255.255.255.255 both count"),
            (5, "bare u@10.0.0.7 is not an email (no alpha tld) so the ip scrubs"),
            (6, "call 012-345-6789@x.com for help"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in textstats.pii_scrub(docs).collect()}
    r1 = got[1]
    assert (r1["n_emails"], r1["n_ips"], r1["n_phones"]) == (1, 1, 1)
    assert r1["scrubbed"] == "mail <EMAIL> and <IP> plus <PHONE> done"
    # email-first ordering: a dotted-quad INSIDE an email's domain scrubs
    # as part of ONE email, and the staged counts agree — the ip count
    # runs on the email-scrubbed text, so those bytes are NOT an ip hit
    # (counts reconcile with the placeholders in `scrubbed`)
    assert got[2]["scrubbed"] == "address <EMAIL> has an ip inside its domain"
    assert got[2]["n_emails"] == 1 and got[2]["n_ips"] == 0
    assert got[3]["scrubbed"] == "no pii here at all"
    assert (got[3]["n_emails"], got[3]["n_ips"], got[3]["n_phones"]) == (0, 0, 0)
    assert got[4]["n_ips"] == 2
    assert got[4]["scrubbed"] == "version <IP> and <IP> both count"
    # an @ at a raw IP is NOT an email by the pattern (no alpha TLD): the
    # ip pass redacts the dotted quad instead — nothing leaks either way
    assert got[5]["n_emails"] == 0 and got[5]["n_ips"] == 1
    assert "<IP>" in got[5]["scrubbed"] and "10.0.0.7" not in got[5]["scrubbed"]
    # a phone-shaped local part consumed by the email replacement is ONE
    # email and ZERO phones — counts must match the emitted placeholders
    # (regression: phone count used to run on raw text and report 1)
    r6 = got[6]
    assert (r6["n_emails"], r6["n_ips"], r6["n_phones"]) == (1, 0, 0)
    assert r6["scrubbed"] == "call <EMAIL> for help"


def test_pii_scrub_idempotent_and_inert_placeholders(spark):
    """Scrubbed text must be a FIXED POINT of pii_scrub — composed curation
    pipelines re-scrub (e.g. a source merged after an earlier compliance
    pass), so a placeholder that re-matched any pattern, or a replacement
    that CREATED a new cross-boundary match, would corrupt text on every
    pass. Adversarial rows place raw digits/@/dots flush against every
    placeholder insertion point."""
    rows = [
        (1, "a@b.co10.0.0.7 and 7.7.7.7-03-1234-5678"),
        (2, "x9@y.org9.9.9.9 03-1234-5678.03-1234-5678@z.io"),
        (3, "digits 123 around 1.2.3.4 456 and 0-0 weird 012-34-567"),
        (4, "<EMAIL> literal placeholder already present u@v.net"),
        (5, "edge @ no-user @x.com and user@ no-domain"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    first = textstats.pii_scrub(docs).select(
        "doc_id", F.col("scrubbed").alias("text")
    )
    second = {
        r["doc_id"]: r for r in textstats.pii_scrub(first).collect()
    }
    scrubbed = {r["doc_id"]: r["scrubbed"] for r in
                textstats.pii_scrub(docs).collect()}
    for did, text in scrubbed.items():
        r2 = second[did]
        assert r2["scrubbed"] == text, (did, text, r2["scrubbed"])
        # nothing left for a second pass to find
        assert (r2["n_emails"], r2["n_ips"], r2["n_phones"]) == (0, 0, 0), (
            did, text, r2
        )


def _py_ilog2_fp(v: int, k: int = 32) -> int:
    e = v.bit_length() - 1
    return e * k + ((v - (1 << e)) * k) // (1 << e)


def test_lm_surprisal_exact_vs_python_reference(spark):
    """Bit-exactness of the integer fixed-point LM against a pure-python
    twin of the same formula — the property that lets the operator
    value-oracle despite being a 'model' score (float ln would differ in
    the last ulp across engines)."""
    texts = {
        1: "the cat sat on the mat",
        2: "the cat sat on the cat",
        3: "a totally different sentence here",
        4: "the",            # 1 token -> no grams
        5: "",               # empty split -> [''] -> 1 token
        6: "the cat the cat the cat",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["surprisal_fp"],
                      r["mean_surprisal_fp"])
        for r in textstats.lm_surprisal(docs).collect()
    }
    # python twin: self-trained bigram counts
    from collections import Counter

    model: Counter = Counter()
    for t in texts.values():
        ws = t.split(" ")
        for i in range(1, len(ws)):
            model[(ws[i - 1], ws[i])] += 1
    ctx: Counter = Counter()
    for (c, _), n in model.items():
        ctx[c] += n
    for did, t in texts.items():
        ws = t.split(" ")
        surps = [
            _py_ilog2_fp(ctx[ws[i - 1]]) - _py_ilog2_fp(model[(ws[i - 1], ws[i])])
            for i in range(1, len(ws))
        ]
        n = len(surps)
        exp = (n, sum(surps), (sum(surps) // n) if n else 0)
        assert got[did] == exp, (did, got[did], exp)
    # every surprisal is non-negative by construction (ctx >= gram count)
    assert all(s >= 0 for _, s, _ in got.values())


def test_lm_surprisal_orders_boilerplate_below_rare_text(spark):
    """The quality-signal claim: under a SHARED context, the frequent
    continuation (boilerplate) scores lower mean surprisal than a rare
    one. (Self-trained MLE scores a context with only ONE observed
    continuation as perfectly predictable — P=1, surprisal 0, regardless
    of frequency — so the fixture gives the context 'of' many
    continuations; the external-reference mode is where globally-rare
    text scores high, pinned in the unseen-paths test.)"""
    rows = [(i, "terms of the service") for i in range(20)]
    rows += [(50 + j, f"terms of x{j} service") for j in range(10)]
    rows += [(100, "terms of the service"),
             (101, "terms of x3 service")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["mean_surprisal_fp"]
           for r in textstats.lm_surprisal(docs).collect()}
    assert got[100] < got[101]


def test_lm_surprisal_external_model_unseen_paths(spark):
    """External train corpus: an unseen gram under a SEEN context scores
    the context's maximum surprisal (count coalesces to 1); a fully
    unseen context scores 0 (uninformative) — both documented."""
    train = spark.createDataFrame(
        [(1, "a b a b a c")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(10, "a b"),      # seen gram: ctx a=5? no: ctx 'a' total, gram (a,b)
         (11, "a z"),      # unseen gram, seen ctx 'a'
         (12, "q z")],     # unseen ctx
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_grams"], r["surprisal_fp"])
           for r in textstats.lm_surprisal(docs, train_docs=train).collect()}
    # train grams: (a,b)x2, (b,a)x2, (a,c)x1 -> ctx a=3, b=2
    sab = _py_ilog2_fp(3) - _py_ilog2_fp(2)
    assert got[10] == (1, sab)
    assert got[11] == (1, _py_ilog2_fp(3) - _py_ilog2_fp(1))
    assert got[12] == (1, 0)
    assert got[11][1] > got[10][1] > got[12][1]


def test_sequence_pack_n_rows_hint_widens_fanout_identically(spark):
    """VERDICT r5 #3: the prefix-sum bucket fan-out is now scale-adaptive —
    a corpus-size hint widens the md5-prefix from 2 to 3+ hex chars (16x
    more window buckets per group) while the emitted packing stays
    bit-identical (the bucket id is a PREFIX of the sort key, so the walk
    order never changes)."""
    import contextlib
    import io
    import re

    rows = [
        (i, " ".join(["w"] * (3 + i % 7)), "big" if i % 5 else f"s{i % 2}")
        for i in range(800)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    base = textstats.sequence_pack(docs, 64, group_col="source")
    hinted = textstats.sequence_pack(
        docs, 64, group_col="source", n_rows=1_000_000_000
    )
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, hinted.collect())
    )
    # the hinted plan buckets on a 3-hex-char prefix (1e9 rows > 16^2 * 1M)
    # of the md5 sort key _k; match that expression, not any substring call
    prefix3 = re.compile(r"substring\(_k(#\d+)?, 1, 3\)")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        hinted.explain(True)
    assert prefix3.search(buf.getvalue()), "prefix_len hint not applied"
    buf2 = io.StringIO()
    with contextlib.redirect_stdout(buf2):
        base.explain(True)
    assert not prefix3.search(buf2.getvalue())


def test_md5_walk_weight_col_equals_weights_frame(spark):
    """The inline weight_col path must reproduce the weights-frame join
    exactly (it replaced a doc_id self-join of the same lineage)."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, "t " * (1 + i % 4)) for i in range(200)],
        "doc_id long, text string",
    )
    w = docs.select(
        "doc_id", (F.col("doc_id") % 7 + 1).cast("long").alias("n_tokens")
    )
    via_frame = textstats._md5_walk_cumsum(docs, [], weights=w)
    via_col = textstats._md5_walk_cumsum(
        docs.select("doc_id", (F.col("doc_id") % 7 + 1).cast("long").alias("wc")),
        [],
        weight_col="wc",
    )
    assert sorted(map(tuple, via_frame.collect())) == sorted(
        map(tuple, via_col.collect())
    )


def _random_signatures(trial: int) -> list:
    """One seeded signature table, its minima prefixed by the trial so
    every trial has its own band buckets inside one Spark call. Minima come
    from a small alphabet, so bands collide and agreement varies; some
    doc_ids have two rows and one row has a null doc_id."""
    import random

    rng = random.Random(trial)
    ids = [trial * 1000 + rng.randrange(100) for _ in range(rng.randint(4, 24))]
    ids += [ids[0], None]
    return [
        (doc_id, *[f"{trial}:{k}:{rng.choice('abc')}"
                   for k in range(textstats.N_MINHASHES)])
        for doc_id in ids
    ]


def _over_cap_signatures() -> list:
    """A band-0 bucket of 70 filler rows below y and x. The fillers agree
    with x on band 0 only (2 of 8 minima); y agrees with x on 4, band 0
    included, and shares no other band with it. Capped at 64 rows, the
    bucket holds fillers only, so x keeps no candidate below it; uncapped,
    y drops x."""
    def sig(doc_id, tail):
        return (doc_id, "cap:0", "cap:1", *tail)

    rows = [sig(i, [f"f{i}:{k}" for k in range(2, 8)]) for i in range(70)]
    rows.append(sig(500, ["y2", "y3", "y4", "y5", "y6", "y7"]))
    rows.append(sig(600, ["y2", "x3", "y4", "x5", "x6", "x7"]))
    return rows


def _distributed_self_dups(sig, min_agree) -> set:
    return {
        r[0]
        for r in textstats.dedup_against_signatures(
            None, sig, min_agree=min_agree, new_sig=sig
        )
        .where(F.col("new_doc_id") > F.col("stored_doc_id"))
        .select("new_doc_id")
        .distinct()
        .collect()
    }


def test_self_dup_doc_ids_matches_distributed_self_match(spark, monkeypatch):
    """The driver twin of the intra-batch self-match gives the distributed
    one's doc_ids on 40 seeded signature tables at once, plus a band
    bucket over MAX_BAND_BUCKET whose cap decides one doc, at three
    agreement floors."""
    rows = [r for trial in range(40) for r in _random_signatures(trial)]
    rows += _over_cap_signatures()
    sig = spark.createDataFrame(rows, textstats.SIG_DDL)
    for min_agree in (0.25, 0.5, 0.75):
        driver = textstats.self_dup_doc_ids(rows, min_agree)
        assert driver == _distributed_self_dups(sig, min_agree), min_agree
    # at 0.5 the cap decides x: it hides y, and no filler verifies
    assert 600 not in textstats.self_dup_doc_ids(rows, 0.5)
    monkeypatch.setattr(textstats, "MAX_BAND_BUCKET", 100)
    assert 600 in textstats.self_dup_doc_ids(rows, 0.5)
