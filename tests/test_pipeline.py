"""End-to-end Spark pipeline tests: extraction, eval gate, linking,
canonicalization, materialization, lineage/resume."""

import os

import pytest
from pyspark.sql import functions as F

from jamie_spark import (
    canon, concepts, eval as ev, fixtures, graph, infer, link,
    pipeline,
)

N_DOCS = 120
SEED = 42


@pytest.fixture(scope="module")
def corpus(spark):
    pages = fixtures.pages_df(spark, N_DOCS, SEED).cache()
    gold_m, gold_r, gold_t = fixtures.gold_dfs(spark, N_DOCS, SEED)
    return {
        "pages": pages,
        "gold_mentions": gold_m.cache(),
        "gold_relations": gold_r,
        "gold_triples": gold_t.cache(),
        "concepts": fixtures.concept_df(spark).cache(),
    }


@pytest.fixture(scope="module")
def extracted(corpus):
    out = pipeline.run_extraction(corpus["pages"])
    out["annotations"] = out["annotations"].cache()
    return out


def test_extraction_byte_identity_distributed(spark, corpus):
    """N1 invariant through the Arrow UDF path: extracted == reference text."""
    ext = infer.extraction_only(corpus["pages"])
    joined = ext.join(corpus["pages"], "url")
    n_bad = joined.where(F.col("extracted_text") != F.col("text")).count()
    assert n_bad == 0


def test_lang_filter_pushdown(corpus):
    """The lang filter must reach the scan, not hide behind the UDF."""
    plan = infer.annotate_pages(corpus["pages"])._jdf.queryExecution().executedPlan().toString()
    assert "mapInPandas" in plan or "MapInPandas" in plan
    # filter appears below the python stage (it was applied pre-UDF)
    assert "lang" in plan


def test_flat_path_equals_nested_path(spark, corpus, extracted):
    """The Arrow-native hot path must emit exactly the nested path's
    mentions and triples (same decode semantics, different physical plan)."""
    from jamie_spark import mentions as mm

    flat = infer.annotate_pages_flat(corpus["pages"])
    key_m = ["url", "sent_id", "begin_tok", "end_tok", "ner_tag", "mod_tag", "surface"]
    nm = mm.mentions_from_annotations(extracted["annotations"]).select(*key_m)
    fm = mm.mentions_from_flat(flat).select(*key_m)
    assert nm.exceptAll(fm).count() == 0 and fm.exceptAll(nm).count() == 0
    key_t = ["url", "sent_id", "subj_surface", "pred", "obj_surface",
             "subj_tag", "obj_tag", "subj_mod"]
    nt = extracted["triples"].select(*key_t)
    ft = mm.triples_from_flat(flat).select(*key_t)
    assert nt.exceptAll(ft).count() == 0 and ft.exceptAll(nt).count() == 0


def test_unit_decode_failure_drops_whole_unit_in_both_shapes(spark, monkeypatch):
    """A unit whose decode raises part-way (``mod`` shorter than ``ner``:
    the first span decodes, the span ending on the last token does not)
    must yield NO rows in either output shape; other units are untouched.
    The tagger is defined locally so the executor closure ships it by value."""
    from jamie_spark.standin import StandInJointExtractor

    class ShortModTagger:
        subword_vocab = None

        def __init__(self):
            self._inner = StandInJointExtractor()

        def annotate_sentence(self, toks):
            ner, mod, rels, heads = self._inner.annotate_sentence(toks)
            if "破" in toks:
                n = len(toks)
                ner = ["B-d"] + ["O"] * (n - 2) + ["B-d"]
                mod = ["_"] * (n - 1)
            return ner, mod, rels, heads

    pages = spark.createDataFrame(
        [("u0", None, None, "肺癌を認める。破あり。胃癌を認める。", "ja")],
        "url string, warc_ts string, html string, text string, lang string",
    )

    def run():
        nested = sorted(
            (r["sent_id"], r["entities"], r["triples"])
            for r in infer.annotate_pages(pages).collect()
        )
        flat = sorted(map(tuple, infer.annotate_pages_flat(pages).collect()),
                      key=repr)
        return nested, flat

    want_nested, want_flat = run()
    monkeypatch.setattr(infer, "_get_tagger", lambda spec: ShortModTagger())
    got_nested, got_flat = run()
    assert [r[0] for r in got_nested] == [0, 2]
    assert [r for r in want_nested if r[0] != 1] == got_nested
    assert {r[1] for r in got_flat} == {0, 2}
    assert [r for r in want_flat if r[1] != 1] == got_flat


def test_mentions_match_gold(spark, corpus, extracted):
    """NER + modality P/R == 1.0 on the fixture corpus (E2/E3 gate)."""
    scores = ev.eval_mentions(corpus["gold_mentions"], extracted["mentions"])
    assert scores["ner"]["f1"] == pytest.approx(1.0)
    assert scores["mod"]["f1"] == pytest.approx(1.0)


def test_triples_match_gold(spark, corpus, extracted):
    """Mention-string triple P/R >= 0.95 gate (BASELINE.md) — exact here."""
    scores = ev.eval_triples(corpus["gold_triples"], extracted["triples"])
    assert scores["precision"] == pytest.approx(1.0)
    assert scores["recall"] == pytest.approx(1.0)


def test_tid_assignment_matches_gold(corpus, extracted):
    """Document-order T{n} numbering (reference data_objects.py:272-277)."""
    pred = extracted["mentions"].select("url", "sent_id", "begin_tok", "tid")
    gold = corpus["gold_mentions"].select(
        "url", "sent_id", "begin_tok", F.col("tid").alias("gold_tid")
    )
    n_bad = (
        pred.join(gold, ["url", "sent_id", "begin_tok"])
        .where(F.col("tid") != F.col("gold_tid"))
        .count()
    )
    assert n_bad == 0


def test_evaluator_detects_errors(spark, corpus, extracted):
    """The evaluator is a real gate: a perturbed prediction scores < 1.0
    with exactly the multiset tps/fps/fns bookkeeping of the reference."""
    pred = extracted["triples"].withColumn(
        "pred",
        F.when(F.col("pred") == "region", F.lit("timeOnset")).otherwise(F.col("pred")),
    )
    scores = ev.eval_triples(corpus["gold_triples"], pred)
    assert scores["f1"] < 1.0
    region = scores["per_label"]["region"]
    assert region["recall"] == 0.0


def test_modality_family_scores_and_downsampling(spark, corpus, extracted):
    """E4 family roll-up is perfect on the fixture corpus; R3 keeps all
    positives and a seeded fraction of negatives."""
    fams = ev.modality_family_scores(corpus["gold_mentions"], extracted["mentions"])
    assert set(fams) <= {"certainty", "state", "type"}
    assert all(v["f1"] == pytest.approx(1.0) for v in fams.values())

    pairs = spark.createDataFrame(
        [(i, "N" if i % 2 else "region") for i in range(1000)],
        "pair_id long, rel string",
    )
    kept = ev.downsample_negatives(pairs, "rel", keep_prob=0.1, seed=1)
    assert kept.where("rel != 'N'").count() == 500  # all positives kept
    n_neg = kept.where("rel = 'N'").count()
    assert 10 <= n_neg <= 120  # ~10% of 500 negatives
    # partitioning-invariant (the no-rand rule): the SAME rows survive
    # under any repartitioning, and re-evaluation cannot change the set
    ids = sorted(r["pair_id"] for r in kept.select("pair_id").collect())
    re_kept = ev.downsample_negatives(
        pairs.repartition(7), "rel", keep_prob=0.1, seed=1
    )
    assert sorted(r["pair_id"] for r in re_kept.select("pair_id").collect()) == ids


def test_per_label_counts_null_safe(spark):
    """Reference multiset semantics: None == None. A NULL label is a real
    label (not silently dropped by the isin filter), and tuples agreeing
    on a NULL key field still pair up."""
    gold = spark.createDataFrame(
        [(1, "d", None), (2, None, "x")],
        "tid long, label string, extra string",
    )
    pred = spark.createDataFrame(
        [(1, "d", None), (2, None, "x"), (3, None, "y")],
        "tid long, label string, extra string",
    )
    got = {
        r["label"]: (r["tps"], r["fps"], r["fns"])
        for r in ev.per_label_counts(
            gold, pred, ["tid", "extra"], "label"
        ).collect()
    }
    assert got["d"] == (1, 0, 0)       # NULL extra matched null-safely
    assert got[None] == (1, 1, 0)      # NULL label: one TP, one FP


def test_linking_exact_and_fuzzy(spark, corpus):
    surfaces = spark.createDataFrame(
        [("肺癌", "Disease"), ("アスピリン", "Remedy"), ("肺がん", "Disease"),
         ("はいえん", "Disease"), ("ワーファリン", "Remedy")],
        "surface string, sem_type string",
    )
    links = link.link_surfaces(surfaces, corpus["concepts"]).collect()
    by_surface = {r["surface"]: r for r in links}
    # exact hits
    assert by_surface["肺癌"]["method"] == "exact"
    assert by_surface["肺がん"]["method"] == "exact"  # alias row exists
    # every dictionary alias surface resolves to its own concept
    lung = by_surface["肺癌"]["concept_id"]
    assert by_surface["肺がん"]["concept_id"] == lung


def test_linking_fuzzy_jaccard(spark, corpus):
    """A surface absent from the alias table links through the Jaccard
    path, and the method column names that path."""
    surfaces = spark.createDataFrame(
        [("アスピリン錠剤", "Remedy")], "surface string, sem_type string"
    )
    links = link.link_surfaces(surfaces, corpus["concepts"]).collect()
    assert len(links) == 1 and links[0]["method"] == "broadcast"
    aspirin = (
        corpus["concepts"].where(F.col("canonical") == "アスピリン").first()["concept_id"]
    )
    assert links[0]["concept_id"] == aspirin


def test_canonicalization_distributed_equals_unionfind(spark, corpus):
    """The driver union-find and the large-small star strategies produce
    identical components."""
    edges = corpus["concepts"].select(
        F.col("alias").alias("src"), F.col("concept_id").alias("dst")
    ).distinct()
    key = lambda r: (r["vertex"], r["component"])  # noqa: E731
    fast = sorted(map(key, canon.connected_components(edges).collect()))
    star = sorted(map(key, canon.connected_components(
        edges, small_graph_edges=0).collect()))
    assert fast == star


def test_star_components_solve_deep_graphs(spark, monkeypatch):
    """A 120-vertex path (diameter 119): the star algorithm converges in
    O(log n) rounds, where label propagation would need 119 — the diameter
    failure mode is gone at any scale. Cut short of convergence, it raises
    instead of returning non-canonical labels."""
    n = 120
    edges = spark.createDataFrame(
        [(f"v{i:03d}", f"v{i + 1:03d}") for i in range(n - 1)],
        "src string, dst string",
    )
    got = {
        r["vertex"]: r["component"]
        for r in canon.connected_components(
            edges, small_graph_edges=0
        ).collect()
    }
    assert len(got) == n
    assert set(got.values()) == {"v000"}
    monkeypatch.setattr(canon, "CC_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        canon.connected_components(edges, small_graph_edges=0)


def test_star_components_random_graph_vs_unionfind(spark):
    """Star components == union-find ground truth on a seeded random graph
    with several components and cycles, plus null-endpoint edges (they link
    nothing; the null is no vertex, the non-null end still is one)."""
    import random

    rng = random.Random(13)
    edges = []
    for comp in range(6):
        members = [f"c{comp}_{i:02d}" for i in range(rng.randint(2, 25))]
        for i in range(1, len(members)):
            edges.append((members[i], members[rng.randrange(i)]))
        for _ in range(len(members) // 3):  # extra cycle edges
            edges.append((rng.choice(members), rng.choice(members)))
    edges += [("c0_00", None), (None, "lone")]
    df = spark.createDataFrame(edges, "src string, dst string")
    truth = concepts.union_find(edges)
    got = {
        r["vertex"]: r["component"]
        for r in canon.connected_components(
            df, small_graph_edges=0
        ).collect()
    }
    # union-find may include self-loop-only vertices identically
    assert got == {v: c for v, c in truth.items()}


def test_canonicalization_components(spark, corpus):
    """Cross-linked alias groups merge; independent concepts stay apart."""
    canon_map = canon.canonicalize_concepts(corpus["concepts"])
    rows = {r["concept_id"]: r["canonical_id"] for r in canon_map.collect()}
    cdf = corpus["concepts"]
    cid = {
        r["canonical"]: r["concept_id"]
        for r in cdf.select("canonical", "concept_id").distinct().collect()
    }
    # every concept got a canonical id; representative is min concept_id
    assert set(rows) == set(cid.values())
    assert all(rows[c] <= c for c in rows)
    # 肺癌 and 胃癌 are distinct components
    assert rows[cid["肺癌"]] != rows[cid["胃癌"]]


def _canon_rows(concept_dict) -> list:
    return sorted(
        map(tuple, canon.canonicalize_concepts(concept_dict).collect())
    )


def _star_canon_rows(concept_dict) -> list:
    """Reference canonical map: the distributed star components of the
    alias<->concept_id edges, then the min concept_id per component."""
    edges = concept_dict.select(
        F.col("alias").alias("src"), F.col("concept_id").alias("dst")
    ).distinct()
    cc = canon.connected_components(edges, small_graph_edges=0)
    concept_comp = (
        concept_dict.select("concept_id")
        .distinct()
        .join(cc, F.col("concept_id") == F.col("vertex"))
        .select("concept_id", "component")
    )
    mins = concept_comp.groupBy("component").agg(
        F.min("concept_id").alias("canonical_id")
    )
    return sorted(
        map(
            tuple,
            concept_comp.join(mins, "component")
            .select("concept_id", "canonical_id")
            .collect(),
        )
    )


def test_canonical_map_driver_equals_star_on_cross_links(spark, corpus):
    """The driver-built canonical map equals the star-path reference on
    the fixture dictionary plus cross-link rows: C000090..C000092 chain
    through shared aliases into 肺癌's concept, and one alias string is
    another row's concept id (the alias and the id are one vertex)."""
    cdf = corpus["concepts"]
    extra = spark.createDataFrame(
        [
            ("C000090", "鎖甲", "鎖甲", "Disease"),
            ("C000090", "鎖甲", "鎖の輪", "Disease"),
            ("C000091", "鎖乙", "鎖の輪", "Disease"),
            ("C000091", "鎖乙", "鎖の環", "Disease"),
            ("C000092", "鎖丙", "鎖の環", "Disease"),
            ("C000092", "鎖丙", "肺癌", "Disease"),
            ("C000095", "別名", "C000003", "Disease"),
        ],
        cdf.schema,
    )
    d = cdf.unionByName(extra)
    driver = _canon_rows(d)
    assert driver == _star_canon_rows(d)
    got = dict(driver)
    assert len(got) == len(driver)  # one row per concept
    cid = {
        r["canonical"]: r["concept_id"]
        for r in cdf.select("canonical", "concept_id").distinct().collect()
    }
    assert got["C000090"] == got["C000091"] == got["C000092"] == (
        got[cid["肺癌"]]
    )
    assert got["C000095"] == got["C000003"]


def test_canonical_map_null_alias_matches_star(spark, corpus):
    """A null alias links nothing, as in the star-path reference: the
    driver path used to raise comparing None with a concept id. A concept
    whose only alias is null maps to itself; a null concept id maps
    nowhere."""
    cdf = corpus["concepts"]
    extra = spark.createDataFrame(
        [
            ("C000097", "孤立", None, "Disease"),
            ("C000005", "欠落", None, "Disease"),
            (None, "無番号", "肺癌", "Disease"),
        ],
        cdf.schema,
    )
    d = cdf.unionByName(extra)
    driver = _canon_rows(d)
    assert driver == _star_canon_rows(d)
    got = dict(driver)
    assert got["C000097"] == "C000097"
    assert None not in got
    assert got == {**dict(_canon_rows(cdf)), "C000097": "C000097"}


def _random_dictionary(trial: int) -> list:
    """One seeded dictionary, its ids and aliases prefixed by the trial so
    every trial forms its own components inside one Spark call: aliases
    drawn from a small pool cross-link concepts, one alias is another
    row's concept id, and one row each has a null alias or concept id."""
    import random

    rng = random.Random(trial)
    cids = [f"{trial}:C{k}" for k in range(rng.randint(3, 8))]
    pool = [f"{trial}:a{k}" for k in range(rng.randint(3, 12))]
    rows = [
        (rng.choice(cids), rng.choice(pool)) for _ in range(rng.randint(4, 14))
    ]
    rows.append(tuple(rng.sample(cids, 2)))
    rows.append((rng.choice(cids), None))
    rows.append((None, rng.choice(pool)))
    rng.shuffle(rows)
    return [(cid, alias, "Disease") for cid, alias in rows]


def test_canonical_map_matches_star_on_random_dictionaries(spark):
    """The driver-built canonical map equals the star-path reference on 30
    seeded dictionaries at once."""
    dictionary = [r for trial in range(30) for r in _random_dictionary(trial)]
    d = spark.createDataFrame(
        dictionary, "concept_id string, alias string, sem_type string"
    )
    driver = _canon_rows(d)
    assert len(dict(driver)) == len(driver)  # one row per concept
    assert driver == _star_canon_rows(d)


def test_run_kg_collects_the_dictionary_once(corpus, dictionary_collects):
    """One run_kg call evaluates its dictionary once: linking and the
    canonical map share one driver collect."""
    concept_dict = dictionary_collects.watch(corpus["concepts"])
    result = pipeline.run_kg(corpus["pages"], concept_dict)
    assert dictionary_collects.count() == 1
    assert result["canonical_triples"].count() > 0


@pytest.mark.parametrize("parallel", [1, 2])
def test_run_with_lineage_collects_the_dictionary_once(
    spark, corpus, tmp_path, dictionary_collects, parallel
):
    """A run_with_lineage call prepares its dictionary once, before it reads
    the ledger, and every bucket links against that, pool threads included:
    one collect for four buckets, where each bucket used to collect its
    own. A no-op resume reads the dictionary once too, for its key."""
    concept_dict = dictionary_collects.watch(corpus["concepts"])
    out = str(tmp_path / "kg")

    def call():
        return pipeline.run_with_lineage(
            spark, corpus["pages"], concept_dict, out, n_buckets=4,
            parallel_buckets=parallel,
        )

    assert call() == [0, 1, 2, 3]
    assert dictionary_collects.count() == 1
    assert call() == []
    assert dictionary_collects.count() == 2


def test_run_kg_and_collect_job_count(spark, corpus, spark_jobs):
    """run_kg plus a collect of its canonical triples runs 2 Spark jobs: 1
    collects the dictionary and 1 is the collect, a scan of the one
    extraction stage, which resolves the canonical ids itself. A prepared
    dictionary saves the dictionary's job."""
    prepared = concepts.prepare(corpus["concepts"])

    def run(concept_dict):
        return lambda: pipeline.run_kg(corpus["pages"], concept_dict)[
            "canonical_triples"
        ].collect()

    assert spark_jobs(run(corpus["concepts"])) == 2
    assert spark_jobs(run(prepared)) == 1


def test_full_kg_and_materialization(spark, corpus, tmp_path):
    result = pipeline.run_kg(corpus["pages"], corpus["concepts"])
    canonical = result["canonical_triples"].cache()
    n = canonical.count()
    assert n > 0
    # every subj/obj resolved to a concept id or kept as surface fallback
    assert canonical.where(F.col("subj_id").isNull()).count() == 0

    out = str(tmp_path / "graph")
    graph.materialize(canonical, out, n_buckets=8, n_salts=4)
    back = spark.read.parquet(out)
    assert back.count() == n
    # bucket pruning column exists and is within range
    assert back.select(F.max("bucket")).first()[0] < 8


def test_skew_salting_bounds_partition_sizes(spark):
    """FIXTURES.md §6: with a 肺癌-heavy corpus, salting keeps the max
    (bucket, salt) cell within a sane multiple of the median."""
    pages = fixtures.pages_df(spark, 300, seed=7, skew=True)
    concepts_df = fixtures.concept_df(spark)
    result = pipeline.run_kg(pages, concepts_df)
    canonical = result["canonical_triples"].cache()
    hist = graph.partition_histogram(canonical, n_buckets=8, n_salts=8).cache()
    salted_max = hist.agg(F.max("rows")).first()[0]
    unsalted_max = (
        hist.groupBy("bucket").agg(F.sum("rows").alias("rows"))
        .agg(F.max("rows")).first()[0]
    )
    # the hot subject's bucket must be spread over the salt dimension
    assert salted_max * 2 <= unsalted_max, (salted_max, unsalted_max)
    canonical.unpersist()


def test_skew_salting_zipf_1m_triples(spark):
    """N5 at scale shape: 1M triples with a Zipf(1) subject distribution
    (log-uniform rank draw over 1000 subjects -> the head subject owns ~13%
    of all rows, the canonical head-entity skew at 10^12 docs). With salting
    ON, (a) max cell / median cell stays under 10 — the floor for this
    layout is hot_share * n_buckets (~4.3 here, amplified ~2x because the
    Zipf tail drags the median below the mean): bucket stays a pure function
    of subj_id for read pruning, so a hot subject concentrates in ONE
    bucket and the salt dimension divides it by n_salts, which divides max
    and median alike — and (b) the max cell is at least 4x smaller than the
    unsalted max bucket, the ABSOLUTE task-size reduction that kills the
    straggler (the metric that matters for wall-clock)."""
    n = 1_000_000
    u = F.pmod(F.xxhash64("id", F.lit(13)), F.lit(1_000_000)) / 1_000_000.0
    triples = spark.range(0, n, numPartitions=32).select(
        F.concat(F.lit("S"), F.floor(F.pow(F.lit(1000.0), u)).cast("string"))
        .alias("subj_id"),
        F.concat(F.lit("P"), (F.col("id") % 7).cast("string")).alias("pred"),
        F.concat(F.lit("O"), (F.col("id") % 50_000).cast("string"))
        .alias("obj_id"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 13).cast("int").alias("sent_id"),
    )
    hist = graph.partition_histogram(triples, n_buckets=32, n_salts=8).cache()
    try:
        row = hist.agg(
            F.max("rows").alias("mx"),
            F.expr("percentile(rows, 0.5)").alias("med"),
        ).first()
        salted_max, median = row["mx"], row["med"]
        unsalted_max = (
            hist.groupBy("bucket").agg(F.sum("rows").alias("rows"))
            .agg(F.max("rows")).first()[0]
        )
        assert salted_max <= 10 * median, (salted_max, median)
        assert salted_max * 4 <= unsalted_max, (salted_max, unsalted_max)
    finally:
        hist.unpersist()


def test_run_kg_empty_corpus(spark, corpus):
    """Zero input pages -> zero triples, no crash anywhere in the chain."""
    empty = corpus["pages"].where(F.lit(False))
    result = pipeline.run_kg(empty, corpus["concepts"])
    assert result["canonical_triples"].count() == 0


def test_run_kg_html_only_pages(spark, corpus):
    """Pages with text=NULL exercise the html extraction path end-to-end and
    produce the same triples as the text-bearing corpus."""
    html_only = corpus["pages"].withColumn("text", F.lit(None).cast("string"))
    a = pipeline.run_kg(html_only, corpus["concepts"])["canonical_triples"]
    b = pipeline.run_kg(corpus["pages"], corpus["concepts"])["canonical_triples"]
    key = ["url", "sent_id", "subj_surface", "pred", "obj_surface"]
    assert a.select(*key).exceptAll(b.select(*key)).count() == 0
    assert a.count() == b.count() > 0


def test_annotate_ships_html_only_without_text(spark, corpus):
    """The annotate input projection nulls html JVM-side whenever text is
    populated (html is read ONLY by the extract_text fallback), so the
    widest crawl column never crosses the Arrow boundary for pages whose
    text is already extracted — and a MIXED corpus (half the pages
    text-less) still produces exactly the full-text corpus's triples."""
    mixed = corpus["pages"].withColumn(
        "text",
        F.when(F.crc32(F.col("url")) % 2 == 0, F.col("text")),
    )
    shipped = mixed.select(*infer._page_cols())
    kept = shipped.where(F.col("html").isNotNull()).count()
    textless = mixed.where(
        F.col("text").isNull() | (F.col("text") == "")
    ).count()
    assert 0 < kept < mixed.count()   # the split actually exercises both arms
    assert kept == textless           # html survives ONLY for the fallback rows
    a = pipeline.run_kg(mixed, corpus["concepts"])["canonical_triples"]
    b = pipeline.run_kg(corpus["pages"], corpus["concepts"])["canonical_triples"]
    key = ["url", "sent_id", "subj_surface", "pred", "obj_surface"]
    assert a.select(*key).exceptAll(b.select(*key)).count() == 0
    assert a.count() == b.count() > 0


def test_lineage_model_swap_invalidates(spark, corpus, tmp_path):
    """A different model_version must rerun buckets, not skip them."""
    from jamie_spark import lineage as lin, models

    out = str(tmp_path / "kg_swap")
    pipeline.run_with_lineage(
        spark, corpus["pages"], corpus["concepts"], out, n_buckets=2
    )
    key = pipeline.resume_key(concepts.prepare(corpus["concepts"]))
    assert lin.pending_buckets(spark, out, "kg_triples", 2,
                               model_version=key) == []
    swapped = key.replace(models.model_version(), "torch:other-model", 1)
    assert lin.pending_buckets(spark, out, "kg_triples", 2,
                               model_version=swapped) == [0, 1]


def test_lineage_dictionary_change_invalidates(spark, corpus, tmp_path):
    """A resume under a dictionary with one alias changed reruns every
    bucket, so no output mixes canonical ids of two dictionaries; the same
    rows read in another order skip them all."""
    out = str(tmp_path / "kg_dict")
    cdf = corpus["concepts"]

    def call(concept_dict):
        return pipeline.run_with_lineage(
            spark, corpus["pages"], concept_dict, out, n_buckets=2
        )

    assert call(cdf) == [0, 1]
    reordered = spark.createDataFrame(cdf.collect()[::-1], cdf.schema)
    assert call(reordered) == []
    renamed = F.when(F.col("alias") == "肺がん", "肺がん腫")
    changed = cdf.withColumn("alias", renamed.otherwise(F.col("alias")))
    assert changed.exceptAll(cdf).count() == 1
    assert call(changed) == [0, 1]


def test_dictionary_digest_tracks_every_field(spark):
    """The digest is order-free and moves with one alias, one concept_id
    or one sem_type; rows with null fields are accepted, and a null differs
    from the string "None". A prepared dictionary prepares to itself."""
    ddl = "concept_id string, alias string, sem_type string"
    rows = [
        ("C1", "肺癌", "Disease"), ("C2", None, "Remedy"),
        (None, "胃癌", None), ("C3", "None", "Disease"),
    ]

    def digest(rs):
        return concepts.prepare(spark.createDataFrame(rs, ddl)).digest

    base = digest(rows)
    assert digest(rows[::-1]) == base
    changes = [
        (0, 1, "肺がん"), (0, 0, "C9"), (0, 2, "Remedy"), (1, 1, "None"),
    ]
    for i, field, value in changes:
        changed = [list(r) for r in rows]
        changed[i][field] = value
        assert digest([tuple(r) for r in changed]) != base, (i, field)
    prepared = concepts.prepare(spark.createDataFrame(rows, ddl))
    assert concepts.prepare(prepared) is prepared


def test_lineage_resume_idempotent(spark, corpus, tmp_path):
    """Kill-after-k-buckets then rerun == one-shot run; no duplicate lineage."""
    out = str(tmp_path / "kg")
    # simulated crash: only 2 buckets complete
    first = pipeline.run_with_lineage(
        spark, corpus["pages"], corpus["concepts"], out, n_buckets=4, max_buckets=2
    )
    assert len(first) == 2
    # resume: remaining buckets only
    second = pipeline.run_with_lineage(
        spark, corpus["pages"], corpus["concepts"], out, n_buckets=4
    )
    assert sorted(first + second) == [0, 1, 2, 3]
    # third run: nothing pending
    third = pipeline.run_with_lineage(
        spark, corpus["pages"], corpus["concepts"], out, n_buckets=4
    )
    assert third == []

    resumed = pipeline.read_materialized(spark, out)
    oneshot = pipeline.run_kg(corpus["pages"], corpus["concepts"])["canonical_triples"]
    key = ["url", "sent_id", "subj_surface", "pred", "obj_surface", "subj_id", "obj_id"]
    a = resumed.groupBy(*key).count()
    b = oneshot.groupBy(*key).count()
    assert a.join(b, key + ["count"], "full_outer").where(
        F.col("count").isNull()
    ).count() == 0
    assert a.count() == b.count()

    lin = pipeline.lineage.read_lineage(spark, out)
    assert lin.groupBy("bucket").count().where(F.col("count") > 1).count() == 0
    assert lin.agg(F.sum("triple_count")).first()[0] == oneshot.count()
    # the ledger records the modulus on every row
    assert {r["n_buckets"] for r in lin.select("n_buckets").collect()} == {4}


@pytest.mark.parametrize("parallel", [1, 2])
def test_lineage_buckets_leave_no_pin_behind(
    spark, corpus, tmp_path, pinned_rdds, parallel
):
    """After a two-bucket call no RDD it pinned is left, checkpoints
    included."""
    corpus["pages"].count()
    corpus["concepts"].count()
    before = pinned_rdds()
    done = pipeline.run_with_lineage(
        spark, corpus["pages"], corpus["concepts"], str(tmp_path / "kg"),
        n_buckets=2, parallel_buckets=parallel,
    )
    assert done == [0, 1]
    assert pinned_rdds() == before


def test_parallel_buckets_run_in_the_callers_job_group(
    spark, corpus, tmp_path, spark_jobs
):
    """The pool threads of parallel_buckets > 1 run their jobs under the
    caller's job group, so a parallel call counts the jobs the sequential
    one does and ``cancelJobGroup`` reaches them."""
    corpus["pages"].count()
    prepared = concepts.prepare(corpus["concepts"])

    def call(parallel):
        return lambda: pipeline.run_with_lineage(
            spark, corpus["pages"], prepared,
            str(tmp_path / f"kg_{parallel}"), n_buckets=2,
            parallel_buckets=parallel,
        )

    sequential = spark_jobs(call(1))
    assert sequential > 2
    assert spark_jobs(call(2)) == sequential


def test_lineage_rejects_modulus_change(spark, corpus, tmp_path):
    """Resuming with a different --buckets value renumbers the url-hash
    partitions against the kept bucket=N data dirs (silent duplicate/drop)
    — pending_buckets must refuse, same contract as the search index's
    stats validation."""
    import pytest as _pytest

    out = str(tmp_path / "kg")
    pipeline.run_with_lineage(
        spark, corpus["pages"], corpus["concepts"], out,
        n_buckets=4, max_buckets=1,
    )
    with _pytest.raises(ValueError, match="n_buckets"):
        pipeline.run_with_lineage(
            spark, corpus["pages"], corpus["concepts"], out, n_buckets=8
        )


def test_parallel_buckets_resume_idempotent(spark, corpus, tmp_path):
    """--parallel-buckets: overlapped bucket runs keep per-bucket lineage
    atomicity — kill/resume and output parity as in the sequential case."""
    out = str(tmp_path / "kg_par")
    first = pipeline.run_with_lineage(
        spark, corpus["pages"], corpus["concepts"], out,
        n_buckets=4, max_buckets=2, parallel_buckets=2,
    )
    assert len(first) == 2
    second = pipeline.run_with_lineage(
        spark, corpus["pages"], corpus["concepts"], out,
        n_buckets=4, parallel_buckets=2,
    )
    assert sorted(first + second) == [0, 1, 2, 3]

    resumed = pipeline.read_materialized(spark, out)
    sequential = pipeline.run_kg(corpus["pages"], corpus["concepts"])[
        "canonical_triples"
    ]
    key = ["url", "sent_id", "subj_surface", "pred", "obj_surface",
           "subj_id", "obj_id"]
    a = resumed.groupBy(*key).count()
    b = sequential.groupBy(*key).count()
    assert a.join(b, key + ["count"], "full_outer").where(
        F.col("count").isNull()
    ).count() == 0

    lin = pipeline.lineage.read_lineage(spark, out)
    assert lin.groupBy("bucket").count().where(F.col("count") > 1).count() == 0


def test_cli_analytics_and_ntriples_export(spark, tmp_path):
    """--analytics and --export-nt publish the graph profile and the
    N-Triples view of the materialized KG from the same CLI invocation."""
    from jamie_spark import cli

    out = str(tmp_path / "kg_out")
    nt = str(tmp_path / "kg.nt")
    rc = cli.main([
        "--fixture", "40", "--out", out, "--buckets", "2",
        "--analytics", "--export-nt", nt,
    ])
    assert rc == 0
    triples = pipeline.read_materialized(spark, out)
    n = triples.count()
    assert n > 0
    deg = spark.read.parquet(f"{out}/analytics/degrees")
    pr = spark.read.parquet(f"{out}/analytics/pagerank")
    lp = spark.read.parquet(f"{out}/analytics/communities")
    n_nodes = (
        triples.select(F.col("subj_id").alias("n"))
        .unionByName(triples.select(F.col("obj_id").alias("n")))
        .distinct()
        .count()
    )
    assert deg.count() == n_nodes == pr.count()
    assert 0 < lp.count() <= n_nodes  # LPA drops self-loop-only vertices
    lines = spark.read.text(nt)
    assert lines.count() == n
    assert lines.where(~F.col("value").rlike("^<.+> <.+> .+ \\.$")).count() == 0


def test_incremental_components_equals_full_recompute(spark):
    """Folding an edge batch into existing labels == full CC over the union,
    on a seeded random graph where the batch merges components, extends
    them with new vertices, adds batch-only components, and lands edges
    INSIDE existing components (no-ops), plus a null-endpoint edge (links
    nothing, adds no vertex). Distributed star path forced."""
    import random

    rng = random.Random(4052)
    base, batch = [], []
    for comp in range(5):
        members = [f"g{comp}_{i:02d}" for i in range(rng.randint(3, 15))]
        for i in range(1, len(members)):
            base.append((members[i], members[rng.randrange(i)]))
        # batch edge inside the existing component (must be a no-op)
        batch.append((rng.choice(members), rng.choice(members)))
    # batch merges components 0+1 and 2+3, grows 4 with new vertices,
    # and adds a brand-new two-vertex component
    batch += [
        ("g0_00", "g1_00"), ("g2_01", "g3_02"),
        ("g4_00", "new_a"), ("new_a", "new_b"),
        ("island_x", "island_y"), ("island_y", None),
    ]
    base_df = spark.createDataFrame(base, "src string, dst string")
    batch_df = spark.createDataFrame(batch, "src string, dst string")
    labels = canon.connected_components(base_df, small_graph_edges=0)
    got = sorted(
        ((r["vertex"], r["component"])
         for r in canon.incremental_components(
             labels, batch_df, small_graph_edges=0
         ).collect()),
        key=str,
    )
    want = sorted(
        ((r["vertex"], r["component"])
         for r in canon.connected_components(
             base_df.unionByName(batch_df), small_graph_edges=0
         ).collect()),
        key=str,
    )
    truth = concepts.union_find(base + batch)
    assert got == want == sorted(truth.items(), key=str)


def test_incremental_components_batch_only_touches_batch(spark):
    """A batch that never touches existing components leaves every old
    label untouched and appends only the batch's own component."""
    base_df = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    labels = canon.connected_components(base_df)
    got = {
        r["vertex"]: r["component"]
        for r in canon.incremental_components(
            labels,
            spark.createDataFrame([("p", "q")], "src string, dst string"),
        ).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "p": "p", "q": "p"}
