"""Hyperlink extraction + URL canonicalization: each normalization rule is
pinned with hostile inputs the fixture corpus never produces (mailto/js
schemes, relative hrefs, non-default ports, mixed tracking params)."""

from pyspark.sql import functions as F

from jamie_spark import fixtures, linkgraph


def _one_page(spark, html):
    return spark.createDataFrame(
        [("https://src.test/p", bytearray(html.encode("utf-8")))],
        "url string, html binary",
    )


def _norm(spark, url):
    df = spark.createDataFrame([(url,)], "u string")
    return df.select(linkgraph.normalize_url(F.col("u")).alias("n")).first()["n"]


def test_normalize_url_rule_table(spark):
    cases = {
        # rule 1: fragment
        "https://a.test/x#frag": "https://a.test/x",
        # rule 2: case
        "HTTPS://A.Test/Path": "https://a.test/Path",  # path case KEPT
        # rule 3: default ports dropped, explicit kept
        "https://a.test:443/x": "https://a.test/x",
        "http://a.test:80/x": "http://a.test/x",
        "http://a.test:8080/x": "http://a.test:8080/x",
        "https://a.test:80/x": "https://a.test:80/x",  # 80 not default for https
        # rule 4: tracking params out, others kept IN ORDER
        "https://a.test/x?utm_source=s&b=2&ref=r&a=1": "https://a.test/x?b=2&a=1",
        "https://a.test/x?utm_campaign=c&fbclid=f&gclid=g": "https://a.test/x",
        # rule 5: trailing slash / empty path
        "https://a.test/x/": "https://a.test/x",
        "https://a.test/": "https://a.test/",
        "https://a.test": "https://a.test/",
        "https://a.test/x///": "https://a.test/x",
    }
    for raw, want in cases.items():
        assert _norm(spark, raw) == want, raw


def test_extract_links_drops_non_web_targets(spark):
    html = (
        '<nav><a href="mailto:x@y.test">mail</a>'
        '<a href="javascript:void(0)">js</a>'
        '<a href="/relative/path">rel</a>'
        '<a href="ftp://files.test/a">ftp</a>'
        '<a href="https://keep.test/ok#f">keep</a></nav>'
    )
    rows = linkgraph.extract_links(_one_page(spark, html)).collect()
    assert [(r["dst_url"], r["anchor"]) for r in rows] == [
        ("https://keep.test/ok", "keep")
    ]


def test_extract_links_href_with_raw_gt(spark):
    """An unencoded '>' inside an href value (real crawl HTML) must not
    bleed into the anchor capture: href and anchor re-match the full tag
    structure, so the anchor starts at the tag-closing '>', not the first
    '>' in the string."""
    html = (
        '<p><a href="https://x.test/?q=a>b">text</a>'
        '<a href="https://y.test/ok">a > b</a></p>'
    )
    rows = linkgraph.extract_links(_one_page(spark, html)).collect()
    assert sorted((r["dst_url"], r["anchor"]) for r in rows) == [
        ("https://x.test/?q=a>b", "text"),
        ("https://y.test/ok", "a > b"),
    ]


def test_extract_links_fixture_count_and_host_graph(spark):
    """Extraction finds exactly the anchors the generator wrote (3 base nav
    links + 1 topic link on disease-mentioning pages); the host rollup
    totals must equal the edge count."""
    n = 20
    pages = fixtures.pages_df(spark, n, seed=7)
    want = sum(
        fixtures.gen_doc(i, seed=7)[0]["html"].decode("utf-8").count("<a href")
        for i in range(n)
    )
    assert want >= 3 * n  # every page has the 3 base links
    links = linkgraph.extract_links(pages)
    assert links.count() == want
    hg = linkgraph.host_graph(links)
    assert hg.agg(F.sum("n_links")).first()[0] == want
    # mirror hosts fan out by doc_id % 5
    mirrors = {r["dst_host"] for r in hg.collect() if "mirror" in r["dst_host"]}
    assert mirrors == {f"mirror{k}.fixture.test" for k in range(5)}


def test_anchor_token_grammar_matches_tokenizer(spark):
    """linkgraph.TOKEN_RE must tokenize anchors like the engine's
    tokenizer MODULO whitespace (the tokenizer drops it; the raw grammar
    emits it as catch-all single chars, which can never match an alias, so
    the dictionary join is identical) — the invariant that makes anchor
    tokens joinable against the same alias dictionary the pipeline NER
    uses."""
    from jamie_spark.tokenizer import tokenize

    anchors = [
        "肺癌の解説", "関連記事 41", "特集 9", "ミラー 3",
        "COPD治療2020年、骨シンチ検査！",
    ]
    df = spark.createDataFrame([(a,) for a in anchors], "anchor string")
    got = {
        r["anchor"]: [t for t in r["toks"] if not t.isspace()]
        for r in df.select(
            "anchor",
            F.regexp_extract_all(
                "anchor", F.lit(linkgraph.TOKEN_RE), F.lit(0)
            ).alias("toks"),
        ).collect()
    }
    for a in anchors:
        assert got[a] == tokenize(a), a


def test_anchor_concepts_matches_multiclass_alias(spark):
    """An alias spanning tokenizer character classes (肺がん -> [肺, がん])
    must match via the concatenated n-gram path — single-token matching
    silently dropped every such variant."""
    links = spark.createDataFrame(
        [
            # NB both anchors split the alias at token boundaries
            # ([肺, がん, 情報] / [検査, と, 肺, がん]); a trailing
            # hiragana particle would FUSE into the がん token (がんの)
            # and correctly not match — same contract as the pipeline NER
            ("https://s.test/a", "https://t.test/x", "肺がん情報"),
            ("https://s.test/b", "https://t.test/x", "検査と肺がん"),
            ("https://s.test/c", "https://t.test/y", "無関係な話"),
        ],
        "src_url string, dst_url string, anchor string",
    )
    cd = spark.createDataFrame(
        [("C1", "肺がん")], "concept_id string, alias string"
    )
    got = {
        (r["dst_url"], r["concept_id"]): r["n_refs"]
        for r in linkgraph.anchor_concepts(links, cd).collect()
    }
    assert got == {("https://t.test/x", "C1"): 2}


def test_anchor_concepts_maps_topic_pages(spark):
    """Disease-mentioning pages link a topic URL with the disease surface
    in the anchor; anchor_concepts must roll those up to the topic pages
    with the RIGHT concept ids and distinct-referrer counts."""
    pages = fixtures.pages_df(spark, 30, seed=7)
    links = linkgraph.extract_links(pages)
    concepts_df = fixtures.concept_df(spark)
    got = linkgraph.anchor_concepts(links, concepts_df).collect()
    assert got, "no anchor-concept hits on a disease-rich fixture corpus"
    valid_cids = {r["concept_id"] for r in concepts_df.collect()}
    for r in got:
        assert r["dst_url"].startswith("https://fixture.test/topic/")
        assert r["concept_id"] in valid_cids
        assert r["n_refs"] >= 1
    # spot-check one page end-to-end: its disease surface's concept id is
    # credited to its topic URL
    page, mentions, _, _ = fixtures.gen_doc(1, seed=7)
    dis = next((m for m in mentions if m["ner_tag"] == "d"), None)
    if dis is not None:
        alias2cid = {
            r["alias"]: r["concept_id"] for r in concepts_df.collect()
        }
        cid = alias2cid.get(dis["surface"])
        if cid is not None:
            hits = {
                (r["dst_url"], r["concept_id"]) for r in got
            }
            assert ("https://fixture.test/topic/1", cid) in hits


def test_extracted_article_text_untouched_by_nav_links(spark):
    """The nav anchors must never leak into the boilerplate-stripped
    text — the N1 contract the pipeline golds depend on."""
    from jamie_spark.textnorm import extract_text

    page, _, _, _ = fixtures.gen_doc(3, seed=42)
    text = extract_text(page["html"])
    assert "関連記事" not in text and "ミラー" not in text
    assert text == page["text"]


# --------------------------------------------------------------------------
# Per-host crawl-politeness budgeting
# --------------------------------------------------------------------------


def test_crawl_budget_matches_window_reference(spark):
    """The two-phase bucket prefix sum == the single-window reference on a
    small two-host corpus, under any input partitioning."""
    from pyspark.sql import Window

    b0 = fixtures.pages_df(spark, 30, seed=31)
    b1 = fixtures.pages_df(spark, 20, seed=32).withColumn(
        "url",
        F.regexp_replace(
            "url", "^https://fixture\\.test/", "https://h2.test/"
        ),
    )
    pages = b0.unionByName(b1)
    budget, unit = 24, 256

    costs = pages.select(
        "url",
        linkgraph.url_host(F.col("url")).alias("host"),
        F.expr(f"(length(html) + {unit - 1}) div {unit}").alias("cost"),
    )
    w = (
        Window.partitionBy("host")
        .orderBy(F.md5("url"), "url")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ref = {
        tuple(r)
        for r in costs.withColumn("cum_cost", F.sum("cost").over(w))
        .where(F.col("cum_cost") - F.col("cost") < budget)
        .collect()
    }
    got = {
        tuple(r)
        for r in linkgraph.crawl_budget(
            pages, budget, unit_bytes=unit
        ).collect()
    }
    assert got == ref and len(got) > 0
    rep = {
        tuple(r)
        for r in linkgraph.crawl_budget(
            pages.repartition(7), budget, unit_bytes=unit
        ).collect()
    }
    assert rep == got


def test_crawl_budget_floor_contract_per_host(spark):
    """Each host spends AT LEAST the budget when it has enough pages (the
    boundary page that crosses is kept), and never a full page more."""
    pages = fixtures.pages_df(spark, 40, seed=33)
    budget = 20
    kept = linkgraph.crawl_budget(pages, budget, unit_bytes=256)
    rows = kept.groupBy("host").agg(
        F.max("cum_cost").alias("spent"), F.max("cost").alias("maxc")
    ).collect()
    for r in rows:
        assert r["spent"] >= budget  # floor: boundary page kept
        assert r["spent"] < budget + r["maxc"]  # never beyond one page


def test_crawl_frontier_normalizes_crawled_side(spark):
    """A page already fetched under a NON-canonical url (uppercase host,
    trailing slash) must not re-enter the frontier when a link points at
    its canonical form — the anti-join compares canonical to canonical."""
    html_a = '<p><a href="https://b.test/page">b</a>' \
             '<a href="https://c.test/new">c</a></p>'
    pages = spark.createDataFrame(
        [
            ("https://a.test/", bytearray(html_a.encode())),
            # same resource as the linked https://b.test/page, stored raw
            ("https://B.Test/page/", bytearray(b"<p>done</p>")),
        ],
        "url string, html binary",
    )
    got = {r["url"] for r in linkgraph.crawl_frontier(pages, 5, 5).collect()}
    assert "https://c.test/new" in got
    assert "https://b.test/page" not in got


def test_crawl_frontier_releases_its_link_extraction(
    spark, persisted_rdds, pinned_rdds
):
    """Without ``links`` the frontier extracts them itself; that corpus-
    sized extraction is no cache, and a frames.scope() around the call and
    its read releases it with every other pin the call made."""
    from jamie_spark import frames

    pages = fixtures.pages_df(spark, 60, seed=17)
    before = persisted_rdds()
    assert linkgraph.crawl_frontier(pages, 2, 5).collect()
    assert persisted_rdds() == before
    pinned = pinned_rdds()
    with frames.scope():
        assert linkgraph.crawl_frontier(pages, 2, 5).collect()
    assert pinned_rdds() == pinned


def test_crawl_frontier_semantics(spark):
    """Frontier = uncrawled dst urls of the top-K ranked hosts, <= quota
    per host in md5 order; crawled urls are excluded, slots are 1..quota."""
    from pyspark.sql import Window

    from jamie_spark import kgstats

    pages = fixtures.pages_df(spark, 40, seed=17)
    K, Q = 2, 5
    got = linkgraph.crawl_frontier(pages, K, Q)
    rows = got.collect()
    assert rows

    links = linkgraph.extract_links(pages)
    # the gate ranks by WEIGHTED PageRank (link-count mass): unweighted
    # ranks tie on this graph shape and would degrade to name order
    ranks = kgstats.pagerank_weighted(
        linkgraph.host_graph(links).select(
            F.col("src_host").alias("src"),
            F.col("dst_host").alias("dst"),
            F.col("n_links").alias("w"),
        )
    )
    top = {
        r["node"]
        for r in ranks.orderBy(
            F.col("rank_fp").desc(), F.col("node")
        ).limit(K).collect()
    }
    crawled = {r["url"] for r in pages.select("url").collect()}
    for r in rows:
        assert r["host"] in top
        assert r["url"] not in crawled
        assert 1 <= r["slot"] <= Q

    # per-host slots are exactly 1..min(quota, candidates), in md5 order
    ref = (
        links.select(F.col("dst_url").alias("url")).distinct()
        .join(pages.select("url"), "url", "left_anti")
        .withColumn("host", linkgraph.url_host(F.col("url")))
        .where(F.col("host").isin(*top))
        .withColumn(
            "slot",
            F.row_number().over(
                Window.partitionBy("host").orderBy(F.md5("url"), "url")
            ),
        )
        .where(F.col("slot") <= Q)
    )
    assert {(r["url"], r["host"], r["slot"]) for r in rows} == {
        (r["url"], r["host"], r["slot"]) for r in ref.collect()
    }


def test_normalize_url_idempotent_on_adversarial_urls(spark):
    """The canonical form must be a FIXED POINT of normalize_url — a crawl
    pipeline normalizes at extraction AND again on the crawled side of the
    frontier anti-join, so normalize(normalize(u)) != normalize(u) would
    make already-canonical urls re-enter the frontier forever. Exercises
    every rule interaction the regex subset can meet: fragments inside
    queries, repeated '?', mixed-case schemes/hosts, default and explicit
    ports, userinfo-looking prefixes, tracking params in every position,
    empty/bare paths and queries, multi-slash tails."""
    urls = [
        "https://Example.COM/a",
        "HTTPS://EXAMPLE.COM:443/A//#frag?notquery",
        "http://h:80/",
        "http://h:8080//x///",
        "https://h",
        "https://h/?",
        "https://h/p?utm_source=a&b=1&ref=x&fbclid=z",
        "https://h/p?utm_source=a&utm_medium=b",
        "https://h/p?a=1?b=2#c",
        "https://h/p?next=https://other.test/q?r=1",
        "https://user:pass@h/secret",
        "https://h:443/p?gclid=1&keep=2&",
        "http://MIXED.Host:80/Path/#",
        "https://h/p///?ref=only#f",
        "https://h/#",
        "https://h/p?&&b=2",
        "http://h:081/p",
        "https://h./p",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = linkgraph.normalize_url(F.col("url")).alias("n1")
    out = df.select(
        "url",
        once,
        linkgraph.normalize_url(linkgraph.normalize_url(F.col("url"))).alias(
            "n2"
        ),
        linkgraph.url_host(F.col("url")).alias("h_raw"),
    ).collect()
    for r in out:
        assert r["n1"] == r["n2"], (r["url"], r["n1"], r["n2"])
        # canonical outputs never carry fragments or tracking params
        assert "#" not in r["n1"], r
        assert "utm_" not in r["n1"] and "fbclid" not in r["n1"], r
        assert "gclid" not in r["n1"] and "ref=" not in r["n1"], r
        # host survives canonicalization (lowercased)
        assert linkgraph_host_py(r["n1"]) in ("", r["h_raw"]), r


def linkgraph_host_py(url: str) -> str:
    """Pure-python twin of url_host for assertion bookkeeping only."""
    import re

    m = re.match(r"^[^:/?#]+://([^/:?#]+)", url)
    return m.group(1).lower() if m else ""
