"""Streaming ingest (N7): micro-batch KG construction equals the batch run;
watermarked windowed aggregation produces bounded, correct counts."""

import pytest
from pyspark.sql import functions as F

from jamie_spark import fixtures, pipeline, streaming


@pytest.fixture(scope="module")
def staged_corpus(spark, tmp_path_factory):
    """Corpus written as several parquet files (crawl drops)."""
    base = tmp_path_factory.mktemp("stream_in")
    pages = fixtures.pages_df(spark, 60, seed=21)
    pages.repartition(6).write.mode("overwrite").parquet(str(base / "pages"))
    return str(base / "pages"), pages


def test_stream_kg_equals_batch(spark, staged_corpus, tmp_path):
    input_dir, pages = staged_corpus
    concepts = fixtures.concept_df(spark)
    out = str(tmp_path / "triples_out")
    ckpt = str(tmp_path / "ckpt")

    stream = streaming.read_page_stream(spark, input_dir, max_files_per_trigger=2)
    q = streaming.stream_kg(stream, concepts, out, ckpt)
    q.awaitTermination(300)

    streamed = spark.read.parquet(out)
    batch = pipeline.run_kg(pages, concepts)["canonical_triples"]
    key = ["url", "sent_id", "subj_surface", "pred", "obj_surface", "subj_id", "obj_id"]
    a = streamed.groupBy(*key).count()
    b = batch.groupBy(*key).count()
    assert a.count() == b.count()
    assert a.join(b, key + ["count"], "full_outer").where(
        F.col("count").isNull()
    ).count() == 0


def test_stream_resume_no_duplicates(spark, staged_corpus, tmp_path):
    """Restarting the availableNow stream with the same checkpoint emits
    nothing new (exactly-once over the file source)."""
    input_dir, pages = staged_corpus
    concepts = fixtures.concept_df(spark)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    q1 = streaming.stream_kg(
        streaming.read_page_stream(spark, input_dir), concepts, out, ckpt
    )
    q1.awaitTermination(300)
    n1 = spark.read.parquet(out).count()

    q2 = streaming.stream_kg(
        streaming.read_page_stream(spark, input_dir), concepts, out, ckpt
    )
    q2.awaitTermination(300)
    n2 = spark.read.parquet(out).count()
    assert n1 == n2 > 0


def test_replayed_micro_batch_is_idempotent(spark, staged_corpus, tmp_path):
    """A crash between the sink write and the checkpoint commit replays the
    micro-batch with the SAME batch_id; the batch-keyed overwrite sink must
    absorb the replay without duplicating triples."""
    _, pages = staged_corpus
    concepts = fixtures.concept_df(spark)
    out = str(tmp_path / "replay_out")

    batch = pages.limit(20)
    streaming.process_kg_batch(batch, 7, concepts, out)
    n1 = streaming.read_stream_output(spark, out).count()
    # simulate the foreachBatch replay after a pre-commit crash
    streaming.process_kg_batch(batch, 7, concepts, out)
    n2 = streaming.read_stream_output(spark, out).count()
    assert n1 == n2 > 0
    # a different batch_id appends (normal progress, not a replay)
    streaming.process_kg_batch(batch, 8, concepts, out)
    assert streaming.read_stream_output(spark, out).count() == 2 * n1


def test_stream_sessions_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: every emitted session matches
    the batch twin exactly, and sessions closed well before the final
    watermark are all emitted (event-time timeout fired)."""
    from pyspark.sql import Window

    events = (
        spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        .where(F.col("user_id") < 200)
        .select("user_id", "ts", "event_id")
    )
    # stage in event-time order so the watermark advances monotonically:
    # the file source orders by modification time, so each quartile must be
    # a SEPARATE append (one write job's part files share an mtime and
    # arrive in arbitrary order — a newest-first batch advances the
    # watermark past everything else, which is then dropped as late; found
    # the hard way)
    import time as _time

    src = str(tmp_path / "ev_in")
    ranked = events.withColumn("rk", F.percent_rank().over(
        Window.orderBy("ts", "event_id")))
    for i in range(4):
        (ranked.where((F.col("rk") >= i / 4) & (F.col("rk") < (i + 1) / 4 + (1 if i == 3 else 0)))
               .drop("rk").coalesce(1)
               .write.mode("append").parquet(src))
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, event_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming.stream_sessions(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_t")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    emitted = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql(
            "SELECT user_id, session_start, session_end, n_events FROM sess_t"
        ).collect()
    }
    assert emitted, "no sessions emitted"

    # batch twin: lag + cumulative-sum sessionization at MICROSECOND
    # precision (cast to double epoch — unix_timestamp truncates to seconds
    # and would mis-split gaps within 1s of the threshold)
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gapped = events.withColumn(
        "new_session",
        F.when(
            us - F.lag(us).over(order) > 1800 * 1_000_000, F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(
            order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    batch = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in gapped.groupBy("user_id", "session_id").agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        ).collect()
    }
    assert emitted <= batch, "stream emitted a session the batch twin lacks"
    # completeness: a session is sealed (and must be emitted) once
    # last + gap <= watermark. The watermark in effect while the LAST batch
    # processes is max event time of the first three staged files minus the
    # delay — availableNow runs no extra timeout batch after the final one.
    wm = (
        ranked.where(F.col("rk") < 0.75)
        .agg(F.max(F.unix_timestamp("ts")))
        .first()[0]
        - 600
    )
    must_emit = {
        s for s in batch if int(s[2].timestamp()) + 1800 < wm - 1
    }
    missing = must_emit - emitted
    assert not missing, f"{len(missing)} sealed sessions not emitted"


def test_stream_sessions_out_of_order_merge(spark, tmp_path):
    """An admissible out-of-order event that bridges two already-seen
    events must yield ONE merged session — premature in-batch-gap emission
    would have produced two wrong sessions (the session only seals once
    last + gap <= watermark)."""
    import time as _time

    base = 1_700_000_000
    batches = [
        [(1, base), (1, base + 2000)],   # in-batch gap > 1800s
        [(1, base + 1500)],              # admissible (wm = base+2000-600)
        [(1, base + 100_000)],           # far future: seals everything prior
        [(1, base + 200_000)],           # advances wm past the 100k event
    ]
    src = str(tmp_path / "ooo_in")
    for rows in batches:
        df = spark.createDataFrame(
            [(u, t) for u, t in rows], "user_id long, ts_epoch long"
        ).select("user_id", F.timestamp_seconds("ts_epoch").alias("ts"))
        df.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming.stream_sessions(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ooo_t")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql(
        "SELECT session_start, session_end, n_events FROM ooo_t ORDER BY session_start"
    ).collect()
    sessions = [
        (int(r["session_start"].timestamp()), int(r["session_end"].timestamp()),
         r["n_events"])
        for r in rows
    ]
    assert (base, base + 2000, 3) in sessions, sessions  # ONE merged session
    assert not any(s == (base, base, 1) for s in sessions), sessions


def test_stream_sessions_boundary_event_at_watermark_merges(spark, tmp_path):
    """An event arriving exactly AT the watermark is still admissible and
    merges under the inclusive gap rule (s - last == gap), so a session
    with last + gap == wm must NOT have sealed yet. Regression: sealing on
    last + gap <= wm emitted the session one batch early and the boundary
    event split it in two."""
    import time as _time

    base = 1_700_000_000
    gap, delay = 1800, 600
    batches = [
        # user 2's event drives the watermark to exactly base + gap
        [(1, base), (2, base + gap + delay)],
        [(1, base + gap)],               # ts == wm: admissible, merges
        [(2, base + 100_000)],           # far future: seals user 1
        [(2, base + 200_000)],           # fires user 1's timeout
    ]
    src = str(tmp_path / "bnd_in")
    for rows in batches:
        df = spark.createDataFrame(
            [(u, t) for u, t in rows], "user_id long, ts_epoch long"
        ).select("user_id", F.timestamp_seconds("ts_epoch").alias("ts"))
        df.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming.stream_sessions(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("bnd_t")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql(
        "SELECT user_id, session_start, session_end, n_events FROM bnd_t"
    ).collect()
    u1 = sorted(
        (int(r["session_start"].timestamp()),
         int(r["session_end"].timestamp()), r["n_events"])
        for r in rows if r["user_id"] == 1
    )
    assert u1 == [(base, base + gap, 2)], u1


def test_crawl_rate_watermarked_window(spark, staged_corpus, tmp_path):
    input_dir, pages = staged_corpus
    stream = streaming.read_page_stream(spark, input_dir)
    agg = streaming.crawl_rate(stream, watermark="10 minutes", window="5 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("crawl_rate_t")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql(
        "SELECT sum(n_pages) FROM crawl_rate_t"
    ).first()[0]
    # append mode only emits windows the watermark has closed; the final
    # (open) window is withheld — totals must not exceed the corpus and the
    # batch-side equivalent must agree per emitted window.
    expected = (
        pages.groupBy(F.window("warc_ts", "5 minutes").alias("w"), "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    emitted = spark.sql(
        "SELECT window_start, lang, n_pages FROM crawl_rate_t"
    ).collect()
    exp = {
        (r["w"]["start"], r["lang"]): r["n"] for r in expected.collect()
    }
    assert emitted, "watermark should have closed at least one window"
    for r in emitted:
        assert exp[(r["window_start"], r["lang"])] == r["n_pages"]
    assert got <= pages.count()


def test_dedup_stream_drops_recrawled_pages(spark, tmp_path):
    """dropDuplicatesWithinWatermark-based ingest dedup: a mirrored corpus
    (every page arrives twice under a different url, same html + warc_ts)
    collapses to one survivor per distinct content hash. Watermark (2h)
    exceeds the corpus event-time span (40 min), so no state eviction can
    re-admit a duplicate regardless of micro-batch file order."""
    pages = fixtures.pages_df(spark, 40, seed=5)
    mirrored = pages.withColumn(
        "url", F.concat(F.col("url"), F.lit("?mirror=1"))
    )
    src = str(tmp_path / "dedup_in")
    pages.unionByName(mirrored).repartition(5).write.parquet(src)

    stream = streaming.read_page_stream(spark, src, max_files_per_trigger=2)
    q = (
        streaming.dedup_stream(stream, watermark="2 hours")
        .select("content_hash")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream_t")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        r[0] for r in spark.sql("SELECT content_hash FROM dedup_stream_t").collect()
    }
    expected = {
        r[0] for r in pages.select(F.md5("html")).distinct().collect()
    }
    assert got == expected
    n_emitted = spark.sql("SELECT count(*) FROM dedup_stream_t").first()[0]
    assert n_emitted == len(expected)  # exactly one survivor per content


def test_stream_kg_dedup_drops_history_near_dups(spark, tmp_path):
    """The production ingest shape (N7 + incremental dedup composed): batch
    N+1 must drop near-duplicates of batch N via the persisted signature
    store — history is consulted through signatures only, never re-read —
    while fresh pages flow through to the extractor."""
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "sigstore")
    concepts = fixtures.concept_df(spark)

    batch_a = fixtures.pages_df(spark, 20, seed=1)
    batch_a.coalesce(1).write.mode("append").parquet(src)
    q = streaming.stream_kg_dedup(
        streaming.read_page_stream(spark, src, max_files_per_trigger=64),
        concepts, out, ckpt, store,
    )
    q.awaitTermination(300)
    out_a = streaming.read_stream_output(spark, out)
    assert out_a.count() > 0
    assert set(r["batch"] for r in out_a.select("batch").distinct().collect()) == {0}

    # batch B: 8 mirrors of batch-A pages (same text, different url — the
    # re-crawl/mirror case) + genuinely fresh pages
    mirrors = batch_a.limit(8).withColumn(
        "url", F.concat(F.lit("https://mirror.test/"), F.col("url"))
    )
    fresh = fixtures.pages_df(spark, 12, seed=99).withColumn(
        "url", F.concat(F.lit("https://fresh.test/"), F.col("url"))
    )
    # keep only fresh pages that are NOT near-dups of batch A (the fixture
    # grammar can instantiate genuinely similar docs across seeds; those
    # are true positives for the dedup, not fresh content)
    from jamie_spark import textstats

    fresh_docs = streaming._page_doc_ids(fresh).select("doc_id", "text")
    hist = spark.read.option("basePath", store).parquet(store + "/batch=0")
    collide = (
        textstats.dedup_against_signatures(
            fresh_docs, hist.drop("batch"),
            n=streaming.STREAM_SHINGLE_N,
            min_agree=streaming.STREAM_DEDUP_MIN_AGREE,
            unit=streaming.STREAM_SHINGLE_UNIT,
        )
        .select(F.col("new_doc_id").alias("doc_id"))
        .distinct()
    )
    fresh = (
        streaming._page_doc_ids(fresh)
        .join(collide, "doc_id", "left_anti")
        .drop("doc_id")
    )
    n_fresh = fresh.count()
    assert n_fresh > 0
    mirrors.unionByName(fresh).coalesce(1).write.mode("append").parquet(src)

    q = streaming.stream_kg_dedup(
        streaming.read_page_stream(spark, src, max_files_per_trigger=64),
        concepts, out, ckpt, store,
    )
    q.awaitTermination(300)

    out_b = streaming.read_stream_output(spark, out).where("batch = 1")
    urls_b = {r["url"] for r in out_b.select("url").distinct().collect()}
    assert urls_b, "fresh pages must produce triples"
    assert all(u.startswith("https://fresh.test/") for u in urls_b), urls_b
    # the mirrors never reached the extractor OR the store
    sig_b = spark.read.parquet(store + "/batch=1")
    fresh_ids = {
        r["doc_id"]
        for r in streaming._page_doc_ids(fresh).select("doc_id").collect()
    }
    assert {r["doc_id"] for r in sig_b.select("doc_id").collect()} <= fresh_ids


def test_stream_kg_dedup_drops_same_url_recrawl(spark, tmp_path):
    """A later batch re-crawling the SAME url (identical doc_id, identical
    text) must drop via the history path — the most common duplicate a
    crawl store sees. Regression: the candidate filter used to exempt
    same-id pairs, so re-crawls were extracted twice and re-committed."""
    out = str(tmp_path / "out")
    store = str(tmp_path / "sigstore")
    concepts = fixtures.concept_df(spark)

    b0 = fixtures.pages_df(spark, 12, seed=5)
    streaming.process_kg_dedup_batch(b0, 0, concepts, out, store)
    # batch 1 = the exact same pages again (url-for-url re-crawl)
    streaming.process_kg_dedup_batch(b0, 1, concepts, out, store)

    out_b1 = streaming.read_stream_output(spark, out).where("batch = 1")
    assert out_b1.count() == 0, "re-crawled pages must not re-extract"
    sig_b1 = spark.read.parquet(store + "/batch=1")
    assert sig_b1.count() == 0, "re-crawled signatures must not re-commit"


def test_stream_kg_dedup_cold_start_intra_batch(spark, tmp_path):
    """A cold-start backlog collapses into ONE micro-batch: mirrors inside
    that batch must still dedup (intra-batch self-match, keep-min rule) —
    the store cannot help because there is no prior history yet."""
    out = str(tmp_path / "out")
    store = str(tmp_path / "sigstore")
    concepts = fixtures.concept_df(spark)

    originals = fixtures.pages_df(spark, 10, seed=4)
    mirrors = originals.withColumn(
        "url", F.concat(F.lit("https://zmirror.test/"), F.col("url"))
    )  # 'z' prefix -> mirror urls hash HIGHER is not guaranteed; keep-min
    #    is by doc_id (md5 of url), so assert on the PAIR property instead
    batch = originals.unionByName(mirrors)
    streaming.process_kg_dedup_batch(batch, 0, concepts, out, store)
    sig = spark.read.parquet(store + "/batch=0")
    # exactly one of each mirror pair survives to the store
    assert sig.count() == 10
    # and the survivors' triples match a run over any one copy per pair
    n_out = streaming.read_stream_output(spark, out).count()
    assert n_out > 0


@pytest.fixture(params=["driver", "distributed"])
def dedup_branch(request, monkeypatch):
    """Runs a dedup micro-batch test on each branch: the driver branch is
    the default at test sizes, and a threshold of 0 forces the distributed
    one."""
    if request.param == "distributed":
        monkeypatch.setattr(streaming, "SMALL_BATCH_SIG_ROWS", 0)
    return request.param


def test_process_kg_dedup_batch_replay_idempotent(
    spark, tmp_path, dedup_branch
):
    """A replayed dedup micro-batch (same batch_id) must not dedup against
    its OWN committed signatures: both sinks are batch-keyed overwrites and
    the store read covers strictly-prior batches, so the replay reproduces
    identical survivors, triples and signatures."""
    out = str(tmp_path / "out")
    store = str(tmp_path / "sigstore")
    concepts = fixtures.concept_df(spark)

    batch = fixtures.pages_df(spark, 15, seed=3)
    streaming.process_kg_dedup_batch(batch, 0, concepts, out, store)
    rows1 = sorted(
        map(tuple, streaming.read_stream_output(spark, out).collect())
    )
    sig1 = sorted(
        map(tuple, spark.read.parquet(store + "/batch=0").collect())
    )
    assert rows1 and sig1
    # pre-commit crash -> foreachBatch replays batch 0
    streaming.process_kg_dedup_batch(batch, 0, concepts, out, store)
    rows2 = sorted(
        map(tuple, streaming.read_stream_output(spark, out).collect())
    )
    sig2 = sorted(
        map(tuple, spark.read.parquet(store + "/batch=0").collect())
    )
    assert rows2 == rows1
    assert sig2 == sig1


def test_process_kg_dedup_batch_releases_its_caches(
    spark, tmp_path, persisted_rdds, pinned_rdds, dedup_branch
):
    """A dedup micro-batch with both prior and intra-batch dups leaves no
    cached RDD behind: the materialized pages, signatures and survivor set
    are all released, checkpoint blocks included, so a long-running stream
    does not leak cache."""
    out = str(tmp_path / "out")
    store = str(tmp_path / "sigstore")
    concepts = fixtures.concept_df(spark)
    b0 = fixtures.pages_df(spark, 10, seed=5)
    streaming.process_kg_dedup_batch(b0, 0, concepts, out, store)
    fresh = fixtures.pages_df(spark, 6, seed=8).withColumn(
        "url", F.concat(F.lit("https://fresh.test/"), F.col("url"))
    )
    mirrors = fresh.withColumn(
        "url", F.concat(F.lit("https://mirror.test/"), F.col("url"))
    )
    # prior dups: b0 re-crawled; intra dups: each fresh page and its mirror
    b1 = b0.limit(4).unionByName(fresh).unionByName(mirrors)
    before, pinned = persisted_rdds(), pinned_rdds()
    streaming.process_kg_dedup_batch(b1, 1, concepts, out, store)
    assert persisted_rdds() == before
    assert pinned_rdds() == pinned
    # both kinds of dup were dropped: only one copy per fresh page commits
    assert spark.read.parquet(store + "/batch=1").count() == 6


def test_stream_dedup_short_pages_not_exempt(spark, tmp_path):
    """ADVICE r04: pages shorter than one char-shingle (< 8 chars) used to
    get no signature row — never entering the store and never deduping.
    The whole-text fallback signature closes that: a re-crawled tiny page
    drops in the next batch, distinct tiny pages both survive."""
    out = str(tmp_path / "out")
    store = str(tmp_path / "sigstore")
    concepts = fixtures.concept_df(spark)

    def batch_of(rows):
        return spark.createDataFrame(
            [
                (url, None, None, text, "ja")
                for url, text in rows
            ],
            fixtures.PAGES_DDL,
        )

    # batch 0: one tiny page (5 chars) + one normal page
    streaming.process_kg_dedup_batch(
        batch_of(
            [
                ("https://a.test/tiny", "骨折あり。"),
                ("https://a.test/full", "昨日、左肺に肺癌を認める。"),
            ]
        ),
        0, concepts, out, store,
    )
    sig0 = spark.read.parquet(store + "/batch=0")
    assert sig0.count() == 2  # the tiny page IS in the store
    # batch 1: exact mirror of the tiny page + a DIFFERENT tiny page
    streaming.process_kg_dedup_batch(
        batch_of(
            [
                ("https://mirror.test/tiny", "骨折あり。"),
                ("https://b.test/other", "貧血なし。"),
            ]
        ),
        1, concepts, out, store,
    )
    surv1 = {
        r["doc_id"] for r in spark.read.parquet(store + "/batch=1").collect()
    }
    from jamie_spark.streaming import _page_doc_ids

    ids = {
        r["url"]: r["doc_id"]
        for r in _page_doc_ids(
            batch_of(
                [
                    ("https://mirror.test/tiny", "骨折あり。"),
                    ("https://b.test/other", "貧血なし。"),
                ]
            )
        ).collect()
    }
    assert ids["https://mirror.test/tiny"] not in surv1  # mirror dropped
    assert ids["https://b.test/other"] in surv1          # distinct kept


# --------------------------------------------------------------------------
# Streaming link-graph maintenance (host-pair delta store)
# --------------------------------------------------------------------------


def _linkstore_batches(spark):
    b0 = fixtures.pages_df(spark, 30, seed=31)
    b1 = fixtures.pages_df(spark, 20, seed=32).withColumn(
        "url",
        F.regexp_replace(
            "url", "^https://fixture\\.test/", "https://h2.test/"
        ),
    )
    return b0, b1


def _hosts_equal(tot, ref):
    return (
        tot.exceptAll(ref).count() == 0 and ref.exceptAll(tot).count() == 0
    )


def test_link_store_totals_equal_batch_rollup(spark, tmp_path):
    """Summed link-store deltas == the host rollup over the union of the
    batches (counts are associative); replaying an UNcompacted batch
    overwrites its delta partition — totals unchanged."""
    from jamie_spark import linkgraph

    b0, b1 = _linkstore_batches(spark)
    store = str(tmp_path / "hosts")
    streaming.process_link_batch(b0, 0, store)
    streaming.process_link_batch(b1, 1, store)
    ref = linkgraph.host_graph(linkgraph.extract_links(b0.unionByName(b1)))
    assert _hosts_equal(streaming.host_graph_totals(spark, store), ref)
    streaming.process_link_batch(b1, 1, store)  # at-least-once replay
    assert _hosts_equal(streaming.host_graph_totals(spark, store), ref)


def test_link_store_compaction_and_replay(spark, tmp_path):
    """Compaction folds deltas into one base (same totals, consumed deltas
    deleted); a replayed COMPACTED batch re-commits a partition the totals
    reader ignores; re-compacting at the same watermark is a no-op (no
    double count)."""
    import os

    from jamie_spark import linkgraph

    b0, b1 = _linkstore_batches(spark)
    store = str(tmp_path / "hosts")
    streaming.process_link_batch(b0, 0, store)
    streaming.process_link_batch(b1, 1, store)
    ref = linkgraph.host_graph(linkgraph.extract_links(b0.unionByName(b1)))

    streaming.compact_link_store(spark, store, 1)
    names = sorted(os.listdir(store))
    assert "base=1" in names
    assert not any(n.startswith("batch=") for n in names)
    assert _hosts_equal(streaming.host_graph_totals(spark, store), ref)

    streaming.process_link_batch(b0, 0, store)  # replay of compacted batch
    assert _hosts_equal(streaming.host_graph_totals(spark, store), ref)
    streaming.compact_link_store(spark, store, 1)  # same watermark: no-op
    assert _hosts_equal(streaming.host_graph_totals(spark, store), ref)


def test_link_store_ignores_partial_base(spark, tmp_path):
    """A base dir WITHOUT the _SUCCESS commit marker (crash mid-write) must
    be invisible: totals come from the still-present deltas, the no-op
    guard does not trust it, and a re-compaction overwrites it with a
    committed base covering the same watermark."""
    import os

    from jamie_spark import linkgraph

    b0, b1 = _linkstore_batches(spark)
    store = str(tmp_path / "hosts")
    streaming.process_link_batch(b0, 0, store)
    streaming.process_link_batch(b1, 1, store)
    ref = linkgraph.host_graph(linkgraph.extract_links(b0.unionByName(b1)))

    # simulate the crash: a partial base=1 with data but no _SUCCESS
    partial = os.path.join(store, "base=1")
    os.makedirs(partial)
    b0_only = linkgraph.host_graph(linkgraph.extract_links(b0))
    b0_only.write.mode("overwrite").parquet(partial)
    os.remove(os.path.join(partial, "_SUCCESS"))

    assert _hosts_equal(streaming.host_graph_totals(spark, store), ref)
    streaming.compact_link_store(spark, store, 1)  # replayed compaction
    assert os.path.exists(os.path.join(store, "base=1", "_SUCCESS"))
    assert not any(n.startswith("batch=") for n in os.listdir(store))
    assert _hosts_equal(streaming.host_graph_totals(spark, store), ref)


def test_link_store_incremental_compaction(spark, tmp_path):
    """A second compaction folds only the deltas SINCE the previous base
    (base + newer batches), never re-reading what the base covers."""
    from jamie_spark import linkgraph

    b0, b1 = _linkstore_batches(spark)
    store = str(tmp_path / "hosts")
    streaming.process_link_batch(b0, 0, store)
    streaming.compact_link_store(spark, store, 0)
    streaming.process_link_batch(b1, 1, store)
    streaming.compact_link_store(spark, store, 1)
    ref = linkgraph.host_graph(linkgraph.extract_links(b0.unionByName(b1)))
    assert _hosts_equal(streaming.host_graph_totals(spark, store), ref)


def test_link_store_empty_and_missing(spark, tmp_path):
    """A never-written store reads as an empty host graph; an empty batch
    commits nothing."""
    store = str(tmp_path / "none")
    assert streaming.host_graph_totals(spark, store).count() == 0
    empty = spark.createDataFrame([], fixtures.PAGES_DDL)
    streaming.process_link_batch(empty, 0, store)
    assert streaming.host_graph_totals(spark, store).count() == 0


def test_stream_link_hosts_end_to_end(spark, staged_corpus, tmp_path):
    """The foreachBatch stream over the file source maintains the same
    host graph the batch rollup computes."""
    from jamie_spark import linkgraph

    input_dir, pages = staged_corpus
    store = str(tmp_path / "hosts")
    q = streaming.stream_link_hosts(
        streaming.read_page_stream(spark, input_dir, max_files_per_trigger=2),
        str(tmp_path / "ckpt"),
        store,
    )
    q.awaitTermination(300)
    ref = linkgraph.host_graph(linkgraph.extract_links(pages))
    assert _hosts_equal(streaming.host_graph_totals(spark, store), ref)


def test_process_kg_dedup_batch_null_url_only_extracts_nothing(spark, tmp_path):
    """A page with a null url has no doc_id, so the survivor semi-join can
    never extract it: a batch of only such pages writes no triples
    partition (the survivor count is the extraction's emptiness check) and
    commits no signature."""
    import os

    out = str(tmp_path / "out")
    store = str(tmp_path / "sigstore")
    batch = spark.createDataFrame(
        [(None, None, None, "昨日、左肺に肺癌を認める。", "ja")],
        fixtures.PAGES_DDL,
    )
    streaming.process_kg_dedup_batch(
        batch, 0, fixtures.concept_df(spark), out, store
    )
    assert not os.path.exists(os.path.join(out, "batch=0"))
    assert spark.read.parquet(store + "/batch=0").count() == 0


def _branch_drops(trial: int) -> tuple[list, list]:
    """Two seeded crawl drops as PAGES_DDL rows, urls prefixed by the trial.
    Batch 0 holds history pages, in-batch mirrors, one url twice (once
    shorter than a shingle, so its doc_id has two signature rows), a null
    url, a null text and short pages. Batch 1 holds re-crawls and mirrors
    of batch 0, fresh pages and their in-batch mirrors, a null url, a null
    text and short pages."""
    import random

    rng = random.Random(trial)
    pages, _, _, _ = fixtures.gen_corpus(16, seed=100 + trial)
    pre = f"https://t{trial}.test/"

    def row(p, url, text=...):
        text = p["text"] if text is ... else text
        return (url, p["warc_ts"], p["html"], text, p["lang"])

    hist, fresh = pages[:8], pages[8:]
    twice = rng.choice(hist)
    b0 = [row(p, pre + p["url"]) for p in hist]
    b0 += [row(p, f"{pre}m0/{p['url']}") for p in rng.sample(hist, 3)]
    b0.append(row(twice, pre + twice["url"], twice["text"][:rng.randint(0, 7)]))
    b0.append(row(rng.choice(hist), None))
    b0.append(row(rng.choice(hist), f"{pre}nulltext/0", None))
    b0 += [row(hist[0], f"{pre}short/{k}", t)
           for k, t in enumerate(["骨折あり。", "貧血なし。", "骨折あり。"])]
    b1 = [row(p, pre + p["url"]) for p in rng.sample(hist, 2)]
    b1 += [row(p, f"{pre}m1/{p['url']}") for p in rng.sample(hist, 3)]
    b1 += [row(p, f"{pre}f/{p['url']}") for p in fresh]
    b1 += [row(p, f"{pre}fm/{p['url']}") for p in rng.sample(fresh, 2)]
    b1.append(row(rng.choice(fresh), None))
    b1.append(row(rng.choice(fresh), f"{pre}nulltext/1", None))
    b1 += [row(hist[0], f"{pre}short/m{k}", t)
           for k, t in enumerate(["骨折あり。", "肺癌。"])]
    return b0, b1


def _over_cap_drops() -> tuple[list, list]:
    """Band buckets over MAX_BAND_BUCKET. Batch 0: 64 null-url copies of a
    short page, each its own signature row, fill the cap of every band
    bucket ahead of 3 copies with urls, which therefore keep no candidate
    and all survive. Batch 1: a mirror of that page, and 66 copies of one
    long page under distinct urls."""
    (p,), _, _, _ = fixtures.gen_corpus(1, seed=99)
    short = "咳あり。"

    def row(url, text):
        return (url, p["warc_ts"], p["html"], text, p["lang"])

    b0 = [row(None, short)] * 64
    b0 += [row(f"https://cap.test/{k}", short) for k in range(3)]
    b1 = [row("https://cap.test/mirror", short)]
    b1 += [row(f"https://cap.test/long/{k}", p["text"]) for k in range(66)]
    return b0, b1


def _run_branch(spark, tmp_path, branch, drops) -> tuple[dict, dict]:
    """Runs the drops through one branch; per batch, the committed
    signature rows and the triple rows (None: no triples partition)."""
    import os
    from collections import Counter

    out = str(tmp_path / branch / "out")
    store = str(tmp_path / branch / "store")
    concepts = fixtures.concept_df(spark)
    sigs, triples = {}, {}
    for batch_id, rows in enumerate(drops):
        streaming.process_kg_dedup_batch(
            spark.createDataFrame(rows, fixtures.PAGES_DDL), batch_id,
            concepts, out, store,
        )
        part = os.path.join(store, f"batch={batch_id}")
        sigs[batch_id] = Counter(map(tuple, spark.read.parquet(part).collect()))
        part = os.path.join(out, f"batch={batch_id}")
        triples[batch_id] = (
            Counter(map(tuple, spark.read.parquet(part).collect()))
            if os.path.exists(part) else None
        )
    return sigs, triples


def test_dedup_branches_agree_on_random_batches(spark, tmp_path, monkeypatch):
    """The driver branch of process_kg_dedup_batch commits the same
    signature partitions and writes the same triples as the distributed
    branch, over a two-batch stream of 3 seeded trials plus band buckets
    over the cap."""
    trials = [_branch_drops(t) for t in range(3)] + [_over_cap_drops()]
    drops = [
        [r for t in trials for r in t[0]], [r for t in trials for r in t[1]]
    ]
    driver = _run_branch(spark, tmp_path, "driver", drops)
    monkeypatch.setattr(streaming, "SMALL_BATCH_SIG_ROWS", 0)
    distributed = _run_branch(spark, tmp_path, "distributed", drops)
    assert driver == distributed
    sigs, triples = driver
    # the cap decided batch 0's short copies: all three were committed
    cap_ids = {
        r["doc_id"]
        for r in streaming._page_doc_ids(
            spark.createDataFrame(_over_cap_drops()[0][64:], fixtures.PAGES_DDL)
        ).collect()
    }
    assert cap_ids <= {r[0] for r in sigs[0]}
    # both dedup paths dropped pages, and both batches extracted triples
    for batch_id, rows in enumerate(drops):
        assert 0 < sum(sigs[batch_id].values()) < len(rows)
        assert triples[batch_id]


def test_process_kg_dedup_batch_job_budget(spark, tmp_path, spark_jobs):
    """A history drop (200 fresh pages and 200 mirrors of a 400-page drop
    0) runs at most 18 + 2 Spark jobs, counted by ``spark_jobs``: 29 were
    measured when the small-batch driver branch came in, against 49 before
    it, when every batch ran the distributed probes; one pin per frame
    took it to 25, extraction resolving the canonical ids itself to 20,
    and a prior probe without its two redundant distincts to 18. Of
    those, run_kg and its write on the survivors are 2 (the dictionary
    collect and the write); the rest are the emptiness check, the batch's
    two materializations, the probe's and the null-text doc_id collects,
    the prior probe and the commit's write."""
    out = str(tmp_path / "out")
    store = str(tmp_path / "sigstore")
    concepts = fixtures.concept_df(spark)
    pages = fixtures.pages_df(spark, 600, seed=7)
    doc = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
    drop0 = pages.where(doc < 400)
    streaming.process_kg_dedup_batch(drop0, 0, concepts, out, store)
    mirrors = drop0.where(doc % 2 == 1).withColumn(
        "url", F.concat(F.lit("https://mirror.test/"), F.col("url"))
    )
    drop1 = pages.where(doc >= 400).unionByName(mirrors)
    jobs = spark_jobs(lambda: streaming.process_kg_dedup_batch(
        drop1, 1, concepts, out, store
    ))
    assert jobs <= 18 + 2, jobs


def test_stream_kg_dedup_collects_the_dictionary_once(
    spark, tmp_path, dictionary_collects
):
    """A stream_kg_dedup query over two files, one micro-batch each,
    prepares its dictionary on the first batch that extracts and reuses it
    for the second: one collect, where each batch used to collect its own.
    The same query restarted with no new input reads no dictionary."""
    src = str(tmp_path / "in")
    pages = fixtures.pages_df(spark, 20, seed=4)
    doc = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
    for drop in (pages.where(doc < 10), pages.where(doc >= 10)):
        drop.coalesce(1).write.mode("append").parquet(src)
    concept_dict = dictionary_collects.watch(fixtures.concept_df(spark))
    out, ckpt, store = (str(tmp_path / d) for d in ("out", "ckpt", "store"))

    def run_query():
        q = streaming.stream_kg_dedup(
            streaming.read_page_stream(spark, src, max_files_per_trigger=1),
            concept_dict, out, ckpt, store,
        )
        q.awaitTermination(300)
        assert q.exception() is None

    run_query()
    batches = {
        r["batch"]
        for r in streaming.read_stream_output(spark, out)
        .select("batch").distinct().collect()
    }
    assert batches == {0, 1}  # both micro-batches reached extraction
    assert dictionary_collects.count() == 1
    run_query()
    assert dictionary_collects.count() == 1
