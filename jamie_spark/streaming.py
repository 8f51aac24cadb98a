"""Structured Streaming ingest (N7, SURVEY.md §2.7 — optional axis).

The reference is batch-only; the north_rule requires batch + resumability,
so streaming here is a thin composition layer, not a new engine: incremental
crawl drops (new page files landing in a directory / new Iceberg snapshots)
stream through the SAME batch stages via ``foreachBatch`` — one code path for
batch and streaming, which is the idiomatic Spark design. State is bounded:

* triple extraction is stateless per page -> plain ``foreachBatch`` append;
* the only stateful operator is the windowed crawl-rate aggregation, which
  uses an event-time watermark on ``warc_ts`` so late pages are bounded and
  state is dropped deterministically.

Checkpointing: each query gets a ``checkpointLocation``. ``foreachBatch`` is
at-least-once by itself — a crash after the sink write but before the
checkpoint commit replays the micro-batch on restart — so the sink must be
idempotent on ``batch_id``: each micro-batch lands in its own
``out_dir/batch={batch_id}`` partition with ``mode("overwrite")``, making the
replay overwrite the partial output instead of duplicating it (the same
deterministic-overwrite pattern the lineage writer uses per bucket). The
combination (replayable source + batch-keyed overwrite sink) gives
effectively-exactly-once output.

Dictionary: a query prepares its concept dictionary (``concepts.prepare``)
at most once, on the first micro-batch that reaches extraction, and every
later batch probes that prepared dictionary; a query whose batches are all
empty or fully deduped never reads it. A changed dictionary therefore takes
effect when the query restarts.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from . import pipeline, textstats
from .concepts import prepare
from .fixtures import PAGES_DDL
from .frames import local_frame, materialize, scope

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql.streaming import StreamingQuery

    from .concepts import Prepared


def read_page_stream(
    spark: "SparkSession", input_dir: str, max_files_per_trigger: int = 4
) -> "DataFrame":
    """Incremental crawl batches: parquet files landing in ``input_dir``.

    On a real lake this is ``readStream.format("iceberg")`` over snapshot
    appends; the file source has identical semantics for the sandbox.
    """
    return (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def read_page_stream_iceberg(
    spark: "SparkSession", table: str, **options
) -> "DataFrame":
    """Incremental crawl batches from Iceberg snapshot appends — the
    north_star source on a real lake: ``readStream.format("iceberg")`` over
    a catalog table emits each newly committed snapshot as a micro-batch
    (options like ``stream-from-timestamp`` pass through). Identical
    downstream semantics to :func:`read_page_stream`; requires the Iceberg
    runtime jar (see graph.iceberg_available) — exercised by the env-gated
    tests/test_optional_jars.py, skipped in this jar-less sandbox.
    """
    reader = spark.readStream.format("iceberg")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(table)


def process_kg_batch(
    batch_df: "DataFrame",
    batch_id: int,
    concept_dict: "DataFrame | Prepared",
    out_dir: str,
) -> "DataFrame | Prepared":
    """One micro-batch: pages -> canonical triples -> batch-keyed overwrite.

    Module-level (not a closure) so the idempotence contract is directly
    testable: calling this twice with the same ``batch_id`` — the replay a
    crash between sink write and checkpoint commit produces — must leave the
    same rows as calling it once (``mode("overwrite")`` into the batch's own
    partition directory).

    Returns the dictionary prepared when the batch reached extraction, else
    ``concept_dict`` as given: :func:`stream_kg` hands it to the next batch.
    """
    if batch_df.isEmpty():
        return concept_dict
    return _write_kg_batch(batch_df, batch_id, concept_dict, out_dir)


def _write_kg_batch(
    pages: "DataFrame",
    batch_id: int,
    concept_dict: "DataFrame | Prepared",
    out_dir: str,
) -> "Prepared":
    """Extract and overwrite ``out_dir/batch={batch_id}`` from non-empty
    ``pages``; callers check emptiness, each with the probe it already has.
    Returns the prepared dictionary."""
    from . import graph

    dictionary = prepare(concept_dict)
    triples = pipeline.run_kg(pages, dictionary)["canonical_triples"]
    graph.salted(triples, n_buckets=8, n_salts=4).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, f"batch={batch_id}"))
    return dictionary


def read_stream_output(spark: "SparkSession", out_dir: str) -> "DataFrame":
    """Read the batch-partitioned stream output back as one table."""
    return spark.read.option("basePath", out_dir).parquet(
        os.path.join(out_dir, "batch=*")
    )


def _start_available_now(
    stream: "DataFrame", process, checkpoint_dir: str
) -> "StreamingQuery":
    """Start ``process`` as the ``foreachBatch`` sink of ``stream``: the
    query drains what its source holds now, in micro-batches, then stops
    (``availableNow``)."""
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_kg(
    pages_stream: "DataFrame",
    concept_dict: "DataFrame | Prepared",
    out_dir: str,
    checkpoint_dir: str,
) -> "StreamingQuery":
    """Stream pages -> canonical triples, one micro-batch at a time.

    ``foreachBatch`` reuses the exact batch pipeline (run_kg), so streaming
    and batch can never drift semantically; each micro-batch overwrites its
    own ``batch={batch_id}`` directory (idempotent on replay — see module
    docstring) with its canonical triples plus the ``graph.salted``
    ``bucket``/``salt`` columns (8 buckets, 4 salts), as one unpartitioned
    parquet write: no ``partitionBy("bucket")`` and no rebalance, unlike
    ``graph.materialize``. The first batch that extracts prepares the
    dictionary for the rest.
    """

    def process(batch_df: "DataFrame", batch_id: int) -> None:
        nonlocal concept_dict
        concept_dict = process_kg_batch(
            batch_df, batch_id, concept_dict, out_dir
        )

    return _start_available_now(pages_stream, process, checkpoint_dir)


# --- incremental near-dup ingest (N7 composed with the signature store) ----

#: near-dup threshold for the ingest loop: estimated Jaccard (MinHash
#: agreement fraction) at or above this drops the page as a re-crawl/mirror
STREAM_DEDUP_MIN_AGREE = 0.5
#: shingle unit for page text: CHARACTER n-grams — the crawl is Japanese
#: web text with no spaces, where word shingles would be empty
#: (textstats.char_shingles)
STREAM_SHINGLE_UNIT = "char"
STREAM_SHINGLE_N = 8


def _page_doc_ids(pages: "DataFrame") -> "DataFrame":
    """Pages + a stable 60-bit integer doc_id derived from the url (md5
    prefix — engine-portable like every other hash in the repo). The
    signature store keys on doc_id, pages key on url; this is the bridge."""
    return pages.withColumn(
        "doc_id",
        F.conv(F.substring(F.md5("url"), 1, 15), 16, 10).cast("long"),
    )


def _prior_signatures(
    spark: "SparkSession", store_dir: str, batch_id: int
) -> "DataFrame | None":
    """Signature partitions of batches STRICTLY BEFORE ``batch_id`` — the
    replay-safety core: a re-run micro-batch must never dedup against its
    own committed signatures (that would drop every page of the replay and
    break idempotence). Returns None when no prior batch exists.

    Listing goes through the Hadoop FileSystem API via :func:`_store_parts`
    (the store lives wherever Spark can write — hdfs://, s3a://, file://),
    NOT driver-local glob: a local glob on a remote store would silently
    match nothing and disable dedup without a whisper."""
    dirs = [
        p
        for b, p in _store_parts(spark, store_dir, "batch=")
        if b < batch_id
    ]
    if not dirs:
        return None
    # the store's row schema is known: inferring it would run a job that
    # reads a footer
    return spark.read.schema(textstats.SIG_DDL).parquet(*dirs)


#: signature rows at or below which a dedup micro-batch decides on the
#: driver (:func:`process_kg_dedup_batch`). Measured on 4 cores with history
#: drops of N/2 fresh pages plus N/2 mirrors, process CPU-s driver vs
#: distributed: 18 vs 26 at N=400, 27 vs 30 at 5k, 34 vs 40 at 20k, 50 vs
#: 96 at 50k, wall within 7% or better. No crossover showed up to 50k, the
#: largest size measured, so that is the bound: the driver holds every row.
SMALL_BATCH_SIG_ROWS = 50_000


def _small_batch_rows(
    pages: "DataFrame", new_sig: "DataFrame"
) -> "tuple[list, set[int]] | None":
    """(signature rows, page doc_ids) of a batch with at most
    ``SMALL_BATCH_SIG_ROWS`` signature rows, else None. One
    ``limit(N + 1).collect()`` probes the size and brings the rows; the
    doc_ids of pages with a null text, which have no signature row, come
    from a second collect. A null doc_id (null url) is no page doc_id."""
    if SMALL_BATCH_SIG_ROWS <= 0:
        return None
    # one partition: a limit over several scans them in rounds, one job each
    rows = new_sig.coalesce(1).limit(SMALL_BATCH_SIG_ROWS + 1).collect()
    if len(rows) > SMALL_BATCH_SIG_ROWS:
        return None
    no_sig = pages.where(F.col("text").isNull()).select("doc_id").collect()
    page_ids = {r[0] for r in rows + no_sig if r[0] is not None}
    return [tuple(r) for r in rows], page_ids


def process_kg_dedup_batch(
    batch_df: "DataFrame",
    batch_id: int,
    concept_dict: "DataFrame | Prepared",
    out_dir: str,
    store_dir: str,
) -> "DataFrame | Prepared":
    """One micro-batch of the PRODUCTION ingest shape: near-dup the incoming
    crawl against all history via the persisted MinHash signature store
    AND against itself (cold-start backlogs arrive as one giant batch 0),
    extract triples only from the survivors, then commit the survivors'
    signatures — history is shingled exactly once, at its own ingest.

    Idempotence on replay (the at-least-once contract of foreachBatch):
    both sinks are batch-keyed overwrites (triples to
    ``out_dir/batch={id}``, signatures to ``store_dir/batch={id}``) and the
    dedup reads only PRIOR batches' signatures, so a replay recomputes the
    identical survivor set and overwrites both partitions byte-for-byte.
    Cost per batch is O(batch + matched store rows): the store's bands are
    semi-joined down to the batch's band keys before any window
    (textstats.dedup_against_signatures).

    The batch runs in one ``frames.scope()``. The size of its materialized
    signature table picks one of two branches; its probe is one
    ``limit(SMALL_BATCH_SIG_ROWS + 1).collect()`` (:func:`_small_batch_rows`),
    skipped when the threshold is 0.

    * At most ``SMALL_BATCH_SIG_ROWS`` rows: the driver decides from the
      collected rows. The intra-batch self-match runs in Python
      (textstats.self_dup_doc_ids). The prior-history probe joins the
      stored signatures against the rows as a local relation and collects
      its dup doc_ids; its store side stays distributed. The survivors are
      a driver set, handed to the extraction and the commit as a local
      relation. Jobs: the emptiness check, two materializations, the probe's
      and the null-text doc_id collects, the prior probe's stages and collect,
      the dictionary's collect unless it came prepared, run_kg's one-stage
      write on the survivors, and the commit's write.
    * Above it: the prior probe and the intra-batch band self-join are
      distributed plans, and the survivor doc_ids are materialized and
      counted before the extraction and the commit.

    A history drop of 200 fresh pages and 200 mirrors against a 400-page
    history runs 18 jobs on the driver branch and 33 on the distributed one
    (tests/test_streaming.py caps the first).

    Returns the dictionary prepared when survivors reached extraction, else
    ``concept_dict`` as given: :func:`stream_kg_dedup` hands it to the next
    batch.
    """
    if batch_df.isEmpty():
        return concept_dict
    spark = batch_df.sparkSession
    # NOT re-spread: an A/B at the bench's 5k-page batches measured the
    # under-split micro-batch (4 landed files) FASTER without a repartition
    # (79-81s vs 82-83s over 4 batches) — the per-batch cost here is
    # scheduler/stage-latency-bound, not map-parallelism-bound, so the
    # extra shuffle+job per batch only adds latency (contrast: the batch
    # declared-query tables, where the same spread won 2-5x).
    with scope():
        pages = materialize(_page_doc_ids(batch_df))
        # signatures computed ONCE per batch (shingling dominates the
        # per-batch cost) and reused for both the dedup probe and the commit
        new_sig = materialize(textstats.minhash_signature_table(
            pages.select("doc_id", "text"),
            n=STREAM_SHINGLE_N,
            unit=STREAM_SHINGLE_UNIT,
            # pages shorter than one shingle still get a whole-text
            # signature row: tiny pages must dedup (at least exactly) and
            # enter the store like everything else (ADVICE r04)
            short_fallback=True,
        ))
        prior = _prior_signatures(spark, store_dir, batch_id)
        small = _small_batch_rows(pages, new_sig)
        if small is not None:
            sig_rows, keep_ids = small
            if prior is not None:
                local_sig = local_frame(spark, sig_rows, textstats.SIG_DDL)
                keep_ids -= {
                    r[0] for r in _history_dups(prior, local_sig).collect()
                }
            keep_ids -= textstats.self_dup_doc_ids(
                sig_rows, STREAM_DEDUP_MIN_AGREE
            )
            n_keep = len(keep_ids)
            keep = local_frame(
                spark, [(i,) for i in sorted(keep_ids)], "doc_id long"
            )
        else:
            keep = materialize(_distributed_keep(pages, new_sig, prior))
            n_keep = keep.count()
        if n_keep:
            concept_dict = _write_kg_batch(
                pages.join(keep, "doc_id", "left_semi").drop("doc_id"),
                batch_id, concept_dict, out_dir,
            )
        # commit step: survivors' signatures become history for batch_id + 1
        new_sig.join(keep, "doc_id", "left_semi").write.mode(
            "overwrite"
        ).parquet(os.path.join(store_dir, f"batch={batch_id}"))
    return concept_dict


def _history_dups(prior: "DataFrame", new_sig: "DataFrame") -> "DataFrame":
    """doc_ids of the batch (``new_sig``) that near-dup a signature a prior
    batch committed, once per matched pair: both consumers, a driver set
    and an anti-join, ignore repeats."""
    return (
        textstats.dedup_against_signatures(
            None, prior, n=STREAM_SHINGLE_N,
            min_agree=STREAM_DEDUP_MIN_AGREE,
            unit=STREAM_SHINGLE_UNIT, new_sig=new_sig,
        )
        .select(F.col("new_doc_id").alias("doc_id"))
    )


def _distributed_keep(
    pages: "DataFrame", new_sig: "DataFrame", prior: "DataFrame | None"
) -> "DataFrame":
    """Survivor doc_ids of a large batch, planned as distributed probes."""
    # a null url has no doc_id and the semi-joins never extract it;
    # leaving it out makes the survivor count an exact emptiness check of
    # the extraction input
    survivors = pages.select("doc_id").dropna()
    if prior is not None:
        survivors = survivors.join(
            _history_dups(prior, new_sig), "doc_id", "left_anti"
        )
    # INTRA-batch near-dups (a cold-start backlog collapses the whole
    # crawl into micro-batch 0 — prior-history dedup alone would admit
    # every mirror pair inside it): self-match the batch signatures and
    # keep the MIN doc_id of each near-dup pair. Deterministic and
    # transitive-safe (any doc with a smaller near-dup neighbor drops).
    intra = (
        textstats.dedup_against_signatures(
            None, new_sig, n=STREAM_SHINGLE_N,
            min_agree=STREAM_DEDUP_MIN_AGREE,
            unit=STREAM_SHINGLE_UNIT, new_sig=new_sig,
        )
        .where(F.col("new_doc_id") > F.col("stored_doc_id"))
        .select(F.col("new_doc_id").alias("doc_id"))
    )
    return survivors.join(intra, "doc_id", "left_anti")


def stream_kg_dedup(
    pages_stream: "DataFrame",
    concept_dict: "DataFrame | Prepared",
    out_dir: str,
    checkpoint_dir: str,
    store_dir: str,
) -> "StreamingQuery":
    """:func:`stream_kg` composed with incremental near-dup dedup: each
    crawl micro-batch drops near-duplicates of EVERYTHING already ingested
    (via the persisted signature store) before paying the extractor, and
    admits its survivors to the store for the batches after it. Exact
    within-horizon duplicates are cheaper still — compose
    :func:`dedup_stream` upstream for those; this loop is the unbounded-
    history tier the watermark cannot cover. The first batch that extracts
    prepares the dictionary for the rest."""

    def process(batch_df: "DataFrame", batch_id: int) -> None:
        nonlocal concept_dict
        concept_dict = process_kg_dedup_batch(
            batch_df, batch_id, concept_dict, out_dir, store_dir
        )

    return _start_available_now(pages_stream, process, checkpoint_dir)


def _store_parts(
    spark: "SparkSession", store_dir: str, prefix: str
) -> list[tuple[int, str]]:
    """(id, path) for every ``{prefix}{N}`` partition dir under the store.
    Hadoop FileSystem listing like :func:`_prior_signatures` — the store
    lives wherever Spark can write (hdfs://, s3a://, file://)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(
        os.path.join(store_dir, prefix + "*")
    )
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    statuses = fs.globStatus(hpath)
    out = []
    for st in statuses or []:
        p = st.getPath().toString()
        b = p.rsplit("=", 1)[1]
        if b.isdigit():
            out.append((int(b), p))
    return out


def _committed_bases(
    spark: "SparkSession", store_dir: str
) -> list[tuple[int, str]]:
    """Base rollup partitions whose job COMMITTED — presence of the
    ``_SUCCESS`` marker Spark's FileOutputCommitter writes at job commit.
    A crash mid-way through a base write leaves a partial ``base={N}`` dir;
    unlike delta partitions (batch-keyed overwrites that foreachBatch
    replays and rewrites), a partial base would otherwise be trusted
    forever — the no-op guard in :func:`compact_link_store` would skip the
    re-fold and :func:`host_graph_totals` would undercount permanently.
    (Assumes ``mapreduce.fileoutputcommitter.marksuccessfuljobs`` is left
    at its default ``true``.)"""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    out = []
    for b, p in _store_parts(spark, store_dir, "base="):
        hp = jvm.org.apache.hadoop.fs.Path(os.path.join(p, "_SUCCESS"))
        if hp.getFileSystem(conf).exists(hp):
            out.append((b, p))
    return out


def process_link_batch(
    batch_df: "DataFrame", batch_id: int, store_dir: str
) -> None:
    """One micro-batch of LINK-GRAPH maintenance: extract the batch's
    hyperlink edges from raw crawl html, roll them up to host-pair counts,
    and commit the DELTA to ``store_dir/batch={id}``. The host graph a
    crawl scheduler reads is the sum of the deltas (:func:`host_graph_totals`)
    — counts are associative, so maintenance is O(batch) however large the
    accumulated graph, the streaming analogue of the signature store's
    never-re-shingle contract.

    Idempotence on replay (foreachBatch is at-least-once): the delta sink
    is a batch-keyed overwrite, and after compaction the totals reader
    IGNORES batch partitions the base rollup already covers — a replayed
    compacted batch overwrites an ignored partition, totals unchanged.
    """
    from . import linkgraph

    if batch_df.isEmpty():
        return
    delta = linkgraph.host_graph(linkgraph.extract_links(batch_df))
    delta.write.mode("overwrite").parquet(
        os.path.join(store_dir, f"batch={batch_id}")
    )


def host_graph_totals(spark: "SparkSession", store_dir: str) -> "DataFrame":
    """Current (src_host, dst_host, n_links) host graph: the newest base
    rollup plus the delta partitions AFTER it, summed on read — one hash
    aggregation over host-pair partials, never raw edges. Only COMMITTED
    bases count (``_SUCCESS`` marker) — a partial base from a mid-write
    crash is ignored and its consumed deltas, still present because
    deletion happens only after commit, carry the totals."""
    bases = _committed_bases(spark, store_dir)
    k = max(b for b, _ in bases) if bases else None
    paths = [
        p for b, p in _store_parts(spark, store_dir, "batch=")
        if k is None or b > k
    ]
    if k is not None:
        paths.append(dict(bases)[k])
    if not paths:
        return local_frame(
            spark, [], "src_host string, dst_host string, n_links long"
        )
    return (
        spark.read.parquet(*paths)
        .groupBy("src_host", "dst_host")
        .agg(F.sum("n_links").alias("n_links"))
    )


def compact_link_store(
    spark: "SparkSession", store_dir: str, upto_batch: int
) -> None:
    """Fold the delta partitions with id <= ``upto_batch`` (plus any older
    base) into one ``base={upto_batch}`` rollup, bounding the totals
    reader's read amplification to base + deltas-since. No-op when an
    equal-or-newer base exists (re-compacting a fold the base already
    covers would double-count). Consumed partitions are deleted only AFTER
    the new base commits; a crash in between leaves them present but
    ignored by the reader — totals stay consistent. A PARTIAL base (no
    ``_SUCCESS`` — crash mid-write) is treated as absent: the no-op guard
    must not trust it, and the re-fold's overwrite replaces it."""
    bases = _committed_bases(spark, store_dir)
    k_old = max(b for b, _ in bases) if bases else None
    if k_old is not None and k_old >= upto_batch:
        return
    paths = [
        p for b, p in _store_parts(spark, store_dir, "batch=")
        if (k_old is None or b > k_old) and b <= upto_batch
    ]
    if k_old is not None:
        paths.append(dict(bases)[k_old])
    if not paths:
        return
    (
        spark.read.parquet(*paths)
        .groupBy("src_host", "dst_host")
        .agg(F.sum("n_links").alias("n_links"))
        .write.mode("overwrite")
        .parquet(os.path.join(store_dir, f"base={upto_batch}"))
    )
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    for p in paths:
        hp = jvm.org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(conf).delete(hp, True)


#: micro-batches between host-graph compactions in :func:`stream_link_hosts`
LINK_COMPACT_EVERY = 16


def stream_link_hosts(
    pages_stream: "DataFrame",
    checkpoint_dir: str,
    store_dir: str,
) -> "StreamingQuery":
    """Continuous host-graph maintenance over the crawl stream: each
    micro-batch commits its host-pair delta; every
    :data:`LINK_COMPACT_EVERY` batches the deltas fold into a base rollup so
    the scheduler-facing read (:func:`host_graph_totals`) stays bounded."""

    def process(batch_df: "DataFrame", batch_id: int) -> None:
        process_link_batch(batch_df, batch_id, store_dir)
        if batch_id > 0 and batch_id % LINK_COMPACT_EVERY == 0:
            compact_link_store(
                batch_df.sparkSession, store_dir, batch_id - 1
            )

    return _start_available_now(pages_stream, process, checkpoint_dir)


SESSION_GAP_SEC = 1800


def stream_sessions(
    events_stream: "DataFrame",
    watermark: str = "10 minutes",
    gap_sec: int = SESSION_GAP_SEC,
) -> "DataFrame":
    """Custom STATEFUL streaming operator: per-user session windows with a
    30-minute inactivity gap via ``applyInPandasWithState``. The batch twin
    is the lag + cumulative-sum sessionization computed at MICROSECOND
    precision (``_sessionization``'s DuckDB-oracle variant truncates to
    epoch seconds for cross-engine parity; this operator does not — gaps
    within 1s of the threshold resolve at full event-time precision here).

    Finalization follows the watermark, exactly like Spark's built-in
    ``session_window``: a session is EMITTED only once
    ``last_event + gap < watermark`` — strict, because an event AT the
    watermark is still admissible and merges under the inclusive gap rule
    — i.e. once no still-admissible late event could extend or merge it. (Emitting on the in-batch gap alone is
    wrong: an out-of-order event inside the watermark can belong to a
    session between two already-seen ones.) State per user = the PENDING
    sessions (those the watermark hasn't sealed), held as parallel arrays;
    each batch merges its events with the pending set as sorted intervals,
    emits the newly sealed prefix, and re-arms the event-time timeout at
    the earliest pending ``last + gap``. State stays bounded: a pending
    session by definition has ``last > watermark - gap``, so the window of
    pending data per user is at most watermark delay + gap.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, session_start timestamp, session_end timestamp, "
        "n_events bigint"
    )
    state_schema = (
        "starts array<bigint>, lasts array<bigint>, ns array<bigint>"
    )

    gap_us = gap_sec * 1_000_000

    def _split(sessions, wm_ms):
        """-> (sealed, pending) by the watermark rule last+gap < wm.

        STRICT: an event at ts == watermark is still admissible, and the
        inclusive merge rule (new session only when s - last > gap) would
        merge it when ts == last + gap — so a session with
        last + gap == wm must stay pending or that boundary event would
        split one session into two."""
        wm_us = wm_ms * 1000
        sealed = [s for s in sessions if s[1] + gap_us < wm_us]
        pending = [s for s in sessions if s[1] + gap_us >= wm_us]
        return sealed, pending

    def _frame(user_id, sessions):
        return pd.DataFrame(
            {
                "user_id": [user_id] * len(sessions),
                "session_start": [
                    pd.Timestamp(s, unit="us") for s, _, _ in sessions
                ],
                "session_end": [
                    pd.Timestamp(e, unit="us") for _, e, _ in sessions
                ],
                "n_events": [n for _, _, n in sessions],
            }
        )

    def _park(state, pending):
        if pending:
            state.update(
                (
                    [s for s, _, _ in pending],
                    [e for _, e, _ in pending],
                    [n for _, _, n in pending],
                )
            )
            # > current watermark: pending has last + gap >= wm (us), and
            # the ms floor + 1 lands strictly above wm in ms
            state.setTimeoutTimestamp(
                (min(e for _, e, _ in pending) + gap_us) // 1000 + 1
            )
        else:
            state.remove()

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            starts, lasts, ns = state.get
            sealed, pending = _split(
                list(zip(starts, lasts, ns)), state.getCurrentWatermarkMs()
            )
            _park(state, pending)
            if sealed:
                yield _frame(user_id, sealed)
            return
        # state/arithmetic in MICROSECONDS — session bounds must round-trip
        # bit-exactly against the batch twin's timestamps
        ts = sorted(
            int(t.value // 1_000)
            for pdf in pdfs
            for t in pd.to_datetime(pdf["ts"])
        )
        if not ts:
            return
        # merge the batch's events and ALL pending sessions as sorted
        # intervals: admissible events may land before, between, or inside
        # pending sessions (file sources deliver per-user data out of order
        # across micro-batches)
        items = [(t, t, 1) for t in ts]
        if state.exists:
            starts, lasts, ns = state.get
            items.extend(zip(starts, lasts, ns))
        items.sort()
        merged = []
        start, last, n = items[0]
        for s, e, c in items[1:]:
            if s - last > gap_us:
                merged.append((start, last, n))
                start, last, n = s, e, c
            else:
                last = max(last, e)
                n += c
        merged.append((start, last, n))
        sealed, pending = _split(merged, state.getCurrentWatermarkMs())
        _park(state, pending)
        if sealed:
            yield _frame(user_id, sealed)

    return (
        events_stream.select("user_id", "ts")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def dedup_stream(
    pages_stream: "DataFrame", watermark: str = "10 minutes"
) -> "DataFrame":
    """Exact dedup AT INGEST: drop re-crawled/mirrored pages by content hash
    before they ever reach the extractor (at web scale the same boilerplate
    page arrives from thousands of mirrors — paying a model forward for each
    copy is the single biggest avoidable cost in the pipeline).

    Built on ``dropDuplicatesWithinWatermark``: state holds one entry per
    DISTINCT content hash seen within the watermark horizon and is evicted
    deterministically as event time advances — bounded state at any crawl
    rate, unlike a bare streaming ``dropDuplicates`` whose hash set grows
    forever. The horizon is a semantic knob: a duplicate arriving later than
    ``watermark`` after the first copy is re-emitted (and collapsed by the
    downstream BATCH dedup_exact pass, which stays authoritative — this
    operator is the cheap early filter, not the source of truth).

    The hash is computed JVM-side (md5 of the raw html) so the dedup runs
    entirely inside the stream's stateful exchange — no Python in the path.
    """
    return (
        pages_stream.withColumn("content_hash", F.md5("html"))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


def crawl_rate(
    pages_stream: "DataFrame",
    watermark: str = "10 minutes",
    window: str = "5 minutes",
) -> "DataFrame":
    """Watermarked tumbling-window page counts per lang (the one stateful op).

    Late pages beyond the watermark are dropped deterministically — bounded
    state at any corpus rate.
    """
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n_pages",
        )
    )
