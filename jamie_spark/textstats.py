"""Training-data pipeline operators over a ``documents(doc_id, text, ...)`` table.

Deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard), text quality
scoring, language-ID, token counting and winnowing fingerprints — the
operations a 100 TB training-data pipeline runs in front of model training.

Design rules:
* everything is built from JVM-side built-ins (``split`` / ``transform`` /
  ``sequence`` / ``md5`` / windows) — whole-stage codegen applies, no Python
  in the hot path;
* every operator has a DuckDB-expressible twin in ``__spark_entry__.oracle_sql``
  (hence md5-based hashing here: md5 is bit-identical across engines, unlike
  xxhash64; the production linking path in jamie_spark.link uses xxhash64
  which is ~10x faster but engine-specific);
* shuffles only where the semantics demand them (groupBy doc for signatures,
  band self-join for candidates). The LSH band join is the scale path: it
  replaces the O(n^2) all-pairs comparison with an equi-join on band keys.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from typing import TYPE_CHECKING

from pyspark.sql import Window
from pyspark.sql import functions as F

from .frames import local_frame, materialize

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

STOPWORDS = ("the", "a", "of", "and", "in", "to", "is")

# tiny per-language marker sets for the n-gram/stopword language-ID heuristic
LANG_MARKERS = {
    "en": ("the", "a", "of", "and"),
    "es": ("el", "la", "de", "y"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "la", "de", "et"),
}
LANG_PRIORITY = ("en", "es", "de", "fr")  # deterministic tie-break order


def _words(docs: "DataFrame") -> "DataFrame":
    return docs.select("doc_id", F.split("text", " ").alias("ws"))


def token_counts(docs: "DataFrame") -> "DataFrame":
    """(doc_id, n_tokens) — whitespace tokenization (T-count op)."""
    return _words(docs).select(
        "doc_id", F.size("ws").cast("long").alias("n_tokens")
    )


#: BPE-ish pre-tokenizer: letter runs / digit runs / single punctuation —
#: the GPT-style split whose piece count tracks BPE token counts far better
#: than whitespace does ("don't" -> 3, "2024-01" -> 3). Deliberately
#: restricted to constructs Java regex (Spark) and RE2 (DuckDB) treat
#: identically.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_counts_bpe(docs: "DataFrame") -> "DataFrame":
    """(doc_id, n_tokens, n_ws_tokens) — BPE-ish regex token counting next
    to the whitespace count (the brief's 'whitespace + a BPE-ish regex'
    pair). JVM-side ``regexp_extract_all`` — one codegen'd scan."""
    return docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all("text", F.lit(BPE_TOKEN_PATTERN), F.lit(0))
        ).cast("long").alias("n_tokens"),
        F.size(F.split("text", " ")).cast("long").alias("n_ws_tokens"),
    )


def quality_scores(docs: "DataFrame") -> "DataFrame":
    """(doc_id, n_tokens, n_chars, stop_ratio, avg_word_len) — quality scoring.

    All ratios rounded to 4 decimals so cross-engine value hashes are stable.
    """
    w = _words(docs).withColumn("n_chars", F.length(F.concat_ws(" ", "ws")))
    stop_arr = "array(" + ",".join(f"'{s}'" for s in STOPWORDS) + ")"
    return w.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.round(
            F.expr(f"size(filter(ws, x -> array_contains({stop_arr}, x)))")
            / F.size("ws"),
            4,
        ).alias("stop_ratio"),
        F.round(
            F.expr("aggregate(ws, 0L, (acc, x) -> acc + length(x))")
            / F.size("ws"),
            4,
        ).alias("avg_word_len"),
    )


def lang_id(docs: "DataFrame") -> "DataFrame":
    """(doc_id, pred_lang) — marker-stopword language ID, deterministic
    tie-break by LANG_PRIORITY then 'und' when all scores are zero."""
    w = _words(docs)
    scores = [
        F.expr(
            "size(filter(ws, x -> array_contains(array("
            + ",".join(f"'{m}'" for m in LANG_MARKERS[lang])
            + "), x)))"
        ).alias(f"s_{lang}")
        for lang in LANG_PRIORITY
    ]
    scored = w.select("doc_id", *scores)
    best = F.greatest(*[F.col(f"s_{lang}") for lang in LANG_PRIORITY])
    pred = F.when(best == 0, F.lit("und"))
    for lang in LANG_PRIORITY:
        pred = pred.when(F.col(f"s_{lang}") == best, F.lit(lang))
    return scored.select("doc_id", pred.alias("pred_lang"))


#: Gopher-style quality rule bounds (Rae et al. 2021 §A1.1 shape; the
#: numbers are corpus-tunable knobs, single-sourced here for the Spark
#: entry AND its DuckDB oracle)
QUALITY_RULES = {
    "min_tokens": 20,
    "max_tokens": 100_000,
    "min_avg_word_len": 2.0,
    "max_avg_word_len": 12.0,
    "min_stop_ratio": 0.02,
}


#: PII patterns, restricted to the regex subset Java (Spark) and RE2
#: (DuckDB/the oracle) evaluate identically: literal classes, bounded
#: repetition, \b word boundaries, non-capturing groups — no backrefs, no
#: lookaround. Kept as module constants so the SQL twin renders the SAME
#: strings.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE = r"\b0\d{1,4}-\d{1,4}-\d{3,4}\b"


def pii_scrub(docs: "DataFrame") -> "DataFrame":
    """(doc_id, n_emails, n_ips, n_phones, scrubbed) — PII detection +
    redaction, the compliance pass a web-corpus pipeline runs before
    training: emails / IPv4s / dashed phone numbers replaced by typed
    placeholder tokens. Precedence is part of the contract — emails first,
    then IPs, then phones — and the COUNTS follow the same staging: each
    count is taken on the text with the higher-precedence classes already
    scrubbed (n_ips on the email-scrubbed text, n_phones after IPs too),
    so counts always reconcile with the placeholders in ``scrubbed``
    (e.g. '012-345-6789@x.com' is ONE email, zero phones — the phone
    pattern's raw-text match is consumed by the email replacement).
    All-JVM regexp work (counts via regexp_extract_all, rewrite via
    chained regexp_replace) — embarrassingly parallel, no shuffle, scales
    as a pure map stage."""
    t = F.col("text")
    after_email = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, PII_IPV4, "<IP>")
    scrubbed = F.regexp_replace(after_ip, PII_PHONE, "<PHONE>")

    def _n(src, pat, name):
        return (
            F.size(F.regexp_extract_all(src, F.lit(pat), F.lit(0)))
            .cast("long")
            .alias(name)
        )

    return docs.select(
        "doc_id",
        _n(t, PII_EMAIL, "n_emails"),
        _n(after_email, PII_IPV4, "n_ips"),
        _n(after_ip, PII_PHONE, "n_phones"),
        scrubbed.alias("scrubbed"),
    )


def quality_filter(docs: "DataFrame") -> "DataFrame":
    """(doc_id, n_tokens, avg_word_len, stop_ratio, keep) — the Gopher-rule
    boolean filter composed over :func:`quality_scores`: documents outside
    the token-count / mean-word-length bounds or under the stopword-ratio
    floor are flagged for removal. Pure column arithmetic on the existing
    signals — one scan, whole-stage codegen, trivially linear at any
    corpus size."""
    r = QUALITY_RULES
    q = quality_scores(docs)
    keep = (
        (F.col("n_tokens") >= r["min_tokens"])
        & (F.col("n_tokens") <= r["max_tokens"])
        & (F.col("avg_word_len") >= r["min_avg_word_len"])
        & (F.col("avg_word_len") <= r["max_avg_word_len"])
        & (F.col("stop_ratio") >= r["min_stop_ratio"])
    )
    return q.select(
        "doc_id", "n_tokens", "avg_word_len", "stop_ratio",
        keep.alias("keep"),
    )


def dedup_exact(docs: "DataFrame") -> "DataFrame":
    """(text_hash, dup_count, keeper_doc_id) — exact dedup groups by md5."""
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


def shingles(docs: "DataFrame", n: int = 3) -> "DataFrame":
    """(doc_id, pos, shingle) — word n-gram shingles, 1-based pos.

    Formula mirrors the DuckDB oracle exactly: docs with < n words produce
    no shingles.
    """
    parts = ", ".join(f"ws[i - 1 + {j}]" for j in range(n))
    return (
        _words(docs)
        .where(F.size("ws") >= n)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(ws) - {n - 1}),"
                    f" i -> concat_ws(' ', {parts}))"
                )
            ).alias("pos0", "shingle"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "shingle")
    )


def _distinct_shingles(
    docs: "DataFrame", n: int, sh: "DataFrame | None" = None
) -> "DataFrame":
    """Distinct (doc_id, shingle) — the stream every dedup stage consumes.
    ``sh`` lets a composed caller (near_dup_pairs: signatures + verify
    universe + sizes) pass ONE materialized copy instead of re-running the
    corpus explode+distinct per consumer (the branches shuffle on different
    keys, so ReuseExchange never collapses them)."""
    if sh is not None:
        return sh
    return shingles(docs, n).select("doc_id", "shingle").distinct()


def _filtered_shingles(
    docs: "DataFrame", n: int, max_df: int, sh: "DataFrame | None" = None
) -> "DataFrame":
    """Distinct (doc_id, shingle) with high-document-frequency shingles
    dropped. ``max_df`` caps the posting-list length per shingle: a
    boilerplate shingle shared by k documents alone produces k^2/2 join rows
    (one stopword-heavy trigram in 10^6 docs -> 10^12 rows), yet carries
    ~zero dedup signal. The dropped shingles leave the Jaccard UNIVERSE too
    (denominators shrink consistently), so downstream scores are exact
    Jaccard over the filtered shingle space. Heavy shingles are by
    construction FEW (each needs > max_df distinct docs): partial-agg
    shuffle to find them, broadcast anti-join to drop them — never a full
    sort of the posting lists."""
    sh = _distinct_shingles(docs, n, sh)
    heavy = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_df)
        .select("shingle")
    )
    return sh.join(F.broadcast(heavy), "shingle", "left_anti")


def _jaccard_verify(
    inter: "DataFrame", sh: "DataFrame", threshold: float
) -> "DataFrame":
    """(doc_a, doc_b, inter) + the shingle universe -> thresholded exact
    Jaccard. Shared by the all-pairs and LSH-shortlist paths, so the two
    cannot drift apart in denominator or rounding semantics."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("n_sh", "na")
        .join(sizes.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("n_sh", "nb")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    docs: "DataFrame", n: int = 3, threshold: float = 0.5,
    max_df: int = 1000,
) -> "DataFrame":
    """(doc_a, doc_b, jaccard) — near-dup pairs by word n-gram Jaccard.

    Self-join on shingle values (inverted-index style) over the DF-capped
    shingle universe (:func:`_filtered_shingles` — the quadratic-blowup
    guard; the DuckDB oracle applies the identical filter). The exact
    all-pairs path; :func:`near_dup_pairs` is the shortlist-first scale
    composition with identical scoring.

    The filtered stream feeds three branches (both join sides + the size
    table) with different shuffle keys; it is materialized once so the
    corpus explode + distinct + df-cap runs once, not per branch.

    Runs one Spark job when called: that eager checkpoint of ``sh``.
    """
    sh = materialize(_filtered_shingles(docs, n, max_df))
    # the posting-list self-join must SHUFFLE on the shingle key: the
    # checkpointed stream's stats under-estimate and Catalyst otherwise
    # broadcasts the whole corpus-sized (doc_id, shingle) table (~150MB
    # hash relation at sf1.0 — measured bimodal 20s/60s runs; unboundable
    # at corpus scale). The pair-count partial aggregation runs INSIDE the
    # join stage and its per-task hash map holds that partition's doc-pair
    # universe (sum df^2 = 144M pair rows at sf1.0) — widen the join
    # partitioning past the core count so per-task state stays small
    # (conf-derived, not a local constant).
    wide = 4 * docs.sparkSession.sparkContext.defaultParallelism
    sh_j = sh.repartition(wide, "shingle")
    inter = (
        sh_j.alias("a")
        .join(sh_j.alias("b").hint("shuffle_merge"), "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard_verify(inter, sh, threshold)


N_MINHASHES = 8
N_MINHASH_BANDS = 4  # 2 rows per band


def char_shingles(docs: "DataFrame", n: int = 8) -> "DataFrame":
    """(doc_id, shingle) — distinct character n-grams. The CJK-ready shingle
    unit: Japanese/Chinese web text has no spaces for word shingles (a
    word-shingled signature of an unsegmented CJK document is EMPTY — the
    whole text is one "word"), and char n-grams are the standard dedup unit
    there. Same JVM-only shape as the word variant: one transform over a
    sequence, explode, distinct."""
    return (
        docs.where(F.length("text") >= n)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, length(text) - {n - 1}),"
                    f" i -> substring(text, i, {n}))"
                )
            ).alias("shingle"),
        )
        .distinct()
    )


def _minhash_sig_table(
    docs: "DataFrame", n: int = 3, unit: str = "word",
    sh: "DataFrame | None" = None,
) -> "DataFrame":
    """(doc_id, mh0..mh{N_MINHASHES-1}) — the full md5-MinHash signature row
    per document: the unit the incremental signature store persists.
    ``unit="word"`` shingles on word n-grams (space-tokenized corpora);
    ``unit="char"`` on character n-grams (CJK / unsegmented text).
    ``sh`` substitutes a precomputed distinct (doc_id, shingle) stream
    (word unit only — the composed dedup path shares one materialized
    copy across signatures and verify)."""
    if unit == "char":
        sh = char_shingles(docs, n) if sh is None else sh
    else:
        sh = _distinct_shingles(docs, n, sh)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{k}:"), F.col("shingle")))).alias(f"mh{k}")
        for k in range(N_MINHASHES)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _bands_of(sig: "DataFrame") -> "DataFrame":
    """signature rows -> exploded (doc_id, band_id, band_key)."""
    rows_per_band = N_MINHASHES // N_MINHASH_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "|",
                    *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)],
                ).alias("band_key"),
            )
            for b in range(N_MINHASH_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("band")).select(
        "doc_id", F.col("band.band_id").alias("band_id"),
        F.col("band.band_key").alias("band_key"),
    )


#: DDL of a signature row as :func:`minhash_signature_table` plans it
SIG_DDL = "doc_id long, " + ", ".join(
    f"mh{k} string" for k in range(N_MINHASHES)
)


def _band_keys_of(minima: Sequence[str]) -> list[tuple[int, str]]:
    """One signature's minima -> its (band_id, band_key) pairs, the layout
    :func:`_bands_of` plans."""
    rows_per_band = N_MINHASHES // N_MINHASH_BANDS
    return [
        (b, "|".join(minima[b * rows_per_band:(b + 1) * rows_per_band]))
        for b in range(N_MINHASH_BANDS)
    ]


def self_dup_doc_ids(sig_rows: Iterable[Sequence], min_agree: float) -> set[int]:
    """Driver twin of the intra-batch self-match over collected signature
    rows ``(doc_id, mh0..mh{N_MINHASHES-1})``: the distinct ``new_doc_id``
    of :func:`dedup_against_signatures` run with a table as both its batch
    and its store, kept where ``new_doc_id > stored_doc_id``.

    The same candidates: a pair shares a band bucket, and the stored side
    of each bucket holds only its ``MAX_BAND_BUCKET`` lowest doc_ids, one
    slot per row, with null doc_ids first (the window's ascending order).
    The same verify: some pair of the two doc_ids' signature rows agrees on
    ``round(agree / N_MINHASHES, 4) >= min_agree`` minima. A null doc_id
    takes a cap slot and matches nothing."""
    sigs: dict[int, list] = {}
    buckets: dict[tuple[int, str], list] = {}
    for doc_id, *minima in sig_rows:
        if doc_id is not None:
            sigs.setdefault(doc_id, []).append(minima)
        for key in _band_keys_of(minima):
            buckets.setdefault(key, []).append(doc_id)

    def near(x: int, y: int) -> bool:
        return any(
            round(
                sum(a == b for a, b in zip(p, q))
                / N_MINHASHES, 4,
            ) >= min_agree
            for p in sigs[x]
            for q in sigs[y]
        )

    dups: set[int] = set()
    for ids in buckets.values():
        slots = MAX_BAND_BUCKET - ids.count(None)
        stored = sorted(i for i in ids if i is not None)[:max(slots, 0)]
        for x in {i for i in ids if i is not None} - dups:
            for y in stored:
                if y >= x:
                    break
                if near(x, y):
                    dups.add(x)
                    break
    return dups


def write_signature_store(
    docs: "DataFrame",
    path: str,
    n: int = 3,
    mode: str = "overwrite",
    unit: str = "word",
) -> None:
    """Persist the MinHash signature table — the STATE of incremental dedup.

    One row per document (doc_id + N_MINHASHES md5 minima): history is
    shingled exactly once, at ingest; later batches dedup against the store
    without ever touching historical text. ``mode="append"`` admits each new
    batch after it has been deduped (write_signature_store(new_batch, path,
    mode="append") is the commit step of the ingest loop).
    """
    _minhash_sig_table(docs, n, unit=unit).write.mode(mode).parquet(path)


def dedup_incremental(
    new_docs: "DataFrame",
    store_path: str,
    n: int = 3,
    min_agree: float = 0.25,
    unit: str = "word",
) -> "DataFrame":
    """(new_doc_id, stored_doc_id, est_jaccard) — near-dups of a NEW batch
    against the persisted signature store: the production ingest shape
    (incoming crawl vs all history, cost O(batch + matched store rows), the
    historical corpus is never re-read).

    Candidates: band equi-join of the batch's bands against bands derived
    from the store, with the store side of each (band_id, band_key) bucket
    capped at ``MAX_BAND_BUCKET`` rows (min doc_ids kept — the boilerplate
    mega-bucket guard; its recall trade is stated there).
    Verify: MinHash agreement fraction — the ESTIMATED Jaccard
    (agreeing minima / N_MINHASHES) — because the store holds signatures,
    not shingle sets; with N_MINHASHES=8 the estimate is coarse
    (granularity 1/8), which is the accepted price of never re-shingling
    history. Exact verification of survivors, when needed, re-reads only
    the matched docs' texts.
    """
    spark = new_docs.sparkSession
    return dedup_against_signatures(
        new_docs,
        spark.read.parquet(store_path),
        n=n,
        min_agree=min_agree,
        unit=unit,
    )


def minhash_signature_table(
    docs: "DataFrame", n: int = 3, unit: str = "word",
    short_fallback: bool = False,
) -> "DataFrame":
    """Public face of the PER-DOC signature table (doc_id + N_MINHASHES md5
    minima — the store row format; :func:`minhash_pairs` bands the same
    rows into (doc_id, band_id, band_key)). For callers that need to
    compute signatures ONCE and both dedup with them and commit them (the
    streaming ingest loop: shingling is the dominant per-batch cost, so
    recomputing for the commit step would double it).

    ``short_fallback=True`` closes the sub-shingle exemption (ADVICE r04):
    a doc shorter than one shingle (< n chars for unit="char", < n words
    for "word") yields NO shingles, hence no signature row — it would never
    enter the store and never dedup, even as an exact url-for-url mirror.
    The fallback treats the WHOLE text as the document's single shingle, so
    its signature row is md5(k || text) per hash — identical short pages
    collide on every band (exact dedup), distinct ones on none. The
    predicate is the same length test the shingle producers use, a cheap
    filter — not an anti-join that would re-shingle the batch."""
    sig = _minhash_sig_table(docs, n, unit=unit)
    if not short_fallback:
        return sig
    if unit == "char":
        short = docs.where(F.length("text") < n)
    else:
        # same split as shingles()/_words: docs with < n space-words
        short = docs.where(F.size(F.split(F.col("text"), " ")) < n)
    fallback = short.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"{k}:"), F.col("text"))).alias(f"mh{k}")
            for k in range(N_MINHASHES)
        ],
    )
    return sig.unionByName(fallback)


def dedup_against_signatures(
    new_docs: "DataFrame | None",
    store_sig: "DataFrame",
    n: int = 3,
    min_agree: float = 0.25,
    unit: str = "word",
    new_sig: "DataFrame | None" = None,
) -> "DataFrame":
    """Core of :func:`dedup_incremental` over an explicit signature FRAME —
    the composition point for callers that assemble the store themselves
    (the streaming ingest loop reads only the partitions of PRIOR batches,
    so a replayed micro-batch never dedups against its own signatures).
    Pass ``new_sig`` (from :func:`minhash_signature_table`) to reuse an
    already-computed batch signature table instead of re-shingling
    ``new_docs``.

    Without ``new_sig`` this runs one Spark job when called: the eager
    checkpoint of the batch signature table."""
    if new_sig is None:
        # consumed three times (batch bands -> band keys, the candidate
        # join, and the agreement verify) — materialize once instead of
        # re-shingling the batch per consumer; callers that computed the
        # table themselves (the streaming loop) pass new_sig materialized
        new_sig = materialize(_minhash_sig_table(new_docs, n, unit=unit))
    new_bands = _bands_of(new_sig).select(
        F.col("doc_id").alias("new_doc_id"), "band_id", "band_key"
    )
    # keep the per-batch cost O(batch + matched store rows): semi-join the
    # store bands down to the batch's band keys BEFORE the bucket-cap
    # window — otherwise every call windows the WHOLE history's bands.
    # Per-bucket cap semantics are unchanged (the semi-join keeps matched
    # buckets intact, and repeated batch keys cannot multiply its rows).
    w = Window.partitionBy("band_id", "band_key").orderBy("doc_id")
    store_bands = (
        _bands_of(store_sig)
        .join(new_bands, ["band_id", "band_key"], "left_semi")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= MAX_BAND_BUCKET)
        .select(
            F.col("doc_id").alias("stored_doc_id"), "band_id", "band_key"
        )
    )
    # NOTE: same-id pairs are kept deliberately — a stored doc_id showing
    # up again in a new batch is a RE-CRAWL of the same url, the single
    # most common duplicate an ingest store exists to drop (its signature
    # matches on every band, est_jaccard 1.0). Self-match callers (the
    # intra-batch pass) already orient pairs with new > stored, which
    # drops (X, X) rows without exempting re-crawls here.
    cand = (
        new_bands.join(store_bands, ["band_id", "band_key"])
        .select("new_doc_id", "stored_doc_id")
        .distinct()
    )
    n_sig = new_sig.select(
        F.col("doc_id").alias("new_doc_id"),
        *[F.col(f"mh{k}").alias(f"n{k}") for k in range(N_MINHASHES)],
    )
    s_sig = store_sig.select(
        F.col("doc_id").alias("stored_doc_id"),
        *[F.col(f"mh{k}").alias(f"s{k}") for k in range(N_MINHASHES)],
    )
    agree = sum(
        F.when(F.col(f"n{k}") == F.col(f"s{k}"), 1).otherwise(0)
        for k in range(N_MINHASHES)
    )
    return (
        cand.join(n_sig, "new_doc_id")
        .join(s_sig, "stored_doc_id")
        .select(
            "new_doc_id",
            "stored_doc_id",
            F.round(agree / N_MINHASHES, 4).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= min_agree)
    )


#: band buckets above this size switch from all-pairs to chain-linking.
#: A band bucket of k docs yields k^2/2 candidate pairs; boilerplate-driven
#: mega-buckets (cookie banners, footers — every web corpus has them) make
#: that quadratic in corpus size. Chaining keeps k-1 consecutive-id edges:
#: candidates stay linear. The trade, stated precisely: a true near-dup pair
#: inside a mega-bucket survives only if it is connected through chain links
#: that individually pass the Jaccard verify, or co-occurs in another
#: (smaller) band bucket — two high-similarity docs separated by unrelated
#: neighbors in every band they share can be MISSED, splitting a cluster.
#: Boilerplate mega-buckets are dominated by mutually non-duplicate docs by
#: construction (that is why they are huge), so the loss concentrates where
#: pair signal is weakest, but it is a recall loss, not just candidate
#: pruning.
#: 64 is far above any bucket on the sandbox corpora (max 13 at sf0.1), so
#: small-scale results are bit-identical to the uncapped join. Single source
#: of truth for the Spark path AND the DuckDB oracle.
MAX_BAND_BUCKET = 64


def minhash_pairs(
    docs: "DataFrame", n: int = 3, max_bucket: int = MAX_BAND_BUCKET,
    sh: "DataFrame | None" = None,
) -> "DataFrame":
    """(doc_a, doc_b) — candidate near-dup pairs sharing >= 1 MinHash band.

    The scale path for dedup at 10^12 docs: equi-join on (band_id, band_key)
    instead of all-pairs; AQE handles band-key skew. Buckets larger than
    ``max_bucket`` are chain-linked instead of all-paired (see
    ``MAX_BAND_BUCKET``), bounding candidate volume at
    ``n_bands * corpus`` even under power-law boilerplate. Both bucket-size
    classes come off ONE windowed shuffle on (band_id, band_key).

    Runs one Spark job when called: the eager checkpoint of ``ranked``.
    """
    from pyspark.sql import Window

    sig = _bands_of(_minhash_sig_table(docs, n, sh=sh))
    wp = Window.partitionBy("band_id", "band_key")
    # ranked feeds FOUR join sides (small a/b + chain a/b); materialize the
    # windowed frame once instead of re-running the shingle explode +
    # signature aggregation + window sort per side (ReuseExchange only
    # collapses bit-identical subtrees, and the small/big filters differ)
    ranked = materialize(sig.select(
        "doc_id",
        "band_id",
        "band_key",
        F.count(F.lit(1)).over(wp).alias("bsz"),
        F.row_number().over(wp.orderBy("doc_id")).alias("rn"),
    ))
    small = ranked.where(F.col("bsz") <= max_bucket)
    pairs_small = (
        small.alias("a")
        .join(small.alias("b"), ["band_id", "band_key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    big = ranked.where(F.col("bsz") > max_bucket)
    pairs_chain = (
        big.alias("a")
        .join(
            big.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("b.rn") == F.col("a.rn") + 1),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    return pairs_small.union(pairs_chain).distinct()


def near_dup_pairs(
    docs: "DataFrame", n: int = 3, threshold: float = 0.5,
    max_df: int = 1000,
) -> "DataFrame":
    """(doc_a, doc_b, jaccard) — the COMPOSED dedup scale path: banded
    MinHash-LSH shortlist (:func:`minhash_pairs`) then exact n-gram Jaccard
    verification restricted to the candidates.

    This is the shape that survives 10^12 docs: the all-pairs inverted-index
    join of :func:`ngram_jaccard_pairs` never runs; shingles join only
    against the (near-linear) candidate pair set. The verification universe
    applies the SAME ``max_df`` boilerplate-shingle cap as the exact path —
    scores are therefore identical to :func:`ngram_jaccard_pairs` on every
    shortlisted pair (precision 1.0; recall = LSH band recall).

    One distinct-shingle pass serves the whole composition: the stream is
    materialized once and shared by the MinHash signature table, the
    df-capped verify universe, and the size table (previously three
    independent corpus explodes — branches with different shuffle keys
    that ReuseExchange cannot collapse).

    Runs Spark jobs when called: the eager checkpoints of both shingle
    streams and the one inside :func:`minhash_pairs`.
    """
    sh_all = materialize(_distinct_shingles(docs, n))
    cand = minhash_pairs(docs, n, sh=sh_all)
    sh = materialize(_filtered_shingles(docs, n, max_df, sh=sh_all))
    # shingle attachments SHUFFLE (same rationale as ngram_jaccard_pairs:
    # the checkpoint's stats otherwise broadcast the corpus-sized shingle
    # stream for both attachments — fine for a fixture, unboundable at
    # scale); the candidate side is the small side of the first join
    inter = (
        cand.join(
            sh.select(F.col("doc_id").alias("doc_a"), "shingle").hint(
                "shuffle_merge"
            ),
            "doc_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle").hint(
                "shuffle_merge"
            ),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard_verify(inter, sh, threshold)


def dedup_clusters(
    docs: "DataFrame", n: int = 3, threshold: float = 0.5,
    max_df: int = 1000,
) -> "DataFrame":
    """(doc_id, cluster_rep, is_keeper) — near-duplicate CLUSTERS: connected
    components over the verified near-dup pairs, keeper = the minimum doc_id
    of each cluster (what a production dedup actually drops on: transitive
    duplicate groups, not raw pairs — A~B and B~C must discard two of
    {A,B,C} even when A~C itself is below threshold).

    Reuses the engine's N4 component machinery (union-find / large-small
    star at scale) over zero-padded doc-id vertices; only documents that
    appear in some pair are emitted — everything else is trivially its own
    keeper.
    """
    from .canon import connected_components

    pairs = near_dup_pairs(docs, n, threshold, max_df)
    # lexicographic order == numeric order for non-negative ids; 20 digits
    # covers the full int64 range (12 would TRUNCATE 13+-digit ids and
    # silently collide vertices at exactly the 10^12+ scale this targets)
    pad = 20
    # materialize the (near-dup-pair-sized) edge set before the CC call:
    # connected_components' small-graph probe is a limit+collect, and
    # CollectLimit's incremental partition scale-up would re-drive the
    # whole verify pipeline's final stage several times; the distributed
    # branch reads the edge set multiple times too
    edges = materialize(pairs.select(
        F.lpad(F.col("doc_a").cast("string"), pad, "0").alias("src"),
        F.lpad(F.col("doc_b").cast("string"), pad, "0").alias("dst"),
    ))
    cc = connected_components(edges)
    out = cc.select(
        F.col("vertex").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("cluster_rep"),
    )
    return out.withColumn(
        "is_keeper", (F.col("doc_id") == F.col("cluster_rep"))
    )


def simhash(docs: "DataFrame") -> "DataFrame":
    """(doc_id, simhash) — 16-bit SimHash over word md5s (majority per bit).

    Bit b comes from hex digit b//4 (MSB-first) of md5(word)[:4]; the document
    bit is 1 when strictly more than half the words set it.
    """
    w = _words(docs).select("doc_id", F.explode("ws").alias("word"))
    w = w.withColumn("hx", F.substring(F.md5("word"), 1, 4))
    nibs = [
        (F.instr(F.lit("0123456789abcdef"), F.substring("hx", p + 1, 1)) - 1)
        for p in range(4)
    ]
    bit_cols = []
    for b in range(16):
        nib = nibs[b // 4]
        shift = 3 - (b % 4)
        bit_cols.append(
            (F.floor(nib / F.lit(2**shift)) % 2).alias(f"bit{b}")
        )
    per_word = w.select("doc_id", *bit_cols)
    agg = per_word.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("cnt"),
        *[F.sum(f"bit{b}").alias(f"s{b}") for b in range(16)],
    )
    sim = None
    for b in range(16):
        term = F.when(2 * F.col(f"s{b}") > F.col("cnt"), F.lit(2**b)).otherwise(0)
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.cast("long").alias("simhash"))


#: HLL geometry: 60 hash bits from md5 (15 hex digits — fits int64 signed),
#: p bucket bits, w = 60 - p rank bits. Single source with the oracle.
HLL_BITS = 60


def approx_distinct(df: "DataFrame", col: str, p: int = 9) -> "DataFrame":
    """(m, v_empty, estimate) — HyperLogLog distinct count with
    md5-derived, ENGINE-EXACT registers.

    Spark's ``approx_count_distinct`` is the production path at 100 TB, but
    its sketch is engine-private (xxhash + HLL++ bias tables) — it cannot
    be value-checked against anything. This twin builds the registers from
    md5 (the hash both engines share): bucket = top ``p`` bits of a 60-bit
    md5 prefix, rank = leading zeros of the remaining bits + 1 (computed on
    a zero-padded BINARY STRING — no float log2 at the boundary), register
    = max rank per bucket. The harmonic sum is assembled from exact powers
    of two in DECIMAL (order-free), so Spark and DuckDB agree on the sketch
    AND the estimate to the last rounded digit. Standard linear-counting
    small-range correction below 2.5m. Error ~1.04/sqrt(2^p) (~4.6% at
    p=9).

    One hash aggregation (m <= 2^p registers) — same plan shape as the real
    thing; use this to VALIDATE a pipeline's sketching, use
    approx_count_distinct to run it.
    """
    m = 1 << p
    w = HLL_BITS - p
    alpha = 0.7213 / (1 + 1.079 / m)
    h = F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    hashed = df.where(F.col(col).isNotNull()).select(h.alias("h"))
    # integer div/mod only — double division would round a 60-bit value
    # (> 2^53) and scramble bucket assignment
    split = hashed.select(
        F.expr(f"h div {1 << w}").cast("int").alias("bucket"),
        (F.col("h") % (1 << w)).alias("rest"),
    )
    bits = F.lpad(F.bin(F.col("rest")), w, "0")
    rank = (
        F.length(F.regexp_extract(bits, "^(0*)", 1)) + 1
    )  # w+1 when rest == 0 (all zeros)
    regs = (
        split.select("bucket", rank.alias("rank"))
        .groupBy("bucket")
        .agg(F.max("rank").alias("reg"))
    )
    # exact harmonic sum: term = 2^(w+1-reg) as DECIMAL; empty buckets
    # contribute 2^(w+1) each (reg = 0) — added arithmetically
    K = w + 1
    agg = regs.agg(
        F.count(F.lit(1)).alias("n_used"),
        F.coalesce(
            F.sum(
                F.pow(F.lit(2.0), F.lit(K) - F.col("reg")).cast("decimal(38,0)")
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("s_used"),
    )
    return agg.select(
        F.lit(m).alias("m"),
        (F.lit(m) - F.col("n_used")).cast("long").alias("v_empty"),
        F.round(
            F.when(
                # small-range: linear counting when empties remain and the
                # raw estimate would be under 2.5m
                (F.col("n_used") < m)
                & (
                    F.lit(alpha * m * m * float(1 << K))
                    / (
                        F.col("s_used").cast("double")
                        + (F.lit(m) - F.col("n_used")) * float(1 << K)
                    )
                    <= 2.5 * m
                ),
                F.lit(float(m)) * F.log(F.lit(float(m)) / (F.lit(m) - F.col("n_used"))),
            ).otherwise(
                F.lit(alpha * m * m * float(1 << K))
                / (
                    F.col("s_used").cast("double")
                    + (F.lit(m) - F.col("n_used")) * float(1 << K)
                )
            ),
            4,
        ).alias("estimate"),
    )


#: log-linear quantile sketch defaults: K_SUB sub-buckets per power-of-two
#: octave bounds relative error at 1/K_SUB; SCALE fixes the tick (absolute
#: floor) at 1/SCALE. Shared by the Spark entry and its DuckDB oracle.
QS_K = 32
QS_SCALE = 100


def quantile_sketch(
    df: "DataFrame",
    value_col: str,
    group_cols: tuple[str, ...] = (),
    k: int = QS_K,
    scale: int = QS_SCALE,
) -> "DataFrame":
    """(group..., bucket, c) — mergeable log-linear quantile sketch,
    ENGINE-EXACT (the t-digest/approx_percentile scale path next to the
    exact `percentiles` contract).

    Spark's ``approx_percentile`` t-digest is the production default at
    100 TB, but — like approx_count_distinct — its sketch is engine-private
    and cannot be value-checked. This twin is a DDSketch-style log-linear
    histogram built from INTEGER arithmetic only, so DuckDB reproduces every
    bucket id bit-for-bit:

      tick   t = floor(value * scale)      (same double multiply+floor both
                                            engines; ticks are exact ints)
      octave e = len(bin(t)) - 1           (floor(log2) WITHOUT float log —
                                            binary-string length)
      sub    s = ((t - 2^e) * k) div 2^e   (k linear sub-buckets per octave,
                                            shift + integer div)
      bucket = e * k + s ; t <= 0 -> -1

    Bucket width is 2^e/k ticks, so the representative (bucket lower bound)
    under-estimates the true ranked value by a RELATIVE error <= 1/k plus
    one tick. Merging sketches = summing counts per bucket — associative
    and order-free, the property that lets 1000 executors sketch partitions
    independently and a reducer fold them without a second data pass. One
    map-side-combined hash aggregation over <= ~64*k cells per group.
    """
    t = F.floor(F.col(value_col) * F.lit(float(scale))).cast("long")
    d = df.select(*group_cols, t.alias("_t"))
    e = (F.length(F.bin(F.col("_t"))) - 1).cast("int")
    d = d.withColumn("_e", e).withColumn(
        "_p", F.expr("shiftleft(1L, _e)")
    )
    bucket = (
        F.when(F.col("_t") <= 0, F.lit(-1).cast("long"))
        .otherwise(
            F.col("_e").cast("long") * k
            + F.expr(f"((_t - _p) * {k}) DIV _p")
        )
        .alias("bucket")
    )
    return (
        d.select(*group_cols, bucket)
        .groupBy(*group_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def sketch_value(bucket_col: str, k: int = QS_K, scale: int = QS_SCALE):
    """Bucket id -> representative value (the bucket's LOWER bound in tick
    space, back on the value scale). Integer shift + floor-div only —
    oracle-reproducible bit-for-bit."""
    p = f"shiftleft(1L, int({bucket_col} DIV {k}))"
    tick = f"{p} + (({bucket_col} % {k}) * {p}) DIV {k}"
    return F.expr(
        f"CASE WHEN {bucket_col} < 0 THEN 0.0D"
        f" ELSE CAST({tick} AS DOUBLE) / {scale} END"
    )


def _ilog2_fp(c: str, k: int = QS_K) -> str:
    """SQL fragment: integer fixed-point log2 of positive BIGINT expression
    ``c`` in 1/k-octave units — the quantile sketch's octave + linear
    sub-bucket formula reused as a scalar. Monotone, ilog2_fp(1) = 0,
    error <= 1/k octave, pure integer arithmetic (len(bin)-1 octave,
    shift+div sub-bucket), so both engines evaluate it bit-identically.
    ``c`` is inlined several times: pass a simple column reference."""
    e = f"int(length(bin({c})) - 1)"
    p = f"shiftleft(1L, {e})"
    return f"(CAST({e} AS BIGINT) * {k} + (({c} - {p}) * {k}) DIV {p})"


def lm_surprisal(
    docs: "DataFrame",
    train_docs: "DataFrame | None" = None,
    k: int = QS_K,
) -> "DataFrame":
    """(doc_id, n_grams, surprisal_fp, mean_surprisal_fp) — n-gram LM
    perplexity scoring, the CCNet/Gopher-style quality signal (docs whose
    token transitions are IMPROBABLE under a reference corpus score high;
    boilerplate and repeated text score low), built ENGINE-EXACT: each
    bigram contributes the integer fixed-point surprisal

        ilog2_fp(count(ctx)) - ilog2_fp(count(ctx, w))   [>= 0]

    i.e. ~ -k*log2 P(w | ctx) in 1/k-octave units, using the quantile
    sketch's integer log2 (:func:`_ilog2_fp`) instead of a float ``ln`` —
    float log libraries differ in the last ulp across engines, which would
    break value-oracling; the fixed-point form is bit-identical in Spark
    and DuckDB and monotone in the true probability. ``mean_surprisal_fp``
    is the integer mean (DIV, exact — summands are non-negative, so
    truncation == floor in both engines); a perplexity-percentile filter
    composes as ``approx_percentiles`` over it.

    The model trains on ``train_docs`` (default: ``docs`` itself — the
    self-scoring mode where every observed gram is in the model). Unseen
    grams under an external model coalesce to count 1 (surprisal =
    ilog2_fp(ctx total), the maximum for that context); unseen contexts
    coalesce to (1, 1) → surprisal 0 (uninformative, documented). Docs
    with < 2 tokens get n_grams = 0 / surprisal 0 and remain in the
    output for downstream filters. Self-scoring is pure MLE: a context
    observed with only ONE continuation is perfectly predictable
    (surprisal 0) however rare it is — the within-corpus signal lives in
    SHARED contexts; scoring against an external reference corpus (the
    CCNet production shape) is what makes globally-rare text score high,
    via the unseen-gram path above.

    Scale shape (100 TB): gram extraction is a per-row array transform +
    explode (linear, no shuffle); the model is two hash aggregations with
    map-side combine (gram cardinality-bounded); scoring is plain
    equi-joins on (ctx, gram) and ctx — NO broadcast assumption (a
    web-corpus bigram table exceeds broadcast limits) and no windows, so
    every stage is the canonical shuffle-bounded shape.
    """
    if train_docs is None:
        train_docs = docs

    def grams(d: "DataFrame") -> "DataFrame":
        w = _words(d)
        # sequence() auto-descends below 2 tokens (the k=0 lesson):
        # gate the transform on size >= 2
        return w.where(F.size("ws") >= 2).select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(2, size(ws)), i -> named_struct("
                    "'ctx', element_at(ws, i - 1), "
                    "'gram', concat(element_at(ws, i - 1), ' ',"
                    " element_at(ws, i))))"
                )
            ).alias("g"),
        ).select("doc_id", F.col("g.ctx").alias("ctx"),
                 F.col("g.gram").alias("gram"))

    model = grams(train_docs).groupBy("ctx", "gram").agg(
        F.count(F.lit(1)).alias("c_g")
    )
    ctx_tbl = model.groupBy("ctx").agg(F.sum("c_g").alias("c_c"))
    scored = (
        grams(docs)
        .join(model, ["ctx", "gram"], "left")
        .join(ctx_tbl, ["ctx"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("c_g"), F.lit(1)).cast("long").alias("c_g"),
            F.coalesce(F.col("c_c"), F.lit(1)).cast("long").alias("c_c"),
        )
        .select(
            "doc_id",
            (
                F.expr(_ilog2_fp("c_c", k)) - F.expr(_ilog2_fp("c_g", k))
            ).alias("surp"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("surp").alias("surprisal_fp"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("surprisal_fp", F.lit(0)).cast("long").alias(
                "surprisal_fp"
            ),
            F.when(
                F.coalesce("n_grams", F.lit(0)) > 0,
                F.expr("surprisal_fp DIV n_grams"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("mean_surprisal_fp"),
        )
    )


def approx_percentiles(
    df: "DataFrame",
    value_col: str,
    group_cols: tuple[str, ...] = (),
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    k: int = QS_K,
    scale: int = QS_SCALE,
) -> "DataFrame":
    """(group..., p50, p90, p99) — quantile estimates from the mergeable
    sketch: cumulative counts in bucket order, first bucket whose cumsum
    reaches ceil(q * n), reported as the bucket's lower-bound value. The
    estimate is a deterministic UNDER-estimate of the empirical (lower)
    quantile by at most a 1/k relative error + one tick (gated in tests)."""
    sk = quantile_sketch(df, value_col, group_cols, k=k, scale=scale)
    w_cum = (
        Window.partitionBy(*group_cols).orderBy("bucket")
        if group_cols
        else Window.orderBy("bucket")
    )
    w_all = (
        Window.partitionBy(*group_cols)
        if group_cols
        else Window.partitionBy(F.lit(1))
    )
    cum = sk.select(
        *group_cols,
        "bucket",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("total"),
    )
    qs = cum.withColumn(
        "q", F.explode(F.array(*[F.lit(q) for q in quantiles]))
    )
    pick = (
        qs.where(F.col("cum") >= F.ceil(F.col("q") * F.col("total")))
        .groupBy(*group_cols, "q")
        .agg(F.min("bucket").alias("bucket"))
    )
    est = pick.select(
        *group_cols,
        "q",
        F.round(sketch_value("bucket", k=k, scale=scale), 4).alias("est"),
    )
    aggs = [
        F.max(F.when(F.col("q") == q, F.col("est"))).alias(
            f"p{int(round(q * 100))}"
        )
        for q in quantiles
    ]
    return est.groupBy(*group_cols).agg(*aggs)


#: count-min sketch geometry: CMS_ROWS independent md5 hash rows over
#: CMS_WIDTH counters — point-estimate error <= e*N/CMS_WIDTH with
#: probability 1 - e^-CMS_ROWS. Shared by the Spark entry and its oracle.
CMS_ROWS = 4
CMS_WIDTH = 1024


def _cms_slot(row_col, key_col) -> "F.Column":
    """Counter index for (hash row, key): 32-bit md5 prefix mod CMS_WIDTH —
    the same engine-portable integer hashing as the HLL/quantile sketches."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(row_col.cast("string"), F.lit(":"), key_col)),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % CMS_WIDTH
    )


def cms_sketch(df: "DataFrame", col: str) -> "DataFrame":
    """(row_id, slot, c) — count-min frequency sketch, ENGINE-EXACT.

    Completes the sketch trio next to the md5-HLL (distinct count) and the
    log-linear quantile sketch: frequency estimation in one pass over data
    whose key cardinality can't be held exactly. md5-derived slots make the
    sketch reproducible in DuckDB, so — unlike a production CMS with
    engine-private hashing — it value-oracles. Size is fixed
    (CMS_ROWS x CMS_WIDTH counters regardless of input), merging = summing
    counters slot-wise (order-free, same executor-fold property as the
    other sketches), and the build is one map-side-combined aggregation.
    """
    keyed = df.where(F.col(col).isNotNull()).select(
        F.col(col).cast("string").alias("k")
    )
    expanded = keyed.select(
        "k",
        F.explode(
            F.array(*[F.lit(r) for r in range(CMS_ROWS)])
        ).alias("row_id"),
    )
    return (
        expanded.select(
            "row_id", _cms_slot(F.col("row_id"), F.col("k")).alias("slot")
        )
        .groupBy("row_id", "slot")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_estimate(
    sketch: "DataFrame", keys: tuple[str, ...]
) -> "DataFrame":
    """(k, est) — point-frequency estimates for ``keys`` from a sketch:
    min over the CMS_ROWS counters each key hashes into (the classic
    one-sided bound: est >= true count, over-estimation bounded by
    collisions, gated in tests). The SKETCH side is broadcast — it is
    bounded at CMS_ROWS * CMS_WIDTH cells by construction, and a right
    outer join can only build-broadcast its left side (a broadcast hint on
    the preserved side is silently ignored and falls back to a sort-merge
    join). Point queries touch the sketch only, never the raw data."""
    spark = sketch.sparkSession
    kdf = local_frame(spark, [(k,) for k in keys], "k string")
    probes = kdf.select(
        "k",
        F.explode(
            F.array(*[F.lit(r) for r in range(CMS_ROWS)])
        ).alias("row_id"),
    ).select(
        "k", "row_id", _cms_slot(F.col("row_id"), F.col("k")).alias("slot")
    )
    return (
        F.broadcast(sketch)
        .join(probes, ["row_id", "slot"], "right")
        .groupBy("k")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est"))
    )


def repetition_scores(docs: "DataFrame", n: int = 3) -> "DataFrame":
    """(doc_id, n_grams, n_distinct, rep_ratio) — within-document repetition
    (the Gopher-family "fraction of duplicate n-grams" quality signal, Rae
    et al. 2021 §A1.1): rep_ratio = 1 - distinct/total over word n-grams.
    Templated spam and boilerplate-stuffed pages repeat their own n-grams
    heavily while natural prose does not — this catches what the
    length/stopword rules (quality_filter) cannot. One groupBy over the
    existing shingle stream; docs with < n words carry rep_ratio 0.0
    (nothing to repeat)."""
    per_doc = (
        shingles(docs, n)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.countDistinct("shingle").alias("n_distinct"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_distinct",
            F.round(1 - F.col("n_distinct") / F.col("n_grams"), 4).alias(
                "rep_ratio"
            ),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
            F.coalesce("rep_ratio", F.lit(0.0)).alias("rep_ratio"),
        )
    )


def decontam_overlap(
    docs: "DataFrame", benchmark: "DataFrame", n: int = 3
) -> "DataFrame":
    """(doc_id, n_grams, matched, containment) — training/eval
    decontamination: per training document, the fraction of its DISTINCT
    word n-grams that appear anywhere in the benchmark set (the GPT-3 /
    Gopher n-gram-collision decontamination shape).

    Scale shape: the benchmark n-gram universe is SMALL by construction
    (eval sets are thousands of docs, the corpus is billions), so it is
    distinct-ed and broadcast into a left-semi-style match — the corpus is
    scanned once, never shuffled on the n-gram key. Containment over the
    training doc's own distinct grams, so a doc that quotes one benchmark
    line scores low while a verbatim leak scores ~1.0.
    """
    doc_grams = shingles(docs, n).select("doc_id", "shingle").distinct()
    bench_grams = F.broadcast(
        shingles(benchmark, n)
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    # ONE aggregation computes both counts: the broadcast left join marks
    # benchmark grams, count(*) vs count(hit) splits total/matched — the
    # expensive distinct gram stream is consumed once, not fed to two plan
    # branches with separate doc_id shuffles
    per_doc = (
        doc_grams.join(bench_grams, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("hit").alias("matched"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("matched", F.lit(0)).alias("matched"),
            F.round(
                F.coalesce(
                    F.col("matched") / F.col("n_grams"), F.lit(0.0)
                ),
                4,
            ).alias("containment"),
        )
    )


#: curation defaults: repetition ceiling + per-source sampling rates —
#: shared with the DuckDB oracle via __spark_entry__
CURATION_MAX_REP = 0.2


def curation_pipeline(
    docs: "DataFrame",
    fractions: dict[str, float] | None = None,
    default_fraction: float = 1.0,
    max_rep: float = CURATION_MAX_REP,
) -> "DataFrame":
    """(doc_id, source, n_tokens) — the END-TO-END curation flow as ONE
    declarative plan: Gopher quality gate -> exact-dup keeper -> repetition
    ceiling -> per-source deterministic sampling. This is the composition a
    training-data pipeline actually runs before tokenization; expressing it
    as a single DataFrame lets Catalyst fuse the scans (quality and
    repetition both read the same shingle/word streams) and push the cheap
    filters below the joins.

    Every stage is one of the already-oracled operators, so the composition
    value-oracles end-to-end: keep (quality_filter), keeper_doc_id
    (dedup_exact: MIN doc_id per md5), rep_ratio (repetition_scores),
    membership (_sample_hash_key rule via sample_stratified).
    """
    q = quality_filter(docs).where("keep").select("doc_id", "n_tokens")
    keepers = dedup_exact(docs).select(
        F.col("keeper_doc_id").alias("doc_id")
    )
    low_rep = repetition_scores(docs).where(
        F.col("rep_ratio") <= max_rep
    ).select("doc_id")
    base = (
        docs.select("doc_id", "source")
        .join(q, "doc_id")
        .join(keepers, "doc_id", "left_semi")
        .join(low_rep, "doc_id", "left_semi")
    )
    if fractions:
        base = sample_stratified(
            base, ("doc_id",), "source", fractions, default_fraction
        )
    return base.select("doc_id", "source", "n_tokens")


def token_budget_sample(
    docs: "DataFrame", budget: int, group_col: str | None = None
) -> "DataFrame":
    """(doc_id[, group], n_tokens, cum_tokens) — deterministic token-budget
    packing: walk documents in md5(doc_id) order (a stable, unbiased
    shuffle — no RNG, same set on any engine/partitioning/resume) and keep
    each doc while its group's budget is not yet exhausted BEFORE it, i.e.
    keep iff cum_tokens - n_tokens < budget. The data-mixing primitive
    "take N tokens per source/domain": rates fall out of budgets instead of
    hand-tuned fractions, and the kept set is reproducible bit-for-bit.

    Scale shape (the r4 single-window version was the one scale-killer the
    r4 verdict found: ``Window.partitionBy(group)`` sorts EVERY doc of a
    source — or ungrouped, the whole corpus — in one task): two-phase
    prefix sum over md5-PREFIX buckets, the distributed-cumsum idiom.

    1. bucket = first 2 hex chars of the md5 sort key: the bucket id is a
       PREFIX of the key, so (bucket, key) order == key order and the
       bucket split preserves walk order exactly;
    2. per-(group, bucket) token sums — an ordinary parallel aggregation —
       then running offsets across the at-most-256-buckets-per-group table
       (tiny; its window is over bucket COUNTS, not rows);
    3. buckets whose offset already meets the budget are dropped BEFORE any
       per-row window (for a budget that keeps k docs only O(k) rows reach
       the sort, however large the corpus); survivors get the intra-bucket
       cumsum windowed per (group, bucket) — max partition = 1/256th of a
       group — plus their bucket offset.

    The cumulative sum stays exact integer arithmetic, so the operator
    value-oracles like the samplers. The boundary doc that CROSSES the
    budget is kept (budget is a floor on kept tokens, not a ceiling) —
    matching how corpus budgets are specified in practice ("at least N
    tokens of X").
    """
    cols = ["doc_id"] + ([group_col] if group_col else [])
    gpart = [group_col] if group_col else []
    cum = _md5_walk_cumsum(docs, gpart, max_cum=budget)
    return (
        cum.where(F.col("cum_tokens") - F.col("n_tokens") < budget)
        .select(*cols, "n_tokens", "cum_tokens")
    )


def _md5_walk_cumsum(
    docs: "DataFrame",
    gpart: list[str],
    max_cum: int | None = None,
    weights: "DataFrame | None" = None,
    weight_col: str | None = None,
    prefix_len: int = 2,
) -> "DataFrame":
    """Distributed exact prefix sum of ``n_tokens`` along the md5(doc_id)
    walk order, per group — the shared core of :func:`token_budget_sample`,
    :func:`sequence_pack`, and ``linkgraph.crawl_budget``. Two-phase shape
    (see token_budget_sample's docstring for the scale rationale):
    md5-PREFIX buckets preserve walk order, per-bucket sums aggregate in
    parallel, running offsets live on the tiny bucket table, and the only
    per-row window is per (group, bucket). ``max_cum`` prunes buckets whose
    offset already meets it BEFORE the per-row window (budget callers never
    sort beyond-budget rows). ``weights`` substitutes an explicit
    (doc_id, n_tokens) integer-weight table for the default whitespace
    token counts — any exact integer cost (bytes, pages, fetch units)
    prefix-sums the same way; ``weight_col`` names an integer column
    ALREADY ON ``docs`` to use instead (no join — callers whose weight is
    a projection of the same frame previously paid a doc_id self-join
    that re-ran the whole upstream plan on both sides). Returns
    doc_id[, group cols], n_tokens, cum_tokens."""
    cols = ["doc_id"] + gpart
    if weight_col is not None:
        base = docs.select(*cols, F.col(weight_col).alias("n_tokens"))
    elif weights is None:
        # token_counts is a pure projection of docs — computing it inline
        # replaces a scan + equi-join on doc_id with one column expression
        # in the same scan (bit-identical: doc_id is the row identity)
        base = docs.select(
            *cols, F.size(F.split("text", " ")).cast("long").alias("n_tokens")
        )
    else:
        base = docs.select(*cols).join(weights, "doc_id")
    # ``prefix_len`` hex chars of the md5 key = 16^prefix_len buckets per
    # group: the bucket id is a PREFIX of the sort key, so (bucket, key)
    # order == key order at ANY prefix length and the emitted cumsum is
    # identical — only the max per-window partition (1/16^p of a group)
    # changes. Callers with no budget prune (sequence_pack) raise it for
    # huge single-group corpora; the offsets table stays 16^p x |groups|.
    if not 1 <= int(prefix_len) <= 8:
        raise ValueError(f"prefix_len must be in 1..8, got {prefix_len}")
    d = (
        base
        .withColumn("_k", F.md5(F.col("doc_id").cast("string")))
        .withColumn("_b", F.substring("_k", 1, int(prefix_len)))
    )
    bucket_sums = d.groupBy(*gpart, "_b").agg(
        F.sum("n_tokens").alias("_bsum")
    )
    w_off = (
        Window.partitionBy(*(gpart or [F.lit(1)]))
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bucket_sums.withColumn(
        "_off", F.coalesce(F.sum("_bsum").over(w_off), F.lit(0))
    )
    if max_cum is not None:
        # a bucket starting at/after the cap keeps nothing downstream: its
        # first doc already has cum - n >= max_cum
        offsets = offsets.where(F.col("_off") < max_cum)
    offsets = offsets.select(*gpart, "_b", "_off")
    w_in = (
        Window.partitionBy(*gpart, "_b")
        .orderBy("_k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # ungrouped, offsets is <=256 rows — always broadcast; grouped, it is
    # 256 x |groups| (unbounded at web host/source cardinality, past the
    # 8 GB broadcast limit at ~1e8 hosts), so let AQE pick the strategy —
    # it still broadcasts small group tables at runtime
    if not gpart:
        offsets = F.broadcast(offsets)
    return (
        d.join(offsets, gpart + ["_b"])
        .withColumn(
            "cum_tokens", F.sum("n_tokens").over(w_in) + F.col("_off")
        )
        .select(*cols, "n_tokens", "cum_tokens")
    )


def sequence_pack(
    docs: "DataFrame", seq_len: int, group_col: str | None = None,
    n_rows: int | None = None,
) -> "DataFrame":
    """(doc_id[, group], n_tokens, seq_id, seq_offset) — token-offset
    SEQUENCE PACKING: lay documents end-to-end along the md5(doc_id) walk
    (the same stable order every sampler here uses) and assign each doc the
    fixed-length training sequence its first token lands in —
    ``seq_id = (cum - n) DIV seq_len``, ``seq_offset = (cum - n) % seq_len``.
    This is the LM-pretraining packing contract (docs concatenate into
    seq_len-token rows and MAY span row boundaries); the tokenizer stage
    downstream slices actual token ids by (seq_id, seq_offset) without any
    further shuffle, because the assignment is a pure function of this
    table. Grouped, it packs per source/domain (curriculum or per-domain
    shards). Exact integer arithmetic over the distributed two-phase prefix
    sum — same scale shape as token_budget_sample, value-oracles the same
    way.

    Unlike the budget callers, NOTHING prunes before the per-row window
    here — every row of a (group, bucket) partition sorts in one task. The
    bucket fan-out therefore scales with the corpus via ``n_rows`` (same
    caller-known-count contract as sim's ``n_rows`` /
    negative_sample's ``n_entities``): the prefix grows one hex char per
    16x corpus past ~16M rows/group, holding the max window partition near
    ~1M rows. md5-prefix order is preserved at any prefix length, so the
    output — and the oracle — is identical."""
    cols = ["doc_id"] + ([group_col] if group_col else [])
    gpart = [group_col] if group_col else []
    prefix_len = 2
    if n_rows is not None:
        while 16 ** prefix_len * 1_000_000 < n_rows and prefix_len < 8:
            prefix_len += 1
    cum = _md5_walk_cumsum(docs, gpart, prefix_len=prefix_len)
    return cum.select(
        *cols,
        "n_tokens",
        # integer div/mod keeps the assignment exact at any corpus size
        # (a double division would lose exactness past 2^53 tokens)
        F.expr(f"(cum_tokens - n_tokens) div {int(seq_len)}").alias("seq_id"),
        F.expr(f"(cum_tokens - n_tokens) % {int(seq_len)}").alias(
            "seq_offset"
        ),
    )


def source_stats(docs: "DataFrame") -> "DataFrame":
    """(source, n_docs, total_tokens, keep_rate, mean_rep, dup_rate) —
    per-SOURCE quality rollup: the domain-level curation view (web corpora
    are filtered by whole domain/feed when a source's aggregate quality is
    bad, not doc-by-doc). Composes the existing signals — Gopher keep flag,
    repetition ratio, exact-dup fraction — into one groupBy(source).

    Cross-engine mean parity: floating sums are order-dependent across
    engines/partitionings, so every mean here divides an ORDER-FREE exact
    sum (longs, or the 4-decimal rep_ratio summed as DECIMAL) by the count
    in a single final double division.
    """
    q = quality_filter(docs).select("doc_id", "n_tokens", "keep")
    r = repetition_scores(docs).select("doc_id", "rep_ratio")
    base = docs.select("doc_id", "source", F.md5("text").alias("h"))
    n = F.count(F.lit(1))
    return (
        base.join(q, "doc_id")
        .join(r, "doc_id")
        .groupBy("source")
        .agg(
            n.alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.sum(F.col("keep").cast("long")) / n, 4).alias(
                "keep_rate"
            ),
            F.round(
                F.sum(F.col("rep_ratio").cast("decimal(18,4)")).cast("double")
                / n,
                4,
            ).alias("mean_rep"),
            F.round(F.lit(1) - F.countDistinct("h") / n, 4).alias("dup_rate"),
        )
    )


def sample_stratified(
    df: "DataFrame",
    id_cols: tuple[str, ...],
    group_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "s0",
) -> "DataFrame":
    """Deterministic PER-GROUP hash sampling — the domain-mixing primitive
    (upsample rare domains, downsample boilerplate-heavy ones): the
    :func:`sample_hash` membership rule with the threshold looked up per
    ``group_col`` value. Same determinism contract (pure function of row
    identity -> stable across runs/engines/resumes/cluster sizes), still
    filter-only — the per-group rate arrives as a literal CASE expression,
    no join, no shuffle."""
    h = _sample_hash_key(id_cols, salt)
    thr = F.lit(round(default_fraction * 1_000_000))
    for g, frac in sorted(fractions.items()):
        thr = F.when(
            F.col(group_col) == g, F.lit(round(frac * 1_000_000))
        ).otherwise(thr)
    return df.where(h % 1_000_000 < thr)


def _sample_hash_key(id_cols: tuple[str, ...], salt: str) -> "F.Column":
    """The shared membership-hash expression for the deterministic samplers:
    each id column md5-hashed INDIVIDUALLY before the concat (fixed-width
    digests — no separator-collision between ('a','b:c') and ('a:b','c')),
    NULL mapped to a sentinel digest, then a 32-bit md5 prefix as a long.
    Single source of truth so the per-group/flat equivalence contract
    cannot drift."""
    col_digests = [
        F.md5(F.coalesce(F.col(c).cast("string"), F.lit("\x00null")))
        for c in id_cols
    ]
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), *col_digests)), 1, 8), 16, 10
    ).cast("long")


def sample_hash(
    df: "DataFrame",
    id_cols: tuple[str, ...],
    fraction: float,
    salt: str = "s0",
) -> "DataFrame":
    """Deterministic hash sampling: keep a row iff
    ``md5(salt:id_cols...) mod 1e6 < fraction * 1e6``.

    The sampling primitive a reproducible training pipeline needs instead of
    ``df.sample()`` (whose output changes with partitioning and retries):
    membership is a pure function of the row's identity, so the sample is
    stable across runs, engines, resumes, and cluster sizes — and applying
    it within groups gives stratified sampling for free (same rule, same
    rate, per stratum). md5 (not xxhash64) because md5 is the hash both
    Spark and DuckDB share: the oracle applies the identical rule.
    Filter-only: no shuffle, pushes below anything that follows.

    Key construction: each id column is md5-hashed INDIVIDUALLY before the
    concat (fixed-width digests — no separator-collision between
    ('a','b:c') and ('a:b','c')), with NULL mapped to a sentinel digest so
    a null id is a stable value, not a dropped row.
    """
    h = _sample_hash_key(id_cols, salt)
    return df.where(h % 1_000_000 < round(fraction * 1_000_000))


def common_passages(
    docs: "DataFrame", k: int = 8, stride: int = 4, min_docs: int = 5
) -> "DataFrame":
    """(passage, n_docs) — k-token passages repeated across >= min_docs
    distinct documents: the exact-substring/boilerplate detector of a
    training-data pipeline (header/footer/license blocks, templated spam).

    Passages are strided token windows. ``stride`` > 1 cuts shingle volume
    by 1/stride but windows are phased from each DOCUMENT's start: two docs
    sharing a block only produce identical window strings when the block's
    start offsets agree modulo ``stride``, so a universal footer at varying
    offsets splits its count across up to ``stride`` phase classes (expected
    per-pair catch probability 1/stride). Use stride=1 for offset-exact
    recall, or the winnowing ``fingerprints`` operator when content-anchored
    sampling is needed. The plan is a single hash aggregation over the
    exploded windows with map-side partial combine; per-doc dedup of the
    window list happens inside the explode projection (array_distinct) so a
    passage repeated WITHIN one doc counts once, before the shuffle.

    Docs with fewer than k words emit nothing. The group-by key is the
    passage string itself: Spark's partial aggregation collapses hot
    boilerplate map-side, so the reducer sees at most one row per (passage,
    map task) — no posting-list blowup like the pairwise-join dedups.
    """
    parts = ", ".join(f"ws[i - 1 + {j}]" for j in range(k))
    win = (
        _words(docs)
        .where(F.size("ws") >= k)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, size(ws) - {k - 1}, {stride}),"
                        f" i -> concat_ws(' ', {parts}))"
                    )
                )
            ).alias("passage"),
        )
    )
    return (
        win.groupBy("passage")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )


def common_passages_cdc(
    docs: "DataFrame", k: int = 8, stride: int = 4, min_docs: int = 5
) -> "DataFrame":
    """(passage, n_docs) — content-defined variant of
    :func:`common_passages`: instead of emitting windows at positions
    strided from the document start, EVERY position's window is generated
    and kept iff ``md5(passage) mod stride == 0``. Same expected volume
    (1/stride of all windows, map-side), but the sampling decision is a pure
    function of the window's CONTENT — a block shared by two documents at
    ANY byte offsets selects the exact same windows in both, so repeated
    blocks are offset-exact (the strided variant only catches offsets that
    agree modulo stride; this is the content-defined-chunking idea from CDC
    dedup applied to token windows). Cost vs strided: all windows are
    materialized inside the projection before the filter — k string concats
    per token instead of per stride tokens; the explode/shuffle volume is
    the same.
    """
    parts = ", ".join(f"ws[i - 1 + {j}]" for j in range(k))
    win = (
        _words(docs)
        .where(F.size("ws") >= k)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.filter(
                        F.expr(
                            f"transform(sequence(1, size(ws) - {k - 1}),"
                            f" i -> concat_ws(' ', {parts}))"
                        ),
                        lambda p: F.conv(
                            F.substring(F.md5(p), 1, 8), 16, 10
                        ).cast("long")
                        % stride
                        == 0,
                    )
                )
            ).alias("passage"),
        )
    )
    return (
        win.groupBy("passage")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )


def fingerprints(docs: "DataFrame", n: int = 3, window: int = 4) -> "DataFrame":
    """(doc_id, fp) — winnowing document fingerprints: distinct minima of
    md5(shingle) over each sliding window of ``window`` consecutive shingles."""
    sh = shingles(docs, n).withColumn("h", F.md5("shingle"))
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    return sh.select("doc_id", F.min("h").over(win).alias("fp")).distinct()
