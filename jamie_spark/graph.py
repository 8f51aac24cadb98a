"""Graph materialization with explicit skew handling (N5).

Canonical triples are written partitioned by ``bucket(subj_id)`` with an
additional SALT dimension inside each bucket: head entities (the reference
never faced this — single machine, tiny corpora; at 10^12 docs canonical
subjects are power-law) would otherwise pin whole buckets on one task.

    salt    = pmod(xxhash64(url, sent_id, subj_id, obj_id, pred), n_salts)
    bucket  = pmod(xxhash64(subj_id), n_buckets)
    rebalance(bucket, salt)  ->  write partitionBy(bucket)

The write is sized by the data, not by ``n_buckets``: AQE coalesces the
rebalance's shuffle partitions up to the advisory size and splits one that
outgrows it. The salt hashes row-level attributes, so a hot subject's rows
fall under ``n_salts`` shuffle keys instead of one, while bucket pruning on
reads still works (bucket is a pure function of subj_id).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import functions as F

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame


def canonical_triples(
    triples: "DataFrame",
    links: "DataFrame",
    concept_canon: "DataFrame",
) -> "DataFrame":
    """Resolve subj/obj surfaces -> canonical concept ids, as tables.

    ``pipeline.run_kg`` does not call this: its extraction stage resolves
    the same ids itself (``link.resolver``). This composition over
    ``link.link_surfaces`` and ``canon.canonicalize_concepts`` is the
    table-level reference that tests hold the fused ids to, and the one
    perfbench's traced ``run_kg`` copy still times.

    ``links``: (surface, sem_type, concept_id, score, method) from
    jamie_spark.link — a vocabulary-sized table, broadcast on both joins so
    the triple stream never shuffles here. A mention resolves only through
    a link of its own semantic type (its tag mapped by
    ``concepts.sem_type_of``); unresolved surfaces keep themselves as id.

    ``concept_canon`` (dictionary-sized) is broadcast into the ``links``
    join too. Neither side has statistics (links come from a checkpoint,
    the map from driver rows), so without the hint Spark plans a
    SortMergeJoin and injects a runtime bloom-filter subquery that
    aggregates the corpus-sized triples.
    """
    from .concepts import sem_type_of

    resolved = links.join(
        F.broadcast(concept_canon), "concept_id", "left"
    ).select(
        "surface",
        "sem_type",
        F.coalesce("canonical_id", "concept_id").alias("canon_id"),
    )

    def side(role: str) -> "DataFrame":
        return F.broadcast(
            resolved.select(
                F.col("surface").alias(f"{role}_surface"),
                F.col("sem_type").alias(f"{role}_sem"),
                F.col("canon_id").alias(f"{role}_id"),
            )
        )

    return (
        triples.withColumn("subj_sem", sem_type_of("subj_tag"))
        .withColumn("obj_sem", sem_type_of("obj_tag"))
        .join(side("subj"), ["subj_surface", "subj_sem"], "left")
        .join(side("obj"), ["obj_surface", "obj_sem"], "left")
        .withColumn("subj_id", F.coalesce("subj_id", F.col("subj_surface")))
        .withColumn("obj_id", F.coalesce("obj_id", F.col("obj_surface")))
        .drop("subj_sem", "obj_sem")
    )


def salted(
    triples: "DataFrame", n_buckets: int = 32, n_salts: int = 8
) -> "DataFrame":
    """Add (bucket, salt) columns.

    The salt hashes ROW-level attributes (url, sent_id) alongside the triple
    key: a head subject repeating the same (obj, pred) millions of times still
    spreads across all ``n_salts`` cells, yet the assignment stays
    deterministic across task retries (no rand()/monotonically_increasing_id,
    which would break idempotent resume).
    """
    salt_cols = [c for c in ("url", "sent_id") if c in triples.columns]
    return (
        triples.withColumn(
            "bucket", F.pmod(F.xxhash64("subj_id"), F.lit(n_buckets))
        )
        .withColumn(
            "salt",
            F.pmod(
                F.xxhash64(*salt_cols, "subj_id", "obj_id", "pred"),
                F.lit(n_salts),
            ),
        )
    )


def iceberg_available(spark) -> bool:
    """True when the Iceberg Spark runtime jar is on the classpath
    (org.apache.iceberg:iceberg-spark-runtime-4.0_2.13 for pyspark 4.x).
    Class lookup through the JVM — py4j package access alone never throws,
    so resolve explicitly."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def materialize(
    triples: "DataFrame",
    path: str,
    n_buckets: int = 32,
    n_salts: int = 8,
    mode: str = "overwrite",
    table: str | None = None,
) -> None:
    """Write the graph table, salted + bucket-partitioned.

    ``table`` (a catalog-qualified name, e.g. ``local.kg.triples``) selects
    the Iceberg DSv2 path — ``writeTo(table).using("iceberg")`` partitioned
    by the same bucket column, createOrReplace/append per ``mode`` — the
    north_star target on a real lake (requires
    org.apache.iceberg:iceberg-spark-runtime-4.0_2.13 + a configured
    ``spark.sql.catalog.<name>``; exercised by the env-gated
    tests/test_optional_jars.py, which skip in this jar-less sandbox).
    Default: identical layout as parquet ``partitionBy(bucket)`` at
    ``path`` — same pruning + skew behavior.

    How many tasks write is up to AQE, not ``n_buckets``: the rebalance
    hint shuffles on (bucket, salt), coalesces partitions up to
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` and splits a skewed
    one, so a small graph is written by few tasks, with few files per
    bucket, and a hot bucket by several tasks. With AQE off the hint is a
    plain hash repartition into ``spark.sql.shuffle.partitions``
    partitions. Whether Iceberg's own write distribution mode reshuffles
    the rebalanced frame is unverified: the Iceberg tests skip without
    the runtime jar.
    """
    part = salted(triples, n_buckets, n_salts).hint(
        "rebalance", "bucket", "salt"
    )
    if table is not None:
        # only the modes DSv2 actually expresses: collapsing 'error' or
        # 'ignore' into append would silently duplicate every triple in
        # the catalog table where the parquet branch would have raised
        if mode not in ("overwrite", "append"):
            raise ValueError(
                f"Iceberg path supports mode 'overwrite'|'append', got {mode!r}"
            )
        writer = part.writeTo(table).using("iceberg")
        if mode == "overwrite":
            writer.partitionedBy(F.col("bucket")).createOrReplace()
        else:
            writer.append()
        return
    (
        part.write.mode(mode)
        .partitionBy("bucket")
        .parquet(path)
    )


#: default IRI namespace for the N-Triples export
NT_BASE = "http://example.org/kg/"


def _nt_escape(col):
    """N-Triples string-literal escaping (W3C RDF 1.1 N-Triples §2.3):
    backslash FIRST, then quote, then the control characters. All JVM-side
    regexp_replace — no Python in the export path."""
    col = F.regexp_replace(col, r"\\", r"\\\\")
    col = F.regexp_replace(col, '"', '\\\\"')
    col = F.regexp_replace(col, "\n", r"\\n")
    col = F.regexp_replace(col, "\r", r"\\r")
    col = F.regexp_replace(col, "\t", r"\\t")
    return col


def to_ntriples(triples: "DataFrame", base: str = NT_BASE) -> "DataFrame":
    """(line) — N-Triples serialization of canonical triples, the standard
    KG publication format (the reference stops at its XML; any consumer of a
    web-scale KG ingests NT/TTL). Subjects and predicates become IRIs under
    ``base`` (percent-encoded, JVM ``url_encode``); objects become IRIs when
    they resolved to a canonical C-id, RDF string literals (escaped)
    otherwise. One narrow projection — no shuffle, no Python; writing is an
    embarrassingly parallel text sink."""
    obj_is_iri = F.col("obj_id").rlike("^C[0-9]+$")
    # url_encode is form-encoding (space -> '+'); RDF IRIs need true percent
    # encoding, and an input '+' is already %2B at this point, so the
    # post-replace is unambiguous
    enc = lambda c: F.regexp_replace(  # noqa: E731
        F.expr(f"url_encode({c})"), r"\+", "%20"
    )
    subj = F.concat(F.lit(f"<{base}entity/"), enc("subj_id"), F.lit(">"))
    pred = F.concat(F.lit(f"<{base}pred/"), enc("pred"), F.lit(">"))
    obj = F.when(
        obj_is_iri,
        F.concat(F.lit(f"<{base}entity/"), F.col("obj_id"), F.lit(">")),
    ).otherwise(F.concat(F.lit('"'), _nt_escape(F.col("obj_id")), F.lit('"')))
    return triples.select(
        F.concat_ws(" ", subj, pred, obj, F.lit(".")).alias("line")
    )


def write_ntriples(
    triples: "DataFrame", path: str, base: str = NT_BASE, mode: str = "overwrite"
) -> None:
    """Write the N-Triples export as partitioned text files."""
    to_ntriples(triples, base).write.mode(mode).text(path)


def partition_histogram(triples: "DataFrame", n_buckets: int = 32, n_salts: int = 8):
    """(bucket, salt) -> row count; the skew test asserts max/median is bounded."""
    return (
        salted(triples, n_buckets, n_salts)
        .groupBy("bucket", "salt")
        .agg(F.count(F.lit(1)).alias("rows"))
    )
