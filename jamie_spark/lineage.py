"""Per-partition lineage + idempotent resume (N6).

Every pipeline run processes the corpus in url-hash buckets. Each completed
bucket appends (atomically, via parquet append of a single small file) one
lineage row:

    (stage, bucket, n_buckets, url_min, url_max, model_version, row_count,
     triple_count, completed_at)

``n_buckets`` records the bucket MODULUS the run used; resume validates it
(a different modulus renumbers the url-hash partitions and would silently
duplicate/drop documents against the kept ``bucket=N`` data dirs).

Resume = anti-join of the full bucket list against completed lineage rows —
only pending buckets are (re)computed, so a killed run re-executes at most one
bucket of work. On Iceberg the same design keys lineage rows to snapshot ids;
parquet append gives the sandbox equivalent (a bucket's data file lands before
its lineage row, so a crash between the two re-runs that bucket — idempotent
because the data write for a bucket is a deterministic overwrite of that
bucket's directory).
"""

from __future__ import annotations

import os
import threading
from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from .frames import local_frame

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

LINEAGE_DDL = (
    "stage string, bucket int, n_buckets int, url_min string, "
    "url_max string, model_version string, row_count long, "
    "triple_count long, completed_at timestamp"
)


def lineage_path(base: str) -> str:
    return os.path.join(base, "_lineage")


def read_lineage(spark: "SparkSession", base: str) -> "DataFrame":
    """The lineage ledger, or an EMPTY frame only when none exists yet.

    Only path-not-found maps to "no lineage": swallowing every read error
    would turn a transient storage failure or a corrupt footer into a
    silent full reprocess (idempotent data-wise, but potentially the whole
    corpus re-run) PLUS duplicate appended rows — fail loudly instead."""
    from pyspark.errors import AnalysisException

    path = lineage_path(base)
    try:
        return spark.read.schema(LINEAGE_DDL).parquet(path)
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return local_frame(spark, [], LINEAGE_DDL)
        raise


def pending_buckets(
    spark: "SparkSession",
    base: str,
    stage: str,
    n_buckets: int,
    model_version: str | None = None,
) -> list[int]:
    """Buckets not yet completed for (stage, model_version).

    ``pipeline.run_with_lineage`` keys on ``pipeline.resume_key`` (model
    version, tokenizer version and dictionary digest), so swapping the model
    (JAMIE_MODEL), changing the tokenizer grammar or changing the dictionary
    invalidates prior completions instead of silently skipping them.

    The bucket MODULUS is validated against the ledger: resuming with a
    different ``n_buckets`` would renumber the url-hash partitions, so the
    kept ``bucket=N`` data dirs no longer mean what the new bucket list
    means — documents would silently duplicate (reprocessed under a new
    bucket id while the old dir remains) or drop. Same contract as the
    search index's stats-row validation.

    One Spark job: the distinct (n_buckets, model_version, bucket) rows of
    the stage are collected once; the modulus check and the model filter
    run on the driver."""
    ledger = (
        read_lineage(spark, base)
        .where(F.col("stage") == stage)
        .select("n_buckets", "model_version", "bucket")
        .distinct()
        .collect()
    )
    moduli = {r["n_buckets"] for r in ledger}
    if moduli - {None, n_buckets}:
        raise ValueError(
            f"lineage at {base!r} (stage {stage!r}) was written with "
            f"n_buckets={sorted(m for m in moduli if m is not None)}; "
            f"resume must use the same modulus, not {n_buckets} "
            "(or start a fresh out dir)"
        )
    done = {
        r["bucket"]
        for r in ledger
        if model_version is None or r["model_version"] == model_version
    }
    return [b for b in range(n_buckets) if b not in done]


#: concurrent parquet appends to ONE directory share the _temporary/0
#: staging dir (FileOutputCommitter) and clobber each other — serialize
#: appends from concurrent callers in one driver (threads sharing a
#: session). Bucket DATA writes need no lock (each bucket overwrites its
#: own directory).
_APPEND_LOCK = threading.Lock()


def append_lineage_row(
    spark: "SparkSession",
    base: str,
    stage: str,
    bucket: int,
    url_min: str,
    url_max: str,
    model_version: str,
    row_count: int,
    triple_count: int,
    n_buckets: int,
) -> None:
    row = (
        stage, bucket, n_buckets, url_min, url_max, model_version,
        row_count, triple_count,
    )
    with _APPEND_LOCK:
        (
            local_frame(spark, [row], LINEAGE_DDL.rsplit(",", 1)[0])
            .withColumn("completed_at", F.current_timestamp())
            .coalesce(1)
            .write.mode("append")
            .parquet(lineage_path(base))
        )


def bucket_of_url(n_buckets: int):
    return F.pmod(F.xxhash64("url"), F.lit(n_buckets))
