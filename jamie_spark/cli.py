"""spark-submit entry point: ship the whole pipeline as one job.

    zip -r jamie_spark.zip jamie_spark
    spark-submit --master <master> --py-files jamie_spark.zip jamie_spark/cli.py \\
        --pages /path/pages.parquet --concepts /path/concepts.parquet \\
        --out /path/kg --buckets 64

or, with the package on the path: ``python -m jamie_spark.cli ...``.

Resumable by construction: re-running the same command continues from the
lineage table (pending url-hash buckets only, N6). ``--fixture N`` synthesizes
a deterministic corpus instead of reading ``--pages`` (demo/smoke use).
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="jamie-spark KG construction")
    p.add_argument(
        "--mode", choices=["kg", "xml2conll", "conll2xml"], default="kg",
        help="kg (default): the KG pipeline; xml2conll / conll2xml: batch "
             "corpus conversion (reference data_converter.py:111-139)")
    p.add_argument("--in", dest="input",
                   help="converter input: a directory of .xml/.conll files, "
                        "or a parquet of (url, xml|conll) with "
                        "--input-format parquet")
    p.add_argument("--input-format", choices=["files", "parquet"],
                   default="files")
    p.add_argument("--pages", help="input pages parquet/iceberg path")
    p.add_argument("--concepts", help="concept dictionary parquet path")
    p.add_argument("--out", required=True, help="output + lineage directory")
    p.add_argument("--buckets", type=int, default=64,
                   help="url-hash buckets (resume granularity)")
    p.add_argument("--lang", default="ja")
    p.add_argument("--fixture", type=int, default=0,
                   help="synthesize N fixture pages instead of --pages")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--max-buckets", type=int, default=None,
                   help="cap buckets this invocation (testing)")
    p.add_argument("--analytics", action="store_true",
                   help="after the pipeline, compute the graph profile of "
                        "the materialized KG (degrees, fixed-point PageRank, "
                        "LPA communities) into <out>/analytics/")
    p.add_argument("--export-nt", metavar="PATH",
                   help="also publish the materialized KG as N-Triples text "
                        "at PATH")
    return p


def run_analytics(spark, out_dir: str) -> None:
    """Graph profile of the materialized KG -> <out>/analytics/ parquet."""
    import os

    from pyspark.sql import functions as F

    from jamie_spark import kgstats, pipeline

    edges = pipeline.read_materialized(spark, out_dir).select(
        F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")
    )
    base = os.path.join(out_dir, "analytics")
    kgstats.degrees(edges).write.mode("overwrite").parquet(
        os.path.join(base, "degrees")
    )
    kgstats.pagerank_fixed(edges, iters=5).write.mode("overwrite").parquet(
        os.path.join(base, "pagerank")
    )
    kgstats.label_propagation(edges, iters=4).write.mode("overwrite").parquet(
        os.path.join(base, "communities")
    )
    print(f"analytics written: {base}/{{degrees,pagerank,communities}}")


def run_converter(spark, args) -> int:
    """Batch xml2conll / conll2xml over a file directory or parquet table;
    output is a parquet of (url, conll|xml). Spark-parallel per document —
    the reference's single-machine file loop (data_converter.py:6-44,
    :99-108) becomes one Arrow stage."""
    from pyspark.sql import functions as F

    from jamie_spark import convert

    if not args.input:
        print("--in required for converter modes", file=sys.stderr)
        return 2
    src_col = "xml" if args.mode == "xml2conll" else "conll"
    if args.input_format == "parquet":
        docs = spark.read.parquet(args.input)
    else:
        ext = ".xml" if args.mode == "xml2conll" else ".conll"
        docs = (
            spark.read.format("binaryFile")
            .load(f"{args.input}/*{ext}")
            .select(
                F.element_at(F.split("path", "/"), -1).alias("url"),
                F.decode("content", "utf-8").alias(src_col),
            )
        )
    out = (
        convert.xml_to_conll(docs)
        if args.mode == "xml2conll"
        else convert.conll_to_xml(docs)
    )
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"{args.mode}: converted {n} documents -> {args.out}")
    return 0


def main(argv: list[str] | None = None) -> int:
    from pyspark.sql import SparkSession

    # absolute imports: spark-submit runs this file as a top-level script
    # (no parent package), while `python -m jamie_spark.cli` has one.
    from jamie_spark import fixtures, lineage, pipeline

    args = build_parser().parse_args(argv)
    spark = (
        SparkSession.builder.appName("jamie-spark-kg")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )

    if args.mode in ("xml2conll", "conll2xml"):
        return run_converter(spark, args)

    if args.fixture:
        pages = fixtures.pages_df_distributed(spark, args.fixture, args.seed)
        concepts = fixtures.concept_df(spark)
    else:
        if not args.pages or not args.concepts:
            print("--pages and --concepts required (or use --fixture N)",
                  file=sys.stderr)
            return 2
        pages = spark.read.parquet(args.pages)
        concepts = spark.read.parquet(args.concepts)

    done = pipeline.run_with_lineage(
        spark, pages, concepts, args.out,
        n_buckets=args.buckets, max_buckets=args.max_buckets, lang=args.lang,
    )
    lin = lineage.read_lineage(spark, args.out)
    # the ledger is append-only: after a model swap (or any re-run) each
    # (stage, bucket) holds rows per version while the data dir holds only
    # the LATEST overwrite — sum the newest row per bucket, not the ledger
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    latest = (
        lin.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("stage", "bucket").orderBy(
                    F.col("completed_at").desc()
                )
            ),
        )
        .where(F.col("_rn") == 1)
    )
    total = latest.groupBy().sum("triple_count").first()[0] or 0
    print(f"processed buckets this run: {done}")
    print(f"total triples materialized: {total}")
    if args.analytics:
        run_analytics(spark, args.out)
    if args.export_nt:
        from jamie_spark import graph

        graph.write_ntriples(
            pipeline.read_materialized(spark, args.out), args.export_nt
        )
        print(f"ntriples written: {args.export_nt}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
