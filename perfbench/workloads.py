"""The KG-construction workloads: kg_batch and kg_incremental.

Each workload generates its inputs from the seed, warms up, then runs its
operations closed-loop with one caller. The timed path calls only the
library's public entry points (``pipeline.run_kg`` / ``run_with_lineage``,
``graph.materialize``, ``streaming.stream_kg_dedup``) and times them from
outside, in CPU-seconds of the process tree (see ``Workload.timed``). The traced
path rebuilds ``run_kg``, the bucket loop and the
dedup micro-batch from the same public layer calls, forcing each layer
boundary inside a span, and must produce the same output digest.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

from pyspark.sql import functions as F

from jamie_spark import (
    canon, concepts, eval as kg_eval, fixtures, graph, infer, lineage, link,
    mentions, models, pipeline, streaming, textstats,
)
from jamie_spark.concepts import TAG2NAME

from harness import log, steal_s, triple_digest
from tracing import Tracer, per_layer_metrics

# Sizes keep a run near 45 s for kg_batch and 75 s for kg_incremental on a
# 4-CPU machine, so the runs of both fit the time a full comparison of two
# versions may take; README.md records the measurements behind them.
BATCH_PAGES = 8_000
#: warm-up passes in kg_batch's set-up (the first pass of a fresh JVM
#: costs about twice a warm one)
WARMUP_PASSES = 1
#: input generation runs this many times per set-up; set-up time counts the
#: median one
SETUP_REPS = 3
PR_DOCS = 2_000
BUCKET_PAGES = 1_200
N_BUCKETS = 2
KILL_AFTER = 1
FILLER_ALIASES = 10_000
DROP_PAGES = 400
MAX_DROPS = 3
DROP_TIMEOUT_S = 90
MIN_PRECISION_RECALL = 0.95

#: filler aliases are drawn from the Greek block, which neither the fixture
#: vocabulary nor the corpus uses (checked at set-up)
GREEK = "αβγδεζηθικλμνξοπρστυφχψω"
GREEK_RE = "[Ͱ-Ͽ]"

#: spans reported as per-layer metrics, in every workload
SPANS = [
    "pipeline.run_kg",
    "infer.annotate",
    "link.link_surfaces",
    "canon.canonicalize_concepts",
    "graph.canonical_triples",
    "graph.materialize",
    "lineage.pending_buckets",
    "lineage.append_lineage_row",
    "streaming.batch",
    "textstats.minhash_signature_table",
    "textstats.dedup_against_signatures.prior",
    "textstats.dedup_against_signatures.intra",
]

#: per-layer ratios sampled after the traced work (0 where not entered)
SAMPLED = [
    "graph.materialize.task_skew",
    "link.link_surfaces.exact_ratio",
    "streaming.batch.survivor_ratio",
]


class Run:
    """What one invocation measured and checked."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        #: per timed operation: wall seconds and process-tree CPU seconds
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.docs = 0
        self.steal = 0.0
        self.checks: list[tuple[str, bool, str]] = []
        self.layer: dict[str, float] = {}
        self.spans: list[dict] = []

    def check(self, name: str, ok: bool, detail="") -> None:
        self.checks.append((name, bool(ok), str(detail)))

    def op(self, timed: tuple[float, float, float]) -> None:
        wall, cpu, steal = timed
        self.walls.append(wall)
        self.cpus.append(cpu)
        self.steal += steal

    @property
    def correct(self) -> bool:
        return all(ok for _, ok, _ in self.checks)


class Canaries:
    """Digests and counts remembered per (workload, seed) across runs in
    the same checkout: a later run with the same seed must reproduce every
    value an earlier run recorded."""

    def __init__(self, state_dir: str, workload: str, seed: int):
        os.makedirs(state_dir, exist_ok=True)
        self.path = os.path.join(state_dir, f"{workload}-seed{seed}.json")
        self.seen = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.seen = json.load(f)

    def record(self, run: Run, key: str, value) -> None:
        if key in self.seen:
            run.check(f"canary {key} stable across runs",
                      self.seen[key] == value,
                      f"{self.seen[key]} vs {value}")
        self.seen[key] = value

    def save(self) -> None:
        tmp = self.path + f".{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(self.seen, f, sort_keys=True)
        os.replace(tmp, self.path)


# --- traced rebuilds of the library's compositions ----------------------------


def traced_run_kg(tr: Tracer, pages, concept_dict, checkpoint_dir=None):
    """pipeline.run_kg, one span per layer, each boundary forced. Returns
    the persisted canonical triples (caller unpersists) and their count."""
    with tr.span("pipeline.run_kg") as top:
        with tr.span("infer.annotate") as s:
            flat = infer.annotate_pages_flat(pages)
            if checkpoint_dir is not None:
                path = os.path.join(checkpoint_dir, "flat_annotations.parquet")
                flat.write.mode("overwrite").parquet(path)
                flat = pages.sparkSession.read.parquet(path)
                tr.defer(s, flat.count)
            else:
                flat = flat.persist()
                s.rows_out = flat.count()
        triples = mentions.triples_from_flat(flat)
        tag2sem = F.create_map(
            *[F.lit(x) for pair in TAG2NAME.items() for x in pair]
        )
        surfaces = (
            triples.select(
                F.col("subj_surface").alias("surface"),
                tag2sem[F.col("subj_tag")].alias("sem_type"),
            )
            .union(
                triples.select(
                    F.col("obj_surface").alias("surface"),
                    tag2sem[F.col("obj_tag")].alias("sem_type"),
                )
            )
            .distinct()
        )
        with tr.span("link.link_surfaces") as s:
            if checkpoint_dir is None:
                surfaces = surfaces.localCheckpoint(eager=True)
            links = link.link_surfaces(
                surfaces, concept_dict, materialize=False
            ).localCheckpoint(eager=True)
            tr.defer(s, links.count)
            tr.sample(
                "link.link_surfaces.exact_ratio",
                lambda: links.where(F.col("method") == "exact").count()
                / max(1, surfaces.count()),
            )
        with tr.span("canon.canonicalize_concepts") as s:
            concept_canon = canon.canonicalize_concepts(
                concept_dict
            ).localCheckpoint(eager=True)
            tr.defer(s, concept_canon.count)
        with tr.span("graph.canonical_triples") as s:
            canonical = graph.canonical_triples(
                triples, links, concept_canon
            ).persist()
            s.rows_out = canonical.count()
        top.rows_out = s.rows_out
        if checkpoint_dir is None:
            tr.after(flat.unpersist)
    return canonical, top.rows_out


def traced_run_with_lineage(tr: Tracer, spark, pages, concept_dict, out_dir,
                            n_buckets, max_buckets=None):
    """pipeline.run_with_lineage (sequential buckets), span per layer."""
    stage = "kg_triples"
    mv = models.model_version()
    with tr.span("lineage.pending_buckets") as s:
        todo = lineage.pending_buckets(
            spark, out_dir, stage, n_buckets, model_version=mv
        )
        s.rows_out = len(todo)
    if max_buckets is not None:
        todo = todo[:max_buckets]
    bucketed = pages.withColumn("_bucket", lineage.bucket_of_url(n_buckets))
    for b in todo:
        with tr.span("pipeline.bucket"):
            subset = bucketed.where(F.col("_bucket") == b).drop("_bucket")
            out, n_triples = traced_run_kg(tr, subset, concept_dict)
            stats = subset.agg(
                F.min("url").alias("lo"), F.max("url").alias("hi"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
            out.write.mode("overwrite").parquet(
                os.path.join(out_dir, "data", f"bucket={b}")
            )
            out.unpersist()
            with tr.span("lineage.append_lineage_row") as s:
                lineage.append_lineage_row(
                    spark, out_dir, stage, b, stats["lo"], stats["hi"],
                    mv, stats["n"], n_triples, n_buckets=n_buckets,
                )
                s.rows_out = 1
    return todo


def _page_doc_ids(pages):
    """The stream loop's url -> doc_id bridge (md5 prefix of the url)."""
    return pages.withColumn(
        "doc_id",
        F.conv(F.substring(F.md5("url"), 1, 15), 16, 10).cast("long"),
    )


def _prior_signature_dirs(store_dir: str, batch_id: int) -> list[str]:
    out = []
    for p in glob.glob(os.path.join(store_dir, "batch=*")):
        b = p.rsplit("=", 1)[1]
        if b.isdigit() and int(b) < batch_id:
            out.append(p)
    return sorted(out)


def traced_dedup_batch(tr: Tracer, batch_df, batch_id, concept_dict, out_dir,
                       store_dir):
    """streaming.process_kg_dedup_batch, span per layer."""
    spark = batch_df.sparkSession
    n, unit = streaming.STREAM_SHINGLE_N, streaming.STREAM_SHINGLE_UNIT
    agree = streaming.STREAM_DEDUP_MIN_AGREE
    with tr.span("streaming.batch") as top:
        if batch_df.isEmpty():
            return
        pages = _page_doc_ids(batch_df).persist()
        with tr.span("textstats.minhash_signature_table") as s:
            new_sig = textstats.minhash_signature_table(
                pages.select("doc_id", "text"), n=n, unit=unit,
                short_fallback=True,
            ).persist()
            s.rows_out = sig_rows = new_sig.count()
        prior_dirs = _prior_signature_dirs(store_dir, batch_id)
        survivors = pages
        if prior_dirs:
            prior = (
                spark.read.option("basePath", store_dir)
                .parquet(*prior_dirs).drop("batch")
            )
            with tr.span("textstats.dedup_against_signatures.prior") as s:
                dups = (
                    textstats.dedup_against_signatures(
                        None, prior, n=n, min_agree=agree, unit=unit,
                        new_sig=new_sig,
                    )
                    .select(F.col("new_doc_id").alias("doc_id"))
                    .distinct()
                    .localCheckpoint(eager=True)
                )
                tr.defer(s, dups.count)
            survivors = pages.join(dups, "doc_id", "left_anti")
        with tr.span("textstats.dedup_against_signatures.intra") as s:
            intra = (
                textstats.dedup_against_signatures(
                    None, new_sig, n=n, min_agree=agree, unit=unit,
                    new_sig=new_sig,
                )
                .where(F.col("new_doc_id") > F.col("stored_doc_id"))
                .select(F.col("new_doc_id").alias("doc_id"))
                .distinct()
                .localCheckpoint(eager=True)
            )
            tr.defer(s, intra.count)
        survivors = survivors.join(intra, "doc_id", "left_anti")
        # streaming.process_kg_batch on the survivors
        surv_pages = survivors.drop("doc_id")
        if not surv_pages.isEmpty():
            canonical, _ = traced_run_kg(tr, surv_pages, concept_dict)
            with tr.span("graph.salted_write"):
                graph.salted(canonical, n_buckets=8, n_salts=4).write.mode(
                    "overwrite"
                ).parquet(os.path.join(out_dir, f"batch={batch_id}"))
            canonical.unpersist()
        with tr.span("streaming.commit"):
            new_sig.join(
                survivors.select("doc_id"), "doc_id", "left_semi"
            ).write.mode("overwrite").parquet(
                os.path.join(store_dir, f"batch={batch_id}")
            )
        new_sig.unpersist()
        pages.unpersist()
        path = os.path.join(store_dir, f"batch={batch_id}")
        tr.defer(top, lambda: spark.read.parquet(path).count())
        tr.sample("streaming.batch.survivor_ratio",
                  lambda: top.rows_out / sig_rows)


# --- workloads ---------------------------------------------------------------


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, cores: int, canaries,
                 tree):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cores = cores
        self.canaries = canaries
        self.tree = tree
        self.inputs = os.path.join(work, "inputs")
        self.setup_run = Run()
        #: seconds of each repetition of the set-up's repeated part
        self.setup_reps: list[float] = []

    def timed(self, fn):
        """Run ``fn``; returns ((wall s, CPU s, steal s), its result). CPU
        is the process tree's CPU time over the call: what the operation
        cost this machine, which moves far less than wall time when other
        guests of a shared host take the CPUs."""
        c, st = self.tree.cpu_s(), steal_s()
        t = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t
        return (wall, self.tree.cpu_s() - c, steal_s() - st), out

    def start_python_workers(self) -> None:
        """A first python job, so the one-off start of the python workers
        is set-up time of its own rather than part of one repetition."""
        self.spark.range(0, self.cores, numPartitions=self.cores).mapInPandas(
            lambda batches: batches, schema="id long"
        ).collect()

    def repeated(self, name: str, gen) -> str:
        """Generate the inputs SETUP_REPS times into fresh directories,
        timing each; returns the last directory."""
        for i in range(SETUP_REPS):
            t = time.perf_counter()
            path = gen(f"{name}{i}")
            self.setup_reps.append(time.perf_counter() - t)
        return path

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def write_fixture_dict(self) -> str:
        p = os.path.join(self.inputs, "dict_fixture")
        fixtures.concept_df(self.spark).write.parquet(p)
        return p

    def gen_pages(self, n: int, name: str) -> str:
        """Fixture pages 0..n-1 for the run's seed, as parquet."""
        p = os.path.join(self.inputs, name)
        fixtures.pages_df_distributed(
            self.spark, n, seed=self.seed, n_partitions=self.cores
        ).write.parquet(p)
        return p

    def read(self, path):
        return self.spark.read.parquet(path)

    def traced(self, run: Run, untraced_op, traced_op) -> None:
        """The same operation untraced, then traced, over the same inputs
        (after the set-up's warm-up). Each op returns (wall_s, output
        canary) and times only the library work; the canaries must be
        equal. Fills the per-layer metrics, the share of the traced wall
        that top-level spans cover, the overhead, and the untraced op's
        wall-clock docs/s."""
        untraced_s, plain = untraced_op()
        tr = Tracer(self.spark, f"{self.name}-{self.seed}")
        traced_s, traced = traced_op(tr)
        run.check("traced output equals untraced output",
                  plain is not None and plain == traced,
                  f"{plain} vs {traced}")
        instances, samples = tr.finish()
        run.spans = instances
        run.layer = per_layer_metrics(instances, SPANS, self.cores)
        for name in SAMPLED:
            run.layer[name] = samples.get(name, 0.0)
        coverage = tr.top_level_s() / traced_s
        run.layer["trace.coverage"] = coverage
        run.layer["trace.overhead_s"] = traced_s - untraced_s
        run.layer["trace.overhead_pct"] = 100 * (traced_s - untraced_s) / untraced_s
        run.layer["trace.untraced_docs_per_s"] = self.op_docs / untraced_s
        run.check("top-level spans cover >= 90% of traced wall",
                  coverage >= 0.9, f"{coverage:.3f}")


class KgBatch(Workload):
    """BATCH_PAGES fixture pages through one run_kg(checkpoint_dir=...) and
    graph.materialize per pass. The corpus-proportional layers (the infer
    mapInArrow stage, the salted graph write) and run_kg's per-call job
    overhead carry the work; the dictionary layers are a small fixed
    share."""

    name = "kg_batch"
    op_docs = BATCH_PAGES

    def setup(self) -> None:
        self.dict = self.write_fixture_dict()
        self.start_python_workers()
        self.pages = self.repeated(
            "pages", lambda name: self.gen_pages(BATCH_PAGES, name)
        )
        log("kg_batch inputs written")
        self.n_pass = 0
        for _ in range(WARMUP_PASSES):
            out = self._pass(self.pages)
        self.warm_digest = triple_digest(self.read(out))
        log("kg_batch warm-up passes done")

    def _pass(self, pages_path: str) -> str:
        """One pass into fresh checkpoint and output dirs; the previous
        pass's dirs are removed first."""
        i = self.n_pass
        self.n_pass += 1
        for d in ("graph", "ckpt"):
            shutil.rmtree(self.path(d, str(i - 1)), ignore_errors=True)
        out = self.path("graph", str(i))
        r = pipeline.run_kg(
            self.read(pages_path), self.read(self.dict),
            checkpoint_dir=self.path("ckpt", str(i)),
        )
        graph.materialize(r["canonical_triples"], out)
        pipeline.release(r)
        return out

    def measure(self, run: Run, seconds: float) -> None:
        run.checks.extend(self.setup_run.checks)
        digests, last = [self.warm_digest], None
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or not run.cpus:
            run.attempted += 1
            try:
                timed, out = self.timed(lambda: self._pass(self.pages))
            except Exception as e:  # noqa: BLE001 - counted, run stops
                run.failed += 1
                run.check("kg_batch pass", False, repr(e)[:300])
                break
            run.op(timed)
            run.docs += BATCH_PAGES
            digests.append(triple_digest(self.read(out)))
            last = out
        run.check("every pass yields the same digest", len(set(digests)) == 1,
                  digests)
        log("kg_batch passes done")
        self.canaries.record(run, "digest", digests[0])
        if last is not None:
            self.check_pr(run, last)
            log("kg_batch P/R checked")

    def check_pr(self, run: Run, graph_path: str) -> None:
        """Triple P/R of the graph's first PR_DOCS docs against the
        generator's gold, built distributed from fixtures.gen_doc (one doc
        per row) — never collected to the driver."""
        import pandas as pd

        seed = self.seed

        def gold(batches):
            for pdf in batches:
                rows = [t for i in pdf["id"]
                        for t in fixtures.gen_doc(int(i), seed)[3]]
                if rows:
                    yield pd.DataFrame(rows)

        gold_df = self.spark.range(
            0, PR_DOCS, numPartitions=self.cores
        ).mapInPandas(gold, schema=fixtures.GOLD_TRIPLES_DDL)
        doc = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
        pred = self.read(graph_path).where(doc < PR_DOCS)
        res = kg_eval.eval_triples(gold_df, pred)
        p, r = res["precision"], res["recall"]
        run.check(f"triple P/R >= {MIN_PRECISION_RECALL}",
                  p >= MIN_PRECISION_RECALL and r >= MIN_PRECISION_RECALL,
                  f"P={p:.4f} R={r:.4f}")
        self.canaries.record(run, "precision_recall", [p, r])

    def trace(self, run: Run) -> None:
        run.checks.extend(self.setup_run.checks)
        run.attempted += 2

        def plain():
            (wall, _, _), out = self.timed(lambda: self._pass(self.pages))
            digest = triple_digest(self.read(out))
            self.canaries.record(run, "digest", digest)
            return wall, digest

        def traced(tr):
            out = self.path("graph", "traced")
            t = time.perf_counter()
            canonical, n = traced_run_kg(
                tr, self.read(self.pages), self.read(self.dict),
                checkpoint_dir=self.path("ckpt", "traced"),
            )
            with tr.span("graph.materialize") as s:
                graph.materialize(canonical, out)
                s.rows_out = n
            wall = time.perf_counter() - t
            tr.after(canonical.unpersist)
            tr.sample("graph.materialize.task_skew", lambda: tr.task_skew(s))
            return wall, triple_digest(self.read(out))

        self.traced(run, plain, traced)
        self.check_pr(run, self.path("graph", "traced"))


class KgIncremental(Workload):
    """Incremental upkeep of the graph against the fixture dictionary
    padded with filler aliases. One round is a bucketed rebuild through
    run_with_lineage -- a killed first call (max_buckets), a resume that
    finishes the rest, a no-op resume -- then one crawl drop through an
    availableNow run of streaming.stream_kg_dedup. Drop 0 seeds the
    signature history at set-up; every later drop is half fresh pages and
    half url-rewritten mirrors of drop 0. Per-call dictionary work, the
    signature/probe work and job-scheduling constants dominate; this is
    the workload that reads and appends the lineage ledger and the
    signature store."""

    name = "kg_incremental"
    #: pages in one round: the bucketed pages plus one later drop
    op_docs = BUCKET_PAGES + DROP_PAGES // 2 * 2

    def setup(self) -> None:
        run = self.setup_run
        half = DROP_PAGES // 2
        self.start_python_workers()
        self.corpus = self.repeated("pages", lambda name: self.gen_pages(
            BUCKET_PAGES + DROP_PAGES + MAX_DROPS * half, name
        ))
        self.dict = self.write_fixture_dict()
        self.padded = self.write_padded_dict(run)
        self.offered = [DROP_PAGES] + [2 * half] * MAX_DROPS
        run.check(
            "corpus holds no filler-script characters",
            self.read(self.corpus).where(F.col("text").rlike(GREEK_RE)).isEmpty(),
        )
        pages = self._docs(0, BUCKET_PAGES)
        log("kg_incremental inputs written")
        # the reference is one run_kg over all pages with the fixture
        # dictionary; it doubles as the warm-up of run_kg. The timed rounds
        # use the padded dictionary, so their equality with it also shows
        # that the padding never changes output
        r = pipeline.run_kg(pages, self.read(self.dict))
        self.ref = triple_digest(r["canonical_triples"])
        pipeline.release(r)
        log("kg_incremental reference run_kg done")
        self.n_cycle = 0
        self._append(0)
        self._drop(run, "plain", 0)
        run.check("history drop 0 committed", run.failed == 0)
        log("kg_incremental drop 0 done")

    def _docs(self, lo: int, hi: int):
        """Corpus docs with id in [lo, hi): the first BUCKET_PAGES feed the
        bucketed rebuild, the rest are the crawl drops' pool."""
        doc = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
        return self.read(self.corpus).where((doc >= lo) & (doc < hi))

    # --- buckets ---------------------------------------------------------------

    def write_padded_dict(self, run: Run) -> str:
        """Fixture dictionary + FILLER_ALIASES Greek aliases on their own
        concepts, split across the fixture's semantic types so they land in
        the same linking candidate families. Stays below
        canon.SMALL_GRAPH_EDGES, so canonicalization keeps its strategy."""
        rows = concepts.concept_rows()
        run.check(
            "fixture vocabulary holds no filler-script characters",
            not any(set(GREEK) & set(r["alias"] + r["canonical"]) for r in rows),
        )
        run.check("padded dictionary stays below canon.SMALL_GRAPH_EDGES",
                  len(rows) + FILLER_ALIASES < canon.SMALL_GRAPH_EDGES)
        sems = sorted({r["sem_type"] for r in rows})
        letter = [
            F.substring(
                F.lit(GREEK),
                (F.pmod(F.xxhash64("id", F.lit(self.seed), F.lit(k)),
                        F.lit(len(GREEK))) + 1).cast("int"),
                1,
            )
            for k in range(10)
        ]
        alias = F.concat(*letter)
        filler = self.spark.range(
            0, FILLER_ALIASES, numPartitions=self.cores
        ).select(
            F.format_string("F%07d", "id").alias("concept_id"),
            alias.alias("canonical"),
            alias.alias("alias"),
            F.element_at(
                F.array(*[F.lit(s) for s in sems]),
                (F.col("id") % len(sems) + 1).cast("int"),
            ).alias("sem_type"),
        )
        p = os.path.join(self.inputs, "dict_padded")
        fixtures.concept_df(self.spark).unionByName(filler).write.parquet(p)
        return p

    def _cycle(self, run: Run, call):
        """Killed call, resume, no-op resume into a fresh out dir, each
        timed; checks the ledger and the output. Returns the three calls'
        (wall, CPU, steal) and the output digest."""
        run.attempted += N_BUCKETS
        out = self.path("buckets", str(self.n_cycle))
        self.n_cycle += 1
        t_first, first = self.timed(lambda: call(out, KILL_AFTER))
        t_rest, rest = self.timed(lambda: call(out, None))
        t_noop, noop = self.timed(lambda: call(out, None))
        run.check("killed call processes the first buckets",
                  first == list(range(KILL_AFTER)), first)
        run.check("resume processes exactly the rest",
                  rest == list(range(KILL_AFTER, N_BUCKETS)), rest)
        run.check("second resume is a no-op", noop == [], noop)
        ledger = lineage.read_lineage(self.spark, out).collect()
        buckets = {r["bucket"] for r in ledger}
        run.check("ledger holds one row per bucket",
                  len(ledger) == N_BUCKETS and len(buckets) == N_BUCKETS,
                  f"{len(ledger)} rows, {len(buckets)} buckets")
        digest = triple_digest(pipeline.read_materialized(self.spark, out))
        run.check("bucketed output (padded dictionary) equals one run_kg "
                  "over the same pages (fixture dictionary)",
                  digest == self.ref, f"{digest} vs {self.ref}")
        self.canaries.record(run, "buckets", digest)
        return [t_first, t_rest, t_noop], digest

    def _call_plain(self, out, max_buckets):
        return pipeline.run_with_lineage(
            self.spark, self._docs(0, BUCKET_PAGES), self.read(self.padded), out,
            n_buckets=N_BUCKETS, max_buckets=max_buckets,
        )

    # --- stream drops ----------------------------------------------------------

    def _append(self, k: int) -> None:
        """Write drop k as one parquet file into the stream's input dir:
        drop 0 is the first DROP_PAGES docs; drop k > 0 is the next half
        batch of fresh docs plus every other drop-0 doc re-served from a
        mirror host."""
        base, half = BUCKET_PAGES, DROP_PAGES // 2
        doc = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
        if k == 0:
            drop = self._docs(base, base + DROP_PAGES)
        else:
            lo = base + DROP_PAGES + (k - 1) * half
            fresh = self._docs(lo, lo + half)
            mirrors = self._docs(base, base + DROP_PAGES).where(
                doc % 2 == k % 2
            ).withColumn(
                "url",
                F.regexp_replace(
                    "url", "^https://fixture.test/", f"https://mirror{k}.fixture.test/"
                ),
            )
            drop = fresh.unionByName(mirrors)
        staged = self.path("staging", str(k))
        drop.coalesce(1).write.parquet(staged)
        (part,) = glob.glob(os.path.join(staged, "*.parquet"))
        os.makedirs(self.path("in"), exist_ok=True)
        shutil.move(part, self.path("in", f"drop-{k:04d}.parquet"))

    def _dirs(self, key: str) -> tuple[str, str, str]:
        return tuple(self.path("stream", key, d) for d in ("out", "ckpt", "store"))

    def _start(self, key: str, tr: Tracer | None):
        out, ckpt, store = self._dirs(key)
        pages = streaming.read_page_stream(self.spark, self.path("in"))
        concepts_df = self.read(self.padded)
        if tr is None:
            return streaming.stream_kg_dedup(pages, concepts_df, out, ckpt, store)

        def process(batch_df, batch_id):
            traced_dedup_batch(tr, batch_df, batch_id, concepts_df, out, store)

        return (
            pages.writeStream.foreachBatch(process)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    def _drop(self, run: Run, key: str, k: int, tr: Tracer | None = None):
        """One availableNow run over drop k. Returns ((wall, CPU, steal),
        canary), or None when the query failed or missed its timeout (then
        stopped and counted as failed, never timed as a success)."""
        run.attempted += 1

        def go():
            q = self._start(key, tr)
            return q, q.awaitTermination(DROP_TIMEOUT_S)

        timed, (q, finished) = self.timed(go)
        if not finished:
            q.stop()
            run.failed += 1
            run.check(f"drop {k} finished within {DROP_TIMEOUT_S}s", False)
            return None
        if q.exception() is not None:
            run.failed += 1
            run.check(f"drop {k} query", False, str(q.exception())[:300])
            return None
        out, _, store = self._dirs(key)
        part = os.path.join(store, f"batch={k}")
        if not os.path.isdir(part):
            run.failed += 1
            run.check(f"drop {k} ran as micro-batch {k}", False)
            return None
        survivors = self.read(part).count()
        dropped = self.offered[k] - survivors
        out_part = os.path.join(out, f"batch={k}")
        digest = triple_digest(self.read(out_part)) if os.path.isdir(out_part) else "0:0"
        canary = [survivors, dropped, digest]
        if k > 0:
            run.check(f"drop {k} keeps and drops pages",
                      survivors > 0 and dropped > 0, canary)
        return timed, canary

    # --- rounds ----------------------------------------------------------------

    def measure(self, run: Run, seconds: float) -> None:
        """Rounds until ``seconds`` have passed. The timed operations of a
        round are the killed call and the resume (one bucket each) and the
        drop's availableNow run; the no-op resume is checked, not timed."""
        run.checks.extend(self.setup_run.checks)
        t_end = time.perf_counter() + seconds
        k = 0
        while k < MAX_DROPS and (time.perf_counter() < t_end or k == 0):
            k += 1
            try:
                calls, _ = self._cycle(run, self._call_plain)
            except Exception as e:  # noqa: BLE001 - counted, run stops
                run.check("bucket cycle", False, repr(e)[:300])
                done = len(glob.glob(self.path(
                    "buckets", str(self.n_cycle - 1), "data", "bucket=*")))
                run.failed += N_BUCKETS - done
                break
            for timed in calls[:2]:
                run.op(timed)
            run.docs += BUCKET_PAGES
            self._append(k)
            got = self._drop(run, "plain", k)
            if got is None:
                break
            timed, canary = got
            run.op(timed)
            run.docs += self.offered[k]
            self.canaries.record(run, f"drop{k}", canary)

    def trace(self, run: Run) -> None:
        """One round twice from the same state: untraced through the public
        entry points, traced through the rebuilt compositions."""
        run.checks.extend(self.setup_run.checks)
        shutil.copytree(self.path("stream", "plain"), self.path("stream", "traced"))
        self._append(1)

        def round_(call, key, tr=None):
            calls, digest = self._cycle(run, call)
            got = self._drop(run, key, 1, tr)
            wall = sum(c[0] for c in calls) + (got[0][0] if got else 0.0)
            return wall, got and [digest] + got[1]

        def plain():
            wall, canary = round_(self._call_plain, "plain")
            if canary:
                self.canaries.record(run, "drop1", canary[1:])
            return wall, canary

        def traced(tr):
            def call(out, max_buckets):
                return traced_run_with_lineage(
                    tr, self.spark, self._docs(0, BUCKET_PAGES),
                    self.read(self.padded), out, N_BUCKETS, max_buckets,
                )
            return round_(call, "traced", tr)

        self.traced(run, plain, traced)


WORKLOADS = {w.name: w for w in (KgBatch, KgIncremental)}
