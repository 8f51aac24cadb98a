"""Hyperlink-graph extraction from crawled HTML — the web-native edge tier.

The pipeline's triples are CONTENT edges (entity relations inside a page);
a web-scale KG equally needs the page-to-page LINK graph: outbound anchors,
canonicalized target URLs, and the host-level rollup that feeds crawl
scheduling, spam/link-farm detection, and host PageRank. The reference stops
at per-document annotation; these operators extend the same crawl table.

Everything here is one declarative column plan over the raw ``html`` bytes:
JVM ``regexp_extract_all`` for the anchor scan (whole-stage codegen, no
Python in the path), an explode bounded by links-per-page, and a hash
aggregation for the host rollup — no UDFs, no shuffles beyond the final
groupBy. URL normalization is a pure regexp chain in the Java/RE2-common
subset (same contract as textstats.pii_scrub), so the DuckDB driver oracle
replays it verbatim; the regex constants below are the single source of
truth for BOTH engines.

Normalization rule set (each rule exercised by a dedicated fixture link):
  1. strip the fragment (``#...``);
  2. lowercase scheme and host;
  3. drop default ports (``https://h:443`` -> ``https://h``, ``http://h:80``
     -> ``http://h``; any other explicit port is kept);
  4. drop tracking query params (``utm_*``, ``ref``, ``fbclid``, ``gclid``),
     preserving the relative order of surviving params (no re-sort: order
     can be semantic, and keep-order is engine-identical for free);
  5. collapse trailing slashes on a non-root path; an empty path becomes
     ``/``.
Non-http(s) and authority-less hrefs (mailto:, javascript:, relative links)
are dropped — the link GRAPH wants resolvable absolute web targets.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import functions as F

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import Column, DataFrame

#: one <a> element with a double-quoted href and a text-only anchor body —
#: the crawl-HTML subset the fixture generator emits. Raw ``&`` separators
#: and raw ``>`` in href values (both ubiquitous on the real web,
#: strictly-invalid HTML) are read as-is: HREF_RE/ANCHOR_RE re-match the
#: FULL tag structure rather than grabbing the first quote/'>' run, so an
#: unencoded '>' inside the href can never bleed into the anchor capture.
#: Single source for the Spark scan and the DuckDB oracle.
A_TAG_RE = '<a href="[^"]*"[^>]*>[^<]*</a>'
HREF_RE = '<a href="([^"]*)"'
ANCHOR_RE = '<a href="[^"]*"[^>]*>([^<]*)</a>'

#: tracking query params dropped by rule 4
TRACKING_PARAM_RE = "^(utm_[^=]*|ref|fbclid|gclid)="

#: URL part extractors (rules 2-5); all return '' on no-match in BOTH engines
SCHEME_RE = "^([A-Za-z][A-Za-z0-9+.-]*)://"
HOST_RE = "^[^:/?#]+://([^/:?#]+)"
PORT_RE = "^[^:/?#]+://[^/:?#]+:([0-9]+)"
PATH_RE = "^[^:/?#]+://[^/?#]*([^?#]*)"
QUERY_RE = r"\?([^#]*)"


def url_host(url: "Column | str") -> "Column":
    """Lowercased host of an absolute URL ('' when there is none)."""
    return F.lower(F.regexp_extract(url, HOST_RE, 1))


def normalize_url(url: "Column | str") -> "Column":
    """Canonical form of an absolute URL per the module rule set.

    Pure JVM expression chain — safe in a select over billions of rows.
    Returns the rebuilt URL; callers filter on :func:`url_host` != '' and
    scheme to drop non-web targets (``extract_links`` does).
    """
    u = F.regexp_replace(url, "#.*$", "")  # rule 1
    scheme = F.lower(F.regexp_extract(u, SCHEME_RE, 1))
    host = F.lower(F.regexp_extract(u, HOST_RE, 1))
    port = F.regexp_extract(u, PORT_RE, 1)
    path = F.regexp_extract(u, PATH_RE, 1)
    query = F.regexp_extract(u, QUERY_RE, 1)
    port_part = (
        F.when(
            (port == "")
            | ((scheme == F.lit("https")) & (port == F.lit("443")))
            | ((scheme == F.lit("http")) & (port == F.lit("80"))),
            F.lit(""),
        )
        .otherwise(F.concat(F.lit(":"), port))
    )
    stripped = F.regexp_replace(path, "/+$", "")
    path_part = F.when(stripped == "", F.lit("/")).otherwise(stripped)
    clean_q = F.array_join(
        F.filter(
            F.split(query, "&"),
            lambda x: (x != "") & ~x.rlike(TRACKING_PARAM_RE),
        ),
        "&",
    )
    query_part = F.when(clean_q == "", F.lit("")).otherwise(
        F.concat(F.lit("?"), clean_q)
    )
    return F.concat(scheme, F.lit("://"), host, port_part, path_part, query_part)


def extract_links(
    pages: "DataFrame", html_col: str = "html", url_col: str = "url"
) -> "DataFrame":
    """(src_url, dst_url, anchor) edges from the pages' raw HTML.

    One codegen'd scan: regexp_extract_all collects the <a> elements, the
    explode fans out by links-per-page (bounded by page size), and the href
    is normalized per the module rule set. Non-http(s) targets drop.
    """
    tags = pages.select(
        F.col(url_col).alias("src_url"),
        F.explode(
            F.expr(
                f"regexp_extract_all(cast({html_col} as string),"
                f" '{A_TAG_RE}', 0)"
            )
        ).alias("tag"),
    )
    raw = tags.select(
        "src_url",
        F.regexp_extract("tag", HREF_RE, 1).alias("href"),
        F.regexp_extract("tag", ANCHOR_RE, 1).alias("anchor"),
    )
    scheme = F.lower(F.regexp_extract("href", SCHEME_RE, 1))
    return (
        raw.withColumn("dst_url", normalize_url(F.col("href")))
        .where(scheme.isin("http", "https") & (url_host(F.col("href")) != ""))
        .select("src_url", "dst_url", "anchor")
    )


def host_graph(links: "DataFrame") -> "DataFrame":
    """Host-level rollup (src_host, dst_host, n_links) of a link-edge table.

    One hash aggregation with map-side partial combine; host cardinality is
    web-sized (~1e8) but each group is a scalar count — the canonical
    shuffle-then-sum shape that survives any corpus size.
    """
    return (
        links.select(
            url_host(F.col("src_url")).alias("src_host"),
            url_host(F.col("dst_url")).alias("dst_host"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def crawl_budget(
    pages: "DataFrame",
    cost_budget: int,
    unit_bytes: int = 1024,
    url_col: str = "url",
    html_col: str = "html",
) -> "DataFrame":
    """(url, host, cost, cum_cost) — per-host crawl-politeness budgeting:
    walk each host's pages in md5(url) order (the repo's stable unbiased
    shuffle — no RNG, engine/partitioning/resume-invariant) and keep pages
    while the host's BYTE budget is not yet exhausted before them
    (keep iff ``cum_cost - cost < cost_budget``; the boundary page that
    crosses the budget is kept, matching token_budget_sample's floor
    contract). The crawl-scheduling primitive "fetch at most ~N bytes per
    host this cycle": per-host rates fall out of one budget knob, the kept
    set is bit-reproducible, and re-crawl selection never needs a central
    scheduler.

    Cost is the page's html size in whole ``unit_bytes`` blocks (integer
    ceil — exact arithmetic, so the operator value-oracles like the
    samplers). Scale shape: the shared two-phase md5-prefix bucket prefix
    sum (textstats._md5_walk_cumsum) — a dominant host (one host IS a
    large crawl's hot key) never sorts in a single task, and beyond-budget
    buckets are pruned before any per-row window.
    """
    from . import textstats

    # whole-block ceil in long arithmetic; length(binary) counts BYTES.
    # Cost rides the SAME select as the keys (weight_col) — the separate
    # weights frame joined pages to itself on url
    u = int(unit_bytes)
    d = pages.select(
        F.col(url_col).alias("doc_id"),
        url_host(F.col(url_col)).alias("host"),
        F.expr(f"(length({html_col}) + {u - 1}) div {u}").alias("cost_u"),
    )
    cum = textstats._md5_walk_cumsum(
        d, ["host"], max_cum=cost_budget, weight_col="cost_u"
    )
    return cum.where(
        F.col("cum_tokens") - F.col("n_tokens") < cost_budget
    ).select(
        F.col("doc_id").alias("url"),
        "host",
        F.col("n_tokens").alias("cost"),
        F.col("cum_tokens").alias("cum_cost"),
    )


def crawl_frontier(
    pages: "DataFrame",
    top_hosts: int,
    per_host_quota: int,
    iters: int = 5,
    url_col: str = "url",
    links: "DataFrame | None" = None,
) -> "DataFrame":
    """(url, host, rank_fp, slot) — the crawl scheduler's next-fetch list:
    outbound link targets NOT yet crawled, gated to the top-K hosts by
    WEIGHTED integer PageRank over the extracted host multigraph
    (link-count mass — see :func:`kgstats.pagerank_weighted`), and quota'd per host
    along the md5(url) walk (``slot`` = 1-based fetch position inside the
    host's quota). Host authority decides WHERE to spend the next crawl
    cycle; the md5 walk decides WHICH of a host's candidates, bias-free
    and bit-reproducibly — the frontier a 10^12-page crawl re-derives
    every cycle without a central scheduler.

    Scale shape: candidates = distinct dst urls anti-joined against the
    crawled urls (both sides shuffle on url, the natural key); the rank
    table is HOST-cardinality, so top-K is a bounded TakeOrdered and the
    gate a broadcast semi-join that never shuffles the candidate stream;
    the quota walk is the shared two-phase prefix sum with unit weights —
    per-host slot numbers without a single-task host sort (a top host's
    candidate list IS a hot key at crawl scale).

    Runs Spark jobs when called: the link extraction (unless ``links`` is
    given), the ranks and the gated candidate set, each materialized into
    the caller's ``frames.scope()``.
    """
    from . import frames, kgstats, textstats

    # links feeds BOTH the rank side (host_graph -> pagerank) and the
    # candidate side; without materializing it the full-corpus HTML regexp
    # extraction — the dominant cost at crawl scale — would run twice. A
    # scheduler LOOP re-deriving the frontier every cycle runs each cycle
    # in a scope (or passes its own ``links``) so no cycle's copy outlives it.
    if links is None:
        links = frames.materialize(extract_links(pages, url_col=url_col))
    hg = host_graph(links)
    # WEIGHTED rank: the distinct-edge skeleton ties hosts that differ
    # 10x in citation count (measured on the extracted fixture graph —
    # uniform 199.6M across hosts), which would degenerate the gate to
    # alphabetical selection; link-count mass is the authority signal
    ranks = kgstats.pagerank_weighted(
        hg.select(
            F.col("src_host").alias("src"),
            F.col("dst_host").alias("dst"),
            F.col("n_links").alias("w"),
        ),
        iters=iters,
    )
    top = (
        ranks.orderBy(F.col("rank_fp").desc(), F.col("node"))
        .limit(top_hosts)
        .withColumnRenamed("node", "host")
    )
    # the crawled side is NORMALIZED too: candidates are canonical urls
    # (extract_links normalizes), so an already-fetched page whose stored
    # url differs only by case/trailing-slash/tracking-params must still
    # count as crawled — otherwise it re-enters the frontier every cycle
    crawled = pages.select(
        normalize_url(F.col(url_col)).alias("url")
    )
    cand = (
        links.select(F.col("dst_url").alias("url"))
        .distinct()
        .join(crawled, "url", "left_anti")
        .withColumn("host", url_host(F.col("url")))
    )
    # materialize the gated candidate set once: the prefix sum consumes it
    # through two branches (per-bucket sums + the final join), and without
    # the barrier each branch re-ran the corpus-sized distinct + anti-join
    gated = frames.materialize(cand.join(F.broadcast(top), "host"))
    d = gated.select(
        F.col("url").alias("doc_id"), "host", "rank_fp",
        F.lit(1).cast("long").alias("unit_w"),
    )
    cum = textstats._md5_walk_cumsum(
        d, ["host", "rank_fp"], max_cum=per_host_quota, weight_col="unit_w"
    )
    return cum.where(F.col("cum_tokens") <= per_host_quota).select(
        F.col("doc_id").alias("url"),
        "host",
        "rank_fp",
        F.col("cum_tokens").alias("slot"),
    )


#: the engine's pinned tokenizer grammar (jamie_spark.tokenizer._char_class)
#: as a Java/RE2-common alternation: maximal runs of kanji(+々) / hiragana /
#: katakana / ASCII alnum+dot, any other char alone. Token-for-token
#: identical to tokenizer.tokenize (pinned by tests/test_linkgraph.py), so
#: anchor tokens match dictionary aliases exactly like the pipeline's NER.
TOKEN_RE = (
    r"[\x{4E00}-\x{9FFF}\x{3005}]+|[\x{3040}-\x{309F}]+"
    r"|[\x{30A0}-\x{30FF}]+|[A-Za-z0-9.]+|."
)


def anchor_concepts(
    links: "DataFrame", concept_dict: "DataFrame"
) -> "DataFrame":
    """Anchor-text entity linking: which concepts does the web SAY a target
    page is about? Anchor token N-GRAMS (1..3 consecutive tokens,
    concatenated — the same longest-match horizon as the pipeline's
    dictionary NER) are matched against the concept alias dictionary; the
    rollup counts distinct (referring page, concept) pairs per target —
    the classic KG-construction signal (anchor text as a crowd-sourced
    entity label for the linked page), fused from the link tier and the
    pipeline's own concept dictionary. Single tokens alone would silently
    miss every alias spanning tokenizer character classes (肺がん splits
    to [肺, がん] under the pinned grammar); concatenation without a
    separator reproduces the alias surface exactly because the tokenizer
    drops whitespace and aliases never contain it.

    Plan: anchors tokenize JVM-side with the pinned grammar (one codegen'd
    regexp per row — no Python), the gram explode is bounded by 3x anchor
    token count, and the alias table is a broadcast dim join (the
    dictionary, like the pipeline's NER stage). Returns (dst_url,
    concept_id, n_refs) where n_refs counts DISTINCT referring pages.
    """
    # lit-pattern form: the grammar contains backslash escapes that a SQL
    # string literal (F.expr) would consume
    toks = links.select(
        "src_url",
        "dst_url",
        F.regexp_extract_all("anchor", F.lit(TOKEN_RE), F.lit(0)).alias(
            "toks"
        ),
    ).where(F.size("toks") > 0)  # sequence(1, 0) would auto-descend
    grams = toks.select(
        "src_url",
        "dst_url",
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, size(toks)), i ->"
                " transform(sequence(i, least(i + 2, size(toks))), j ->"
                " concat_ws('', slice(toks, i, j - i + 1)))))"
            )
        ).alias("tok"),
    )
    aliases = concept_dict.select(
        "concept_id", F.col("alias").alias("tok")
    ).distinct()
    hits = (
        grams.join(F.broadcast(aliases), "tok")
        .select("src_url", "dst_url", "concept_id")
        .distinct()
    )
    return hits.groupBy("dst_url", "concept_id").agg(
        F.count(F.lit(1)).alias("n_refs")
    )
