"""Driver-facing queries for the web-curation operators: crawl-frontier
dedup (canonical URLs) and PageRank domain authority — registered in
the round-8 gate rotation (replacing the kernel-duplicate rows
``simhash_hamming_pairs`` and ``dinuc_context_features``, both of which
stay pytest-pinned with their DuckDB cross-checks).

The sf tables carry no URLs or link graph, so each query SYNTHESIZES
its input deterministically from table columns — identically on both
engines — and the gate verifies the operator KERNEL: the shared
``CANON_STEPS`` regex chain for the frontier (the oracle is generated
from the very same pattern table, the PII-oracle can't-drift
discipline) and five power iterations of PageRank arithmetic
re-derived as chained CTEs (uniform teleport + dangling-mass
redistribution, floating-point order pinned by the shared 9dp→6dp
half-up rounding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rnadam_spark.functions.rounding import hround
from rnadam_spark.operators import graph, web
from rnadam_spark.registry import query
from rnadam_spark.sources.tables import load_table

# --------------------------------------------------------- frontier


def _canon_sql(expr: str) -> str:
    """DuckDB canonicalization of a URL expression, generated from the
    SAME ``web.CANON_STEPS`` table the Spark operator chains ($n
    backreferences become RE2 rewrite \\n; DuckDB needs the explicit
    'g' flag to match Spark's replace-all semantics)."""
    head = f"regexp_extract({expr}, '{web.CANON_HEAD_PATTERN}', 1)"
    u = f"lower({head}) || substr({expr}, length({head}) + 1)"
    for pat, repl in web.CANON_STEPS:
        duck_repl = repl.replace("$1", r"\1").replace("$2", r"\2")
        u = f"regexp_replace({u}, '{pat}', '{duck_repl}', 'g')"
    return u


# three deterministic variants per document, embedded in free text so
# the row also exercises URL_PATTERN extraction: v1 (www + a pure
# tracking query) and v2 (uppercase host + default port + fragment)
# canonicalize to the SAME page; v3 (https + kept param + trailing
# tracking param) stays a separate page.
_SYNTH_TEXT_SQL = (
    "'visit http://www.' || source || '.example.com/p/' || (doc_id % 7)::VARCHAR"
    " || '?utm_source=feed&ref=rss then http://' || upper(source || '.example.com')"
    " || ':80/p/' || (doc_id % 7)::VARCHAR || '#sec see https://' || source"
    " || '.example.com/p/' || (doc_id % 7)::VARCHAR || '?q=' || (doc_id % 5)::VARCHAR"
    " || '&fbclid=abc now'"
)

_FRONTIER_SQL = f"""
    WITH txt AS (SELECT {_SYNTH_TEXT_SQL} AS t FROM documents),
    u AS (SELECT unnest(regexp_extract_all(t, '{web.URL_PATTERN}')) AS url FROM txt)
    SELECT {_canon_sql('url')} AS canonical_url,
           min(url) AS url,
           CAST(count(*) AS BIGINT) AS n_variants
    FROM u GROUP BY 1
    """


def _synth_text(docs: DataFrame) -> F.Column:
    host = F.concat(F.col("source"), F.lit(".example.com"))
    page = (F.col("doc_id") % 7).cast("string")
    k = (F.col("doc_id") % 5).cast("string")
    return F.concat(
        F.lit("visit http://www."), host, F.lit("/p/"), page,
        F.lit("?utm_source=feed&ref=rss then http://"), F.upper(host),
        F.lit(":80/p/"), page, F.lit("#sec see https://"), host,
        F.lit("/p/"), page, F.lit("?q="), k, F.lit("&fbclid=abc now"),
    )


@query("frontier_dedup", oracle=_FRONTIER_SQL)
def frontier_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier dedup end-to-end: URL extraction from free text
    (``web.urls_of``) → canonical form (``web.canonical_url``'s shared
    regex chain) → one map-side groupBy keeping the min raw URL and the
    collapsed-variant count. The synthetic variants cover every
    normalization: www stripping, scheme+host lowercasing, default
    ports, fragments, tracking-parameter runs mid-query AND trailing,
    dangling separators."""
    docs = load_table(spark, sf_dir, "documents")
    urls = docs.select(F.explode(web.urls_of(_synth_text(docs))).alias("url"))
    return web.frontier_dedup(urls)


# --------------------------------------------------------- pagerank

_PR_ITERS = 5
_PR_DAMPING = 0.85

# deterministic two-layer graph: every source domain links to a
# d-node; a third of the d-nodes link back, so the graph has hubs,
# dangling nodes (the d-nodes that never link back), inflow on both
# layers, and parallel edges (docs sharing (source, doc_id % 23)).
_EDGES_SQL = """SELECT lower(source) AS src, 'd' || (doc_id % 23)::VARCHAR AS dst
               FROM documents
               UNION ALL
               SELECT 'd' || (doc_id % 23)::VARCHAR AS src, lower(source) AS dst
               FROM documents WHERE doc_id % 3 = 0"""


def _pagerank_sql() -> str:
    """Five chained power iterations in DuckDB, arithmetic mirrored
    from operators/graph.pagerank: rank' = (1-d)/n + d/n·danglingMass +
    d·Σ(rank/outdeg over in-edges); final 9dp-then-6dp half-up rounding
    matches the Spark side bit-for-bit (mass conservation keeps the
    engines' summation-order drift far below the rounding grain)."""
    d = _PR_DAMPING
    ctes = [
        f"edges AS ({_EDGES_SQL})",
        "nodes AS (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM edges UNION SELECT dst FROM edges))",
        "cnt AS (SELECT count(*)::DOUBLE AS n FROM nodes)",
        "degs AS (SELECT src AS node, count(*)::DOUBLE AS deg FROM edges GROUP BY src)",
        "base AS (SELECT n.node, d.deg FROM nodes n LEFT JOIN degs d USING (node))",
        "r0 AS (SELECT node, 1.0 / c.n AS rank, deg FROM base, cnt c)",
    ]
    for i in range(1, _PR_ITERS + 1):
        p = i - 1
        ctes.append(
            f"""r{i} AS (
            SELECT b.node,
                   (1.0 - {d}) / c.n
                   + {d} / c.n * dg.m
                   + {d} * coalesce(f.inflow, 0.0) AS rank,
                   b.deg
            FROM base b
            CROSS JOIN cnt c
            CROSS JOIN (SELECT coalesce(sum(rank), 0.0) AS m
                        FROM r{p} WHERE deg IS NULL) dg
            LEFT JOIN (SELECT e.dst AS node, sum(r.rank / r.deg) AS inflow
                       FROM edges e JOIN r{p} r ON e.src = r.node
                       GROUP BY e.dst) f
              ON f.node = b.node)"""
        )
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT node,
           floor(floor(rank * 1000000000.0 + 0.5) / 1000000000.0
                 * 1000000.0 + 0.5) / 1000000.0 AS rank
    FROM r{_PR_ITERS}"""
    )


@query("pagerank", oracle=_pagerank_sql())
def pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-authority PageRank (operators/graph.pagerank) over the
    deterministic two-layer source↔d-node graph: per iteration one
    key-partitioned join + one map-side-partial groupBy, the dangling
    mass riding the plan as a broadcast 1-row aggregate (single action
    per iteration), lineage truncated each step. The oracle re-derives
    all five power iterations as chained CTEs."""
    docs = load_table(spark, sf_dir, "documents")
    edges = docs.select(
        F.lower(F.col("source")).alias("src"),
        F.concat(F.lit("d"), (F.col("doc_id") % 23).cast("string")).alias("dst"),
    ).union(
        docs.filter(F.col("doc_id") % 3 == 0).select(
            F.concat(F.lit("d"), (F.col("doc_id") % 23).cast("string")).alias("src"),
            F.lower(F.col("source")).alias("dst"),
        )
    )
    pr = graph.pagerank(edges, iterations=_PR_ITERS, damping=_PR_DAMPING)
    return pr.select("node", hround("rank", 6).alias("rank"))


# --------------------------------------------------------- blocklist

#: suffix semantics pinned by the entry set: src3/src7 block via the
#: subdomain form a.srcN.org, mirror2.io blocks every doc_id%4==2,
#: and rc5.org pins the dot-boundary rule (a.src5.org must NOT match —
#: 'src5.org' ends with 'rc5.org' but not with '.rc5.org')
_BL_ENTRIES = ["src3.org", "src7.org", "mirror2.io", "rc5.org"]

_BL_TEXT_SQL = (
    "'see http://a.' || source || '.org/' || (doc_id % 7)::VARCHAR"
    " || ' and http://b.mirror' || (doc_id % 4)::VARCHAR || '.io/x'"
)

_BL_VALUES = ", ".join(f"('{e}')" for e in _BL_ENTRIES)

_BLOCKLIST_SQL = f"""
    WITH t AS (SELECT doc_id, source, {_BL_TEXT_SQL} AS txt FROM documents),
    u AS (SELECT doc_id, unnest(regexp_extract_all(txt, '{web.URL_PATTERN}')) AS url
          FROM t),
    h AS (SELECT doc_id,
                 lower(regexp_extract(url, 'https?://([^\\s/:]+)', 1)) AS host
          FROM u),
    bl(domain) AS (VALUES {_BL_VALUES}),
    bad AS (SELECT DISTINCT h.doc_id FROM h JOIN bl
            ON h.host = bl.domain OR ends_with(h.host, '.' || bl.domain))
    SELECT d.doc_id, d.source FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM bad WHERE bad.doc_id = d.doc_id)
    """


@query("blocklist_suffix", oracle=_BLOCKLIST_SQL)
def blocklist_suffix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1-style suffix blocklisting end-to-end: URL extraction from
    free text → in-row host dot-suffix expansion (``web.host_suffixes``)
    → broadcast semi-join against the blocklist → doc_id anti-join.
    The synthetic text embeds two hosts per document (a per-source
    subdomain and a doc_id-keyed mirror), so the gate exercises
    subdomain suffix hits, exact misses, and the dot-boundary rule
    (``rc5.org`` must not catch ``a.src5.org``). The oracle re-derives
    suffix matching as ``host = entry OR ends_with(host, '.'||entry)``
    — equivalent to the suffix expansion for any multi-label entry."""
    docs = load_table(spark, sf_dir, "documents")
    page = (F.col("doc_id") % 7).cast("string")
    mirror = (F.col("doc_id") % 4).cast("string")
    synth = F.concat(
        F.lit("see http://a."), F.col("source"), F.lit(".org/"), page,
        F.lit(" and http://b.mirror"), mirror, F.lit(".io/x"),
    )
    bl = docs.sparkSession.createDataFrame(
        [(e,) for e in _BL_ENTRIES], "domain STRING"
    )
    kept = web.filter_blocklisted_domains(
        docs.select("doc_id", "source", synth.alias("text")), bl, suffix=True
    )
    return kept.select("doc_id", "source")
