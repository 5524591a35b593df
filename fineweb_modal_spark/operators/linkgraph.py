"""Host-level link graph + PageRank over extracted outlinks.

The web-curation primitive the flat quality battery can't see: a
host's importance in the crawl's own link structure. FineWeb-class
pipelines use link-graph signals (harmonic/PageRank centrality) both
for crawl frontier prioritization and as a quality prior; the
reference has no graph stage, so this is a north-rule extension built
the Spark-first way.

Pipeline: href extraction from raw html (regexp_extract_all — the
same mechanism a real extractor uses), host-granular edge aggregation
with link-count weights, transition probabilities p = w / outdeg, and
T fixed power iterations of the damped update

    rank'(v) = (1-d)/N + d * sum_{(u,v) in E} rank(u) * p(u, v)

restricted to the source-host node set (every node has outdegree >= 1
by construction, so no dangling-mass term is needed; edges to
non-source hosts are dropped BEFORE outdegree so each row of P still
sums to 1).

Scale shape: extraction + edge agg is one corpus pass (explode + two
-phase count); everything after is edge/node-sized. Each iteration is
one shuffle join (ranks x edges on src) + one groupBy(dst) — the
canonical distributed PageRank step; lineage is flattened per
iteration with localCheckpoint like dedup.resolve_clusters. No
driver-side state beyond the node-count scalar.

Oracle: the SAME fixed number of iterations unrolled as chained CTEs
(r0..rT) — DuckDB executes the identical dataflow, and ranks are
compared after round-6 (float sums differ only in last-ulp
accumulation order, far below 1e-6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import sqldialect as sd
from . import blocklist

S, D = sd.SPARK, sd.DUCKDB

DAMPING = 0.85
PR_ITERS = 10

# href host extraction — identical regex both engines (no lookaround)
_HREF_RE = 'href="https://([^/"]+)'


def linked_pages_sql(d: str, pages: str = "pages") -> str:
    """pages with planted outlinks: every doc links to two hosts that
    are pure functions of doc_id, and even docs also link to h0 —
    making h0 the planted high-centrality host on top of its volume
    skew. All targets are h0..h12, i.e. guaranteed source hosts."""
    cast_t = "STRING" if d == S else "VARCHAR"
    return (
        f"SELECT doc_id, url, "
        f"'<html><body><p>x</p>' "
        f"|| '<a href=\"https://h' || CAST((doc_id + 1) % 13 AS {cast_t}) || '.example.com/l/1\">"
        f"topic ' || CAST(doc_id % 7 AS {cast_t}) || ' guide</a>' "
        f"|| '<a href=\"https://h' || CAST((doc_id * 5 + 2) % 13 AS {cast_t}) || '.example.com/l/2\">"
        f"read more here</a>' "
        f"|| CASE WHEN doc_id % 2 = 0 THEN '<a href=\"https://h0.example.com/t\">trusted home page</a>' ELSE '' END "
        f"|| '</body></html>' AS html "
        f"FROM {pages}"
    )


def linked_html_py(doc_id: int) -> str:
    """Pure-Python mirror of `linked_pages_sql`'s html decoration —
    used by the WARC fixture writer so crawl shards carry the SAME
    planted outlinks the SQL derivation produces (the WAT gates'
    hash parity is what pins the two mirrors together)."""
    h1, h2 = (doc_id + 1) % 13, (doc_id * 5 + 2) % 13
    s = (
        "<html><body><p>x</p>"
        f'<a href="https://h{h1}.example.com/l/1">topic {doc_id % 7} guide</a>'
        f'<a href="https://h{h2}.example.com/l/2">read more here</a>'
    )
    if doc_id % 2 == 0:
        s += '<a href="https://h0.example.com/t">trusted home page</a>'
    return s + "</body></html>"


# full link URL + anchor text in one pattern (WAT extraction — unlike
# _HREF_RE/_ANCHOR_RE this keeps the complete target URL, which is
# what a WAT metadata record carries)
_LINK_RE = 'href="(https://[^"]+)"[^>]*>([^<]*)<'


def with_links(crawl: DataFrame, html_col: str = "html") -> DataFrame:
    """crawl + `links array<struct<url,text>>`: both capture groups
    extract in one codegen pass; arrays_zip keeps (url, text) aligned
    with zero joins — the WAT-building step of a crawl pipeline."""
    h = f"CAST({html_col} AS STRING)"
    return crawl.withColumn(
        "links",
        F.arrays_zip(
            F.expr(f"regexp_extract_all({h}, '{_LINK_RE}', 1)").alias("url"),
            F.expr(f"regexp_extract_all({h}, '{_LINK_RE}', 2)").alias("text"),
        ),
    )


def host_edges(linked: DataFrame) -> DataFrame:
    """(src, dst, w): host-granular weighted edge list from hrefs."""
    hosted = blocklist.with_host(linked)
    return (
        hosted.select(
            F.col("host").alias("src"),
            F.explode(
                F.expr(f"regexp_extract_all(html, '{_HREF_RE}', 1)")
            ).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )


def host_pagerank(
    linked: DataFrame, iters: int = PR_ITERS, damping: float = DAMPING
) -> DataFrame:
    """(host, rank r6) after `iters` damped power iterations."""
    spark = linked.sparkSession
    # checkpoint the edge list: everything downstream (nodes, trans,
    # every iteration's left join) derives from it, so without this
    # the corpus-sized extraction subtree re-executes once per
    # iteration (measured: 10x re-extraction at sf0.1)
    edges = host_edges(linked).localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col("src").alias("host"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # drop edges whose target is not a source host BEFORE outdegree,
    # so transition rows still sum to 1 per src (no dangling mass)
    e = edges.join(
        nodes.select(F.col("host").alias("dst")), "dst", "left_semi"
    )
    outdeg = e.groupBy("src").agg(F.sum("w").alias("deg"))
    trans = (
        e.join(outdeg, "src")
        .select(
            "src",
            "dst",
            (F.col("w").cast("double") / F.col("deg").cast("double")).alias("p"),
        )
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    base = (1.0 - damping) / n
    r = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iters):
        contrib = (
            trans.join(r, trans.src == r.host)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("p")).alias("s"))
        )
        r = (
            nodes.join(contrib, nodes.host == contrib.dst, "left")
            .select(
                "host",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce("s", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return r.select("host", F.round("rank", 6).alias("rank"))


def pagerank_oracle_sql(
    d: str,
    pages_select: str,
    iters: int = PR_ITERS,
    damping: float = DAMPING,
) -> str:
    """The identical dataflow with the iteration loop UNROLLED as
    chained CTEs r0..rN — same extraction, same edge weights, same
    damped update, compared after round-6."""
    unnest = (
        f"explode(regexp_extract_all(html, '{_HREF_RE}', 1))"
        if d == S
        else f"unnest(regexp_extract_all(html, '{_HREF_RE}', 1))"
    )
    # float literals MUST be cast: DuckDB parses bare 1.0/0.85 as
    # DECIMAL and its exact-decimal arithmetic diverges from the
    # engine's IEEE doubles. base_num is the Python double (1-d),
    # repr'd at full precision, so both engines start from identical
    # bits.
    base_num = repr(1.0 - damping)
    dmp = repr(damping)
    its = []
    for t in range(iters):
        its.append(
            f"""r{t + 1} AS (
  SELECT n.host,
         CAST({base_num} AS DOUBLE) / CAST(nn.n AS DOUBLE)
           + CAST({dmp} AS DOUBLE) * coalesce(c.s, CAST(0.0 AS DOUBLE)) AS rank
  FROM nodes n CROSS JOIN ncount nn
  LEFT JOIN (
    SELECT t.dst AS host, sum(r.rank * t.p) AS s
    FROM trans t JOIN r{t} r ON t.src = r.host
    GROUP BY t.dst
  ) c ON n.host = c.host
)"""
        )
    chain = ",\n".join(its)
    return f"""
WITH pages AS ({pages_select}),
linked AS ({linked_pages_sql(d)}),
hrefs AS (
  SELECT {blocklist.host_sql("url", d)} AS src, {unnest} AS dst
  FROM linked
),
edges AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM hrefs GROUP BY src, dst
),
nodes AS (SELECT DISTINCT src AS host FROM edges),
e AS (
  SELECT edges.* FROM edges
  WHERE EXISTS (SELECT 1 FROM nodes WHERE nodes.host = edges.dst)
),
outdeg AS (SELECT src, CAST(sum(w) AS BIGINT) AS deg FROM e GROUP BY src),
trans AS (
  SELECT e.src, e.dst, CAST(w AS DOUBLE) / CAST(deg AS DOUBLE) AS p
  FROM e JOIN outdeg ON e.src = outdeg.src
),
ncount AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
r0 AS (SELECT host, CAST(1.0 AS DOUBLE) / CAST(nn.n AS DOUBLE) AS rank
       FROM nodes CROSS JOIN ncount nn),
{chain}
SELECT host, round(rank, 6) AS rank FROM r{iters}
""".strip()


# ---------------------------------------------------------------------------
# Anchor-text index: what the web SAYS about each host
# ---------------------------------------------------------------------------

# href + anchor text in one pattern (no lookaround/backrefs — common
# subset of java.util.regex and RE2); group 1 = target host, group 2 =
# anchor text
_ANCHOR_RE = 'href="https://([^/"]+)[^"]*"[^>]*>([^<]+)<'

ANCHOR_TOP_K = 3


def anchor_text_index(linked: DataFrame, top_k: int = ANCHOR_TOP_K) -> DataFrame:
    """(dst_host, token, n, rk): the top-k anchor-text tokens pointing
    at each host — the classic off-page relevance/quality signal
    (what OTHER pages call a host is harder to spam than what the
    host says about itself).

    Scale shape: both capture groups extract in one codegen pass;
    arrays_zip keeps (host, text) aligned with zero joins; tokens
    two-phase count into a (host, token)-sized relation; the top-k
    window runs per host with WindowGroupLimit partial ranking."""
    from pyspark.sql import Window

    pairs = (
        linked.selectExpr(
            f"regexp_extract_all(html, '{_ANCHOR_RE}', 1) AS dsts",
            f"regexp_extract_all(html, '{_ANCHOR_RE}', 2) AS txts",
        )
        .select(F.explode(F.arrays_zip("dsts", "txts")).alias("z"))
        .select(
            F.col("z.dsts").alias("dst_host"),
            F.explode(F.split(F.col("z.txts"), r"\s+")).alias("token"),
        )
        .where(F.col("token") != "")
    )
    counts = pairs.groupBy("dst_host", "token").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("dst_host").orderBy(
        F.col("n").desc(), F.col("token").asc()
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= top_k)
        .select("dst_host", "token", "n", F.col("rk").cast("bigint").alias("rk"))
    )


def anchor_index_oracle_sql(
    d: str, pages_select: str, top_k: int = ANCHOR_TOP_K
) -> str:
    """Same extraction: DuckDB unnests the two parallel capture-group
    lists in lockstep (multiple unnests in one SELECT zip)."""
    return f"""
WITH pages AS ({pages_select}),
linked AS ({linked_pages_sql(d)}),
pairs0 AS (
  SELECT unnest(regexp_extract_all(html, 'href="https://([^/"]+)[^"]*"[^>]*>([^<]+)<', 1)) AS dst_host,
         unnest(regexp_extract_all(html, 'href="https://([^/"]+)[^"]*"[^>]*>([^<]+)<', 2)) AS txt
  FROM linked
),
pairs AS (
  SELECT dst_host, unnest(regexp_split_to_array(txt, '\\s+')) AS token
  FROM pairs0
),
counts AS (
  SELECT dst_host, token, CAST(count(*) AS BIGINT) AS n
  FROM pairs WHERE token <> '' GROUP BY dst_host, token
),
ranked AS (
  SELECT dst_host, token, n,
         row_number() OVER (PARTITION BY dst_host ORDER BY n DESC, token ASC) AS rk
  FROM counts
)
SELECT dst_host, token, n, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {top_k}
""".strip()


def host_cocitation(linked: DataFrame) -> DataFrame:
    """(host_a, host_b, n_common_sources): hosts co-linked by the same
    source hosts — the 'related sites' primitive (co-citation needs no
    content similarity, only structure). Edge list is host-granular,
    so the self-join is node²-bounded, not corpus-bounded."""
    e = host_edges(linked).select("src", "dst").distinct()
    a = e.select("src", F.col("dst").alias("host_a"))
    b = e.select("src", F.col("dst").alias("host_b"))
    return (
        a.join(b, "src")
        .where(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count("*").alias("n_common_sources"))
    )


def cocitation_oracle_sql(d: str, pages_select: str) -> str:
    unnest = (
        f"explode(regexp_extract_all(html, '{_HREF_RE}', 1))"
        if d == S
        else f"unnest(regexp_extract_all(html, '{_HREF_RE}', 1))"
    )
    return f"""
WITH pages AS ({pages_select}),
linked AS ({linked_pages_sql(d)}),
e AS (
  SELECT DISTINCT {blocklist.host_sql("url", d)} AS src, {unnest} AS dst
  FROM linked
)
SELECT a.dst AS host_a, b.dst AS host_b,
       CAST(count(*) AS BIGINT) AS n_common_sources
FROM e a JOIN e b ON a.src = b.src AND a.dst < b.dst
GROUP BY a.dst, b.dst
""".strip()


def _undirected_host_edges(linked: DataFrame) -> DataFrame:
    """(u, v) canonical undirected host edges, u < v, no self-loops.

    host_edges is already host-granular, so everything downstream is
    node²-bounded (web hosts: ~10^8 at full-crawl scale), never
    corpus-bounded."""
    e = host_edges(linked).select("src", "dst")
    return (
        e.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
    )


def host_triangles(linked: DataFrame) -> DataFrame:
    """(host, degree, n_triangles, cc_ppm): per-host triangle count
    and local clustering coefficient over the undirected host graph —
    the link-farm / mutual-admiration-society detector (organic link
    neighborhoods are sparse; paid networks interlink densely).

    Compact-forward enumeration with degree orientation: each edge
    points low-rank → high-rank where rank = (degree, host), so every
    triangle is found exactly once as a wedge at its lowest-rank
    vertex plus one closing-edge equi-join. Wedge fan-out per node is
    O(sqrt(|E|)): a 10^6-degree hub contributes wedges only through
    its (few) higher-rank neighbors, never deg² pairs — the
    power-law-safe form for web host graphs.

    cc_ppm = 2*T*10^6 DIV (deg*(deg-1)) in exact integer ppm so no
    float boundary flips a value between engines."""
    und = _undirected_host_edges(linked).localCheckpoint(eager=False)
    # degree: each canonical edge contributes to both endpoints
    deg = (
        und.select(F.col("u").alias("host"))
        .unionAll(und.select(F.col("v").alias("host")))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    du = deg.select(F.col("host").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("host").alias("v"), F.col("degree").alias("dv"))
    e = und.join(du, "u").join(dv, "v")
    low_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = e.select(
        F.when(low_first, F.col("u")).otherwise(F.col("v")).alias("x"),
        F.when(low_first, F.col("v")).otherwise(F.col("u")).alias("y"),
        F.when(low_first, F.col("dv")).otherwise(F.col("du")).alias("dy"),
    )
    p = o.select(
        F.col("x").alias("a"), F.col("y").alias("b"), F.col("dy").alias("db")
    )
    q = o.select(
        F.col("x").alias("a"), F.col("y").alias("c"), F.col("dy").alias("dc")
    )
    # rank(b) < rank(c) keeps each wedge once; the closing edge {b,c}
    # is then oriented b→c by construction, so one equi-join checks it
    wedges = p.join(q, "a").where(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    closing = o.select(F.col("x").alias("b"), F.col("y").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    per_host = (
        tri.select(F.col("a").alias("host"))
        .unionAll(tri.select(F.col("b").alias("host")))
        .unionAll(tri.select(F.col("c").alias("host")))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    j = deg.join(per_host, "host", "left").select(
        "host",
        F.col("degree").cast("bigint").alias("degree"),
        F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
    )
    return j.select(
        "host",
        "degree",
        "n_triangles",
        F.when(
            F.col("degree") >= 2,
            F.expr("CAST((2 * n_triangles * 1000000) DIV (degree * (degree - 1)) AS BIGINT)"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("cc_ppm"),
    )


def triangles_oracle_sql(d: str, pages_select: str) -> str:
    """Same canonical-edge triangle enumeration in portable SQL."""
    unnest = (
        f"explode(regexp_extract_all(html, '{_HREF_RE}', 1))"
        if d == S
        else f"unnest(regexp_extract_all(html, '{_HREF_RE}', 1))"
    )
    div = "DIV" if d == S else "//"
    return f"""
WITH pages AS ({pages_select}),
linked AS ({linked_pages_sql(d)}),
de AS (
  SELECT DISTINCT {blocklist.host_sql("url", d)} AS src, {unnest} AS dst
  FROM linked
),
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM de WHERE src <> dst
),
deg AS (
  SELECT host, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT u AS host FROM und UNION ALL SELECT v AS host FROM und
  ) GROUP BY host
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM und e1
  JOIN und e2 ON e2.u = e1.v
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
),
per_host AS (
  SELECT host, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT a AS host FROM tri UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY host
)
SELECT deg.host, deg.degree,
       CAST(coalesce(per_host.n_triangles, 0) AS BIGINT) AS n_triangles,
       CAST(CASE WHEN deg.degree >= 2
         THEN (2 * coalesce(per_host.n_triangles, 0) * 1000000)
              {div} (deg.degree * (deg.degree - 1))
         ELSE 0 END AS BIGINT) AS cc_ppm
FROM deg LEFT JOIN per_host ON per_host.host = deg.host
""".strip()
