"""Link-graph analytics: PageRank in exact integer arithmetic.

PageRank (Brin & Page 1998) is the standard importance prior for
web-crawl curation — Common Crawl releases per-host ranks, and quality
pipelines (e.g. the original PageRank-seeded WebText recipe) filter or
weight documents by it. A 100 TB crawl's link graph is far past
driver-side NetworkX; the Spark-native shape is the classic iterative
join-aggregate: contributions flow along edges (join on src), fold at
the destination (groupBy dst), plus a teleport term.

Engine-exactness: floating-point PageRank sums in shuffle order and
never hash-matches a second engine. Here every step is integer:
initial mass floor(SCALE / N) per node, per-edge transfer
floor(floor(score * d_num / d_den) / outdeg), teleport
floor(SCALE * (d_den - d_num) / d_den / N). Floor division is the same
operation in Spark (`div`) and DuckDB (`//`), so a fixed iteration
count yields bit-identical scores — the q88 oracle is the unrolled
3-round CTE chain. Mass lost to flooring and to dangling nodes is NOT
redistributed (documented deviation from the renormalizing variant;
deterministic, and immaterial for ranking use).

Scale: each round is one shuffle on dst (the join on src co-partitions
with the edge list after the first round under AQE). Skewed in-degree
(every real web graph) is the known hazard — the groupBy(dst).sum is a
partial-aggregating hash agg, so hot destinations combine map-side;
edge storage pre-bucketed by src turns the per-round join into a
co-located probe.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PR_SCALE = 1_000_000_000_000  # 1e12 integer mass units
HITS_SCALE = 1_000_000  # 1e6: raw*SCALE must not overflow int64 (see hits_int)


def pagerank_int(edges: DataFrame) -> DataFrame:
    """(src, dst) edge list -> (node, score, in_deg, out_deg) after
    3 exact integer PageRank rounds (see module docstring).
    Duplicate edges are collapsed first (a double link is one vote)."""
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    indeg = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n"))

    pr = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node", F.expr(f"{PR_SCALE} div n").alias("score")
    )
    teleport = F.expr(f"{PR_SCALE} * 15 div 100 div n")
    for _ in range(3):
        contrib = (
            e.join(pr.withColumnRenamed("node", "src"), "src")
            .join(F.broadcast(outdeg.withColumnRenamed("node", "src")), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("score * 85 div 100 div out_deg").alias("send"),
            )
            .groupBy("node")
            .agg(F.sum("send").alias("recv"))
        )
        pr = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "node",
                (teleport + F.coalesce(F.col("recv"), F.lit(0))).alias("score"),
            )
        )
    return (
        pr.join(F.broadcast(indeg), "node", "left")
        .join(F.broadcast(outdeg), "node", "left")
        .select(
            "node", "score",
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
        )
    )


def pagerank_sql(edges_sql: str) -> str:
    """The identical computation as a DuckDB CTE chain (oracle twin):
    `edges_sql` must select columns src, dst."""
    parts = [
        f"WITH e AS (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "outdeg AS (SELECT src AS node, count(*) AS out_deg FROM e GROUP BY 1)",
        "indeg AS (SELECT dst AS node, count(*) AS in_deg FROM e GROUP BY 1)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        f"pr0 AS (SELECT node, {PR_SCALE} // n AS score FROM nodes CROSS JOIN nn)",
    ]
    tele = f"{PR_SCALE} * 15 // 100 // n"
    for i in range(3):
        parts.append(
            f"c{i + 1} AS (SELECT e.dst AS node, "
            "CAST(sum(p.score * 85 // 100 // o.out_deg) AS BIGINT) AS recv "
            f"FROM e JOIN pr{i} p ON p.node = e.src "
            f"JOIN outdeg o ON o.node = e.src GROUP BY 1)"
        )
        parts.append(
            f"pr{i + 1} AS (SELECT nodes.node, "
            f"{tele} + COALESCE(c.recv, 0) AS score "
            f"FROM nodes CROSS JOIN nn LEFT JOIN c{i + 1} c ON c.node = nodes.node)"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT p.node, CAST(p.score AS BIGINT) AS score, "
        f"COALESCE(i.in_deg, 0) AS in_deg, COALESCE(o.out_deg, 0) AS out_deg "
        "FROM pr3 p "
        f"LEFT JOIN indeg i ON i.node = p.node "
        f"LEFT JOIN outdeg o ON o.node = p.node"
    )


def sssp_int(edges: DataFrame, sources: DataFrame, rounds: int) -> DataFrame:
    """Bellman-Ford single-source (multi-source) shortest paths, integer
    weights, FIXED `rounds` relaxations (paths up to `rounds` hops):

        d_{k+1}(v) = least(d_k(v), min over edges (u,v): d_k(u) + w)

    NULL distance = not yet reached; both Spark `least` and SQL LEAST
    skip NULLs, so the sentinel-free form is engine-exact. The fixed
    round count makes the oracle an unrolled CTE chain (sssp_sql) —
    same bit-exactness contract as pagerank_int. Per round: one join on
    src + one groupBy dst + one left join — all equi-keyed. Negative
    weights are accepted (Bellman-Ford), cycles only matter past the
    round horizon.
    """
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.col("w").cast("long").alias("w"),
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .unionByName(sources.select(F.col(sources.columns[0]).cast("long").alias("node")))
        .distinct()
    )
    src_set = sources.select(
        F.col(sources.columns[0]).cast("long").alias("node")
    ).distinct()
    d = nodes.join(
        src_set.withColumn("dist", F.lit(0).cast("long")), "node", "left"
    ).select("node", "dist")
    for _ in range(rounds):
        relax = (
            e.join(
                d.filter(F.col("dist").isNotNull())
                .withColumnRenamed("node", "src"),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("relaxed"))
        )
        d = d.join(relax, "node", "left").select(
            "node", F.least("dist", "relaxed").alias("dist")
        )
    return d


def sssp_sql(edges_sql: str, sources_sql: str, rounds: int) -> str:
    """Unrolled Bellman-Ford as DuckDB SQL (oracle twin). `edges_sql`
    selects (src, dst, w); `sources_sql` selects one column `node`."""
    parts = [
        f"WITH e AS (SELECT src, dst, w FROM ({edges_sql}))",
        f"srcs AS (SELECT DISTINCT node FROM ({sources_sql}))",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e "
        "UNION SELECT node FROM srcs)",
        "d0 AS (SELECT n.node, CASE WHEN s.node IS NULL THEN NULL "
        "ELSE CAST(0 AS BIGINT) END AS dist "
        "FROM nodes n LEFT JOIN srcs s ON s.node = n.node)",
    ]
    for i in range(rounds):
        parts.append(
            f"r{i + 1} AS (SELECT e.dst AS node, "
            f"CAST(min(d.dist + e.w) AS BIGINT) AS relaxed "
            f"FROM e JOIN d{i} d ON d.node = e.src AND d.dist IS NOT NULL "
            f"GROUP BY 1)"
        )
        parts.append(
            f"d{i + 1} AS (SELECT d.node, LEAST(d.dist, r.relaxed) AS dist "
            f"FROM d{i} d LEFT JOIN r{i + 1} r ON r.node = d.node)"
        )
    return ",\n".join(parts) + f"\nSELECT node, dist FROM d{rounds}"


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Exact per-node triangle counts on the undirected simple graph
    (direction and duplicates collapse; self-loops drop). The classic
    oriented enumeration: canonicalize every edge to (lo < hi), list
    each triangle once as a < b < c via wedge join + closing-edge join,
    then credit all three corners. Orientation bounds the wedge join by
    SMALLER-endpoint degree — the standard mitigation that keeps a
    power-law hub from exploding the intermediate (its wedges spread
    over the lower-id endpoints).
    """
    raw = edges.select(
        F.col("src").cast("long").alias("u"),
        F.col("dst").cast("long").alias("v"),
    ).filter(F.col("u") != F.col("v"))
    und = raw.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    wedge = (
        und.alias("e1")
        .join(und.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .select(
            F.col("e1.a").alias("a"),
            F.col("e1.b").alias("b"),
            F.col("e2.b").alias("c"),
        )
    )
    tri = wedge.join(
        und.select(F.col("a"), F.col("b").alias("c")), ["a", "c"]
    ).select("a", "b", "c")
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per_node


TRIANGLE_SQL_TEMPLATE = """
WITH raw AS (SELECT src AS u, dst AS v FROM ({edges_sql}) WHERE src <> dst),
und AS (
  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM raw
),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node, count(*) AS n_triangles FROM corners GROUP BY node
"""

_LPA_MOD = 1 << 21  # labels must stay below this for the ordered-min fold


def label_propagation(edges: DataFrame, rounds: int) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) community
    detection, deterministic variant: every node starts as its own
    label; each round it adopts the most frequent neighbor label,
    ties broken by SMALLEST label. The argmax-with-min-tiebreak is the
    struct-less ordered fold (the q34 trick): score = cnt * 2^21 +
    (2^21 - 1 - label), max(score) decodes to (max cnt, min label) —
    portable integer ordering, no struct comparison semantics needed.
    Fixed `rounds` keeps the oracle an unrolled CTE (lpa_sql). Node ids
    must be < 2^21 (raise otherwise happens naturally via decode
    mismatch — callers hash-compact ids first at scale).
    """
    raw = edges.select(
        F.col("src").cast("long").alias("u"),
        F.col("dst").cast("long").alias("v"),
    ).filter(F.col("u") != F.col("v"))
    und = (
        raw.select("u", "v")
        .unionByName(raw.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )
    lab = und.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(rounds):
        counts = (
            und.join(lab.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        best = counts.groupBy("node").agg(
            F.max(
                F.col("cnt") * _LPA_MOD + (_LPA_MOD - 1 - F.col("label"))
            ).alias("score")
        )
        lab = best.select(
            "node",
            (_LPA_MOD - 1 - F.col("score") % _LPA_MOD).alias("label"),
        )
    return lab


def lpa_sql(edges_sql: str, rounds: int) -> str:
    """Unrolled label propagation as DuckDB SQL (oracle twin)."""
    m = _LPA_MOD
    parts = [
        f"WITH raw AS (SELECT src AS u, dst AS v FROM ({edges_sql}) WHERE src <> dst)",
        "und AS (SELECT DISTINCT u, v FROM "
        "(SELECT u, v FROM raw UNION ALL SELECT v, u FROM raw))",
        "l0 AS (SELECT DISTINCT u AS node, u AS label FROM und)",
    ]
    for i in range(rounds):
        parts.append(
            f"c{i + 1} AS (SELECT und.u AS node, l.label, count(*) AS cnt "
            f"FROM und JOIN l{i} l ON l.node = und.v GROUP BY 1, 2)"
        )
        parts.append(
            f"l{i + 1} AS (SELECT node, "
            f"{m - 1} - (CAST(max(cnt * {m} + ({m - 1} - label)) AS BIGINT) % {m}) AS label "
            f"FROM c{i + 1} GROUP BY node)"
        )
    return ",\n".join(parts) + f"\nSELECT node, label FROM l{rounds}"


def kcore(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """k-core extraction (Seidman 1983) by synchronous peeling: each
    round deletes every node whose count of still-alive neighbors is
    below k, on the undirected simple graph (direction, duplicates,
    self-loops collapse). Returns the alive set after exactly `rounds`
    peels as (node, core_deg) where core_deg is the node's alive-
    neighbor count measured in the final round — at convergence this
    is its true degree within the k-core.

    Engine-exactness: peeling is pure set arithmetic (joins + integer
    counts), so a FIXED round count makes the oracle an unrolled CTE
    chain (kcore_sql) that matches bit for bit; rounds is part of the
    operator contract, the q93/q95 pattern. Convergence needs at most
    as many rounds as the longest peel cascade — callers size it, and
    an unconverged prefix is still a well-defined superset of the core.

    Scale: each round is one groupBy(node) count over the edge list
    semi-joined against the alive set — the alive set only shrinks, so
    per-round cost is monotone non-increasing; the shuffle keys on
    node, partial-aggregated map-side. No per-node state beyond the
    alive flag; hot hubs cost one combine, not a skewed sort.
    """
    raw = edges.select(
        F.col("src").cast("long").alias("u"),
        F.col("dst").cast("long").alias("v"),
    ).filter(F.col("u") != F.col("v"))
    und = (
        raw.select("u", "v")
        .unionByName(raw.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )
    alive = und.select(F.col("u").alias("node")).distinct()
    deg = None
    for _ in range(rounds):
        deg = (
            und.join(alive.withColumnRenamed("node", "u"), "u")
            .join(alive.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"))
            .agg(F.count(F.lit(1)).alias("core_deg"))
            .filter(F.col("core_deg") >= k)
        )
        alive = deg.select("node")
    return deg.select("node", "core_deg")


def kcore_sql(edges_sql: str, k: int, rounds: int) -> str:
    """Unrolled synchronous k-core peeling as DuckDB SQL (oracle twin).
    Alive sets are MATERIALIZED — each is referenced twice per round
    and DuckDB re-evaluates plain CTEs per reference (exponential
    blowup on chains, the q121 lesson)."""
    parts = [
        f"WITH raw AS (SELECT src AS u, dst AS v FROM ({edges_sql}) WHERE src <> dst)",
        "und AS MATERIALIZED (SELECT DISTINCT u, v FROM "
        "(SELECT u, v FROM raw UNION ALL SELECT v, u FROM raw))",
        "a0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM und)",
    ]
    for i in range(rounds):
        parts.append(
            f"d{i + 1} AS MATERIALIZED (SELECT und.u AS node, "
            f"count(*) AS core_deg FROM und "
            f"JOIN a{i} x ON x.node = und.u JOIN a{i} y ON y.node = und.v "
            f"GROUP BY 1 HAVING count(*) >= {k})"
        )
        parts.append(f"a{i + 1} AS MATERIALIZED (SELECT node FROM d{i + 1})")
    return ",\n".join(parts) + f"\nSELECT node, core_deg FROM d{rounds}"


def link_prediction(
    edges: DataFrame, top_k: int = 100
) -> DataFrame:
    """Common-neighbors / Jaccard link prediction: score every NON-edge
    pair of nodes that shares at least one neighbor — the classic
    missing-link ranking (friend suggestion, co-purchase gap, knowledge-
    graph completion). Output (a, b, common, deg_a, deg_b, jaccard_ppm,
    rnk) for the global top_k by (common DESC, jaccard_ppm DESC, a, b):
    jaccard_ppm = floor(1e6·common/(deg_a+deg_b-common)) — exact
    integers throughout.

    Plan: edges are canonicalized + deduped, wedges enumerate candidate
    pairs through their shared neighbor (the triangle_counts join shape:
    one self-join on the undirected adjacency), existing edges are
    removed with a LEFT ANTI join, degrees broadcast back. The wedge
    join is the only data-scale shuffle; its fan-out is Σ deg(v)² — the
    usual cap is degree-bounding hubs upstream, same contract as
    triangle_counts. The final top_k is a tiny global sort over
    already-aggregated pairs guarded by limit."""
    e = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # undirected adjacency (both directions)
    adj = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = adj.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    # wedges u - w - v with u < v: candidate pair (u, v) via shared w
    w1 = adj.select(F.col("b").alias("w"), F.col("a").alias("u"))
    w2 = adj.select(F.col("b").alias("w"), F.col("a").alias("v"))
    pairs = (
        w1.join(w2, "w")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    non_edges = pairs.join(
        e,
        (pairs["u"] == e["a"]) & (pairs["v"] == e["b"]),
        "left_anti",
    )
    scored = (
        non_edges.join(
            deg.select(F.col("a").alias("u"), F.col("deg").alias("deg_a")),
            "u",
        )
        .join(
            deg.select(F.col("a").alias("v"), F.col("deg").alias("deg_b")),
            "v",
        )
        .select(
            F.col("u").alias("a"),
            F.col("v").alias("b"),
            "common",
            "deg_a",
            "deg_b",
            F.expr(
                "(1000000 * common) DIV (deg_a + deg_b - common)"
            ).alias("jaccard_ppm"),
        )
    )
    w = Window.orderBy(
        F.col("common").desc(),
        F.col("jaccard_ppm").desc(),
        F.col("a").asc(),
        F.col("b").asc(),
    )
    # global window over candidate pairs ranked for a tiny top_k: input
    # is the aggregated pair table; at huge scale pre-filter by a
    # per-node top-k first (same two-phase trick as q60's rerank)
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= top_k)
    )


def link_prediction_sql(edges_sql: str) -> str:
    """DuckDB twin of link_prediction."""
    return f"""
WITH raw AS (
  SELECT least(src, dst) AS a, greatest(src, dst) AS b
  FROM ({edges_sql}) WHERE src <> dst
),
e AS (SELECT DISTINCT a, b FROM raw),
adj AS (
  SELECT a, b FROM e
  UNION ALL
  SELECT b AS a, a AS b FROM e
),
deg AS (SELECT a, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY a),
pairs AS (
  SELECT w1.a AS u, w2.a AS v, CAST(count(*) AS BIGINT) AS common
  FROM adj w1 JOIN adj w2 ON w1.b = w2.b AND w1.a < w2.a
  GROUP BY 1, 2
),
non_edges AS (
  SELECT p.* FROM pairs p
  LEFT JOIN e ON p.u = e.a AND p.v = e.b
  WHERE e.a IS NULL
),
scored AS (
  SELECT n.u AS a, n.v AS b, n.common, da.deg AS deg_a, db.deg AS deg_b,
         (1000000 * n.common) // (da.deg + db.deg - n.common)
           AS jaccard_ppm
  FROM non_edges n
  JOIN deg da ON n.u = da.a
  JOIN deg db ON n.v = db.a
)
SELECT a, b, common, deg_a, deg_b, jaccard_ppm,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, row_number() OVER (
    ORDER BY common DESC, jaccard_ppm DESC, a ASC, b ASC) AS rnk
  FROM scored
)
WHERE rnk <= 100
"""


def bom_rollup(
    edges: DataFrame, rounds: int
) -> DataFrame:
    """Bill-of-materials explosion / hierarchy transitive closure: edges
    are (child, parent, qty) — each child appears qty times inside its
    parent assembly (equally: an org/category tree with weights). The
    closure lists every (node, ancestor) pair with level (1 = direct)
    and qty_total = PRODUCT of qtys along the path — the classic
    WITH-RECURSIVE workload (BOM quantity explosion, org rollups,
    category trees) as a fixed-round Spark loop.

    `rounds` must be >= the hierarchy depth (the sssp_int contract:
    deterministic fixed iteration count, exact integer math). In a tree
    each (node, ancestor) path is unique, so rounds concatenate without
    dedup — level-k pairs are found exactly once at round k.

    Scale: round k joins the (still-shrinking) frontier of level-k pairs
    against the broadcast-or-shuffled edge table on the ancestor key;
    total work is the closure size Σ depth(v) (what any engine must
    produce). Integer products stay exact; callers keep qty ranges small
    enough that products along the deepest path fit int64."""
    base = edges.select(
        F.col("child").alias("node"),
        F.col("parent").alias("anc"),
        F.lit(1).alias("level"),
        F.col("qty").cast("long").alias("qty_total"),
    )
    frontier = base
    out = [base]
    for _ in range(1, rounds):
        nxt = (
            frontier.join(
                edges.select(
                    F.col("child").alias("anc"),
                    F.col("parent").alias("nanc"),
                    F.col("qty").alias("q2"),
                ),
                "anc",
            )
            .select(
                "node",
                F.col("nanc").alias("anc"),
                (F.col("level") + 1).alias("level"),
                (F.col("qty_total") * F.col("q2")).alias("qty_total"),
            )
        )
        frontier = nxt
        out.append(nxt)
    allp = out[0]
    for o in out[1:]:
        allp = allp.unionByName(o)
    return allp.select(
        "node", "anc", F.col("level").cast("long").alias("level"),
        "qty_total",
    )


def bom_rollup_sql(edges_sql: str, rounds: int) -> str:
    """DuckDB twin of bom_rollup (unrolled level CTEs — same fixed-round
    semantics, no WITH RECURSIVE re-evaluation pitfalls)."""
    ctes = [
        f"e AS MATERIALIZED (SELECT child, parent, CAST(qty AS BIGINT)"
        f" AS qty FROM ({edges_sql}))",
        "l1 AS MATERIALIZED (SELECT child AS node, parent AS anc,"
        " 1 AS level, qty AS qty_total FROM e)",
    ]
    for k in range(2, rounds + 1):
        ctes.append(
            f"l{k} AS MATERIALIZED (SELECT p.node, e.parent AS anc,"
            f" {k} AS level, p.qty_total * e.qty AS qty_total"
            f" FROM l{k-1} p JOIN e ON p.anc = e.child)"
        )
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM l{k}" for k in range(1, rounds + 1)
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, anc, CAST(level AS BIGINT) AS level,"
        f" qty_total FROM ({union})"
    )


def hits_int(edges: DataFrame) -> DataFrame:
    """Kleinberg HITS (hubs & authorities) in exact integer arithmetic.

    The other classic link-importance pair (Kleinberg 1999, the
    Clever/Teoma ranker): a page is a good AUTHORITY if good hubs link
    to it, a good HUB if it links to good authorities. For crawl
    curation it separates directories/aggregators (hubs) from content
    pages (authorities) — a distinction PageRank's single score blurs.

    Power iteration with the standard mutual recurrence, but where the
    textbook normalizes by the L2 norm (irreproducible across engines
    in floats), this uses max-normalization in floor arithmetic:

        a_t(v) = sum_{u->v} h_{t-1}(u);  a_t <- a_t * SCALE // max(a_t)
        h_t(u) = sum_{u->v} a_t(v);      h_t <- h_t * SCALE // max(h_t)

    Max-normalized power iteration converges to the same principal
    eigenvector direction as L2 (normalization choice only rescales),
    and every step is floor division — Spark `div` == DuckDB `//` —
    so a fixed iteration count is bit-reproducible (oracle: hits_sql,
    the unrolled MATERIALIZED CTE chain). SCALE is 1e6 (not
    pagerank's 1e12): the normalize step computes raw*SCALE before
    dividing, and raw <= max_in_degree*SCALE, so SCALE^2*max_indeg
    must stay under 2^63 — 1e6 leaves room for in-degrees to 9e6,
    past any degree-bounded crawl graph (bound hubs upstream, the
    same contract as link_prediction below).

    Scale: per round, one shuffle keyed on dst (authority fold) and one
    on src (hub fold); the max() is a scalar agg broadcast back —
    identical plan shape and skew story as pagerank_int above. Nodes
    with no in-links hold authority 0; no out-links, hub 0.
    """
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    hub = nodes.select("node", F.lit(HITS_SCALE).cast("long").alias("h"))
    auth = None
    for _ in range(3):
        a_raw = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("h").alias("a_raw"))
        )
        a_max = a_raw.agg(F.max("a_raw").alias("a_max"))
        auth = (
            nodes.join(a_raw, "node", "left")
            .crossJoin(F.broadcast(a_max))
            .select(
                "node",
                F.expr(
                    f"coalesce(a_raw, 0) * {HITS_SCALE} div a_max"
                ).alias("a"),
            )
        )
        h_raw = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("a").alias("h_raw"))
        )
        h_max = h_raw.agg(F.max("h_raw").alias("h_max"))
        hub = (
            nodes.join(h_raw, "node", "left")
            .crossJoin(F.broadcast(h_max))
            .select(
                "node",
                F.expr(
                    f"coalesce(h_raw, 0) * {HITS_SCALE} div h_max"
                ).alias("h"),
            )
        )
    return (
        hub.join(auth.withColumnRenamed("a", "a_score"), "node")
        .select(
            "node",
            F.col("h").alias("hub_score"),
            F.col("a_score").alias("auth_score"),
        )
    )


def hits_sql(edges_sql: str) -> str:
    """DuckDB oracle twin of hits_int: the identical max-normalized
    integer recurrence unrolled as MATERIALIZED CTEs (each round's
    score table is referenced twice — once by the next fold, once by
    its own max — so materialization is required to keep the chain
    linear, not exponential)."""
    iters = 3
    parts = [
        f"e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        f"h0 AS MATERIALIZED (SELECT node, CAST({HITS_SCALE} AS BIGINT) AS h FROM nodes)",
    ]
    for i in range(iters):
        parts.append(
            f"ar{i + 1} AS MATERIALIZED (SELECT e.dst AS node, "
            f"CAST(sum(p.h) AS BIGINT) AS a_raw "
            f"FROM e JOIN h{i} p ON p.node = e.src GROUP BY 1)"
        )
        parts.append(
            f"a{i + 1} AS MATERIALIZED (SELECT nodes.node, "
            f"COALESCE(ar.a_raw, 0) * {HITS_SCALE} "
            f"// (SELECT max(a_raw) FROM ar{i + 1}) AS a "
            f"FROM nodes LEFT JOIN ar{i + 1} ar ON ar.node = nodes.node)"
        )
        parts.append(
            f"hr{i + 1} AS MATERIALIZED (SELECT e.src AS node, "
            f"CAST(sum(p.a) AS BIGINT) AS h_raw "
            f"FROM e JOIN a{i + 1} p ON p.node = e.dst GROUP BY 1)"
        )
        parts.append(
            f"h{i + 1} AS MATERIALIZED (SELECT nodes.node, "
            f"COALESCE(hr.h_raw, 0) * {HITS_SCALE} "
            f"// (SELECT max(h_raw) FROM hr{i + 1}) AS h "
            f"FROM nodes LEFT JOIN hr{i + 1} hr ON hr.node = nodes.node)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT h.node, CAST(h.h AS BIGINT) AS hub_score, "
        f"CAST(a.a AS BIGINT) AS auth_score "
        f"FROM h{iters} h JOIN a{iters} a ON a.node = h.node"
    )
