"""Part co-purchase graph: Jaccard similarity, degree-ordered
triangle counting and PageRank over the distinct (order, part) pairs.

The co-purchase pair frame is session-memoized and also feeds the
market-basket query in plans/behavior.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_architecture_transaction_spark.catalog import load_table
from lakehouse_architecture_transaction_spark.plans.registry import register
from lakehouse_architecture_transaction_spark.session import session_memo


@session_memo
def _distinct_order_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized, MATERIALIZED distinct (order, part) frame — the input
    every co-purchase-graph query starts from (pair mining, degree
    tables). Session-memoized like the dup-cluster frame: within a
    session the fact scan + distinct shuffle are paid once, no matter
    how many graph queries run — exactly what a production pipeline
    does by materializing the edge list once and fanning analyses out
    from it."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=True)
    )


@session_memo
def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE definition of the co-purchase pair build shared by
    orders_market_basket, part_pagerank, and the r7 Jaccard/triangle
    queries: distinct (order, part), orderkey-co-partitioned
    self-join with part_a < part_b, support count ``w`` per unordered
    pair. Session-memoized AND materialized: four registered queries
    consume this frame (market basket, PageRank, Jaccard, triangles),
    and each consumes it from ≥2 plan branches — without the shared
    checkpoint Spark re-runs the whole mining stage per branch per
    query (replicated unshared subtrees)."""
    li = _distinct_order_parts(spark, sf_dir)
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("w"))
        .localCheckpoint(eager=True)
    )


_PR_DAMPING, _PR_ITERS = 0.85, 10


def _pagerank_oracle() -> str:
    tele = repr(1.0 - _PR_DAMPING)
    d = repr(_PR_DAMPING)
    parts = [
        "op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """pe AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS w
        FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2)""",
        """e AS (SELECT part_a AS src, part_b AS dst, CAST(w AS DOUBLE) AS w FROM pe
             UNION ALL SELECT part_b, part_a, CAST(w AS DOUBLE) FROM pe)""",
        "ow AS (SELECT src, SUM(w) AS outw FROM e GROUP BY src)",
        "ee AS (SELECT e.src, e.dst, e.w, ow.outw FROM e JOIN ow USING (src))",
        "nodes AS (SELECT DISTINCT src AS node FROM e)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "pr0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn)",
    ]
    for i in range(1, _PR_ITERS + 1):
        parts.append(
            f"""c{i} AS (
        SELECT ee.dst, CAST(floor(p.pr * ee.w / ee.outw * 1e9 + 0.5) AS BIGINT) AS c
        FROM ee JOIN pr{i - 1} p ON ee.src = p.node)"""
        )
        parts.append(
            f"""pr{i} AS (
        SELECT nodes.node,
               {tele} / nn.n + {d} * (CAST(coalesce(s.s, 0) AS DOUBLE) / 1e9) AS pr
        FROM nodes CROSS JOIN nn
        LEFT JOIN (SELECT dst, CAST(SUM(c) AS BIGINT) AS s FROM c{i} GROUP BY dst) s
            ON nodes.node = s.dst)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
    SELECT node AS part, pr AS pagerank FROM pr{_PR_ITERS}
    ORDER BY part ASC
    """
    )


# Not a headline query: 10 fixed rounds = 20 sequential stage barriers,
# which at bench scale is ~10 s of pure scheduler constant (the
# iterative-op tax emb_kmeans already represents); the gates still
# check it for correctness.
@register("part_pagerank", oracle=_pagerank_oracle())
def part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part importance by weighted PageRank over the co-purchase graph
    (operators/graph.py pagerank): nodes are parts, symmetric edges
    weighted by co-order support (the orders_market_basket pair
    build), 10 fixed rounds at damping 0.85 — the "which items anchor
    the catalog" centrality that raw co-occurrence counts miss
    (a part co-bought with other CENTRAL parts outranks one with the
    same support from peripheral partners). Every round is two narrow
    shuffles; the oracle replays all 10 rounds with the same
    quantized-exact contribution sums."""
    from lakehouse_architecture_transaction_spark.operators.graph import pagerank

    pe = _copurchase_pairs(spark, sf_dir)
    edges = pe.select("part_a", "part_b", "w").unionByName(
        pe.select(
            F.col("part_b").alias("part_a"), F.col("part_a").alias("part_b"), F.col("w")
        )
    )
    pr = pagerank(
        edges, src_col="part_a", dst_col="part_b", weight_col="w",
        damping=_PR_DAMPING, iters=_PR_ITERS,
    )
    return pr.select(F.col("node").alias("part"), "pagerank").orderBy("part")


_TRI_TOP = 20


PART_TRIANGLES_ORACLE = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
    FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
),
deg AS (
    SELECT p, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT part_a AS p FROM edges UNION ALL SELECT part_b FROM edges
    ) GROUP BY 1
),
o AS (
    SELECT CASE WHEN (da.deg, e.part_a) < (db.deg, e.part_b) THEN e.part_a ELSE e.part_b END AS src,
           CASE WHEN (da.deg, e.part_a) < (db.deg, e.part_b) THEN e.part_b ELSE e.part_a END AS dst,
           CASE WHEN (da.deg, e.part_a) < (db.deg, e.part_b) THEN db.deg ELSE da.deg END AS ddeg
    FROM edges e
    JOIN deg da ON da.p = e.part_a
    JOIN deg db ON db.p = e.part_b
),
tri AS (
    SELECT w1.src, w1.dst AS u, w2.dst AS w
    FROM o w1 JOIN o w2 ON w1.src = w2.src
         AND (w1.ddeg, w1.dst) < (w2.ddeg, w2.dst)
    JOIN o c ON c.src = w1.dst AND c.dst = w2.dst
)
SELECT part, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
    SELECT src AS part FROM tri
    UNION ALL SELECT u FROM tri
    UNION ALL SELECT w FROM tri
) GROUP BY 1
ORDER BY n_triangles DESC, part ASC
LIMIT {_TRI_TOP}
"""


@register("part_copurchase_triangles", oracle=PART_TRIANGLES_ORACLE, headline=True)
def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting on the part co-purchase graph — the
    community-density signal (clustering) on top of the same edge set
    part_pagerank ranks. Uses DEGREE-ORDERED ORIENTATION
    (Schank–Wagner / compact-forward): every undirected edge points
    from its lower-(degree, id) endpoint to the higher one, each
    wedge is enumerated at its lowest-ordered vertex only, and the
    closing edge is looked up in the SAME oriented set — each triangle
    is found exactly once and path enumeration is O(m^1.5) instead of
    Σ deg², because no vertex fans out more than ~√m in the oriented
    graph. That orientation IS the 100 TB story: hub products with
    10⁶ co-purchases never enumerate their neighbor pairs.

    Physical shape: oriented OUT-ADJACENCY LISTS + per-edge
    ``array_intersect`` rather than a wedge self-join — open wedges
    (candidate pairs that never close) are rejected inside the
    intersect kernel and NEVER hit a shuffle, so the only exploded
    rows are actual triangles (measured ~2× over the two-shuffle
    wedge-join at sf0.1, identical output). Adjacency arrays are
    bounded by the orientation's ~√m out-degree cap, so per-row state
    stays O(√m) at any scale. Output: the top-{top} parts by triangle
    participation (count desc, part asc). Deterministic,
    oracle-replayable (the orientation is a pure function of exact
    degrees and ids).""".format(top=_TRI_TOP)

    # The pair frame arrives materialized (session memo in behavior.py)
    # — the degree table and the oriented join both branch off the
    # same checkpoint, so the mining stage never replays.
    edges = _copurchase_pairs(spark, sf_dir).select("part_a", "part_b")
    deg = (
        edges.select(F.explode(F.array("part_a", "part_b")).alias("p"))
        .groupBy("p")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    e = (
        edges.join(deg.withColumnRenamed("p", "part_a").withColumnRenamed("deg", "da"), "part_a")
        .join(deg.withColumnRenamed("p", "part_b").withColumnRenamed("deg", "db"), "part_b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("part_a") < F.col("part_b"))
    )
    # Pin the wedge stages at session parallelism: the oriented-edge
    # shuffles move only a few MB (long pairs / long arrays), so AQE's
    # byte-targeted coalescing folds them to a handful of tasks — but
    # the array_intersect kernel is COMPUTE-dense per byte, and the
    # r10→r11 driver captures showed the funnel costing 1.5× wall
    # (2.99 → 4.47 s at sf0.1: heavy stages ran 4-wide on 32 cores).
    # User-numbered repartition (REPARTITION_BY_NUM) is exempt from
    # AQE coalescing, and sizing from spark.sql.shuffle.partitions
    # keeps the pin cluster-proportional rather than hardcoded.
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # Two pins, two jobs: the PRE-checkpoint repartition parallelizes
    # the materialization itself (AQE coalesced the orientation build
    # to ONE task — a 1.2-1.8 s single-threaded write per run);
    # localCheckpoint does NOT preserve outputPartitioning (measured:
    # the downstream join re-exchanges both sides), so the POST-
    # checkpoint repartition pins the wedge stages.
    o = (
        e.select(
            F.when(a_first, F.col("part_a")).otherwise(F.col("part_b")).alias("src"),
            F.when(a_first, F.col("part_b")).otherwise(F.col("part_a")).alias("dst"),
        )
        .repartition(n_shuffle, "src")
        .localCheckpoint(eager=True)
        .repartition(n_shuffle, "src")
    )
    adj = o.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    # For oriented edge u→v, adj[u] ∩ adj[v] is exactly the set of w
    # with u→w AND v→w: triangle (u, v, w) enumerated once, at its
    # unique lowest-ordered edge. An inner join is exact: an edge
    # whose endpoint has no out-neighbors cannot close a triangle.
    # r16 (guide §2.4): the u side needs no join at all — EXPLODING
    # adj reproduces every oriented edge WITH its nbrs_u already
    # attached (edge u→v exists iff v ∈ adj[u]), so the r15 shape's
    # first join (o ⋈ adj on src, plus its sort) disappears and the
    # only join left is the v-side adjacency lookup. That join's
    # right side is adj itself, already hash(src)-partitioned at
    # n_shuffle by the groupBy, so it re-shuffles nothing.
    tri_edges = (
        adj.select(
            F.col("src").alias("u"),
            F.col("nbrs").alias("nbrs_u"),
            F.explode("nbrs").alias("v"),
        )
        .repartition(n_shuffle, "v")
        .join(
            adj.select(F.col("src").alias("v_key"), F.col("nbrs").alias("nbrs_v")),
            F.col("v") == F.col("v_key"),
        )
        .select(
            "u",
            "v",
            F.array_intersect("nbrs_u", "nbrs_v").alias("common"),
        )
        .filter(F.size("common") > 0)
    )
    return (
        tri_edges.select(
            F.explode(
                F.concat(
                    F.array_repeat(F.col("u"), F.size("common")),
                    F.array_repeat(F.col("v"), F.size("common")),
                    F.col("common"),
                )
            ).alias("part")
        )
        .groupBy("part")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), F.col("part").asc())
        .limit(_TRI_TOP)
    )


_JAC_TOP = 20
_JAC_MIN_SUPPORT = 3

PART_JACCARD_ORACLE = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
deg AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n FROM li GROUP BY 1),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, CAST(COUNT(*) AS BIGINT) AS w
    FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_JAC_MIN_SUPPORT}
)
SELECT part_a, part_b, w AS n_both, da.n AS n_a, db.n AS n_b,
       CAST(w AS DOUBLE) / CAST(da.n + db.n - w AS BIGINT) AS jaccard
FROM pairs
JOIN deg da ON da.l_partkey = part_a
JOIN deg db ON db.l_partkey = part_b
ORDER BY jaccard DESC, part_a ASC, part_b ASC
LIMIT {_JAC_TOP}
"""


@register("part_copurchase_jaccard", oracle=PART_JACCARD_ORACLE, headline=True)
def part_copurchase_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item Jaccard similarity on the co-purchase graph — the
    classic collaborative-filtering similarity (J = |A∩B| / |A∪B| over
    the sets of orders containing each part), on the SAME shared edge
    set part_pagerank and part_copurchase_triangles consume. Support
    floor w ≥ {sup} keeps coincidence pairs (1 shared order, J=1) out
    of the top-k. Jaccard is ONE double division of exact BIGINTs, so
    cross-engine hashing is exact; top-k has full (part_a, part_b)
    tiebreaks.

    Scale shape: the distinct (order, part) frame and the weighted
    pair frame both arrive MATERIALIZED from the shared session memo
    (behavior.py — one fact scan + one mining stage per session across
    all four graph queries; Spark replicates unshared subtrees, so the
    memoized checkpoints are what keep every branch from replaying
    them), then degree joins at pair cardinality and a TakeOrdered
    top-k — no global sort materialization
    anywhere.""".format(sup=_JAC_MIN_SUPPORT)

    li = _distinct_order_parts(spark, sf_dir)
    deg = li.groupBy("l_partkey").agg(F.count("*").cast("bigint").alias("n"))
    pairs = _copurchase_pairs(spark, sf_dir).filter(F.col("w") >= _JAC_MIN_SUPPORT)
    j = pairs.join(
        deg.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a")), "part_a"
    ).join(deg.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b")), "part_b")
    return (
        j.select(
            "part_a",
            "part_b",
            F.col("w").cast("bigint").alias("n_both"),
            "n_a",
            "n_b",
            (
                F.col("w").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("w")).cast("bigint")
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), F.col("part_a").asc(), F.col("part_b").asc())
        .limit(_JAC_TOP)
    )
