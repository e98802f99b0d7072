"""Graph algorithms as unrolled relational dataflow.

The graph itself is BUILT by an operator: the mutual top-K affinity graph
over supplier co-order counts — supplier pairs weighted by how many orders
they co-supply, each node keeping its 5 strongest neighbors (deterministic
(weight DESC, id) cut), an edge surviving only when BOTH endpoints keep it.
Mutual-kNN sparsification is the standard way to turn a dense affinity
matrix into a usable graph (the naive co-occurrence graph here is complete
— every supplier meets every other, which would make any graph metric
degenerate); it is also exactly the construction an embedding-similarity
graph uses at 100 TB, where the affinity source would be ANN results
instead of co-order counts.

On that graph:

- ``pagerank_supplier_coparts`` — PageRank as a STATIC chain of
  join→aggregate stages (rank ⨝ edges on src, groupBy dst, teleport term).
  No driver-side per-node state (the single driver scalar is N); edges and
  degrees are persisted once and re-read by every iteration — the
  edge-partitioned layout GraphX/Pregel use, with the rank exchange hashed
  on the join key each round. Dangling nodes keep the teleport term and
  leak their mass (the common practical simplification, identical in the
  oracle).
- ``triangle_count_suppliers`` — triangles by ORIENTED wedge closure:
  orient each undirected edge low->high so every triangle is found exactly
  once as (a<b<c); two equi-joins, no permutation dedup, no cartesian.
  Join skew is governed by max degree — bounded at K by construction.

Reference parity note: the reference engine (Alvearie
hri-flink-validation-passthrough, PassthroughStreamingJob.java:1) has no
graph surface; these are SURVEY.md §2 north-star extensions next to
``transitive_closure_depth`` (plans/relational.py) and ``dedup_clusters``
(pointer-jumping connected components, operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import floor_nudge
from ..plans import QuerySpec, register
from ..session import load_table, session_memo
from ..materialize import cut

QUERIES: dict[str, QuerySpec] = {}

PR_DAMP = 0.85
PR_ITERS = 3
PR_TOP = 20
KNN_K = 5  # neighbors kept per node in the mutual-kNN sparsification

# shared SQL prefix: the mutual top-K co-order graph (directed both ways)
_GRAPH_SQL = f"""
    WITH c AS (
      SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, count(*) AS w
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_suppkey <> b.l_suppkey
      GROUP BY 1, 2
    ), topk AS (
      SELECT s1, s2 FROM (
        SELECT s1, s2,
               row_number() OVER (PARTITION BY s1 ORDER BY w DESC, s2) AS rn
        FROM c
      ) WHERE rn <= {KNN_K}
    ), e AS (  -- mutual edges, both directions
      SELECT t1.s1 AS src, t1.s2 AS dst
      FROM topk t1 JOIN topk t2 ON t1.s1 = t2.s2 AND t1.s2 = t2.s1
    ), nodes AS (
      SELECT DISTINCT l_suppkey AS s FROM lineitem
    )
"""


def _mutual_knn_edges(spark: SparkSession, sf_dir: str):
    """(edges, nodes): the mutual top-K co-order graph. Edges directed both
    ways (mutuality makes it symmetric); both persisted — every consumer
    re-reads them.

    Session-memoized like similarity._pq_encoded: three queries (PageRank,
    triangles, label propagation) consume the SAME graph, and the co-order
    self-join that builds it dominates each one's cost — in production the
    edge list is a stored artifact written once at graph-build time.
    """
    return session_memo(spark, sf_dir, "lineitem.parquet", _knn_graph_build)[:2]


def _knn_graph_build(spark: SparkSession, sf_dir: str):
    li = load_table(spark, sf_dir, "lineitem")
    a, b = li.alias("a"), li.alias("b")
    c = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") != F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("s1"), F.col("b.l_suppkey").alias("s2")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    wk = Window.partitionBy("s1").orderBy(F.desc("w"), "s2")
    topk = (
        c.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= KNN_K)
        .select("s1", "s2")
        .persist()  # the mutuality self-join consumes it twice; node x K rows
    )
    t1, t2 = topk.alias("t1"), topk.alias("t2")
    edges = (
        t1.join(
            t2,
            (F.col("t1.s1") == F.col("t2.s2")) & (F.col("t1.s2") == F.col("t2.s1")),
        )
        .select(F.col("t1.s1").alias("src"), F.col("t1.s2").alias("dst"))
        .persist()
    )
    nodes = li.select(F.col("l_suppkey").alias("s")).distinct().persist()
    # topk rides the memo tuple so session_memo unpersists it with the
    # graph (it is persisted too — r10 self-review finding)
    return edges, nodes, topk


def _oriented_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The low->high oriented edge list (src < dst), session-memoized.

    Triangle counting and the clustering coefficient both orient the mutual
    graph the same way; previously each call persisted its own copy,
    accumulating executor cache across a multi-query run (ADVICE r5)."""
    return session_memo(spark, sf_dir, "lineitem.parquet", _orient_build)


def _orient_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, _ = _mutual_knn_edges(spark, sf_dir)
    return edges.filter(F.col("src") < F.col("dst")).persist()


def _pr_oracle() -> str:
    d = PR_DAMP
    its = []
    for k in range(1, PR_ITERS + 1):
        prev = f"r{k - 1}"
        its.append(
            f"""r{k} AS (
      SELECT nodes.s,
             (1 - {d}) / nn.n
               + {d} * coalesce(sum({prev}.r / deg.deg), 0) AS r
      FROM nodes CROSS JOIN nn
      LEFT JOIN e ON e.dst = nodes.s
      LEFT JOIN {prev} ON {prev}.s = e.src
      LEFT JOIN deg ON deg.s = e.src
      GROUP BY nodes.s, nn.n
    )"""
        )
    chain = ",\n    ".join(its)
    return f"""
    {_GRAPH_SQL},
    deg AS (
      SELECT src AS s, count(*) AS deg FROM e GROUP BY 1
    ), nn AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT s, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
    {chain},
    ranked AS (
      SELECT s, floor(r * 100000000 + 0.500001) / 100000000 AS pagerank
      FROM r{PR_ITERS}
    )
    SELECT CAST(ranked.s AS BIGINT) AS s_suppkey, sup.s_name, pagerank
    FROM ranked JOIN supplier sup ON ranked.s = sup.s_suppkey
    ORDER BY pagerank DESC, s_suppkey
    LIMIT {PR_TOP}
    """


@register(
    QUERIES,
    "pagerank_supplier_coparts",
    oracle=_pr_oracle(),
    doc="PageRank (d=0.85, 3 power iterations) over the mutual top-5 "
    "co-order affinity graph (the kNN-sparsified graph — the naive "
    "co-occurrence graph is complete and would rank every node equally), "
    "unrolled as join->aggregate stages: rank ⨝ edges on src, groupBy dst, "
    "teleport term (1-d)/N with N the one driver scalar. Edges + degrees "
    "persisted once for the three iterations; dangling mass leaks by "
    "design, identically in both engines. Output: top-20 by 8-dp-rounded "
    "rank with suppkey tiebreak.",
)
def pagerank_supplier_coparts(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, nodes = _mutual_knn_edges(spark, sf_dir)
    sup = load_table(spark, sf_dir, "supplier")
    deg = edges.groupBy(F.col("src").alias("s")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # localCheckpoint, not persist: per-call, consumed by every PageRank
    # iteration — reference-released when the plan dies
    deg = deg.transform(cut())
    n = nodes.count()  # the single driver scalar (node count)
    if n == 0:
        # empty corpus: no graph, no ranks (r14 empty-corpus sweep —
        # 1.0/n below would divide by zero)
        return spark.createDataFrame(
            [], "s_suppkey long, s_name string, pagerank double"
        )

    ranks = nodes.withColumn("r", F.lit(1.0 / n))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(ranks.withColumnRenamed("s", "src"), "src")
            .join(F.broadcast(deg.withColumnRenamed("s", "src")), "src")
            .groupBy(F.col("dst").alias("s"))
            .agg(F.sum(F.col("r") / F.col("deg")).alias("inflow"))
        )
        ranks = nodes.join(contrib, "s", "left").select(
            "s",
            (
                F.lit((1 - PR_DAMP) / n)
                + F.lit(PR_DAMP) * F.coalesce("inflow", F.lit(0.0))
            ).alias("r"),
        )
    ranked = ranks.select(
        "s",
        floor_nudge(F.col("r"), 8).alias("pagerank"),
    )
    return (
        ranked.join(F.broadcast(sup), ranked.s == sup.s_suppkey)
        .select(F.col("s").cast("long").alias("s_suppkey"), "s_name", "pagerank")
        .orderBy(F.col("pagerank").desc(), "s_suppkey")
        .limit(PR_TOP)
    )


@register(
    QUERIES,
    "triangle_count_suppliers",
    oracle=f"""
    {_GRAPH_SQL},
    eo AS (  -- orient: each undirected mutual edge once, low -> high
      SELECT src, dst FROM e WHERE src < dst
    ), tri AS (
      SELECT e1.src AS a
      FROM eo e1
      JOIN eo e2 ON e1.dst = e2.src
      JOIN eo e3 ON e3.src = e1.src AND e3.dst = e2.dst
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles,
           CAST((SELECT count(*) FROM eo) AS BIGINT) AS n_edges,
           CAST((SELECT count(*) FROM nodes) AS BIGINT) AS n_nodes
    FROM tri
    """,
    doc="Global triangle count over the mutual top-5 co-order graph by "
    "oriented wedge closure: orient every undirected edge low->high id so "
    "each triangle is found EXACTLY once as (a<b<c) — two equi-joins on "
    "the oriented edge list, no permutation dedup, no cartesian. The "
    "clustering-coefficient numerator; per-node degree is bounded at K=5 "
    "by the sparsification, so the wedge join cannot skew.",
)
def triangle_count_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    _spark_edges, nodes = _mutual_knn_edges(spark, sf_dir)
    eo = _oriented_edges(spark, sf_dir)
    e1, e2, e3 = eo.alias("e1"), eo.alias("e2"), eo.alias("e3")
    tri = e1.join(e2, F.col("e1.dst") == F.col("e2.src")).join(
        e3,
        (F.col("e3.src") == F.col("e1.src")) & (F.col("e3.dst") == F.col("e2.dst")),
    )
    n_tri = tri.count()
    n_edges = eo.count()
    n_nodes = nodes.count()
    return spark.createDataFrame(
        [(n_tri, n_edges, n_nodes)],
        "n_triangles long, n_edges long, n_nodes long",
    )


def _lpa_oracle() -> str:
    its = []
    for k in range(1, LPA_ITERS + 1):
        p = f"l{k - 1}"
        its.append(
            f"""c{k} AS (
      SELECT e.dst AS s, p.lbl, count(*) AS n
      FROM e JOIN {p} p ON p.s = e.src GROUP BY 1, 2
    ), w{k} AS (
      SELECT s, lbl FROM (
        SELECT s, lbl, row_number() OVER (PARTITION BY s
                                          ORDER BY n DESC, lbl) AS rn
        FROM c{k}
      ) WHERE rn = 1
    ), l{k} AS (
      SELECT n.s, coalesce(w.lbl, p.lbl) AS lbl
      FROM nodes n LEFT JOIN w{k} w ON w.s = n.s
      JOIN {p} p ON p.s = n.s
    )"""
        )
    chain = ",\n    ".join(its)
    return f"""
    {_GRAPH_SQL},
    l0 AS (SELECT s, s AS lbl FROM nodes),
    {chain}
    SELECT CAST(lbl AS BIGINT)      AS community,
           CAST(count(*) AS BIGINT) AS n_members
    FROM l{LPA_ITERS}
    GROUP BY lbl
    ORDER BY n_members DESC, community
    LIMIT {LPA_TOP}
    """


LPA_ITERS = 2
LPA_TOP = 20


@register(
    QUERIES,
    "community_label_propagation",
    oracle=_lpa_oracle(),
    doc="Community detection by SYNCHRONOUS label propagation over the "
    "mutual top-5 co-order graph, 2 unrolled iterations: each node adopts "
    "the most frequent label among its neighbors (ties to the smallest "
    "label — the deterministic variant; async LPA is order-dependent and "
    "cannot be oracle-checked), isolated nodes keep their own. One "
    "iteration = labels ⨝ edges on src, count per (dst,label), per-node "
    "rank — two key-hashed shuffles, no driver state; per-node candidate "
    "labels are bounded by degree <= K=5 from the sparsification, so the "
    "rank window cannot skew. Completes the graph family next to "
    "pagerank / triangle count / connected components (dedup_clusters): "
    "unlike components, mode-propagation can SPLIT a connected graph into "
    "communities. Output: top-20 communities by size.",
)
def community_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, nodes = _mutual_knn_edges(spark, sf_dir)
    labels = nodes.withColumn("lbl", F.col("s"))
    wrank = Window.partitionBy("s").orderBy(F.desc("n"), "lbl")
    for _ in range(LPA_ITERS):
        counts = (
            edges.join(
                labels.select(F.col("s").alias("src"), "lbl"), "src"
            )
            .groupBy(F.col("dst").alias("s"), "lbl")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        winner = (
            counts.withColumn("rn", F.row_number().over(wrank))
            .filter(F.col("rn") == 1)
            .select("s", F.col("lbl").alias("new_lbl"))
        )
        labels = (
            labels.join(winner, "s", "left")
            .select("s", F.coalesce("new_lbl", "lbl").alias("lbl"))
        )
    return (
        labels.groupBy(F.col("lbl").cast("long").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .orderBy(F.desc("n_members"), "community")
        .limit(LPA_TOP)
    )


CC_TOP = 20


@register(
    QUERIES,
    "clustering_coefficient_topk",
    oracle=f"""
    {_GRAPH_SQL},
    deg AS (
      SELECT src AS s, count(*) AS deg FROM e GROUP BY 1
    ), eo AS (
      SELECT src, dst FROM e WHERE src < dst
    ), tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM eo e1
      JOIN eo e2 ON e1.dst = e2.src
      JOIN eo e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ), pern AS (
      SELECT s, count(*) AS n_tri FROM (
        SELECT a AS s FROM tri UNION ALL
        SELECT b FROM tri UNION ALL
        SELECT c FROM tri
      ) GROUP BY s
    )
    SELECT CAST(d.s AS BIGINT) AS s_suppkey,
           CAST(d.deg AS BIGINT) AS degree,
           CAST(coalesce(p.n_tri, 0) AS BIGINT) AS n_triangles,
           floor(2.0 * coalesce(p.n_tri, 0) / (d.deg * (d.deg - 1))
                 * 1000000 + 0.500001) / 1000000 AS coeff
    FROM deg d LEFT JOIN pern p ON p.s = d.s
    WHERE d.deg >= 2
    ORDER BY coeff DESC, s_suppkey
    LIMIT {CC_TOP}
    """,
    doc="Per-node clustering coefficient on the mutual top-5 co-order "
    "graph: triangles found once via the oriented wedge closure (same "
    "construction as triangle_count_suppliers), each credited to its "
    "three corners by a 3-way unpivot, divided by C(deg,2) from the "
    "degree table. Local transitivity — the node-level refinement of "
    "the global triangle count; top-20 by coefficient. Degree is capped "
    "at K=5 by the sparsification so both the wedge join and the "
    "denominator are bounded; the graph build is session-memoized and "
    "shared with PageRank/triangles/LPA.",
)
def clustering_coefficient_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, _nodes = _mutual_knn_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("s")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    eo = _oriented_edges(spark, sf_dir)
    e1, e2, e3 = eo.alias("e1"), eo.alias("e2"), eo.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    corners = (
        tri.select(F.col("a").alias("s"))
        .unionAll(tri.select(F.col("b").alias("s")))
        .unionAll(tri.select(F.col("c").alias("s")))
    )
    pern = corners.groupBy("s").agg(F.count(F.lit(1)).alias("n_tri"))
    out = (
        deg.join(pern, "s", "left")
        .filter(F.col("deg") >= 2)
        .select(
            F.col("s").cast("long").alias("s_suppkey"),
            F.col("deg").cast("long").alias("degree"),
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_triangles"),
            floor_nudge(
                2.0
                * F.coalesce("n_tri", F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
                6,
            ).alias("coeff"),
        )
    )
    return out.orderBy(F.desc("coeff"), "s_suppkey").limit(CC_TOP)


# ---- BFS hop histogram from the hub node ----------------------------------
BFS_HOPS = 4


def _bfs_oracle() -> str:
    # unrolled level-synchronous BFS, mirroring the Spark plan hop-for-hop
    # (no WITH RECURSIVE: the shared _GRAPH_SQL prefix is a plain WITH, and
    # a fixed unroll keeps both engines' plans structurally identical)
    ctes = [
        """, deg AS (SELECT src AS s, count(*) AS d FROM e GROUP BY src),
        hub AS (SELECT s FROM deg ORDER BY d DESC, s LIMIT 1),
        h0 AS (SELECT s AS node FROM hub)"""
    ]
    seen = "SELECT node FROM h0"
    for i in range(1, BFS_HOPS + 1):
        ctes.append(f""",
        h{i} AS (
          SELECT DISTINCT e.dst AS node
          FROM e JOIN h{i - 1} ON e.src = h{i - 1}.node
          WHERE e.dst NOT IN ({seen})
        )""")
        seen += f" UNION ALL SELECT node FROM h{i}"
    levels = " UNION ALL ".join(
        f"SELECT {i} AS hop, node FROM h{i}" for i in range(BFS_HOPS + 1)
    )
    return f"""
    {_GRAPH_SQL}
    {"".join(ctes)},
    lv AS ({levels}),
    un AS (
      SELECT -1 AS hop, s AS node FROM nodes
      WHERE s NOT IN (SELECT node FROM lv)
    )
    SELECT hop, CAST(count(*) AS BIGINT) AS n_nodes,
           min(node) AS min_node, max(node) AS max_node
    FROM (SELECT * FROM lv UNION ALL SELECT * FROM un)
    GROUP BY hop
    """


@register(
    QUERIES,
    "bfs_hops_from_hub",
    oracle=_bfs_oracle(),
    doc=f"Level-synchronous BFS from the highest-degree node of the mutual "
    f"top-{KNN_K} co-order graph, unrolled {BFS_HOPS} hops: per-hop "
    "reachable-node counts plus the unreached remainder (hop -1) — the "
    "connectivity/diameter probe run after any graph build. Each hop is "
    "one equi-join frontier expansion + one anti-join against the "
    "visited set (both key-partitioned; no global structure), the "
    "standard distributed BFS: at 100 TB, hop count is the only serial "
    "dimension and every hop is bounded by the true frontier size. "
    "Graph artifacts shared via the session-memoized edge list.",
)
def bfs_hops_from_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, nodes = _mutual_knn_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    hub = deg.orderBy(F.desc("d"), "src").limit(1).select(F.col("src").alias("node"))
    levels = [hub.withColumn("hop", F.lit(0))]
    visited = hub
    frontier = hub
    for i in range(1, BFS_HOPS + 1):
        # localCheckpoint (eager) per level: the frontier/visited sets are
        # node-sized (tiny vs the edge list), and TRUNCATING lineage is the
        # point — with plain persist the final action still plans the whole
        # nested BFS prefix once per level, and the plan tree's exponential
        # growth OOMed the driver at sf0.01 during codegen
        nxt = (
            edges.join(frontier.select(F.col("node").alias("src")), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .transform(cut(iterative=True))
        )
        levels.append(nxt.withColumn("hop", F.lit(i)))
        visited = visited.unionByName(nxt).transform(cut(iterative=True))
        frontier = nxt
    lv = levels[0]
    for x in levels[1:]:
        lv = lv.unionByName(x)
    unreached = (
        nodes.select(F.col("s").alias("node"))
        .join(visited, "node", "left_anti")
        .withColumn("hop", F.lit(-1))
    )
    return (
        lv.unionByName(unreached)
        .groupBy("hop")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
    )
