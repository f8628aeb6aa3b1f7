"""Iterative graph analytics over the co-purchase graph (PageRank,
connected components).

The reference has no graph engine (its pipeline ends at BigQuery
aggregates); these extend the repo's graph family (copurchase_pairs,
triangle_count in plans/analytics_ext.py) with the two canonical
ITERATIVE kernels a training-data/feature pipeline runs on an item graph:
importance scores and community labels.

Cross-engine determinism: float PageRank is a trap — the per-node
contribution sum is order-sensitive in doubles, and no shuffle order is
reproducible across engines. Both kernels therefore run ENTIRELY in
BIGINT arithmetic:

- ranks live at scale 1e12 (``PR_SCALE``); a node's out-contribution is
  ``rank DIV degree`` (integer floor division, identical in Spark ``DIV``
  and DuckDB ``//`` for non-negative operands); the damped update is
  ``teleport + (85 * Σ contrib) DIV 100``. Integer addition is exactly
  associative, so any shuffle order and either engine produce the same
  bits.
- components propagate ``min(label)`` — min is order-insensitive.

Iteration strategy (the 100 TB design): each round is one join + one
aggregate, with ``localCheckpoint`` per round to truncate lineage —
without it, round k's plan re-executes rounds 1..k-1 (the dedup_clusters
r1 bug: a 1900-scan plan). A fixed, small iteration count is part of the
operator contract (PageRank converges geometrically; 4 damped rounds
ranks a product graph), which also keeps the oracle an unrolled CTE
chain instead of an engine-specific recursive aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from admob_data_pipeline_spark.sources.tables import load_table

PR_SCALE = 10**12
PR_ITERS = 4
PR_DAMP_PCT = 85  # damping 0.85, in integer percent
MIN_SUPPORT = 2  # co-purchase edge threshold (matches copurchase_pairs)


def copurchase_edges(li: DataFrame, min_support: int = MIN_SUPPORT) -> DataFrame:
    """Canonical (u < v) co-purchase edges with support ≥ min_support.
    Same contract as q_copurchase_pairs (plans/analytics_ext.py): pair
    space bounded by Σ basket_size², generated via a self-join on the
    order key, never N².

    Materialized eagerly: the edge list is compact (support-filtered
    pairs ≪ lineitem) and every graph kernel references it through
    multiple branches — _adjacency alone doubles it, degree rollups
    reference it again — and Spark re-plans the whole
    distinct→self-join→agg derivation per branch (degree_assortativity
    measured 12 parquet scans of lineitem without this; playbook #17:
    cache() would miss, only a checkpoint truncates)."""
    lp = li.select("l_orderkey", "l_partkey").distinct()
    a = lp.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = lp.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    # lp is distinct on (order, item): each order contributes a given
    # (u, v) at most once, so COUNT == COUNT(DISTINCT ok) without the
    # dedup aggregate's extra pass (same argument as recsys_hitrate r5)
    return (
        a.join(b, "ok")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= min_support)
        .select("u", "v")
        .localCheckpoint()
    )


def _adjacency(edges: DataFrame) -> DataFrame:
    """Undirected edge list → directed adjacency (src, dst), both ways."""
    return edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionByName(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))


def pagerank(
    edges: DataFrame,
    iters: int = PR_ITERS,
    damp_pct: int = PR_DAMP_PCT,
    scale: int = PR_SCALE,
) -> DataFrame:
    """Integer-domain PageRank over an undirected edge list.

    r_0 = scale DIV N for every edge-touched node;
    r_{i+1}(v) = teleport + (damp_pct · Σ_{u→v} (r_i(u) DIV deg(u))) DIV 100
    with teleport = ((100 − damp_pct) · (scale DIV N)) DIV 100.

    Every quantity is BIGINT, so the result is bit-identical across
    engines and shuffle orders. Undirected adjacency has no dangling
    nodes (every node has degree ≥ 1), so no dangling-mass term.

    Scale (r12 round shape, guide §2.4): the adjacency+degree table is
    hash-partitioned on ``src`` ONCE and cached — InMemoryRelation
    preserves its outputPartitioning, so the per-round join re-shuffles
    only the rank table, never the edge list. The zero-contribution
    completion (nodes no in-edge contribution reaches this round) is a
    ``unionByName`` of (node, 0) rows folded into the SAME aggregate
    that sums contributions — sum(0 + contribs) ≡ coalesce(s, 0) — so
    the old per-round second left join of ``nodes`` onto the summed
    contributions is gone: one aggregate Exchange per round. Per-round
    ``localCheckpoint`` truncates lineage so round k's plan does not
    replay rounds 1..k-1."""
    adj = _adjacency(edges)
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # adjacency+degree feeds every round: materialize once, pre-
    # partitioned on the join key
    adj_deg = adj.join(deg, "src").repartition("src").cache()
    nodes = deg.select(F.col("src").alias("node")).localCheckpoint()
    n = nodes.count()
    base = scale // n
    teleport = (100 - damp_pct) * base // 100
    ranks = nodes.select("node", F.lit(base).cast("long").alias("r"))
    zero = nodes.select(
        F.col("node").alias("dst"), F.lit(0).cast("long").alias("c")
    )
    for _ in range(iters):
        contrib = adj_deg.join(
            ranks, adj_deg.src == ranks.node
        ).select(F.col("dst"), F.expr("r DIV deg").alias("c"))
        ranks = (
            contrib.unionByName(zero)
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(teleport) + F.expr(f"{damp_pct} * s DIV 100"))
                .cast("long").alias("r"),
            )
            # lazy: materializes inside the NEXT round's broadcast
            # build (or the final sort) — one fewer job per round
            .localCheckpoint(eager=False)
        )
    adj_deg.unpersist()
    return ranks.select(F.col("node"), F.col("r").alias("rank_e12")).orderBy(
        F.desc("rank_e12"), "node"
    )


def connected_components(edges: DataFrame, max_iters: int = 20) -> DataFrame:
    """Min-label propagation to fixpoint: every node's label converges to
    the smallest node id in its component. Converges in O(diameter)
    rounds; the previous label rides through each round's checkpoint as
    ``prev`` so the early-stop changed-count is a scan of the
    materialized result, not another join.

    (History: the r5 pointer-jump attempt was measured a no-win under
    that round's join+agg+join round shape — see round 5 in
    ``git show 1a9d101:ROUND_NOTES.md``. The r12
    round-shape rewrite below made the jump nearly free — one extra
    broadcast-shaped join per round — and it now measurably cuts rounds
    (mutual-kNN CC 12 → 7); the jump in this function is the KEPT r12
    form, not a revival of the rejected r5 one.)

    Scale: min() is order-insensitive so no float discipline is needed.
    r12 round shape (guide §2.4): the adjacency is hash-partitioned on
    ``src`` ONCE and cached — InMemoryRelation preserves its
    outputPartitioning, so the per-round join never re-shuffles the
    edge list (the former checkpointed adjacency re-exchanged every
    round: ExistingRDD reports unknown partitioning). The round itself
    is join → unionByName(self rows) → ONE groupBy: new lbl =
    min(own, neighbor mins) falls out of the aggregate and the
    previous label rides along as max(marker) (the self row's lbl), so
    the old second left-join of labels onto neighbor_min is gone —
    one aggregate Exchange per round instead of join+agg+join."""
    adj = _adjacency(edges).repartition("src").cache()
    labels = adj.select(F.col("src").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    ).localCheckpoint()
    for _ in range(max_iters):
        propagate = adj.join(labels, adj.src == labels.node).select(
            F.col("dst").alias("node"), "lbl", F.lit(None).cast("long").alias("marker")
        )
        own = labels.select("node", "lbl", F.col("lbl").alias("marker"))
        # per-round localCheckpoint is LOAD-BEARING: each round references
        # ``labels`` twice (propagate + own), so without eager truncation
        # the logical plan doubles per round — analysis/planning goes
        # exponential (measured: heap OOM building the round-15 tree
        # string under cache(), which does not truncate lineage)
        agg = (
            propagate.unionByName(own)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"), F.max("marker").alias("prev"))
        )
        # POINTER JUMP (r12): relabel through the previous round's label
        # table — every lbl value is itself a node id, so old_lbl(lbl)
        # is a labels lookup that shortcuts label chains exponentially
        # (O(log diameter) rounds instead of O(diameter); the mutual-kNN
        # graph at sf0.1 needs 12 plain rounds, 7 with the jump). The
        # jump only ever LOWERS a label (old_lbl(x) ≤ x invariant), so
        # the fixpoint is unchanged: changed==0 forces the jump to be
        # the identity AND the propagation to be stable, which makes
        # labels per-component constant = the component min, exactly as
        # before. Left join + coalesce is defensive (lbl values are
        # always node ids); at cluster scale a converged component's
        # rows share one lbl key — AQE skew-join splits that partition.
        new_labels = (
            agg.join(
                labels.select(
                    F.col("node").alias("lbl"), F.col("lbl").alias("jlbl")
                ),
                "lbl",
                "left",
            )
            .select("node", F.coalesce("jlbl", "lbl").alias("lbl"), "prev")
            # lazy: the changed-count below is the materializing action
            # — checkpoint+count share ONE job per round
            .localCheckpoint(eager=False)
        )
        changed = new_labels.where(F.col("lbl") != F.col("prev")).count()
        labels = new_labels.select("node", "lbl")
        if changed == 0:
            break
    else:
        # Fail loudly: labels past the cap are NOT components (a diameter
        # > max_iters chain would silently split one component into
        # several and diverge from the exact recursive-CTE oracles).
        raise RuntimeError(
            f"connected_components: {changed} labels still changing after "
            f"{max_iters} rounds; raise max_iters for this graph's diameter"
        )
    # labels is already checkpoint-backed (round truncation); release
    # the adjacency cache so repeated invocations don't accumulate it
    adj.unpersist()
    return labels


# ---------------------------------------------------------------- queries


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    return pagerank(edges)


def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    comp = connected_components(edges)
    return (
        comp.groupBy("lbl")
        .agg(F.count(F.lit(1)).alias("n_nodes"), F.min("node").alias("min_node"))
        .select(
            F.col("lbl").alias("component"),
            "n_nodes",
        )
        .orderBy(F.desc("n_nodes"), "component")
    )


_EDGE_CTES = f"""
lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
    WHERE a.l_partkey < b.l_partkey
    GROUP BY u, v
    HAVING COUNT(DISTINCT a.l_orderkey) >= {MIN_SUPPORT}
),
adj AS (
    SELECT u AS src, v AS dst FROM edges
    UNION ALL
    SELECT v AS src, u AS dst FROM edges
),
deg AS (SELECT src, COUNT(*) AS deg FROM adj GROUP BY src),
nodes AS (SELECT src AS node FROM deg),
c AS (SELECT {PR_SCALE} // COUNT(*) AS base FROM nodes)
"""


def _pagerank_oracle(iters: int = PR_ITERS, damp_pct: int = PR_DAMP_PCT) -> str:
    """Unrolled iteration chain — one (sum, update) CTE pair per round,
    mirroring the Spark loop exactly in BIGINT arithmetic."""
    parts = [
        "WITH " + _EDGE_CTES.strip().rstrip(","),
        ",\nr0 AS (SELECT node, (SELECT base FROM c) AS r FROM nodes)",
    ]
    for i in range(iters):
        parts.append(
            f""",
s{i + 1} AS (
    SELECT a.dst AS node, SUM(r{i}.r // d.deg) AS s
    FROM adj a
    JOIN r{i} ON r{i}.node = a.src
    JOIN deg d ON d.src = a.src
    GROUP BY a.dst
),
r{i + 1} AS (
    SELECT n.node,
           (100 - {damp_pct}) * (SELECT base FROM c) // 100
           + {damp_pct} * COALESCE(s.s, 0) // 100 AS r
    FROM nodes n LEFT JOIN s{i + 1} s ON s.node = n.node
)"""
        )
    parts.append(
        f"""
SELECT node, CAST(r AS BIGINT) AS rank_e12
FROM r{iters}
ORDER BY rank_e12 DESC, node
"""
    )
    return "".join(parts)


_ORACLE_PAGERANK = _pagerank_oracle()

_ORACLE_COMPONENTS = (
    "WITH RECURSIVE "
    + _EDGE_CTES.strip().rstrip(",").replace("WITH ", "", 1)
    + """,
reach(node, lbl) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT a.dst AS node, r.lbl
    FROM reach r JOIN adj a ON a.src = r.node
),
comp AS (SELECT node, MIN(lbl) AS lbl FROM reach GROUP BY node)
SELECT lbl AS component, COUNT(*) AS n_nodes
FROM comp
GROUP BY lbl
ORDER BY n_nodes DESC, component
"""
)


# --- association rules ---------------------------------------------------------
RULE_TOP = 40


def association_rules(
    li: DataFrame, min_support: int = MIN_SUPPORT, top_n: int = RULE_TOP
) -> DataFrame:
    """Directed association rules a→b over frequent co-purchase pairs:
    confidence = supp(ab)/supp(a) and lift = confidence/P(b), the
    ranking behind "customers who bought X also bought Y". Both ratios
    are integer ppm (two-stage scaling for lift, whose numerator is a
    triple product) — no float division anywhere.

    Scale: item supports are one partial-agg groupBy; pair supports come
    from the basket-bounded self-join (shared with copurchase_edges);
    the rule table is |frequent pairs|·2 rows.
    """
    lp = li.select("l_orderkey", "l_partkey").distinct().localCheckpoint()
    n_orders = lp.select("l_orderkey").distinct().count()
    # lp distinct on (order, item) → COUNT == COUNT(DISTINCT) for both
    # the item and pair supports (see copurchase_edges)
    item_supp = lp.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("s"))
    a = lp.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = lp.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    pairs = (
        a.join(b, "ok")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("s_ab"))
        .where(F.col("s_ab") >= min_support)
    )
    # both directions: (u→v) and (v→u)
    directed = pairs.select(
        F.col("u").alias("ante"), F.col("v").alias("cons"), "s_ab"
    ).unionByName(
        pairs.select(F.col("v").alias("ante"), F.col("u").alias("cons"), "s_ab")
    )
    sa = item_supp.select(F.col("l_partkey").alias("ante"), F.col("s").alias("s_a"))
    sc = item_supp.select(F.col("l_partkey").alias("cons"), F.col("s").alias("s_c"))
    j = directed.join(sa, "ante").join(sc, "cons")
    conf_ppm = F.expr("s_ab * 1000000 DIV s_a")
    # lift = conf / (s_c/N) = (s_ab·N)/(s_a·s_c); two-stage ×1000
    lift_e6 = (
        F.expr("(s_ab * n_orders) * 1000 DIV (s_a * s_c)") * 1000
        + F.expr("((s_ab * n_orders) * 1000 % (s_a * s_c)) * 1000 DIV (s_a * s_c)")
    )
    return (
        j.withColumn("n_orders", F.lit(n_orders).cast("long"))
        .select(
            "ante",
            "cons",
            F.col("s_ab").cast("long").alias("support"),
            conf_ppm.cast("long").alias("confidence_ppm"),
            lift_e6.cast("long").alias("lift_e6"),
        )
        .orderBy(F.desc("lift_e6"), F.desc("confidence_ppm"), "ante", "cons")
        .limit(top_n)
    )


def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return association_rules(load_table(spark, sf_dir, "lineitem"))


_ORACLE_RULES = f"""
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n_ord AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM lp),
item_supp AS (
    SELECT l_partkey, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS s
    FROM lp GROUP BY l_partkey
),
pairs AS (
    SELECT a.l_partkey AS u, b.l_partkey AS v,
           CAST(COUNT(DISTINCT a.l_orderkey) AS BIGINT) AS s_ab
    FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
    WHERE a.l_partkey < b.l_partkey
    GROUP BY u, v
    HAVING COUNT(DISTINCT a.l_orderkey) >= {MIN_SUPPORT}
),
directed AS (
    SELECT u AS ante, v AS cons, s_ab FROM pairs
    UNION ALL
    SELECT v AS ante, u AS cons, s_ab FROM pairs
)
SELECT d.ante, d.cons, d.s_ab AS support,
       CAST(d.s_ab * 1000000 // sa.s AS BIGINT) AS confidence_ppm,
       CAST(((d.s_ab * n_orders) * 1000 // (sa.s * sc.s)) * 1000
            + ((d.s_ab * n_orders) * 1000 % (sa.s * sc.s)) * 1000
              // (sa.s * sc.s) AS BIGINT) AS lift_e6
FROM directed d
JOIN item_supp sa ON sa.l_partkey = d.ante
JOIN item_supp sc ON sc.l_partkey = d.cons, n_ord
ORDER BY lift_e6 DESC, confidence_ppm DESC, ante, cons
LIMIT {RULE_TOP}
"""


# --- frequent triples (A-priori level 3) -------------------------------------
TRIPLE_TOP = 50


def frequent_triples(
    li: DataFrame, min_support: int = MIN_SUPPORT, top_n: int = TRIPLE_TOP
) -> DataFrame:
    """Frequent 3-itemsets over order baskets with the A-priori prune:
    a triple is only COUNTED if all three of its 2-subsets are already
    frequent — the level-wise candidate cut that makes distributed
    frequent-itemset mining feasible (naive triple enumeration is
    Σ basket³; the prune bounds it by the frequent-pair graph).

    Scale: basket items self-join twice (bounded by basket size, never
    catalog²); the three semi-joins against the frequent-pair edge set
    ship keys only; support is one countDistinct aggregation.
    """
    edges = copurchase_edges(li, min_support)  # checkpointed internally
    lp = li.select("l_orderkey", "l_partkey").distinct()
    a = lp.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("a"))
    b = lp.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("b"))
    c = lp.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("c"))
    triples = (
        a.join(b, "ok")
        .where(F.col("a") < F.col("b"))
        .join(c, "ok")
        .where(F.col("b") < F.col("c"))
    )
    # A-priori: every 2-subset must be frequent
    e_ab = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e_bc = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e_ac = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    pruned = (
        triples.join(e_ab, ["a", "b"], "left_semi")
        .join(e_bc, ["b", "c"], "left_semi")
        .join(e_ac, ["a", "c"], "left_semi")
    )
    # per order each distinct item-triple is built exactly once (the
    # underlying (order, item) table is distinct) → plain COUNT is exact
    return (
        pruned.groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= min_support)
        .orderBy(F.desc("support"), "a", "b", "c")
        .limit(top_n)
    )


def q_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return frequent_triples(load_table(spark, sf_dir, "lineitem"))


_ORACLE_TRIPLES_L3 = f"""
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
    WHERE a.l_partkey < b.l_partkey
    GROUP BY u, v
    HAVING COUNT(DISTINCT a.l_orderkey) >= {MIN_SUPPORT}
),
tri AS (
    SELECT x.l_orderkey AS ok, x.l_partkey AS a, y.l_partkey AS b, z.l_partkey AS c
    FROM lp x
    JOIN lp y ON y.l_orderkey = x.l_orderkey AND x.l_partkey < y.l_partkey
    JOIN lp z ON z.l_orderkey = x.l_orderkey AND y.l_partkey < z.l_partkey
),
pruned AS (
    SELECT t.* FROM tri t
    WHERE EXISTS (SELECT 1 FROM edges e WHERE e.u = t.a AND e.v = t.b)
      AND EXISTS (SELECT 1 FROM edges e WHERE e.u = t.b AND e.v = t.c)
      AND EXISTS (SELECT 1 FROM edges e WHERE e.u = t.a AND e.v = t.c)
)
SELECT a, b, c, CAST(COUNT(DISTINCT ok) AS BIGINT) AS support
FROM pruned
GROUP BY a, b, c
HAVING COUNT(DISTINCT ok) >= {MIN_SUPPORT}
ORDER BY support DESC, a, b, c
LIMIT {TRIPLE_TOP}
"""


# --- link prediction ---------------------------------------------------------
LINK_TOP = 20


def link_prediction(edges: DataFrame, top_n: int = LINK_TOP) -> DataFrame:
    """Common-neighbor link prediction over an undirected graph: for every
    NON-adjacent node pair that shares at least one neighbor, the shared
    count and neighborhood Jaccard — the classic features behind
    "customers also bought" candidate generation and graph-completion
    training labels.

    Scale: candidate pairs exist only through the shared-neighbor
    equi-join (the n-gram-Jaccard shape applied to adjacency — never
    all-pairs); existing edges drop via anti-join; Jaccard is exact
    integer cross-multiplication, ppm for display.
    """
    adj = _adjacency(edges).localCheckpoint()
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    a = adj.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    b = adj.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    common = (
        a.join(b, "w")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    cand = common.join(edges, ["u", "v"], "left_anti")
    du = deg.select(F.col("src").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("src").alias("v"), F.col("deg").alias("deg_v"))
    return (
        cand.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "n_common",
            F.col("deg_u").cast("long").alias("deg_u"),
            F.col("deg_v").cast("long").alias("deg_v"),
            F.expr("n_common * 1000000 DIV (deg_u + deg_v - n_common)")
            .cast("long")
            .alias("jaccard_ppm"),
        )
        .orderBy(F.desc("n_common"), F.desc("jaccard_ppm"), "u", "v")
        .limit(top_n)
    )


def q_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return link_prediction(copurchase_edges(li))


_ORACLE_LINK_PRED = (
    "WITH "
    + _EDGE_CTES.strip().rstrip(",")
    + f""",
common AS (
    SELECT a.src AS u, b.src AS v, COUNT(*) AS n_common
    FROM adj a JOIN adj b ON a.dst = b.dst AND a.src < b.src
    GROUP BY a.src, b.src
),
cand AS (
    SELECT c.u, c.v, c.n_common
    FROM common c LEFT JOIN edges e ON e.u = c.u AND e.v = c.v
    WHERE e.u IS NULL
)
SELECT c.u, c.v, CAST(c.n_common AS BIGINT) AS n_common,
       CAST(du.deg AS BIGINT) AS deg_u, CAST(dv.deg AS BIGINT) AS deg_v,
       CAST(c.n_common * 1000000 // (du.deg + dv.deg - c.n_common) AS BIGINT)
           AS jaccard_ppm
FROM cand c JOIN deg du ON du.src = c.u JOIN deg dv ON dv.src = c.v
ORDER BY n_common DESC, jaccard_ppm DESC, u, v
LIMIT {LINK_TOP}
"""
)


# --- HITS over the customer→part bipartite graph -----------------------------
HITS_TOP = 20


def hits_bipartite(edges: DataFrame, top_n: int = HITS_TOP) -> DataFrame:
    """HITS hubs & authorities over the DIRECTED customer→part purchase
    graph: authorities are parts bought by strong hubs, hubs are
    customers who buy authoritative parts — the mutual-reinforcement
    ranking behind "power user / flagship product" detection. (The
    co-purchase graph is undirected, where HITS degenerates to repeated
    neighbor-sums; the bipartite purchase relation is the directed form
    the algorithm was built for.)

    Determinism: the textbook per-step normalization divides by a global
    positive scalar — which never changes the RANKING — so this
    implementation simply omits it and keeps raw BIGINT mutual sums
    (integer addition is exactly associative; any engine/shuffle order
    produces the same bits). Two full iterations:
    a1 = in-degree, h1 = Σ a1 over a customer's parts, a2 = Σ h1 over a
    part's buyers, h2 = Σ a2. Growth is geometric in max-degree (≤ deg²
    per iteration) — BIGINT holds to ~1e6-degree graphs at 2 iterations;
    past that, lift scores to DECIMAL(38) — the plan shape is unchanged.

    Scale: each half-step is one equi-join of the edge list onto a
    vertex-keyed score table plus one partial-agg groupBy — the PageRank
    round shape on a bipartite key set; the edge list is materialized
    once and reused by all four half-steps.
    """
    e = edges.localCheckpoint()
    a1 = e.groupBy("p").agg(F.count(F.lit(1)).alias("a1"))
    h1 = e.join(a1, "p").groupBy("c").agg(F.sum("a1").alias("h1"))
    a2 = e.join(h1, "c").groupBy("p").agg(F.sum("h1").alias("a2"))
    h2 = e.join(a2, "p").groupBy("c").agg(F.sum("a2").alias("h2"))
    auth = (
        a2.join(a1, "p")
        .select(
            F.lit("authority").alias("role"),
            F.col("p").cast("long").alias("node"),
            F.col("a1").cast("long").alias("score1"),
            F.col("a2").cast("long").alias("score2"),
        )
        .orderBy(F.desc("score2"), "node")
        .limit(top_n)
    )
    hub = (
        h2.join(h1, "c")
        .select(
            F.lit("hub").alias("role"),
            F.col("c").cast("long").alias("node"),
            F.col("h1").cast("long").alias("score1"),
            F.col("h2").cast("long").alias("score2"),
        )
        .orderBy(F.desc("score2"), "node")
        .limit(top_n)
    )
    return auth.unionByName(hub).orderBy("role", F.desc("score2"), "node")


def purchase_edges(orders: DataFrame, li: DataFrame) -> DataFrame:
    """Distinct customer→part edges through the order join."""
    return (
        orders.select("o_orderkey", "o_custkey")
        .join(li.select("l_orderkey", "l_partkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )


def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hits_bipartite(
        purchase_edges(
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem"),
        )
    )


_ORACLE_HITS = f"""
WITH e AS (
    SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
a1 AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS a1 FROM e GROUP BY p),
h1 AS (
    SELECT e.c, CAST(SUM(a1.a1) AS BIGINT) AS h1
    FROM e JOIN a1 ON a1.p = e.p GROUP BY e.c
),
a2 AS (
    SELECT e.p, CAST(SUM(h1.h1) AS BIGINT) AS a2
    FROM e JOIN h1 ON h1.c = e.c GROUP BY e.p
),
h2 AS (
    SELECT e.c, CAST(SUM(a2.a2) AS BIGINT) AS h2
    FROM e JOIN a2 ON a2.p = e.p GROUP BY e.c
),
auth AS (
    SELECT 'authority' AS role, CAST(a2.p AS BIGINT) AS node,
           a1.a1 AS score1, a2.a2 AS score2
    FROM a2 JOIN a1 ON a1.p = a2.p
    ORDER BY score2 DESC, node
    LIMIT {HITS_TOP}
),
hub AS (
    SELECT 'hub' AS role, CAST(h2.c AS BIGINT) AS node,
           h1.h1 AS score1, h2.h2 AS score2
    FROM h2 JOIN h1 ON h1.c = h2.c
    ORDER BY score2 DESC, node
    LIMIT {HITS_TOP}
)
SELECT * FROM (
    SELECT * FROM auth UNION ALL SELECT * FROM hub
)
ORDER BY role, score2 DESC, node
"""


# --- global clustering coefficient -------------------------------------------


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Global (transitivity) clustering coefficient of the co-purchase
    graph: C = 3·triangles / wedges, with wedges = Σ_v deg_v·(deg_v−1)/2
    — the one-number density summary that separates a clustered product
    space from a random one. Complements the raw ``triangle_count``
    query with the normalized statistic.

    Exactness: triangles and wedges are exact BIGINT counts (deg·(deg−1)
    is always even, so the /2 is exact integer DIV); the coefficient is
    a two-stage ppm.

    Scale: triangles via the canonical a<b<c wedge+closing-edge join
    (intermediates Σ deg², never edges²); wedges from one degree rollup.
    """
    e = edges.localCheckpoint()
    e1 = e.select(F.col("u").alias("x"), F.col("v").alias("y1"))
    e2 = e.select(F.col("u").alias("x"), F.col("v").alias("y2"))
    wedge_pairs = e1.join(e2, "x").where(F.col("y1") < F.col("y2"))
    closing = e.select(F.col("u").alias("y1"), F.col("v").alias("y2"))
    tri = wedge_pairs.join(closing, ["y1", "y2"]).agg(
        F.count(F.lit(1)).alias("n_tri")
    )
    deg = _adjacency(e).groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    wedges = deg.agg(
        F.sum(F.expr("deg * (deg - 1) DIV 2")).alias("n_wedges")
    )
    j = tri.crossJoin(F.broadcast(wedges)).select(
        F.col("n_tri").cast("long").alias("n_triangles"),
        # SUM over an empty deg rollup is NULL (edge-free graph): pin it
        # to 0 so the zero-wedge guard below actually fires there too.
        F.coalesce(F.col("n_wedges"), F.lit(0)).cast("long").alias("n_wedges"),
    )
    return j.select(
        "n_triangles",
        "n_wedges",
        # Wedge-free graph (all degrees <= 1) → coefficient defined as 0;
        # the guard also keeps ANSI mode from raising DivideByZeroError.
        F.expr(
            "CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT) ELSE "
            "CAST((3 * n_triangles * 1000 DIV n_wedges) * 1000"
            "     + (3 * n_triangles * 1000 % n_wedges) * 1000 DIV n_wedges"
            " AS BIGINT) END"
        ).alias("transitivity_ppm"),
    )


def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clustering_coefficient(
        copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    )


_ORACLE_CLUSTERING = (
    "WITH "
    + _EDGE_CTES.strip().rstrip(",")
    + """,
wedge_pairs AS (
    SELECT e1.u AS x, e1.v AS y1, e2.v AS y2
    FROM edges e1 JOIN edges e2 ON e2.u = e1.u AND e1.v < e2.v
),
tri AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_tri
    FROM wedge_pairs w JOIN edges c ON c.u = w.y1 AND c.v = w.y2
),
wedges AS (
    SELECT CAST(COALESCE(SUM(deg * (deg - 1) // 2), 0) AS BIGINT) AS n_wedges
    FROM deg
)
SELECT n_tri AS n_triangles, n_wedges,
       CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT) ELSE
       CAST((3 * n_tri * 1000 // n_wedges) * 1000
            + (3 * n_tri * 1000 % n_wedges) * 1000 // n_wedges AS BIGINT)
       END AS transitivity_ppm
FROM tri, wedges
"""
)


# --- degree assortativity -----------------------------------------------------


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity of the co-purchase graph: the Pearson
    correlation of endpoint degrees over every directed edge — positive
    means hubs link to hubs (assortative, social-network-like), negative
    means hubs link to leaves (disassortative, catalog-like). The
    standard one-number mixing summary next to transitivity.

    Exactness: degree moments over the directed edge list are exact
    BIGINT; r = num/(√dx·√dy) with two correctly-rounded sqrts and one
    product, floor-scaled e6 with the sign split out — the
    series_correlation discipline applied to edge-endpoint pairs.

    Scale: one degree rollup + one join of the edge list against it on
    each endpoint; all sums partial-aggregate.
    """
    adj = _adjacency(edges)
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    du = deg.select(F.col("src").alias("src"), F.col("deg").alias("dx"))
    dv = deg.select(F.col("src").alias("dst"), F.col("deg").alias("dy"))
    pairs = adj.join(du, "src").join(dv, "dst")
    mom = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    nd = mom.select(
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("dx2"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("dy2"),
    ).where((F.col("dx2") > 0) & (F.col("dy2") > 0))
    r = F.expr(
        "CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)"
        " * FLOOR(ABS(num) * 1000000 / (SQRT(dx2) * SQRT(dy2))) AS BIGINT)"
    )
    return nd.select(
        F.col("n").cast("long").alias("n_directed_edges"), r.alias("r_e6")
    )


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return degree_assortativity(
        copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    )


_ORACLE_ASSORTATIVITY = (
    "WITH "
    + _EDGE_CTES.strip().rstrip(",")
    + """,
pairs AS (
    SELECT du.deg AS dx, dv.deg AS dy
    FROM adj
    JOIN deg du ON du.src = adj.src
    JOIN deg dv ON dv.src = adj.dst
),
mom AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
           CAST(SUM(dx * dy) AS BIGINT) AS sxy,
           CAST(SUM(dx * dx) AS BIGINT) AS sxx,
           CAST(SUM(dy * dy) AS BIGINT) AS syy
    FROM pairs
),
nd AS (
    SELECT n, n * sxy - sx * sy AS num,
           n * sxx - sx * sx AS dx2, n * syy - sy * sy AS dy2
    FROM mom
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
)
SELECT n AS n_directed_edges,
       CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
            * FLOOR(ABS(num) * 1000000 / (SQRT(dx2) * SQRT(dy2))) AS BIGINT)
           AS r_e6
FROM nd
"""
)


# --- recommender evaluation (hit-rate@k) -------------------------------------

REC_TRAIN_PCT = 80
REC_K = 5
REC_MIN_SUPPORT = 2


def recsys_hitrate(
    orders: DataFrame,
    li: DataFrame,
    train_pct: int = REC_TRAIN_PCT,
    k: int = REC_K,
    min_support: int = REC_MIN_SUPPORT,
) -> DataFrame:
    """End-to-end offline evaluation of the co-purchase recommender:
    split orders temporally (first ``train_pct``% of the date range),
    mine directed association rules on TRAIN only, recommend each
    user's top-k unseen items (best rule confidence among rules whose
    antecedent the user already bought), and score hit-rate@k against
    the NEW items the user actually buys in TEST — the leakage-safe
    protocol (rules never see test orders; items the user already owns
    are excluded from both recommendations and targets).

    Exactness: the split boundary is integer-microsecond arithmetic;
    confidence is integer ppm; hit-rate is a two-stage ppm. Per-user
    ranking windows are bounded by the user's candidate count.

    Scale: rule mining is the basket-bounded self-join (shared shape
    with association_rules); candidate generation joins each user's
    train items against the rule table on the antecedent key — output
    bounded by Σ user_items × avg rules per item; everything aggregates
    with map-side partials.
    """
    us = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    # r12 (guide §1.2/§2.4): the split boundary is ONE scalar — collect
    # it (integer microseconds, exact) instead of broadcasting a 1-row
    # frame into every branch; each consumer of ``tagged`` was paying
    # the bounds aggregate + broadcast build again.
    tr_end = int(
        orders.agg(F.min(us).alias("t0"), F.max(us).alias("t1"))
        .select(F.expr(f"t0 + (t1 - t0) * {train_pct} DIV 100").alias("e"))
        .first()["e"]
    )
    tagged = orders.select(
        "o_orderkey",
        "o_custkey",
        (us <= F.lit(tr_end)).alias("is_train"),
    )
    items = li.select("l_orderkey", "l_partkey")
    # r12 (guide §2.4): ONE orders⋈lineitem join feeds train AND test —
    # previously the big join ran twice (once under the train filter for
    # ``base``, once under the test filter for ``test_ui``). The flagged
    # purchase table at (order, user, item, is_train) grain is distinct
    # per split side because order→user is functional and an order sits
    # entirely on one side of the time split. Checkpointing it at
    # derivation means no downstream view re-plans the big join — the
    # re-planned-subtree trap this module documents for copurchase_edges.
    purchases = (
        tagged.join(items, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("o_orderkey").alias("ok"),
            F.col("o_custkey").alias("u"),
            F.col("l_partkey").alias("item"),
            "is_train",
        )
        .distinct()
        .localCheckpoint()
    )
    base = purchases.where("is_train").select("ok", "u", "item")
    train_ui = base.select("u", "item").distinct().localCheckpoint()
    test_ui = (
        purchases.where(~F.col("is_train")).select("u", "item").distinct()
    )
    # targets: NEW items only (not already bought in train)
    targets = test_ui.join(train_ui, ["u", "item"], "left_anti").localCheckpoint()
    # directed rules mined on train baskets only — (ok, item) is already
    # distinct in base. r12 (guide §2.4): pairs come from per-order
    # BASKETS (one groupBy shuffle + an in-JVM pair expansion) instead of
    # the a⋈b self-join, which exchanged the purchase table twice and
    # joined; basket sizes are bounded (items per order), so the
    # expansion is the same x<y pair set with no shuffle at all.
    # lp is distinct on (order, item), so each order contributes a given
    # (x, y) at most once — plain COUNT equals COUNT(DISTINCT ok) exactly,
    # without the dedup aggregate's extra pass.
    baskets = base.groupBy("ok").agg(
        F.sort_array(F.collect_set("item")).alias("its")
    )
    # both rule directions come out of the expansion itself (i ≠ j
    # ordered pairs): the former x<y pair table was referenced twice by
    # the direction union, and with no cross-subtree reuse the whole
    # basket aggregate ran twice — one directed aggregate replaces
    # pair_supp + union outright (support of (x,y) equals (y,x), so the
    # min_support cut is direction-symmetric, exactly as before)
    directed = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(its, x -> "
                    "transform(filter(its, y -> y != x), "
                    "y -> struct(x, y))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.x").alias("ante"), F.col("p.y").alias("cons"))
        .agg(F.count(F.lit(1)).alias("s_ab"))
        .where(F.col("s_ab") >= min_support)
    )
    item_supp = base.groupBy(F.col("item").alias("l_partkey")).agg(
        F.count(F.lit(1)).alias("s")
    )
    # rules has exactly ONE consumer (the candidate join) — no
    # checkpoint: materializing it eagerly only added a sequential job
    # and a lineage cut AQE could not plan across (r12)
    rules = directed.join(
        item_supp.select(F.col("l_partkey").alias("ante"), F.col("s").alias("s_a")),
        "ante",
    ).select(
        "ante", "cons", F.expr("s_ab * 1000000 DIV s_a").alias("conf_ppm")
    )
    # candidates: best-confidence rule per (user, unseen cons)
    cand = (
        train_ui.join(rules, train_ui.item == rules.ante)
        .groupBy("u", "cons")
        .agg(F.max("conf_ppm").alias("conf_ppm"))
        .join(
            train_ui.select("u", F.col("item").alias("cons")),
            ["u", "cons"],
            "left_anti",
        )
    )
    w = Window.partitionBy("u").orderBy(F.desc("conf_ppm"), F.asc("cons"))
    recs = cand.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)
    # evaluation universe: users with >=1 train item AND >=1 new test item.
    # r12: distinct only the probe side — a left-semi probe table needs
    # no dedup (semi never multiplies), so train_ui passes through
    # un-distincted and one Exchange disappears.
    eval_users = targets.select("u").distinct().join(
        train_ui.select("u"), "u", "left_semi"
    )
    hits = (
        recs.join(targets, [recs.u == targets.u, recs.cons == targets.item])
        .select(recs.u)
        .distinct()
    )
    # r12: both counts in ONE pass over a tagged union — the former
    # crossJoin(broadcast(agg)) paid a separate broadcast-build job for
    # a single-row frame
    stats = (
        eval_users.select(F.lit(1).alias("t"))
        .unionByName(hits.select(F.lit(2).alias("t")))
        .agg(
            F.count(F.when(F.col("t") == 1, 1)).alias("n_users"),
            F.count(F.when(F.col("t") == 2, 1)).alias("n_hit"),
        )
    )
    return stats.select(
        F.lit(k).cast("int").alias("k"),
        F.col("n_users").cast("long").alias("n_users_eval"),
        F.col("n_hit").cast("long").alias("n_hit_users"),
        # Degenerate split (no user holds both train and test items):
        # hitrate defined as 0, guarded so ANSI mode cannot throw where
        # the DuckDB oracle would return NULL.
        F.expr(
            "CASE WHEN n_users = 0 THEN CAST(0 AS BIGINT) ELSE "
            "CAST((n_hit * 1000 DIV n_users) * 1000"
            "     + (n_hit * 1000 % n_users) * 1000 DIV n_users AS BIGINT)"
            " END"
        ).alias("hitrate_ppm"),
    )


def q_recsys_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return recsys_hitrate(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


_ORACLE_RECSYS = f"""
WITH b AS (
    SELECT MIN(epoch_us(o_orderdate)) + (MAX(epoch_us(o_orderdate))
               - MIN(epoch_us(o_orderdate))) * {REC_TRAIN_PCT} // 100 AS tr_end
    FROM orders
),
tr_o AS (SELECT o_orderkey, o_custkey FROM orders, b
         WHERE epoch_us(o_orderdate) <= tr_end),
te_o AS (SELECT o_orderkey, o_custkey FROM orders, b
         WHERE epoch_us(o_orderdate) > tr_end),
train_ui AS (
    SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS item
    FROM tr_o o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
test_ui AS (
    SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS item
    FROM te_o o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
targets AS (
    SELECT t.u, t.item FROM test_ui t
    LEFT JOIN train_ui tr ON tr.u = t.u AND tr.item = t.item
    WHERE tr.u IS NULL
),
lp AS (
    SELECT DISTINCT l.l_orderkey, l.l_partkey
    FROM lineitem l JOIN tr_o o ON o.o_orderkey = l.l_orderkey
),
pair_supp AS (
    SELECT a.l_partkey AS x, c.l_partkey AS y,
           CAST(COUNT(DISTINCT a.l_orderkey) AS BIGINT) AS s_ab
    FROM lp a JOIN lp c ON c.l_orderkey = a.l_orderkey
    WHERE a.l_partkey < c.l_partkey
    GROUP BY x, y
    HAVING COUNT(DISTINCT a.l_orderkey) >= {REC_MIN_SUPPORT}
),
item_supp AS (
    SELECT l_partkey, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS s
    FROM lp GROUP BY l_partkey
),
directed AS (
    SELECT x AS ante, y AS cons, s_ab FROM pair_supp
    UNION ALL
    SELECT y AS ante, x AS cons, s_ab FROM pair_supp
),
rules AS (
    SELECT d.ante, d.cons,
           CAST(d.s_ab * 1000000 // i.s AS BIGINT) AS conf_ppm
    FROM directed d JOIN item_supp i ON i.l_partkey = d.ante
),
cand0 AS (
    SELECT t.u, r.cons, MAX(r.conf_ppm) AS conf_ppm
    FROM train_ui t JOIN rules r ON r.ante = t.item
    GROUP BY t.u, r.cons
),
cand AS (
    SELECT c.u, c.cons, c.conf_ppm FROM cand0 c
    LEFT JOIN train_ui tr ON tr.u = c.u AND tr.item = c.cons
    WHERE tr.u IS NULL
),
recs AS (
    SELECT u, cons FROM (
        SELECT u, cons,
               ROW_NUMBER() OVER (PARTITION BY u
                                  ORDER BY conf_ppm DESC, cons) AS rk
        FROM cand
    ) WHERE rk <= {REC_K}
),
eval_users AS (
    SELECT DISTINCT t.u FROM train_ui t
    WHERE t.u IN (SELECT u FROM targets)
),
hits AS (
    SELECT DISTINCT r.u FROM recs r
    JOIN targets t ON t.u = r.u AND t.item = r.cons
),
stats AS (
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM eval_users) AS n_users,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hit
)
SELECT CAST({REC_K} AS INT) AS k,
       n_users AS n_users_eval, n_hit AS n_hit_users,
       CASE WHEN n_users = 0 THEN CAST(0 AS BIGINT) ELSE
       CAST((n_hit * 1000 // n_users) * 1000
            + (n_hit * 1000 % n_users) * 1000 // n_users AS BIGINT)
       END AS hitrate_ppm
FROM stats
"""


# --- k-core decomposition (fixed-round peeling) ------------------------------

KCORE_K = 3
KCORE_ITERS = 6


def kcore(edges: DataFrame, k: int = KCORE_K, iters: int = KCORE_ITERS) -> DataFrame:
    """k-core membership by iterative peeling: repeatedly drop nodes with
    degree < k (degrees recomputed within the surviving subgraph) — the
    standard dense-substructure filter for community seeds and spam/bot
    rings. A FIXED peel count is part of the operator contract (mirroring
    PR_ITERS): peeling cascades converge in a few rounds on co-purchase
    graphs, extra rounds are no-ops once converged, and the fixed count
    keeps the oracle an unrolled CTE chain. Emits each surviving node
    with its degree as measured in the final peel, plus a ``converged``
    flag (1 iff the last two survivor sets are identical in size) so a
    cascade deeper than the round budget is detectable instead of
    silently returning an under-peeled "core". ``converged = 0`` means
    UNVERIFIED, not wrong: count-equality needs one witness no-op round,
    so a cascade that reaches its fixed point exactly at round ``iters``
    reports 0 on a correct core — one extra round upgrades it to 1.

    Scale: each round is two semi-joins (edge endpoints against the
    survivor set) + one partial-agg degree count, lineage truncated per
    round with localCheckpoint — the PageRank round shape; no round ever
    materializes more than the live edge list.
    """
    if iters < 1:
        raise ValueError("kcore needs at least one peel round")
    adj = _adjacency(edges).localCheckpoint()
    nodes = adj.select(F.col("src").alias("node")).distinct().localCheckpoint()
    deg = None
    for _ in range(iters):
        prev_nodes = nodes
        surv = adj.join(
            nodes.select(F.col("node").alias("src")), "src", "left_semi"
        ).join(nodes.select(F.col("node").alias("dst")), "dst", "left_semi")
        deg = surv.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        nodes = (
            deg.where(F.col("deg") >= k)
            .select(F.col("src").alias("node"))
            .localCheckpoint()
        )
    # Converged iff the last peel removed nothing: survivor-set sizes of
    # rounds iters-1 and iters agree (peeling is monotone, so equal size
    # == identical set). One-row broadcast scalar join, same shape as the
    # clustering-coefficient normalizer.
    n_prev = prev_nodes.agg(F.count(F.lit(1)).alias("n_prev"))
    n_last = nodes.agg(F.count(F.lit(1)).alias("n_last"))
    conv = (
        n_prev.crossJoin(F.broadcast(n_last))
        .select(
            F.when(F.col("n_prev") == F.col("n_last"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("converged")
        )
    )
    return (
        deg.where(F.col("deg") >= k)
        .select(F.col("src").alias("node"), F.col("deg").cast("long").alias("deg"))
        .crossJoin(F.broadcast(conv))
        .orderBy(F.desc("deg"), "node")
    )


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kcore(copurchase_edges(load_table(spark, sf_dir, "lineitem")))


def _kcore_oracle(k: int = KCORE_K, iters: int = KCORE_ITERS) -> str:
    parts = [
        "WITH "
        + _EDGE_CTES.strip().rstrip(",")
        + ",\nn0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM adj)"
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
d{i} AS (
    SELECT a.src, COUNT(*) AS deg
    FROM adj a
    WHERE a.src IN (SELECT node FROM n{i - 1})
      AND a.dst IN (SELECT node FROM n{i - 1})
    GROUP BY a.src
),
n{i} AS MATERIALIZED (SELECT src AS node FROM d{i} WHERE deg >= {k})"""
        )
    parts.append(
        f""",
conv AS (
    SELECT CASE WHEN (SELECT COUNT(*) FROM n{iters - 1})
              = (SELECT COUNT(*) FROM n{iters})
           THEN 1 ELSE 0 END AS converged
)
SELECT src AS node, CAST(deg AS BIGINT) AS deg,
       CAST(conv.converged AS INT) AS converged
FROM d{iters}, conv
WHERE deg >= {k}
ORDER BY deg DESC, node
"""
    )
    return "".join(parts)


_ORACLE_KCORE = _kcore_oracle()


# --- seeded negative sampling -------------------------------------------------

NEG_K = 4
NEG_SEED = "neg-seed-1"


def negative_samples(
    positives: DataFrame,
    items: DataFrame,
    k: int = NEG_K,
    seed: str = NEG_SEED,
) -> DataFrame:
    """Deterministic negative sampling for recommendation / contrastive
    training: for every user with at least one positive interaction, draw
    ``k`` candidate items by content-stable hash (md5(seed|user|slot) mod
    |items|) and drop draws that collide with a true positive — the
    skip-gram-style negative generator, made reproducible (same seed →
    byte-identical training pairs on any engine/cluster; new seed →
    fresh draw). Collided slots are dropped, not redrawn (the standard
    slight-undersampling tradeoff; redraw loops are not oracle-able).

    ``positives`` = (c, p) interactions; ``items`` = the item dimension.

    Scale: users×k explode is map-only; the item lookup joins on a dense
    0..N−1 hash index built with two-phase distributed ranking
    (util.dense_global_index — range-repartition + per-partition offsets),
    so a web-scale item dimension never funnels through the
    single-partition sort a bare global row_number would plan; the
    positive collision check is one anti-join on (user, item).
    """
    from admob_data_pipeline_spark.operators.util import (
        broadcast_if_small,
        dense_global_index,
    )

    users = positives.select("c").distinct()
    idx = dense_global_index(
        items.select(F.col("p_partkey").alias("item")), ["item"]
    ).localCheckpoint()
    n_items = idx.count()
    cand = users.select(
        "c", F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("slot")
    ).select(
        "c",
        "slot",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.lit(seed),
                            F.col("c").cast("string"),
                            F.col("slot").cast("string"),
                        )
                    ),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("long")
            % n_items
        ).alias("idx"),
    )
    # n_items already counted idx above — pick the join strategy from it
    # directly instead of paying join_small's second count job.
    return (
        cand.join(broadcast_if_small(idx, n_items), "idx")
        .join(
            positives.select("c", F.col("p").alias("item")),
            ["c", "item"],
            "left_anti",
        )
        .select(
            F.col("c").cast("long").alias("user_id"),
            F.col("slot").cast("int").alias("slot"),
            F.col("item").cast("long").alias("neg_item"),
        )
        .orderBy("user_id", "slot")
    )


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    pos = purchase_edges(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    return negative_samples(pos, load_table(spark, sf_dir, "part"))


_ORACLE_NEG = f"""
WITH pos AS (
    SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
users AS (SELECT DISTINCT c FROM pos),
idx AS (
    SELECT p_partkey AS item,
           CAST(ROW_NUMBER() OVER (ORDER BY p_partkey) - 1 AS BIGINT) AS idx
    FROM part
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items FROM idx),
cand AS (
    SELECT u.c, s.slot,
           CAST('0x' || substr(md5('{NEG_SEED}' || '|'
                                   || CAST(u.c AS VARCHAR) || '|'
                                   || CAST(s.slot AS VARCHAR)), 1, 13)
                AS BIGINT) % n_items AS idx
    FROM users u, generate_series(0, {NEG_K - 1}) AS s(slot), n
)
SELECT CAST(cand.c AS BIGINT) AS user_id, CAST(cand.slot AS INT) AS slot,
       CAST(idx.item AS BIGINT) AS neg_item
FROM cand
JOIN idx ON idx.idx = cand.idx
LEFT JOIN pos ON pos.c = cand.c AND pos.p = idx.item
WHERE pos.c IS NULL
ORDER BY user_id, slot
"""


LPA_ROUNDS = 3


def label_propagation(edges: DataFrame, rounds: int = LPA_ROUNDS) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan
    et al. 2007), made deterministic for cross-engine parity: every
    node starts with its own id as label; each round, every node adopts
    the most frequent label among its NEIGHBORS, ties → smallest label
    (the argmax is ``min(struct(-count, label))`` — exactly the
    oracle's ``ROW_NUMBER ... ORDER BY n DESC, lbl`` first row).
    Updates are synchronous (all nodes flip on round k using round
    k−1's labels) and the round count is FIXED, so both engines compute
    the identical label table — the async random-order variant of the
    paper converges faster but is execution-order-dependent, the one
    thing a distributed correctness gate cannot allow. Output is the
    community audit: label, member count.

    Scale (r12 round shape, guide §2.4): the adjacency is
    hash-partitioned on ``dst`` ONCE and cached, so the per-round label
    join re-shuffles only the label table, never the edge list. The
    neighbor-label rows are then repartitioned on ``src`` alone —
    HashPartitioning(src) satisfies the clustering requirement of BOTH
    the (src, lbl) count and the per-src argmax aggregate, so the two
    groupBys share that single Exchange (the old shape paid one
    Exchange per aggregate). Per-round localCheckpoint truncates
    lineage. Communities emerge in O(diameter) rounds on the
    support-filtered co-purchase graph."""
    adj = _adjacency(edges).repartition("dst").cache()
    nodes = adj.select(F.col("src").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("lbl"))
    for _ in range(rounds):
        nbr = adj.join(labels, adj.dst == labels.node).select(
            "src", "lbl"
        )
        cnt = (
            nbr.repartition("src")
            .groupBy("src", "lbl")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        labels = (
            cnt.groupBy("src")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("n")).alias("neg_n"), F.col("lbl").alias("lbl")
                    )
                ).alias("m")
            )
            .select(F.col("src").alias("node"), F.col("m.lbl").alias("lbl"))
            # lazy: materializes inside the next round's label join
            .localCheckpoint(eager=False)
        )
    # labels is checkpoint-backed; release the cached adjacency
    adj.unpersist()
    return (
        labels.groupBy("lbl")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select(F.col("lbl").alias("community"), "n_nodes")
        .orderBy(F.desc("n_nodes"), "community")
    )


def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    return label_propagation(edges)


def _label_propagation_oracle(rounds: int = LPA_ROUNDS) -> str:
    """Unrolled synchronous LPA — one (count, argmax) CTE pair per
    round, the same shape as the pagerank oracle."""
    parts = [
        "WITH " + _EDGE_CTES.strip().rstrip(","),
        ",\nl0 AS (SELECT node, node AS lbl FROM nodes)",
    ]
    for i in range(rounds):
        parts.append(
            f""",
c{i + 1} AS (
    SELECT a.src, l.lbl, COUNT(*) AS n
    FROM adj a JOIN l{i} l ON l.node = a.dst
    GROUP BY a.src, l.lbl
),
l{i + 1} AS (
    SELECT src AS node, lbl FROM (
        SELECT src, lbl,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY n DESC, lbl) AS rn
        FROM c{i + 1}
    ) WHERE rn = 1
)"""
        )
    parts.append(
        f"""
SELECT lbl AS community, COUNT(*) AS n_nodes
FROM l{rounds}
GROUP BY lbl
ORDER BY n_nodes DESC, community
"""
    )
    return "".join(parts)


_ORACLE_LABEL_PROPAGATION = _label_propagation_oracle()


QUERIES = {
    "graph_pagerank": q_graph_pagerank,
    "graph_label_propagation": q_graph_label_propagation,
    "graph_components": q_graph_components,
    "graph_link_prediction": q_graph_link_prediction,
    "frequent_triples": q_frequent_triples,
    "association_rules": q_association_rules,
    "graph_hits": q_graph_hits,
    "graph_kcore": q_graph_kcore,
    "negative_samples": q_negative_samples,
    "recsys_hitrate": q_recsys_hitrate,
    "graph_clustering_coeff": q_clustering_coefficient,
    "graph_assortativity": q_degree_assortativity,
}

ORACLES = {
    "graph_pagerank": _ORACLE_PAGERANK,
    "graph_label_propagation": _ORACLE_LABEL_PROPAGATION,
    "graph_components": _ORACLE_COMPONENTS,
    "graph_link_prediction": _ORACLE_LINK_PRED,
    "frequent_triples": _ORACLE_TRIPLES_L3,
    "association_rules": _ORACLE_RULES,
    "graph_hits": _ORACLE_HITS,
    "graph_kcore": _ORACLE_KCORE,
    "negative_samples": _ORACLE_NEG,
    "recsys_hitrate": _ORACLE_RECSYS,
    "graph_clustering_coeff": _ORACLE_CLUSTERING,
    "graph_assortativity": _ORACLE_ASSORTATIVITY,
}
