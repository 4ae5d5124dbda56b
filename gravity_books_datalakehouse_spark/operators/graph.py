"""Graph centrality over the co-purchase graph — iterative PageRank.

Corpus-curation pipelines use link-graph centrality as a document
quality signal (the Common Crawl lineage: PageRank / harmonic
centrality over the web host graph decides crawl priority and feeds
quality filters). The same operator over this schema's natural graph —
parts connected when bought together in >= 2 orders — is the retail
reading: globally central products, not merely high-degree ones
(beyond-reference; the reference's analytics stop at per-group
aggregates, SURVEY.md §2.4, test_queries/test_queries.py has no graph
shape).

Algorithm: Page et al. 1999, damping d = 0.85, FIXED 5 power-iteration
sweeps from the uniform vector — fixed, not run-to-convergence, so the
computation is a deterministic function of the data and a DuckDB
oracle can replay it exactly as an unrolled CTE chain (the same
fixed-sweep contract as the Lloyd oracle, operators/kmeans.py). The
symmetrized co-purchase graph has no dangling nodes (every node in the
edge set has degree >= 1 and, by symmetry, in-degree >= 1), so the
update needs no dangling-mass redistribution term and every node
receives mass every sweep:

    r'(v) = 0.15/N + 0.85 * sum_{u -> v} r(u) / deg(u)

Scale shape (the part that matters at 100 TB):

- Pair generation is the basket-explode form (see
  plans/advanced_queries.q_basket_copurchase_lift): a narrow per-order
  expansion bounded by basket size squared, NEVER an all-pairs
  self-join of the item set.
- The edge list is localCheckpoint'ed ONCE, pre-joined with the
  out-degree (one shuffle on src) — per sweep, only the rank vector
  (one row per NODE, two small columns) shuffles to meet the stationary
  edge partitioning; the edge side never moves again. This is the
  canonical partitioned-adjacency PageRank layout.
- Each sweep ends in ``localCheckpoint()``: without it the lineage
  grows by a join + aggregate per sweep and Catalyst re-analyzes a
  nested plan (the dedup_semantic_kmeans / sim_mmr_rerank lesson —
  a guard test pins the final plan size).
- N reaches the per-row update via a broadcast one-row aggregate, not
  a driver collect.

Float caveat (same contract as the kmeans oracle): per-node sums run
in a different order on each engine, so ranks drift ~1e-15 relative,
compounding mildly over 5 sweeps. Both engines round to 6 dp before
the final ordering; with ranks of order 1/N >= 1e-6 at any plausible
SF for the support->=2 graph, the rounding boundary is ~7 orders above
the drift. Verified hash-identical at sf0.001/0.01/0.1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gravity_books_datalakehouse_spark.plans._cache import (
    checkpoint_by_rows,
    session_memo,
)
from gravity_books_datalakehouse_spark.plans.operator_queries import register
from gravity_books_datalakehouse_spark.sources.catalog import load_table

DAMPING = 0.85
N_SWEEPS = 5
MIN_SUPPORT = 2
TOP_K = 20

#: Edge rows per task for the shared edge list's layout (see
#: _cached_copurchase_edges): sized so one task's per-sweep join/agg
#: work clearly exceeds the task-scheduling quantum; the
#: rows/defaultParallelism cap keeps it scale-adaptive.
_EDGE_ROWS_PER_TASK = 20000


@session_memo
def _cached_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The support->=2 co-purchase edge list, built ONCE per
    session/scale and checkpointed (round-13 optimization, guide §2.4:
    all six graph ops — pagerank, triangles, label-prop, k-core, degree
    distribution, global stats — previously each re-ran the same
    basket-explode pair pipeline). Same memoization contract as the
    dedup shingle cache; the one-time cost is visible in the bench's
    cache_build_sec. Values identical: this IS copurchase_edges(),
    materialized."""
    # Round 14 (VERDICT r13 item 5): r13 pinned this frame to
    # defaultParallelism, which at 32 cores sliced a KB-scale edge
    # list into 32 micro-partitions — every sweep of the iterative
    # consumers then paid 32 tasks of scheduling floor, and the
    # 8-core run beat the 32-core run on op_graph_*. Lay it
    # out by src with a rows-derived width instead.
    return checkpoint_by_rows(
        spark,
        copurchase_edges(load_table(spark, sf_dir, "lineitem")),
        _EDGE_ROWS_PER_TASK,
        "src",
        keep_matching_width=False,
    )


def copurchase_edges(li: DataFrame, min_support: int = MIN_SUPPORT) -> DataFrame:
    """Symmetric directed edge list (src, dst) of parts co-purchased in
    >= ``min_support`` orders. Basket-explode pair generation: cost is
    sum(basket^2) over orders, not |items|^2."""
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("parts")
    )
    pairs = (
        baskets.select(F.explode("parts").alias("pa"), "parts")
        .select("pa", F.explode("parts").alias("pb"))
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= min_support)
    )
    return pairs.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionByName(pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))


def pagerank(edges: DataFrame, n_sweeps: int = N_SWEEPS) -> DataFrame:
    """(node, degree, r) after ``n_sweeps`` fixed power iterations over a
    symmetric edge list with no dangling nodes. Edge list + degree are
    checkpointed once; only the node-sized rank vector moves per sweep."""
    # materialize the (possibly expensive) upstream pair pipeline ONCE:
    # deg, the adjacency build, n_nodes, and the final degree join all
    # derive from it — without this checkpoint each re-runs the full
    # basket-explode (measured 11.6 s -> 4 s at sf0.1)
    edges = edges.localCheckpoint()
    deg = edges.groupBy("src").agg(F.count("*").alias("d")).localCheckpoint()
    # stationary adjacency: (src, dst, d), partitioned by src, reused
    # unchanged every sweep
    adj = edges.join(deg, "src").localCheckpoint()
    n_nodes = deg.agg(F.count("*").cast("double").alias("n"))
    ranks = (
        deg.select(F.col("src").alias("node"))
        .join(F.broadcast(n_nodes))
        .select("node", (F.lit(1.0) / F.col("n")).alias("r"))
    )
    for _ in range(n_sweeps):
        contrib = (
            adj.join(ranks, adj["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("d")).alias("mass"))
        )
        ranks = (
            contrib.join(F.broadcast(n_nodes))
            .select(
                F.col("dst").alias("node"),
                (
                    F.lit(1.0 - DAMPING) / F.col("n")
                    + F.lit(DAMPING) * F.col("mass")
                ).alias("r"),
            )
            .localCheckpoint()
        )
    return ranks.join(
        deg.select(F.col("src").alias("node"), F.col("d").alias("degree")),
        "node",
    )


def _pagerank_ctes() -> str:
    """Unrolled fixed-sweep oracle: r0 = uniform, r{k+1} from r{k} by the
    exact update rule. Mirrors pagerank() sweep for sweep."""
    ctes = [
        """items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2),
edges AS (SELECT pa AS src, pb AS dst FROM pairs
          UNION ALL
          SELECT pb AS src, pa AS dst FROM pairs),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY 1),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
r0 AS (SELECT src AS node, 1.0 / nn.n AS r FROM deg CROSS JOIN nn)"""
    ]
    for k in range(N_SWEEPS):
        ctes.append(
            f"""r{k + 1} AS (
  SELECT e.dst AS node,
         0.15 / MAX(nn.n) + 0.85 * SUM(p.r / deg.d) AS r
  FROM edges e
  JOIN r{k} p ON p.node = e.src
  JOIN deg ON deg.src = e.src
  CROSS JOIN nn
  GROUP BY e.dst)"""
        )
    return "WITH " + ",\n".join(ctes)


_PAGERANK_SQL = (
    _pagerank_ctes()
    + f"""
SELECT r.node AS part_key, p.p_name AS part_name, deg.d AS degree,
       ROUND(r.r, 6) AS pagerank
FROM r{N_SWEEPS} r
JOIN deg ON deg.src = r.node
JOIN part p ON p.p_partkey = r.node
ORDER BY ROUND(r.r, 6) DESC, r.node
LIMIT {TOP_K}"""
)


_TRIANGLES_SQL = """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
          SELECT pa AS node FROM pairs UNION ALL SELECT pb FROM pairs)
        GROUP BY 1),
tri AS (
  SELECT e1.pa AS u, e1.pb AS v, e2.pb AS w
  FROM pairs e1
  JOIN pairs e2 ON e2.pa = e1.pb
  JOIN pairs e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
pertri AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
             SELECT u AS node FROM tri
             UNION ALL SELECT v FROM tri
             UNION ALL SELECT w FROM tri)
           GROUP BY 1)
SELECT t.node AS part_key, p.p_name AS part_name, deg.d AS degree,
       t.triangles,
       CAST(2 * t.triangles AS DOUBLE) / (deg.d * (deg.d - 1))
         AS clustering_coeff
FROM pertri t
JOIN deg ON deg.node = t.node
JOIN part p ON p.p_partkey = t.node
ORDER BY t.triangles DESC, t.node
LIMIT 20"""


@register("op_graph_triangles", _TRIANGLES_SQL)
def op_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by triangle membership in the support->=2
    co-purchase graph, with the local clustering coefficient
    2T / (d(d-1)) — the community-density companion to
    op_graph_pagerank's centrality (triangle counting is the standard
    MapReduce graph kernel: Suri & Vassilvitskii, WWW'11, public).

    Exactness: unlike PageRank this is PURE integer math until one
    final IEEE division per output row, so the oracle comparison has
    zero float-drift surface — no rounding, no margins.

    Plan shape: triangles enumerate as u<v<w via two equi-joins over
    the canonical (min, max) edge list — the compact-forward ordering,
    which counts each triangle exactly once and never materializes a
    direction-doubled wedge set. Each join keys on a vertex, so Spark
    hash-partitions the wedge stream; the edge list is checkpointed
    once and reused by all three join legs and the degree count. Wedge
    skew concentrates on hub vertices — at production scale the
    standard mitigations apply unchanged (degree-ordered orientation,
    AQE skew split); the support filter already caps hub degree here.
    Per-node rollup explodes each triangle into its three members —
    3|T| rows, the algorithm's output size, not a blowup."""
    edges = _cached_copurchase_edges(spark, sf_dir)
    # canonical u<v form, one row per undirected edge
    e = (
        edges.where(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    per_node = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("triangles"))
    )
    names = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    return (
        per_node.join(deg, "node")
        .join(names, F.col("node") == F.col("p_partkey"))
        .select(
            F.col("node").alias("part_key"),
            F.col("p_name").alias("part_name"),
            F.col("d").cast("bigint").alias("degree"),
            "triangles",
            (
                (F.lit(2) * F.col("triangles")).cast("double")
                / (F.col("d") * (F.col("d") - 1))
            ).alias("clustering_coeff"),
        )
        .orderBy(F.desc("triangles"), F.asc("part_key"))
        .limit(20)
    )


@register("op_graph_pagerank", _PAGERANK_SQL)
def op_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most central parts in the support->=2 co-purchase graph by
    5-sweep PageRank (damping 0.85), with part name and graph degree.
    Final ordering on the 6-dp-rounded rank with part-key tiebreak runs
    as a TakeOrderedAndProject; the <=20-row name lookup is a broadcast
    join at the very end."""
    edges = _cached_copurchase_edges(spark, sf_dir)
    ranks = pagerank(edges)
    names = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    return (
        ranks.select(
            F.col("node").alias("part_key"),
            F.col("degree"),
            F.round(F.col("r"), 6).alias("pagerank"),
        )
        .join(
            F.broadcast(names), F.col("part_key") == F.col("p_partkey")
        )
        .select(
            "part_key",
            F.col("p_name").alias("part_name"),
            "degree",
            "pagerank",
        )
        .orderBy(F.desc("pagerank"), F.asc("part_key"))
        .limit(TOP_K)
    )


# --------------------------------------------------------------------------
# Community detection: synchronous label propagation (Raghavan, Albert &
# Kumara 2007), FIXED 4 sweeps so the computation is a deterministic
# function of the data (same fixed-sweep oracle contract as PageRank
# above and the Lloyd oracle in kmeans.py). Unlike PageRank this is
# PURE INTEGER math — neighbor-label counts and min-label tiebreaks —
# so the oracle comparison has zero float-drift surface.

LP_SWEEPS = 4


def label_propagation(edges: DataFrame, n_sweeps: int = LP_SWEEPS) -> DataFrame:
    """(node, lab) after ``n_sweeps`` synchronous LPA sweeps over a
    symmetric edge list: init lab(v) = v; each sweep every node adopts
    its neighbors' most frequent label, smallest label on ties. The
    deterministic synchronous variant — no RNG order, no async races —
    which is what makes it oracle-replayable; the known cost is that
    synchronous LPA can two-cycle on bipartite structure, which a fixed
    sweep count renders harmless (the sweep-4 state is well-defined
    either way).

    Scale shape mirrors pagerank(): the edge list is checkpointed once
    and stays put; per sweep only the node-sized (node, lab) vector
    shuffles to meet it, then one (dst, lab)-keyed count and one
    dst-partitioned argmin window. Label skew late in convergence
    (giant communities) concentrates the count's reduce side — the
    standard mitigation (count is already a two-phase partial agg;
    window keys on dst, not lab) is in place by construction."""
    edges = edges.localCheckpoint()
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    w = Window.partitionBy("dst").orderBy(F.desc("c"), F.asc("lab"))
    for _ in range(n_sweeps):
        counts = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy("dst", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("dst").alias("node"), "lab")
            .localCheckpoint()
        )
    return labels


def _labelprop_ctes() -> str:
    """Unrolled fixed-sweep LPA oracle over the same co-purchase edges."""
    ctes = [
        """items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2),
edges AS (SELECT pa AS src, pb AS dst FROM pairs
          UNION ALL
          SELECT pb AS src, pa AS dst FROM pairs),
l0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges)"""
    ]
    for k in range(LP_SWEEPS):
        ctes.append(
            f"""l{k + 1} AS (
  SELECT node, lab FROM (
    SELECT e.dst AS node, p.lab, COUNT(*) AS c
    FROM edges e JOIN l{k} p ON p.node = e.src
    GROUP BY 1, 2)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY node
                             ORDER BY c DESC, lab ASC) = 1)"""
        )
    return "WITH " + ",\n".join(ctes)


_LABELPROP_SQL = (
    _labelprop_ctes()
    + f"""
SELECT lab AS community,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       MIN(node) AS min_part,
       MAX(node) AS max_part
FROM l{LP_SWEEPS}
GROUP BY lab
ORDER BY n_members DESC, community"""
)


@register("op_graph_label_prop", _LABELPROP_SQL)
def op_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase communities by 4-sweep synchronous label propagation:
    one row per surviving community label with member count and the
    member-id range — the graph-clustering companion to
    op_graph_pagerank (centrality) and op_graph_triangles (density).
    The final rollup is community-cardinality-sized; ordering is a
    bounded sort."""
    from gravity_books_datalakehouse_spark.operators.sort import bounded_sort

    edges = _cached_copurchase_edges(spark, sf_dir)
    labels = label_propagation(edges)
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("node").alias("min_part"),
            F.max("node").alias("max_part"),
        )
        .transform(bounded_sort, F.desc("n_members"), F.asc("community"))
    )


# --------------------------------------------------------------------------
# k-core decomposition (Seidman 1983, "Network structure and minimum
# degree"; the distributed peeling form is the standard Pregel/GraphX
# kernel). The k-core is the maximal subgraph where every node keeps
# degree >= k AFTER the deletions cascade — a much stronger cohesion
# signal than raw degree (a hub wired to leaves has high degree and no
# core membership). Corpus reading: the dense co-purchase core is the
# "always bought together" backbone that survives any single product's
# removal.

# k=2 (the cyclic core): chosen so the statistic is non-trivial at
# every test scale — the support>=2 co-purchase graph thins as SF grows
# (survivors at k=2: 200 / 1535 / 5 across sf0.001/0.01/0.1; the 3-core
# is already empty at sf0.1, which would make the oracle check vacuous).
KCORE_K = 2
KCORE_SWEEPS = 4


def kcore_peel(edges: DataFrame, k: int = KCORE_K, n_sweeps: int = KCORE_SWEEPS) -> DataFrame:
    """(node, d) for nodes surviving ``n_sweeps`` synchronous peels of
    degree < ``k`` over a SYMMETRIC edge list; ``d`` is the residual
    in-subgraph degree after the last peel.

    Fixed sweeps, not run-to-convergence — the Lloyd/PageRank oracle
    contract: the result is a deterministic function of the data that
    an unrolled CTE chain replays exactly. (Peeling converges in at
    most |V| sweeps; on real co-purchase graphs the support filter
    makes 3-4 sweeps reach the fixpoint — if a caller needs the
    guaranteed fixpoint, loop until the survivor count stops moving,
    same per-sweep plan.)

    Scale shape: the edge list is checkpointed once; each sweep is one
    degree aggregate over the CURRENT subgraph (node-sized output) and
    one semi-join filtering both endpoints — edges only ever shrink,
    and nothing but (node, degree) pairs shuffle beyond the first
    edge partition. Per-sweep localCheckpoint keeps the lineage flat
    (the kmeans/MMR lesson)."""
    e = edges.localCheckpoint()
    for _ in range(n_sweeps):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.where(F.col("d") >= k).select("src")
        e = (
            e.join(keep, "src", "left_semi")
            .join(
                keep.select(F.col("src").alias("dst")), "dst", "left_semi"
            )
            .localCheckpoint()
        )
    return e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("core_degree")
    )


def _kcore_ctes(k: int = KCORE_K, n_sweeps: int = KCORE_SWEEPS) -> str:
    ctes = [
        """items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2),
e0 AS (SELECT pa AS src, pb AS dst FROM pairs
       UNION ALL
       SELECT pb AS src, pa AS dst FROM pairs)"""
    ]
    for i in range(1, n_sweeps + 1):
        ctes.append(
            f"""k{i} AS (SELECT src FROM e{i - 1} GROUP BY src
        HAVING COUNT(*) >= {k}),
e{i} AS (SELECT e.src, e.dst FROM e{i - 1} e
         JOIN k{i} a ON a.src = e.src
         JOIN k{i} b ON b.src = e.dst)"""
        )
    return "WITH " + ",\n".join(ctes)


_KCORE_SQL = (
    _kcore_ctes()
    + f"""
, full_deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e0 GROUP BY 1)
SELECT c.src AS part_key, p.p_name AS part_name,
       fd.d AS degree_full,
       CAST(COUNT(*) AS BIGINT) AS core_degree
FROM e{KCORE_SWEEPS} c
JOIN full_deg fd ON fd.src = c.src
JOIN part p ON p.p_partkey = c.src
GROUP BY c.src, p.p_name, fd.d
ORDER BY core_degree DESC, part_key
LIMIT 20"""
)


@register("op_graph_kcore", _KCORE_SQL)
def op_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 members of the {k}-core of the support->=2 co-purchase
    graph after 4 synchronous peel sweeps, with full vs residual
    degree — the cohesion companion to op_graph_pagerank (centrality),
    op_graph_triangles (local density) and op_graph_label_prop
    (communities). Pure integer math end to end: degrees, the >= k
    comparisons, and the survivor set have zero float surface, so the
    oracle comparison needs no rounding margins."""
    edges = _cached_copurchase_edges(spark, sf_dir)
    full_deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("degree_full")
    )
    core = kcore_peel(edges)
    names = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    return (
        core.join(full_deg, core["node"] == full_deg["src"])
        .join(names, F.col("node") == F.col("p_partkey"))
        .select(
            F.col("node").alias("part_key"),
            F.col("p_name").alias("part_name"),
            "degree_full",
            "core_degree",
        )
        .orderBy(F.desc("core_degree"), F.asc("part_key"))
        .limit(20)
    )


_DEGDIST_SQL = """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2),
edges AS (SELECT pa AS src, pb AS dst FROM pairs
          UNION ALL
          SELECT pb AS src, pa AS dst FROM pairs),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree FROM edges GROUP BY 1)
SELECT degree,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 6) AS share,
       ROUND(SUM(COUNT(*)) OVER (ORDER BY degree ROWS UNBOUNDED PRECEDING)
             * 1.0 / SUM(COUNT(*)) OVER (), 6) AS cum_share
FROM deg GROUP BY degree ORDER BY degree"""


@register("op_graph_degree_distribution", _DEGDIST_SQL)
def op_graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the support->=2 co-purchase graph:
    (degree, node count, share, cumulative share). The first thing to
    read off any large graph before running anything iterative on it —
    the tail decides skew strategy (a power-law hub list is what makes
    salting/AQE matter for the pagerank/k-core joins above), and the
    web-graph curation reading is the crawl-frontier degree audit.

    Exactness: degrees and node counts are integers; the two shares
    are single IEEE divisions of identical integers (the cumulative
    window runs over the DEGREE-sized histogram, identical cross-engine
    because degree is a unique, exactly-ordered key).

    Scale shape: basket-explode pair generation (never an all-pairs
    self-join), one groupBy(src) for degrees, then the histogram
    collapses to |distinct degrees| rows before the (tiny) cumulative
    window. Output is bounded by max degree, not corpus size."""
    deg = (
        _cached_copurchase_edges(spark, sf_dir)
        .groupBy("src")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    hist = deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_cum = Window.orderBy("degree").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        hist.select(
            "degree",
            "n_nodes",
            F.round(
                F.col("n_nodes") * F.lit(1.0) / F.sum("n_nodes").over(w_all),
                6,
            ).alias("share"),
            F.round(
                F.sum("n_nodes").over(w_cum)
                * F.lit(1.0)
                / F.sum("n_nodes").over(w_all),
                6,
            ).alias("cum_share"),
        )
        .orderBy("degree")
    )


# --------------------------------------------------------------------------
# One-row graph health report: global clustering coefficient (the
# transitivity 3T/W — Watts/Strogatz via the Newman formulation) and
# degree assortativity (Newman 2002, "Assortative mixing in networks").
# Everything reduces to INTEGER sufficient statistics over the edge
# list — triangle count, wedge count sum C(d,2), and the degree-product
# sums of the Pearson correlation across directed edges — so each
# output is exactly ONE IEEE division of exact integers: zero
# float-drift surface, like the triangles kernel. On the symmetrized
# edge relation Sx = Sy and Sxx = Syy, so assortativity collapses to
# (M*Sxy - Sx^2) / (M*Sxx - Sx^2) — no square root at all.

_GLOBAL_STATS_SQL = """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
          SELECT pa AS node FROM pairs UNION ALL SELECT pb FROM pairs)
        GROUP BY 1),
tri AS (
  SELECT COUNT(*) AS t
  FROM pairs e1
  JOIN pairs e2 ON e2.pa = e1.pb
  JOIN pairs e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
wed AS (SELECT SUM(d * (d - 1) / 2) AS w, COUNT(*) AS n_nodes FROM deg),
de AS (
  SELECT da.d AS du, db.d AS dv
  FROM pairs p
  JOIN deg da ON da.node = p.pa
  JOIN deg db ON db.node = p.pb),
sums AS (
  SELECT CAST(2 * COUNT(*) AS BIGINT) AS m,
         CAST(SUM(du + dv) AS BIGINT) AS sx,
         CAST(2 * SUM(du * dv) AS BIGINT) AS sxy,
         CAST(SUM(du * du + dv * dv) AS BIGINT) AS sxx
  FROM de)
SELECT CAST(wed.n_nodes AS BIGINT) AS n_nodes,
       CAST(sums.m / 2 AS BIGINT) AS n_edges,
       CAST(tri.t AS BIGINT) AS n_triangles,
       CAST(wed.w AS BIGINT) AS n_wedges,
       ROUND(3.0 * tri.t / wed.w, 6) AS global_clustering,
       ROUND(CAST(sums.m * sums.sxy - sums.sx * sums.sx AS DOUBLE)
             / (sums.m * sums.sxx - sums.sx * sums.sx), 6)
         AS degree_assortativity
FROM tri CROSS JOIN wed CROSS JOIN sums"""


@register("op_graph_global_stats", _GLOBAL_STATS_SQL)
def op_graph_global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row health report of the co-purchase graph: (n_nodes,
    n_edges, n_triangles, n_wedges, global_clustering,
    degree_assortativity). Global clustering = 3T/W is the
    transitivity the per-node top-20 (op_graph_triangles) can't show;
    assortativity answers "do hubs attach to hubs?" — negative means
    hub-leaf structure (typical for co-occurrence graphs), positive
    means a rich club, and the sign decides whether degree-ordered
    triangle orientation or hub-salting is the right scale lever.

    Exactness: T, W = sum C(d,2), and the Pearson sums over the
    symmetrized edge relation are all exact integers; symmetry gives
    Sx = Sy and Sxx = Syy, so assortativity is a single division of
    integers (no sqrt) and transitivity is one more — the same
    zero-drift contract as the triangles kernel.

    Plan shape: one basket-explode pair build (shared shape with every
    graph op), the compact-forward triangle join (u<v<w, each triangle
    once), a degree rollup, and one edges x degrees join for the
    moment sums — every stage keys on a vertex or is a scalar
    aggregate. At 100 TB the wedge skew mitigations of the triangle
    kernel apply unchanged; the report itself is one row."""
    edges = _cached_copurchase_edges(spark, sf_dir)
    e = (
        edges.where(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    wed = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("w"),
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
    )
    de = (
        e.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
        .select("du", "dv")
    )
    sums = de.agg(
        (F.lit(2) * F.count(F.lit(1))).cast("bigint").alias("m"),
        F.sum(F.col("du") + F.col("dv")).cast("bigint").alias("sx"),
        (F.lit(2) * F.sum(F.col("du") * F.col("dv"))).cast("bigint").alias("sxy"),
        F.sum(F.col("du") * F.col("du") + F.col("dv") * F.col("dv"))
        .cast("bigint")
        .alias("sxx"),
    )
    return (
        tri.crossJoin(wed)
        .crossJoin(sums)
        .select(
            "n_nodes",
            (F.col("m") / 2).cast("bigint").alias("n_edges"),
            F.col("t").alias("n_triangles"),
            F.col("w").alias("n_wedges"),
            F.round(F.lit(3.0) * F.col("t") / F.col("w"), 6).alias(
                "global_clustering"
            ),
            F.round(
                (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
                / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")),
                6,
            ).alias("degree_assortativity"),
        )
    )
