"""Tree-statistics catalog queries (SURVEY.md §2.4 A5–A8, §2.5
O3–O5): the reference's per-tweet conversation-tree statistic suite
(`3_create_tweet_stats_i.py`) restated as distributed pair-expansion
aggregation, oracled by DuckDB recursive CTEs walking the identical
synthetic forest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from convoy_spark.functions.numeric import sql_davg, sql_dsum
from convoy_spark.operators.forest import (
    FOREST_SQL_CTE,
    UR_FOREST_SQL_CTE,
    forest_edges,
    ur_forest_edges,
)
from convoy_spark.operators.treestats import (
    descendant_pairs,
    leaf_nodes,
    tree_metric_mad,
    tree_stats,
    tree_stats_pandas,
)
from convoy_spark.queries.catalog import query
from convoy_spark.queries.shared import shared_build
from convoy_spark.tables import load_table

# The tree-family queries (tree_stats, tree_engagement,
# tree_metric_mad, root_stats_fastpath) all aggregate the SAME
# (anc_id, node_id, depth) pair expansion — O(log depth) frontier-join
# jobs each. Materialize it ONCE per (session, sf_dir) as a
# localCheckpointed frame and let every family member aggregate from
# it: the same shared-frame lesson as the SRP ANN exploded frame
# (similarity.py round-3 fix), applied across queries instead of
# within one. Results are identical (the expansion is deterministic);
# only the redundant recomputation goes away. The DuckDB oracles
# deliberately do NOT get the analogous treatment — each re-evaluates
# its recursive CTE — because the oracle exists for value comparison,
# not as the perf baseline's best case.
@shared_build("tree_pairs", family="tree")
def shared_descendant_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return descendant_pairs(forest_edges(spark, sf_dir)).localCheckpoint(
        eager=False
    )

# Every (ancestor, descendant, depth) pair incl. the depth-0 self pair
# — the oracle twin of operators.treestats.descendant_pairs, plus the
# leaf flag the statistics need.
PATHS_SQL_CTE = f"""
{FOREST_SQL_CTE},
paths(anc, node, depth) AS (
  SELECT child_id, child_id, 0 FROM forest
  UNION ALL
  SELECT p.anc, f.child_id, p.depth + 1
  FROM paths p JOIN forest f ON f.parent_id = p.node
),
parent_ids AS (
  SELECT DISTINCT parent_id AS id FROM forest WHERE parent_id IS NOT NULL
),
ep AS (
  SELECT p.anc, p.node, p.depth,
         CASE WHEN pa.id IS NULL THEN 1 ELSE 0 END AS is_leaf
  FROM paths p LEFT JOIN parent_ids pa ON p.node = pa.id
)
"""

_STRUCT_SQL = """
  CAST(COUNT(*) - 1 AS BIGINT) AS n_descendants,
  CAST(COALESCE(SUM(CASE WHEN is_leaf = 1 AND depth > 0 THEN 1 END), 0)
       AS BIGINT) AS n_leaf_descendants,
  CAST(MAX(depth) AS BIGINT) AS max_depth,
  CAST(COALESCE(SUM(CASE WHEN is_leaf = 1 AND depth > 0 THEN depth END), 0)
       AS BIGINT) AS sum_leaf_depth,
  CASE WHEN COALESCE(SUM(CASE WHEN is_leaf = 1 AND depth > 0 THEN 1 END), 0) > 0
       THEN CAST(SUM(CASE WHEN is_leaf = 1 AND depth > 0 THEN depth END)
                 AS DOUBLE)
            / SUM(CASE WHEN is_leaf = 1 AND depth > 0 THEN 1 END)
       ELSE 0.0 END AS mean_leaf_depth,
  CAST(COUNT(*) - 1 AS DOUBLE)
    / (COUNT(*) - COALESCE(SUM(CASE WHEN is_leaf = 1 AND depth > 0 THEN 1 END), 0))
    AS branching_factor
"""


@query(
    "tree_stats",
    oracle=f"""
    WITH RECURSIVE {PATHS_SQL_CTE}
    SELECT anc AS node_id, {_STRUCT_SQL}
    FROM ep GROUP BY anc
    """,
)
def tree_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node structural subtree statistics (A5/A8): descendants,
    leaf descendants, max/sum/mean leaf depth, branching factor —
    the reference's ``Tree.count_statistics`` DFS
    (`3_create_tweet_stats_i.py:64-139`) as one hash aggregation over
    the distributed pair expansion. The `.explain` shape is O(depth)
    small frontier joins followed by a single shuffle on ``anc_id``."""
    return tree_stats(
        forest_edges(spark, sf_dir),
        pairs=shared_descendant_pairs(spark, sf_dir),
    )


@query(
    "tree_stats_grouped",
    oracle=f"""
    WITH RECURSIVE {PATHS_SQL_CTE}
    SELECT anc AS node_id, {_STRUCT_SQL}
    FROM ep GROUP BY anc
    """,
)
def tree_stats_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grouped-map ``applyInPandas`` strategy against the SAME
    oracle as ``tree_stats`` — three independent physical strategies
    (pair expansion, level fold, per-tree pandas DFS), one semantic
    contract. This one mirrors the reference's per-conversation loop
    shape, distributed per tree."""
    return tree_stats_pandas(forest_edges(spark, sf_dir))


@query(
    "tree_engagement",
    oracle=f"""
    WITH RECURSIVE {PATHS_SQL_CTE}
    SELECT
      e.anc AS node_id,
      CAST(COUNT(*) - 1 AS BIGINT) AS n_descendants,
      CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_authors,
      {sql_dsum('o.o_totalprice')} AS metric_total,
      {sql_dsum('o.o_totalprice')} / COUNT(*) AS metric_mean
    FROM ep e JOIN orders o ON o.o_orderkey = e.node
    GROUP BY e.anc
    """,
)
def tree_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtree engagement rollup (A5 metric accumulators,
    `3_create_tweet_stats_i.py:112-127`): per-subtree metric totals,
    means over 1+descendants, and exact distinct authors — the
    ``countDistinct`` falls straight out of the pair expansion, no
    ``collect_set`` merging (the reference keeps per-node author sets
    in memory, `:70,100,120`)."""
    attrs = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("node_id"),
        F.col("o_custkey").alias("author_id"),
        F.col("o_totalprice").alias("metric"),
    )
    full = tree_stats(
        forest_edges(spark, sf_dir),
        attrs=attrs,
        pairs=shared_descendant_pairs(spark, sf_dir),
    )
    return full.select(
        "node_id", "n_descendants", "n_authors", "metric_total", "metric_mean"
    )


@query(
    "tree_metric_mad",
    oracle=f"""
    WITH RECURSIVE {PATHS_SQL_CTE},
    vals AS (
      SELECT p.anc, o.o_totalprice AS v
      FROM paths p JOIN orders o ON o.o_orderkey = p.node
    ),
    means AS (
      SELECT anc, {sql_davg('v')} AS metric_mean FROM vals GROUP BY anc
    )
    SELECT v.anc AS node_id, m.metric_mean,
           {sql_davg('abs(v.v - m.metric_mean)')} AS metric_mad
    FROM vals v JOIN means m ON v.anc = m.anc
    GROUP BY v.anc, m.metric_mean
    """,
)
def tree_metric_mad_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass subtree MAD (A6, ``Tree.count_mads``
    `3_create_tweet_stats_i.py:141-178`): subtree means, join back,
    mean absolute deviation — both passes shuffle on the same ancestor
    key so AQE reuses the partitioning."""
    attrs = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("node_id"),
        F.col("o_totalprice").alias("metric"),
    )
    return tree_metric_mad(
        forest_edges(spark, sf_dir),
        attrs,
        pairs=shared_descendant_pairs(spark, sf_dir),
    )


@query(
    "ur_tree_duality",
    oracle=f"""
    WITH RECURSIVE {UR_FOREST_SQL_CTE},
    paths(anc, node, depth) AS (
      SELECT child_id, child_id, 0 FROM forest
      UNION ALL
      SELECT p.anc, f.child_id, p.depth + 1
      FROM paths p JOIN forest f ON f.parent_id = p.node
    ),
    ur_paths(anc, node, depth) AS (
      SELECT child_id, child_id, 0 FROM ur_forest
      UNION ALL
      SELECT p.anc, f.child_id, p.depth + 1
      FROM ur_paths p JOIN ur_forest f ON f.parent_id = p.node
    ),
    plain AS (
      SELECT anc AS node_id,
             CAST(COUNT(*) - 1 AS BIGINT) AS n_descendants,
             CAST(MAX(depth) AS BIGINT) AS max_depth
      FROM paths GROUP BY anc
    ),
    ur AS (
      SELECT anc AS node_id,
             CAST(COUNT(*) - 1 AS BIGINT) AS ur_n_descendants,
             CAST(MAX(depth) AS BIGINT) AS ur_max_depth
      FROM ur_paths GROUP BY anc
    )
    SELECT p.node_id, p.n_descendants, p.max_depth,
           u.ur_n_descendants, u.ur_max_depth
    FROM plain p JOIN ur u ON p.node_id = u.node_id
    """,
)
def ur_tree_duality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's plain/ur statistic duality
    (`3_create_tweet_stats_i.py:29-62`): every tree metric exists
    twice — over the reply tree and over the extended ur tree where
    quote/retweet subtrees attach at roots. Two pair expansions over
    the two edge sets, joined per node; ur counts are always ≥ the
    plain counts (the ur forest only ADDS root attachments —
    property-checked in tests)."""
    plain = tree_stats(forest_edges(spark, sf_dir)).select(
        "node_id", "n_descendants", "max_depth"
    )
    ur = tree_stats(ur_forest_edges(spark, sf_dir)).select(
        F.col("node_id").alias("ur_nid"),
        F.col("n_descendants").alias("ur_n_descendants"),
        F.col("max_depth").alias("ur_max_depth"),
    )
    return plain.join(ur, plain.node_id == ur.ur_nid).select(
        "node_id",
        "n_descendants",
        "max_depth",
        "ur_n_descendants",
        "ur_max_depth",
    )


@query(
    "root_stats_fastpath",
    oracle=f"""
    WITH RECURSIVE {PATHS_SQL_CTE},
    roots AS (SELECT child_id AS id FROM forest WHERE parent_id IS NULL),
    childless AS (
      SELECT r.id FROM roots r
      LEFT JOIN parent_ids p ON r.id = p.id WHERE p.id IS NULL
    ),
    computed AS (
      SELECT anc AS node_id, {_STRUCT_SQL}
      FROM ep
      WHERE anc IN (SELECT id FROM roots)
        AND anc NOT IN (SELECT id FROM childless)
      GROUP BY anc
    )
    SELECT * FROM computed
    UNION ALL
    SELECT id AS node_id,
           CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT), 0.0, 0.0
    FROM childless
    """,
)
def root_stats_fastpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Singleton fast path (A7, `3_create_tweet_stats_i.py:304-352`):
    size-1 conversations take a constant-projection branch — no tree
    construction — unioned with the computed branch for real trees.
    Catalyst can't invent this split (SURVEY §4); it's an explicit
    plan branch, worth it because at 100 TB the majority of
    conversations are singletons and skip the iterative expansion
    entirely."""
    edges = forest_edges(spark, sf_dir)
    roots = edges.filter(F.col("parent_id").isNull()).select(
        F.col("child_id").alias("node_id")
    )
    # Childless roots = singletons: the cheap branch.
    singleton = roots.join(
        leaf_nodes(edges).select(F.col("node_id").alias("leaf_id")),
        F.col("node_id") == F.col("leaf_id"),
        "left_semi",
    ).select(
        "node_id",
        F.lit(0).cast("long").alias("n_descendants"),
        F.lit(0).cast("long").alias("n_leaf_descendants"),
        F.lit(0).cast("long").alias("max_depth"),
        F.lit(0).cast("long").alias("sum_leaf_depth"),
        F.lit(0.0).alias("mean_leaf_depth"),
        F.lit(0.0).alias("branching_factor"),
    )
    # Real trees: restrict the expansion to non-singleton roots.
    multi_roots = roots.join(
        singleton.select(F.col("node_id").alias("s_id")),
        F.col("node_id") == F.col("s_id"),
        "left_anti",
    )
    computed = tree_stats(
        edges, pairs=shared_descendant_pairs(spark, sf_dir)
    ).join(multi_roots, "node_id", "left_semi")
    return computed.unionByName(singleton)
