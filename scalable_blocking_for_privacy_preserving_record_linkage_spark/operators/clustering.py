"""Transitive closure of match pairs into entity clusters.

The reference stops at pairs (Simulator.java:60-72 consumes counts only);
the north star requires entity CLUSTERS via iterative hash-join connected
components. We run large-star/small-star (Kiveris et al., *Connected
Components in MapReduce and Beyond*, SoCC 2014): O(log n) rounds even on
long chains, which is the shape of near-duplicate version chains. A
component is labelled with its smallest node id, in the ids' own type (a
bigint graph gets NUMERIC labels; a string cast would make "10" < "2").
``localCheckpoint`` truncates lineage each round so the plan does not grow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 14 rounds cover a 10^4-node path; reaching the cap raises rather than
# return a partial labelling
MAX_ROUNDS = 64


def connected_components(matches: DataFrame) -> DataFrame:
    """(record1, record2) -> (node, component) with component = min node id.

    record1 is an Alice id, record2 a Bob id. Node ids are namespaced
    ``"A:<id>"`` / ``"B:<id>"`` — the two parties are distinct id spaces
    (equal raw ids across parties is ground TRUTH, not identity,
    Simulator.java:62).
    """
    return _components(
        matches.select(
            F.concat(F.lit("A:"), F.col("record1")).alias("u"),
            F.concat(F.lit("B:"), F.col("record2")).alias("v"),
        )
    )


def canonical_clusters(ids: DataFrame, pairs: DataFrame) -> DataFrame:
    """One-column ``ids`` + near-dup ``pairs`` (id1, id2) in the same id
    space -> one row per id: (<id>, cluster_id = component min,
    cluster_size, is_canonical); an id without pairs is its own cluster.
    Sizes come from a slim groupBy + join, not a window (a boilerplate
    mega-cluster would funnel a window into one task)."""
    (id_col,) = ids.columns
    comp = _components(pairs.select(F.col("id1").alias("u"), F.col("id2").alias("v")))
    assign = ids.join(comp.withColumnRenamed("node", id_col), id_col, "left_outer").select(
        id_col, F.coalesce("component", id_col).alias("cluster_id")
    )
    sizes = assign.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return assign.join(sizes, "cluster_id").select(
        id_col,
        "cluster_id",
        "cluster_size",
        (F.col(id_col) == F.col("cluster_id")).cast("int").alias("is_canonical"),
    )


def _components(edges: DataFrame) -> DataFrame:
    """Undirected edges (u, v) -> (node, component = min node id).

    Edges are kept as child -> parent (u > v), and ``parent`` below is each
    child's smallest parent. Large star: every edge (u, v) re-points to
    v's smallest parent. Small star: u and all its parents point to u's
    smallest parent. A round is not one action: under AQE, building the
    round's ``localCheckpoint(eager=False)`` already runs the round's
    shuffle stages (5 jobs), and the exact fixed-point check then runs 3
    more over the checkpointed edges.
    """
    e = (
        edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    for _ in range(MAX_ROUNDS):
        parent = e.groupBy("u").agg(F.min("v").alias("m"))
        e = e.join(parent.withColumnRenamed("u", "v"), "v", "left").select(
            "u", F.coalesce("m", "v").alias("v")
        )
        parent = e.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            e.join(parent, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .unionByName(parent.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        if _is_star_forest(e):
            roots = e.select(F.col("v").alias("u"), "v").distinct()
            return e.unionByName(roots).toDF("node", "component")
    raise RuntimeError(f"connected components did not converge in {MAX_ROUNDS} rounds")


def _is_star_forest(e: DataFrame) -> bool:
    """One action: does every child have exactly one parent, and is no
    parent a child? A child that appears in any other edge fails."""
    roles = e.select(F.col("u").alias("node"), F.lit(True).alias("child")).unionByName(
        e.select(F.col("v").alias("node"), F.lit(False).alias("child"))
    )
    bad = roles.groupBy("node").agg(
        (F.bool_or("child") & (F.count(F.lit(1)) > 1)).alias("bad")
    )
    return not bad.agg(F.bool_or("bad")).first()[0]


def clusters_table(components: DataFrame) -> DataFrame:
    """(node, component) -> (component, members sorted, size)."""
    return components.groupBy("component").agg(
        F.array_sort(F.collect_list("node")).alias("members"),
        F.count(F.lit(1)).alias("size"),
    )
