"""Sorted-neighborhood candidate generation (the reference's
``createPossibleMatches``,
/root/reference/src/main/java/com/algorithms/MetaBlocking.java:48-76).

Semantics. Within a block sorted ascending by score, element *i* scans its
predecessors with a window that STARTS at ``WINDOW_SIZE`` and grows by one
for every same-party element encountered (MetaBlocking.java:70-72). That
adaptive rule is exactly equivalent to: *pair each element with its
``WINDOW_SIZE - 1`` nearest PRECEDING opposite-party elements* (proof: the
scan continues while ``steps <= W + same_seen - 2``, and steps =
same_seen + opp_seen, so it stops once ``opp_seen = W - 1``).

``candidate_pairs`` implements it in pure Catalyst, with no join: after one
hash(blockID) exchange, a window over (blockID, party) collects each
element's last ``W - 1`` own-party ids (itself included); a window over the
block then hands every element that list from the nearest preceding
opposite-party element, which is exactly its ``W - 1`` nearest preceding
opposite-party elements, and an explode emits the pairs. Its executable
specification, a numpy kernel per block, is ``tests/window_kernel.py``.

Pairs are emitted Alice-first (record1 = Alice id, record2 = Bob id,
MetaBlocking.java:64-68) and deduplicated across blocks
(``.distinct()``, MetaBlocking.java:35).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PPRLConfig

_PAIR_SCHEMA = "record1 string, record2 string"


def candidate_pairs(elements: DataFrame, cfg: PPRLConfig) -> DataFrame:
    """(blockID, recordID, party, score) -> distinct (record1, record2) —
    PURE CATALYST (JVM operators only, no Python in the hot path).

    Formulation: "pair each element with its W-1 nearest PRECEDING
    opposite-party elements" (the adaptive-window equivalence proved in
    the module docstring), built from two window functions over one
    hash(blockID) exchange and an explode; the pair dedup is the second
    and last exchange.

    record1 is always the Alice id, record2 the Bob id
    (MetaBlocking.java:64-68).
    """
    # dedup the SLIM (record1, record2) stream directly: one exchange of
    # two string columns, nothing else rides the pipeline's fattest shuffle
    return _raw_pairs(elements, cfg).select("record1", "record2").dropDuplicates(
        ["record1", "record2"]
    )


def _raw_pairs(elements: DataFrame, cfg: PPRLConfig) -> DataFrame:
    """Window pair emissions with block context: (record1, record2,
    blockID, block_n) — one row per in-window (looker, target) encounter,
    possibly repeated across (and, for duplicate elements, within)
    blocks."""
    from pyspark.sql import Window as W

    k = cfg.window_size - 1
    if k <= 0:  # rowsBetween(1 - k, 0) would be an invalid frame
        return elements.sparkSession.createDataFrame(
            [], _PAIR_SCHEMA + ", blockID string, block_n bigint"
        )

    order = ("score", "party", "recordID")
    # own: the last k ids of the element's own party, itself included
    own = F.collect_list("recordID").over(
        W.partitionBy("blockID", "party").orderBy(*order).rowsBetween(1 - k, 0)
    )
    in_block = W.partitionBy("blockID").orderBy(*order)
    before = in_block.rowsBetween(W.unboundedPreceding, -1)

    def nearest(party: str):
        """The k nearest preceding ``party`` ids: the ``own`` list of the
        last ``party`` element before this one."""
        own_of_party = F.when(F.col("party") == party, F.col("own"))
        return F.last(own_of_party, ignorenulls=True).over(before)

    # hash(blockID) satisfies both windows' distributions: one exchange
    e = elements.repartition("blockID").select(
        "blockID", "recordID", "party", "score", own.alias("own")
    )
    is_a = F.col("party") == "A"
    e = e.select(
        "blockID",
        "recordID",
        "party",
        F.count(F.lit(1)).over(
            in_block.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        ).alias("block_n"),
        F.when(is_a, nearest("B")).otherwise(nearest("A")).alias("t_ids"),
    ).select("blockID", "recordID", "party", "block_n", F.explode("t_ids").alias("t_id"))
    return e.select(
        F.when(is_a, F.col("recordID")).otherwise(F.col("t_id")).alias("record1"),
        F.when(is_a, F.col("t_id")).otherwise(F.col("recordID")).alias("record2"),
        "blockID",
        "block_n",
    )


def candidate_edge_weights(elements: DataFrame, cfg: PPRLConfig) -> DataFrame:
    """(record1, record2, cbs_weight, arcs_weight): the meta-blocking
    edge-weight table (north-star; the reference only dedups,
    MetaBlocking.java:35). CBS = number of DISTINCT co-occurring blocks,
    ARCS = sum of 1/|block| over those distinct blocks. Cyclic pairing can
    emit the same blockID twice for one record (duplicate adjacent
    classIDs), so emissions first collapse per (pair, blockID); otherwise
    one block counts as CBS=2 and double-adds its ARCS term. Two-level
    aggregate (partial map-side both levels). For inspection and weighted
    pruning, e.g. ``.where(cbs_weight >= 2)``; ``candidate_pairs`` never
    pays it."""
    pairs = _raw_pairs(elements, cfg)
    per_block = pairs.groupBy("record1", "record2", "blockID").agg(
        F.min("block_n").alias("_bn")
    )
    return per_block.groupBy("record1", "record2").agg(
        F.count(F.lit(1)).alias("cbs_weight"),
        F.sum(F.lit(1.0) / F.col("_bn")).alias("arcs_weight"),
    )
