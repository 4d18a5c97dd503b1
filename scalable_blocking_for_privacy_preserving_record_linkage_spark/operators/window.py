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

``candidate_pairs`` implements it in pure Catalyst: one window pass
computes each element's rank and opposite-predecessor count, then a BANDED
equi-join (bucket = party-rank / (W-1), each looker probes ≤2 buckets)
resolves the per-element range. Whole-stage codegen end to end, no Python,
and the blockID window reuses the purge stage's exchange. Its executable
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
    PURE CATALYST (whole-stage codegen, no Python in the hot path).

    Formulation: "pair each element with its W-1 nearest PRECEDING
    opposite-party elements" (the adaptive-window equivalence proved in
    the module docstring). Per element, with ``pos`` its rank in the
    block's total order and ``p_idx`` its rank within its own party,
    the count of opposite-party predecessors is ``opp_before = pos -
    p_idx``; its partners are the opposite-party elements with party-rank
    in ``[opp_before - W + 2, opp_before]``. That range is resolved with a
    BANDED equi-join — bucket = (party_rank - 1) / (W - 1), each looker
    probes at most two buckets — so the pair space never materializes
    beyond the true candidates. One window pass + one bounded self-join,
    both JVM-side; the window reuses the purge stage's hash(blockID)
    exchange.

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
    if k <= 0:
        return elements.sparkSession.createDataFrame(
            [], _PAIR_SCHEMA + ", blockID string, block_n bigint"
        )

    order = [F.col("score"), F.col("party"), F.col("recordID")]
    win_all = W.partitionBy("blockID").orderBy(*order)
    cum = win_all.rowsBetween(W.unboundedPreceding, W.currentRow)

    pos = F.row_number().over(win_all)
    cnt_a = F.sum(F.when(F.col("party") == "A", 1).otherwise(0)).over(cum)
    block_n = F.count(F.lit(1)).over(
        W.partitionBy("blockID").rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing
        )
    )
    e = elements.select(
        "blockID",
        "recordID",
        "party",
        pos.alias("pos"),
        F.when(F.col("party") == "A", cnt_a).otherwise(pos - cnt_a).alias("p_idx"),
        block_n.alias("block_n"),
    ).withColumn("opp_before", F.col("pos") - F.col("p_idx"))

    look = (
        e.where(F.col("opp_before") >= 1)
        .select(
            "blockID",
            "recordID",
            "party",
            "block_n",
            F.when(F.col("party") == "A", F.lit("B")).otherwise(F.lit("A")).alias("t_party"),
            F.greatest(F.lit(1), F.col("opp_before") - k + 1).alias("lo"),
            F.col("opp_before").alias("hi"),
        )
        .withColumn(
            "bucket",
            F.explode(
                F.array_distinct(
                    F.array(
                        F.floor((F.col("lo") - 1) / k),
                        F.floor((F.col("hi") - 1) / k),
                    )
                )
            ),
        )
    )
    tgt = e.select(
        "blockID",
        F.col("party").alias("t_party"),
        F.col("recordID").alias("t_id"),
        F.col("p_idx").alias("t_idx"),
        F.floor((F.col("p_idx") - 1) / k).alias("bucket"),
    )
    joined = look.join(tgt, ["blockID", "t_party", "bucket"]).where(
        F.col("t_idx").between(F.col("lo"), F.col("hi"))
    )
    return joined.select(
        F.when(F.col("party") == "A", F.col("recordID")).otherwise(F.col("t_id")).alias("record1"),
        F.when(F.col("party") == "A", F.col("t_id")).otherwise(F.col("recordID")).alias("record2"),
        F.col("blockID"),
        F.col("block_n"),
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
