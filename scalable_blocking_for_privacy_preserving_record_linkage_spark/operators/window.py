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

That equivalence admits two implementations, both here:

* ``candidate_pairs`` (DEFAULT) — pure Catalyst: one window pass computes
  each element's rank and opposite-predecessor count, then a BANDED
  equi-join (bucket = party-rank / (W-1), each looker probes ≤2 buckets)
  resolves the per-element range. Whole-stage codegen end to end, no
  Python, and the blockID window reuses the purge stage's exchange.
* ``candidate_pairs_kernel`` — the vectorized numpy kernel inside
  ``applyInPandas`` (grouped by blockID). Kept as the executable
  specification; tests assert both produce identical pair sets.

Pairs are emitted Alice-first (record1 = Alice id, record2 = Bob id,
MetaBlocking.java:64-68) and deduplicated across blocks
(``.distinct()``, MetaBlocking.java:35).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PPRLConfig

_PAIR_SCHEMA = "record1 string, record2 string"


def _window_pairs_block(pdf: pd.DataFrame, w: int) -> pd.DataFrame:
    # total order (score, party, recordID) — deterministic stand-in for the
    # reference's stable Bob-first tiebreak (SURVEY.md §2.6)
    pdf = pdf.sort_values(["score", "party", "recordID"], kind="mergesort")
    party = (pdf["party"].to_numpy() == "A")
    ids = pdf["recordID"].to_numpy()
    n = len(ids)
    k = w - 1
    if n < 2 or k <= 0:
        return pd.DataFrame({"record1": [], "record2": []}, dtype=object)

    out_r1: list[np.ndarray] = []
    out_r2: list[np.ndarray] = []
    pos_a = np.flatnonzero(party)        # sorted positions of Alice elements
    pos_b = np.flatnonzero(~party)
    for cur_pos, opp_pos, cur_is_a in ((pos_a, pos_b, True), (pos_b, pos_a, False)):
        if len(cur_pos) == 0 or len(opp_pos) == 0:
            continue
        # for each current element, number of opposite elements strictly before
        cnt = np.searchsorted(opp_pos, cur_pos)
        take = np.minimum(cnt, k)
        total = int(take.sum())
        if total == 0:
            continue
        # flat indices into opp_pos: for element e, slice [cnt-take, cnt)
        starts = np.repeat(cnt - take, take)
        offs = np.arange(total) - np.repeat(np.cumsum(take) - take, take)
        opp_idx = opp_pos[starts + offs]
        cur_idx = np.repeat(cur_pos, take)
        if cur_is_a:
            out_r1.append(ids[cur_idx])
            out_r2.append(ids[opp_idx])
        else:
            out_r1.append(ids[opp_idx])
            out_r2.append(ids[cur_idx])
    if not out_r1:
        return pd.DataFrame({"record1": [], "record2": []}, dtype=object)
    return pd.DataFrame(
        {"record1": np.concatenate(out_r1), "record2": np.concatenate(out_r2)}
    )


def candidate_pairs_kernel(elements: DataFrame, cfg: PPRLConfig) -> DataFrame:
    """applyInPandas reference implementation of the adaptive window —
    kept as the semantic cross-check for the Catalyst plan (tests assert
    both produce identical pair sets)."""
    w = cfg.window_size

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _window_pairs_block(pdf, w)

    pairs = elements.groupBy("blockID").applyInPandas(fn, schema=_PAIR_SCHEMA)
    return pairs.dropDuplicates(["record1", "record2"])


def candidate_edge_weights(elements: DataFrame, cfg: PPRLConfig) -> DataFrame:
    """(record1, record2, cbs_weight, arcs_weight) — the meta-blocking
    edge-weight table (CBS = co-occurring block count, ARCS = Σ 1/|block|)
    for inspection and threshold tuning."""
    return _weighted_pairs(elements, cfg)


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
    if cfg.min_cbs_weight <= 1 and cfg.min_arcs_weight is None:
        # default thresholds select every pair, so no weights are needed:
        # dedup the SLIM (record1, record2) stream directly — one exchange
        # of two string columns, nothing else rides the pipeline's fattest
        # shuffle
        return _raw_pairs(elements, cfg).select("record1", "record2").dropDuplicates(
            ["record1", "record2"]
        )
    agg = _weighted_pairs(elements, cfg)
    if cfg.min_cbs_weight > 1:
        agg = agg.where(F.col("cbs_weight") >= cfg.min_cbs_weight)
    if cfg.min_arcs_weight is not None:
        agg = agg.where(F.col("arcs_weight") >= cfg.min_arcs_weight)
    return agg.select("record1", "record2")


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


def _weighted_pairs(elements: DataFrame, cfg: PPRLConfig) -> DataFrame:
    """Meta-blocking edge weights (north-star; the reference only dedups,
    MetaBlocking.java:35): CBS = number of DISTINCT co-occurring blocks,
    ARCS = sum of 1/|block| over those distinct blocks. Cyclic pairing can
    emit the same blockID twice for one record (duplicate adjacent
    classIDs), so emissions first collapse per (pair, blockID) — otherwise
    one block counts as CBS=2 and double-adds its ARCS term. Two-level
    aggregate (partial map-side both levels); only the weighted-pruning /
    inspection paths pay it — the default candidate path takes the slim
    dropDuplicates route in ``candidate_pairs``."""
    pairs = _raw_pairs(elements, cfg)
    per_block = pairs.groupBy("record1", "record2", "blockID").agg(
        F.min("block_n").alias("_bn")
    )
    return per_block.groupBy("record1", "record2").agg(
        F.count(F.lit(1)).alias("cbs_weight"),
        F.sum(F.lit(1.0) / F.col("_bn")).alias("arcs_weight"),
    )
