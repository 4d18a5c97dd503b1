"""Block-ID construction and block purging (phase 1b/1c of the reference).

* ``block_ids_from_arrays`` reproduces ``createBlockIDs``
  (``ReferenceSetBlocking.java:209-236``) over ``classify_wide``'s
  s-ordered cell arrays as a PURE CATALYST projection (transform +
  explode, no shuffle): cyclic adjacent pairing of a record's classIDs,
  blockID = lexicographically ordered ``"{c_i}-{c_(i+1 mod n)}"``,
  score = score_i + score_(i+1 mod n). The reference pairs entries in
  nondeterministic ``collect_list`` order (SURVEY.md §2.8.1); the array
  is ordered by sample index ``s`` at construction — the intended S1-S2,
  S2-S3, …, S12-S1 pairing, made deterministic.

* ``purge_blocks`` is the meta-blocking block-purge the north star requires
  (the reference has only the implicit both-parties purge of its inner join,
  ReferenceSetBlocking.java:120-122). It is one plan: a slim
  count-aggregate + semi-join, so hot blockIDs (duplicate boilerplate pages)
  are dropped BEFORE any wide rows or arrays materialize — this is the skew
  guard for the 10^12-scale shuffle.

Total order within a block is (score, party, recordID) — the reference's
Bob-first stable tiebreak (ReferenceSetBlocking.java:196-205) is
nondeterministic under Spark shuffles, so we define a total one
(documented divergence, SURVEY.md §2.6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PPRLConfig


def _cyclic_pair_expr(arr_col: str = "arr"):
    """Cyclic adjacent pairing over an s-ordered array<struct<s, classID,
    score>> column — the createBlockIDs transform as one expression."""
    arr = F.col(arr_col)
    n = F.size(arr)
    return F.transform(
        arr,
        lambda e, i: F.struct(
            F.concat_ws(
                "-",
                F.least(
                    e["classID"],
                    F.element_at(arr, ((i + 1) % n) + 1)["classID"],
                ),
                F.greatest(
                    e["classID"],
                    F.element_at(arr, ((i + 1) % n) + 1)["classID"],
                ),
            ).alias("blockID"),
            (e["score"] + F.element_at(arr, ((i + 1) % n) + 1)["score"]).alias(
                "score"
            ),
        ),
    )


def block_ids_from_arrays(classified_wide: DataFrame, cfg: PPRLConfig) -> DataFrame:
    """(recordID, party, arr) from ``classify_wide`` -> (blockID, recordID,
    party, score). A pure projection, so it runs in streaming append mode."""
    paired = classified_wide.select(
        "recordID", "party", F.explode(_cyclic_pair_expr("arr")).alias("b")
    )
    return paired.select(
        F.col("b.blockID").alias("blockID"),
        "recordID",
        "party",
        F.col("b.score").alias("score"),
    )


def purge_blocks(elements: DataFrame, cfg: PPRLConfig) -> DataFrame:
    """Keep only useful blocks: present in both parties (the reference's
    inner-join semantics, ReferenceSetBlocking.java:120-122) and, when
    ``cfg.purge_max_block_size`` is set, not oversized (skew guard).

    A SLIM groupBy(blockID) count aggregate (partial map-side combine,
    never co-locates a block's rows) computes the keep-verdicts, applied
    with a left_semi join (AQE broadcasts the verdict side when small). A
    degenerate hot block — exactly what the cap guards against — is
    dropped WITHOUT ever funneling its rows into one task, which a window
    aggregate would force.
    """
    stats = elements.groupBy("blockID").agg(
        F.sum(F.when(F.col("party") == "A", 1).otherwise(0)).alias("_nA"),
        F.sum(F.when(F.col("party") == "B", 1).otherwise(0)).alias("_nB"),
    )
    cond = (F.col("_nA") > 0) & (F.col("_nB") > 0)
    if cfg.purge_max_block_size is not None:
        cond = cond & ((F.col("_nA") + F.col("_nB")) <= cfg.purge_max_block_size)
    keep = stats.where(cond).select("blockID")
    return elements.join(keep, "blockID", "left_semi")
