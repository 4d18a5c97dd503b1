"""Bloom-filter encoding of records and Dice matching of candidate pairs
(the reference's ``MetaBlocking.createBloomFilters`` / ``isMatch``,
/root/reference/src/main/java/com/algorithms/MetaBlocking.java:31-43,79-119).

Scale design:
* Encoding runs ONCE per record (pandas UDF over Arrow batches, memoized
  q-gram hashing) and materializes per-attribute filter cardinalities, so
  the per-PAIR work is join + pure-Catalyst bitset math only.
* The two attach-joins (pairs × AliceBlooms, pairs × BobBlooms,
  MetaBlocking.java:37-41) are plain shuffled equi-joins; the bloom side is
  repartitioned on the join key so AQE can coalesce/skew-split. On a real
  cluster the bloom table would be bucketed by recordID (SURVEY.md §2.3).
* ``isMatch`` becomes a whole-stage-codegen expression: per attribute
  ``2*|a∧b| >= t*(|a|+|b|)`` (division-free, exact for dyadic t) with the
  NaN-guard for empty filters; match iff >= ``matches_to_accept`` attributes
  pass (MetaBlocking.java:98-104).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import PPRLConfig
from ..functions import bloom


def with_blooms(
    df: DataFrame, keep: list[Column], cfg: PPRLConfig, side: str = ""
) -> DataFrame:
    """``keep`` plus ``bloom{side}_i`` and ``card{side}_i`` per blocking
    attribute, in ``cfg.bloom_representation``.

    One filter per blocking attribute (MetaBlocking.java:83-85); the
    cardinality is computed AT ENCODE TIME so the Dice denominator never
    recomputes per pair and only (bloom, card) rides the pair stream. The
    filters come from one projection with ``keep``, so a caller can put
    other pandas UDFs (the stream side's classify) in the same pass.
    """
    udf = bloom.clk_udf(cfg)
    out = df.select(
        *keep,
        *[
            udf(F.col(a).cast("string")).alias(f"bloom{side}_{i+1}")
            for i, a in enumerate(cfg.blocking_attrs)
        ],
    )
    return out.select(
        "*",
        *[
            bloom.cardinality_expr(f"bloom{side}_{i}", cfg.bloom_representation).alias(
                f"card{side}_{i}"
            )
            for i in range(1, cfg.num_attrs + 1)
        ],
    )


def encode_blooms(records: DataFrame, cfg: PPRLConfig) -> DataFrame:
    """(id, party, attr1..attrN, …) -> (recordID, party, bloom_i, card_i)."""
    keep = [F.col(cfg.id_col).cast("string").alias("recordID"), F.col("party")]
    return with_blooms(records, keep, cfg)


def split_blooms(blooms: DataFrame, cfg: PPRLConfig) -> tuple[DataFrame, DataFrame]:
    """Pre-split the bloom table into the two attach-join sides (Alice
    keyed as ``record1``, Bob as ``record2``) with the bloomA_*/bloomB_*
    column names ``score_joined`` expects.

    This is the projection to PERSIST as two bucketed catalog tables
    (Iceberg ``bucket(N, record1)`` / ``bucket(N, record2)``, or the
    parquet stand-in in ``sources/catalog.py``): each attach-join then
    reads co-located buckets and carries no Exchange on the bloom side —
    only the candidate-pair stream shuffles (plan gate in
    tests/test_plans.py)."""
    n = cfg.num_attrs

    def side(party: str, key: str) -> DataFrame:
        return blooms.where(F.col("party") == party).select(
            F.col("recordID").alias(key),
            *[F.col(f"bloom_{i}").alias(f"bloom{party}_{i}") for i in range(1, n + 1)],
            *[F.col(f"card_{i}").alias(f"card{party}_{i}") for i in range(1, n + 1)],
        )

    return side("A", "record1"), side("B", "record2")


def _attach_blooms(pairs: DataFrame, blooms: DataFrame, cfg: PPRLConfig) -> DataFrame:
    """(record1, record2) × blooms -> the two attach-joins: record1 takes
    the Alice-side filters, record2 the Bob-side (MetaBlocking.java:37-41)."""
    blooms_a, blooms_b = split_blooms(blooms, cfg)
    if cfg.broadcast_blooms:
        blooms_a, blooms_b = F.broadcast(blooms_a), F.broadcast(blooms_b)
    return pairs.join(blooms_a, "record1", "inner").join(blooms_b, "record2", "inner")


def match_candidates(pairs: DataFrame, blooms: DataFrame, cfg: PPRLConfig) -> DataFrame:
    """(record1, record2) × blooms -> matched pairs."""
    return score_joined(_attach_blooms(pairs, blooms, cfg), cfg)


def score_joined(joined: DataFrame, cfg: PPRLConfig) -> DataFrame:
    """Dice-score a frame that already carries (record1, record2,
    bloomA_i/cardA_i, bloomB_i/cardB_i) — shared by the batch join path
    and the stream-static path (streaming/jobs.py). Each attribute scores
    in the layout its columns carry; sides in different layouts raise."""
    passes = []
    for i in range(1, cfg.num_attrs + 1):
        a, b = f"bloomA_{i}", f"bloomB_{i}"
        layout, b_layout = bloom.filter_layout(joined, a), bloom.filter_layout(joined, b)
        if layout != b_layout:
            raise ValueError(
                f"{a} is {layout} but {b} is {b_layout}: "
                "encode both sides under one bloom_representation"
            )
        inter = bloom.intersection_expr(F.col(a), F.col(b), layout)
        passes.append(
            bloom.dice_pass_expr(
                inter, F.col(f"cardA_{i}"), F.col(f"cardB_{i}"), cfg.matching_threshold
            ).cast("int")
        )
    matched_fields = sum(passes[1:], passes[0]).alias("matched_fields")
    return joined.select("record1", "record2", matched_fields).where(
        F.col("matched_fields") >= cfg.matches_to_accept
    )
