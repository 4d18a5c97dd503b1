"""Hamming-LSH (HLSH) blocking over Bloom-filter segments — the
north-star's multi-pass LSH scheme (BASELINE.json ``north_star``), an
alternative blocking path to the reference-set classification the
reference uses (both feed the same Dice matcher).

Scheme (Durham et al., composite Bloom filter PPRL): per pass ``p``, a
seeded sample of ``bits_per_key`` bit positions is drawn from the
record's concatenated CLK segments; the extracted bits form the pass's
blocking key. Records agreeing on all sampled bits collide; similar
records (small Hamming distance) collide in at least one of the
``num_passes`` passes with high probability. Every pass is a pure
Catalyst projection (shift/mask on the packed int64 words — no Python),
and candidates come from one cross-party equi-join on (pass, key).

Collision probability for Hamming distance d over m bits:
P(one pass) = (1 - d/m)^bits_per_key, P(any) = 1 - (1-P)^num_passes.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PPRLConfig
from ..functions.bloom import filter_layout


def _bit_expr(cols: list[str], pos: int, m: int):
    """Bit ``pos`` of the virtual concatenation of per-attribute DENSE
    filters (array<bigint> of ceil(m/64) words): word shift + mask.
    The sparse layout takes the intersect-once path in ``hlsh_keys`` —
    same bit, same key, either wire format (property test in
    tests/test_bloom.py)."""
    seg, off = divmod(pos, m)
    word, bit = divmod(off, 64)
    return (
        F.shiftrightunsigned(F.element_at(F.col(cols[seg]), word + 1), bit)
        .bitwiseAND(F.lit(1))
    )


def hlsh_keys(
    blooms: DataFrame,
    cfg: PPRLConfig,
    num_passes: int = 8,
    bits_per_key: int = 16,
    seed: int | None = None,
) -> DataFrame:
    """(recordID, party, bloom_i...) -> (pass, key, recordID, party).

    One row per record per pass; ``key`` packs the sampled bits into a
    bigint. The (pass, positions) table is seeded and tiny — it lives in
    the plan as literals, no broadcast needed.
    """
    seed = cfg.seed if seed is None else seed
    n = cfg.num_attrs
    m = cfg.bloom_m
    # key packs bits_per_key bits into ONE signed bigint via shiftleft —
    # >= 64 would silently wrap and collapse distinct keys into shared
    # buckets (candidate inflation with no error)
    if not (1 <= bits_per_key <= 63):
        raise ValueError(f"bits_per_key must be in [1, 63], got {bits_per_key}")
    if bits_per_key > n * m:
        raise ValueError(
            f"bits_per_key={bits_per_key} exceeds total filter bits {n * m}"
        )
    cols = [f"bloom_{i+1}" for i in range(n)]
    sparse = filter_layout(blooms, cols[0]) == "sparse"
    rng = np.random.default_rng(seed * 1_000 + 77)
    # one draw per pass, SAME rng sequence for both layouts (keys must be
    # wire-format-independent — property test in tests/test_bloom.py)
    draws = [
        sorted(int(x) for x in rng.choice(n * m, size=bits_per_key, replace=False))
        for _ in range(num_passes)
    ]

    if sparse:
        base, key_exprs = _sparse_pass_keys(blooms, cols, m, draws)
    else:
        base = blooms
        key_exprs = []
        for positions in draws:
            key = F.lit(0).cast("bigint")
            for j, pos in enumerate(positions):
                key = key + F.shiftleft(_bit_expr(cols, pos, m).cast("bigint"), j)
            key_exprs.append(key)

    passes = [
        F.struct(F.lit(p).alias("pass"), key.alias("key"))
        for p, key in enumerate(key_exprs)
    ]
    return base.select(
        "recordID",
        "party",
        F.explode(F.array(*passes)).alias("pk"),
    ).select(
        F.col("pk.pass").alias("pass"), F.col("pk.key").alias("key"), "recordID", "party"
    )


def _sparse_pass_keys(blooms, cols, m, draws):
    """Pass keys over the SPARSE position layout without per-bit scans.

    The naive sparse formulation tests each of the num_passes *
    bits_per_key sampled bits with its own ``array_contains`` — 128
    linear scans of every record's position array (measured 2.3x slower
    than dense at sf0.1). Instead: per SEGMENT, intersect the record's
    positions ONCE with the union of all passes' sampled offsets in that
    segment (a tiny constant-folded literal array), materialize the
    near-empty hit arrays in one projection, then assemble every pass key
    from the hits via a <=bits_per_key-entry literal offset->2^j weight
    map. Expected hits per segment ~= |positions| * sampled/m << 1, so
    the per-pass aggregates are trivial; total per-record work drops from
    O(passes * bits * |positions|) to O(segments * |positions|).

    Returns (base DataFrame carrying recordID/party/_hlsh_hits_*, one key
    Column per pass over that base).
    """
    seg_offs: dict[int, set[int]] = {}
    weights: dict[tuple[int, int], dict[int, int]] = {}
    for p, positions in enumerate(draws):
        for j, pos in enumerate(positions):
            seg, off = divmod(pos, m)
            seg_offs.setdefault(seg, set()).add(off)
            weights.setdefault((p, seg), {})[off] = 1 << j

    hit_cols = {
        s: F.array_intersect(
            F.col(cols[s]),
            F.array(*[F.lit(o).cast("smallint") for o in sorted(offs)]),
        ).alias(f"_hlsh_hits_{s}")
        for s, offs in sorted(seg_offs.items())
    }
    base = blooms.select("recordID", "party", *hit_cols.values())

    zero = F.lit(0).cast("bigint")

    def _weight_sum(wmap):
        # closure (not a default arg — pyspark counts lambda params)
        return lambda acc, x: acc + F.coalesce(
            F.element_at(wmap, x.cast("int")), zero
        )

    key_exprs = []
    for p in range(len(draws)):
        key = zero
        for s in sorted(seg_offs):
            w = weights.get((p, s))
            if not w:
                continue
            wmap = F.create_map(
                *[
                    lit
                    for off, wt in sorted(w.items())
                    for lit in (F.lit(off), F.lit(wt).cast("bigint"))
                ]
            )
            key = key + F.aggregate(
                F.col(f"_hlsh_hits_{s}"), zero, _weight_sum(wmap)
            )
        key_exprs.append(key)
    return base, key_exprs


def hlsh_candidate_pairs(
    blooms: DataFrame,
    cfg: PPRLConfig,
    num_passes: int = 8,
    bits_per_key: int = 16,
    seed: int | None = None,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Cross-party candidate pairs from HLSH bucket collisions.

    (record1 = Alice id, record2 = Bob id, distinct.) ``max_bucket_size``
    purges degenerate buckets (e.g. the all-zeros key from empty
    filters) — the same skew guard as block purging.
    """
    keys = hlsh_keys(blooms, cfg, num_passes, bits_per_key, seed)
    if max_bucket_size is not None:
        # slim count-aggregate + left_semi join (NOT a window): the purge
        # exists precisely for degenerate hot buckets (e.g. the all-zeros
        # key), and a window would co-locate such a bucket on one task
        # before dropping it — the aggregate never does
        keep = (
            keys.groupBy("pass", "key")
            .count()
            .where(F.col("count") <= max_bucket_size)
            .select("pass", "key")
        )
        keys = keys.join(keep, ["pass", "key"], "left_semi")
    a = keys.where(F.col("party") == "A").select(
        "pass", "key", F.col("recordID").alias("record1")
    )
    b = keys.where(F.col("party") == "B").select(
        "pass", "key", F.col("recordID").alias("record2")
    )
    return (
        a.join(b, ["pass", "key"])
        .select("record1", "record2")
        .dropDuplicates(["record1", "record2"])
    )
