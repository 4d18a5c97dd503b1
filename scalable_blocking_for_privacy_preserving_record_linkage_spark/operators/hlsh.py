"""Hamming-LSH (HLSH) blocking over Bloom-filter segments — the
north-star's multi-pass LSH scheme (BASELINE.json ``north_star``), an
alternative blocking path to the reference-set classification the
reference uses (both feed the same Dice matcher).

Scheme (Durham et al., composite Bloom filter PPRL): per pass ``p``, a
seeded sample of ``bits_per_key`` bit positions is drawn from the
record's concatenated CLK segments; the extracted bits form the pass's
blocking key. Records agreeing on all sampled bits collide; similar
records (small Hamming distance) collide in at least one of the
``num_passes`` passes with high probability. The keys are two Catalyst
projections written as SQL strings (no Python, and a handful of driver
round trips to build however many passes and bits), and candidates come
from one cross-party equi-join on (pass, key).

Collision probability for Hamming distance d over m bits:
P(one pass) = (1 - d/m)^bits_per_key, P(any) = 1 - (1-P)^num_passes.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PPRLConfig
from ..functions.bloom import filter_layout


def hlsh_keys(
    blooms: DataFrame,
    cfg: PPRLConfig,
    num_passes: int = 8,
    bits_per_key: int = 16,
    seed: int | None = None,
) -> DataFrame:
    """(recordID, party, bloom_i...) -> (pass, key, recordID, party).

    One row per record per pass; ``key`` is the sum of ``2^j`` over the
    pass's sampled bits ``j`` that are set. Projection 1 computes, per
    filter segment, the HITS: which of the segment's sampled offsets (the
    union over all passes, a literal array) are set. Expected hits per
    segment are far below one, so projection 2 assembles every pass key
    from them through a literal offset -> ``2^j`` map. The wire format
    decides only the hits expression: ``array_intersect`` with the
    sparse positions, or a word shift + mask per offset on the dense words.
    """
    seed = cfg.seed if seed is None else seed
    n = cfg.num_attrs
    m = cfg.bloom_m
    # key packs bits_per_key bits into ONE signed bigint —
    # >= 64 would silently wrap and collapse distinct keys into shared
    # buckets (candidate inflation with no error)
    if not (1 <= bits_per_key <= 63):
        raise ValueError(f"bits_per_key must be in [1, 63], got {bits_per_key}")
    if bits_per_key > n * m:
        raise ValueError(
            f"bits_per_key={bits_per_key} exceeds total filter bits {n * m}"
        )
    if num_passes < 1:
        raise ValueError(f"num_passes must be >= 1, got {num_passes}")
    cols = [f"bloom_{i+1}" for i in range(n)]
    sparse = filter_layout(blooms, cols[0]) == "sparse"
    rng = np.random.default_rng(seed * 1_000 + 77)
    # segment -> pass -> {offset: 2^j}
    weights: dict[int, dict[int, dict[int, int]]] = {}
    # one draw per pass, SAME rng sequence for both layouts (keys must be
    # wire-format-independent — property test in tests/test_bloom.py)
    for p in range(num_passes):
        positions = rng.choice(n * m, size=bits_per_key, replace=False)
        for j, pos in enumerate(sorted(int(x) for x in positions)):
            seg, off = divmod(pos, m)
            weights.setdefault(seg, {}).setdefault(p, {})[off] = 1 << j

    # sparse positions are smallint; dense offsets may exceed its range
    lit = "{}S" if sparse else "{}"
    hits = []
    for s, by_pass in sorted(weights.items()):
        offs = "array({})".format(
            ", ".join(lit.format(o) for o in sorted(set().union(*by_pass.values())))
        )
        if sparse:
            hit = f"array_intersect({cols[s]}, {offs})"
        else:
            hit = (
                f"filter({offs}, o -> (shiftrightunsigned("
                f"element_at({cols[s]}, int(o DIV 64) + 1), o % 64) & 1) = 1)"
            )
        hits.append(f"{hit} AS _h_{s}")

    def key(p: int) -> str:
        return " + ".join(
            f"aggregate(_h_{s}, 0L, (acc, x) -> acc + coalesce(map("
            + ", ".join(f"{lit.format(o)}, {w}L" for o, w in sorted(by_pass[p].items()))
            + ")[x], 0L))"
            for s, by_pass in sorted(weights.items())
            if p in by_pass
        )

    rows = ", ".join(
        f"named_struct('pass', {p}, 'key', {key(p)})" for p in range(num_passes)
    )
    return blooms.selectExpr("recordID", "party", *hits).selectExpr(
        f"inline(array({rows}))", "recordID", "party"
    )


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
