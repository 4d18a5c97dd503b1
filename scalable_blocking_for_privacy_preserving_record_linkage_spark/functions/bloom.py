"""Bloom-filter (CLK) encoding and Dice similarity.

Semantics reproduced from the reference encoder
(/root/reference/src/main/java/com/utils/BloomAlgorithms.java:9-38 and
/root/reference/src/main/java/com/blooms/BloomFilter.java:28-68):

* value with raw length <= 1 (or null) -> empty filter
  (BloomAlgorithms.java:31);
* pad: ``'#' + value.trim() + '%'`` repeated ``q-1`` times, where Java's
  ``trim`` strips code points <= U+0020 at both ends
  (BloomAlgorithms.java:20-26);
* sliding q-grams (q=2) over the padded string (BloomAlgorithms.java:33-35);
* per gram: MD5 digest split into k=4 big-endian 4-byte words
  (BloomFilter.java:39-62, ``toLong`` big-endian at :14-22), each ``mod m``
  (m=3000) sets one bit.

Divergence (documented, SURVEY.md §2.8.5): the reference hashes with the
platform charset and uses *char* count as *byte* count — only correct for
ASCII. We define UTF-8 bytes explicitly; fixtures are ASCII-folded so golden
outputs agree.

Wire formats (``PPRLConfig.bloom_representation``): "dense" is a
fixed-length ``array<bigint>`` of ``ceil(m/64)`` words, bit ``b`` in word
``b // 64`` at position ``b % 64``; "sparse" is the ``array<smallint>`` of
sorted distinct set-bit positions. Both come from one q-gram walk, and the
column's element type names the layout (``filter_layout``). The matcher
stays JVM-side under either: Dice is ``zip_with`` + ``bit_count`` (dense) or
``array_intersect`` (sparse), with no Python in the pairwise hot path.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import PPRLConfig

# gram -> tuple of k bit positions; grams come from a small alphabet so this
# memo converges to a few thousand entries per executor and makes the encoder
# amortized-O(1) hashing per gram.
_GRAM_MEMO: dict[tuple[str, int, int], tuple[int, ...]] = {}
_GRAM_MEMO_CAP = 1_000_000


def gram_bit_positions(gram: str, m: int, k: int = 4) -> tuple[int, ...]:
    """k MD5-derived bit positions for one q-gram (BloomFilter.java:46-62)."""
    key = (gram, m, k)
    hit = _GRAM_MEMO.get(key)
    if hit is not None:
        return hit
    digest = hashlib.md5(gram.encode("utf-8")).digest()
    words = struct.unpack(">4I", digest)  # 4 big-endian uint32 words
    positions = tuple(int(w % m) for w in words[:k])
    if len(_GRAM_MEMO) < _GRAM_MEMO_CAP:
        _GRAM_MEMO[key] = positions
    return positions


# Java's String.trim() strips every code point <= U+0020 and nothing else;
# Python's str.strip() also strips U+00A0/U+3000 and keeps \x00-\x08
_JAVA_TRIM = "".join(map(chr, range(0x21)))


def _set_bits(value: str | None, cfg: PPRLConfig) -> list[int]:
    """Set-bit positions of one attribute value's CLK, repeats included.

    Mirrors BloomAlgorithms.string2Bloom: the length>1 check is on the RAW
    value, the pad trims afterwards (BloomAlgorithms.java:21,31).
    """
    bits: list[int] = []
    if value is None or len(value) <= 1:
        return bits
    q = cfg.ngram_size
    padded = ("#" * (q - 1)) + value.strip(_JAVA_TRIM) + ("%" * (q - 1))
    for i in range(len(padded) - q + 1):
        bits.extend(gram_bit_positions(padded[i : i + q], cfg.bloom_m, cfg.hash_functions))
    return bits


def encode_value(value: str | None, cfg: PPRLConfig) -> list[int]:
    """Dense packer: the filter as ``cfg.bloom_words`` signed int64 words."""
    words = [0] * cfg.bloom_words
    for b in _set_bits(value, cfg):
        words[b >> 6] |= 1 << (b & 63)
    # wrap to signed int64 (Spark LongType)
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def sparse_positions_value(value: str | None, cfg: PPRLConfig) -> list[int]:
    """Sparse packer: the filter as its sorted distinct set-bit positions."""
    return sorted(set(_set_bits(value, cfg)))


def _sparse_array(value: str | None, cfg: PPRLConfig) -> np.ndarray:
    return np.asarray(sparse_positions_value(value, cfg), dtype=np.int16)


# layout -> (filter element type, packer); the one place that knows the
# wire format. Sparse positions < bloom_m fit int16: 2 bytes per set bit on
# the Arrow wire and in the shuffle.
_WIRE = {
    "dense": (T.LongType(), encode_value),
    "sparse": (T.ShortType(), _sparse_array),
}


def filter_layout(df: DataFrame, col: str) -> str:
    """Layout ("dense" or "sparse") of filter column ``col``, read from its
    element type so a frame scores the way it was encoded."""
    element = df.schema[col].dataType.elementType
    for layout, (dtype, _) in _WIRE.items():
        if element == dtype:
            return layout
    raise TypeError(f"{col} is not a CLK filter column: {df.schema[col].dataType}")


def clk_udf(cfg: PPRLConfig):
    """pandas UDF: string column -> filter column in
    ``cfg.bloom_representation``; each distinct value of an Arrow batch is
    encoded once."""
    dtype, pack = _WIRE[cfg.bloom_representation]
    if cfg.bloom_representation == "sparse":
        assert cfg.bloom_m <= 32767, "sparse smallint positions need m < 2^15"

    @F.pandas_udf(T.ArrayType(dtype))
    def _encode(values: pd.Series) -> pd.Series:
        return values.map({v: pack(v, cfg) for v in pd.unique(values)})

    return _encode


# ---------------------------------------------------------------------------
# Pure-Catalyst bitset math (matcher hot path — no Python)
# ---------------------------------------------------------------------------


def cardinality_expr(f: Column | str, layout: str) -> Column:
    """|f|: per-word ``bit_count`` sum (dense) or the position count (sparse)."""
    c = F.col(f) if isinstance(f, str) else f
    if layout == "sparse":
        return F.size(c)
    return F.aggregate(c, F.lit(0), lambda acc, w: acc + F.bit_count(w))


def intersection_expr(f1: Column, f2: Column, layout: str) -> Column:
    """|f1 AND f2| as one codegen'd expression. Dense: ``zip_with`` +
    ``bit_count``. Sparse: positions are distinct within each filter, so the
    set-intersection size IS the bitset-AND popcount."""
    if layout == "sparse":
        return F.size(F.array_intersect(f1, f2))
    return F.aggregate(
        F.zip_with(f1, f2, lambda a, b: F.bit_count(a.bitwiseAND(b))),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def dice_pass_expr(inter: Column, card1: Column, card2: Column, threshold: float) -> Column:
    """``2*|a∧b| / (|a|+|b|) >= t`` without division (exact for dyadic t).

    Guard: both-empty filters give Java ``0f/0`` = NaN, and ``NaN >= t`` is
    false (MetaBlocking.java:108-118) — hence the ``> 0`` conjunct.
    """
    denom = card1 + card2
    return (denom > F.lit(0)) & (
        F.lit(2.0) * inter.cast("double") >= F.lit(float(threshold)) * denom.cast("double")
    )


def dice_sim_expr(inter: Column, card1: Column, card2: Column) -> Column:
    """Reported Dice similarity (double); 0.0 when both filters are empty."""
    denom = (card1 + card2).cast("double")
    return F.when(denom > 0, F.lit(2.0) * inter.cast("double") / denom).otherwise(F.lit(0.0))
