"""Bloom/CLK encoder golden vectors + Dice expression semantics
(reference: BloomAlgorithms.java, BloomFilter.java, MetaBlocking.java:93-119)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from scalable_blocking_for_privacy_preserving_record_linkage_spark.config import PPRLConfig
from scalable_blocking_for_privacy_preserving_record_linkage_spark.functions import bloom

CFG = PPRLConfig()


def bits_of(words):
    out = set()
    for wi, w in enumerate(words):
        w &= (1 << 64) - 1
        for b in range(64):
            if w >> b & 1:
                out.add(wi * 64 + b)
    return out


def expected_bits(value: str) -> set:
    """Independent reconstruction of an already-trimmed value: pad,
    bigrams, MD5 -> 4 BE uint32 mod m."""
    padded = "#" + value + "%"
    out = set()
    for i in range(len(padded) - 1):
        d = hashlib.md5(padded[i : i + 2].encode()).digest()
        for j in range(0, 16, 4):
            out.add(int.from_bytes(d[j : j + 4], "big") % 3000)
    return out


def test_golden_smith():
    words = bloom.encode_value("SMITH", CFG)
    assert len(words) == CFG.bloom_words == 47
    got = bits_of(words)
    assert got == expected_bits("SMITH")
    # literal pins (hand-computed MD5 positions) so the hash convention
    # itself is frozen, not just self-consistent
    for b in (2998, 1550, 470, 2415):  # gram '#S'
        assert b in got
    for b in (1291, 346, 383, 2806):  # gram 'H%'
        assert b in got


def test_golden_anna():
    got = bits_of(bloom.encode_value("ANNA", CFG))
    assert got == expected_bits("ANNA")
    assert {1193, 143, 2431, 2852} <= got  # '#A'


@pytest.mark.parametrize("v", [None, "", "A", "Z"])
def test_short_values_empty_filter(v):
    # raw length <= 1 -> empty filter (BloomAlgorithms.java:31)
    assert sum(bloom.encode_value(v, CFG)) == 0


def test_trim_after_length_check():
    # ' A ' has raw length 3 -> passes the check, then trims to 'A'
    # (pad trims, BloomAlgorithms.java:21): grams '#A','A%'
    got = bits_of(bloom.encode_value(" A ", CFG))
    assert got == expected_bits("A")
    assert len(got) > 0


@pytest.mark.parametrize(
    "raw, trimmed",
    [("\tAB\n", "AB"), ("\x00AB", "AB"), (" AB", "AB"), ("\u00a0AB\u3000", "\u00a0AB\u3000")],
)
def test_trim_is_java_string_trim(raw, trimmed):
    # '#' + value.trim() + '%' (BloomAlgorithms.java:21): Java's trim strips
    # every code point <= U+0020 (tab, newline, NUL) and nothing above it
    assert bloom.sparse_positions_value(raw, CFG) == sorted(expected_bits(trimmed))
    assert bits_of(bloom.encode_value(raw, CFG)) == expected_bits(trimmed)


def _dice_df(spark, v1, v2):
    w1 = bloom.encode_value(v1, CFG)
    w2 = bloom.encode_value(v2, CFG)
    df = spark.createDataFrame([(w1, w2)], "b1 array<bigint>, b2 array<bigint>")
    inter = bloom.intersection_expr(F.col("b1"), F.col("b2"), "dense")
    c1 = bloom.cardinality_expr("b1", "dense")
    c2 = bloom.cardinality_expr("b2", "dense")
    return df.select(
        bloom.dice_sim_expr(inter, c1, c2).alias("dice"),
        bloom.dice_pass_expr(inter, c1, c2, CFG.matching_threshold).alias("passed"),
    ).first()


def test_dice_identical(spark):
    r = _dice_df(spark, "SMITH", "SMITH")
    assert r["dice"] == pytest.approx(1.0)
    assert r["passed"]


def test_dice_disjoint(spark):
    r = _dice_df(spark, "SMITH", "QQQQQ")
    assert r["dice"] < 0.3
    assert not r["passed"]


def test_dice_both_empty_is_not_a_match(spark):
    # Java: 2*0/(0+0) = NaN, NaN >= t is false (MetaBlocking.java:108-118)
    r = _dice_df(spark, "A", "B")
    assert r["dice"] == 0.0
    assert not r["passed"]


def test_dice_symmetry_and_range(spark):
    a = _dice_df(spark, "SMITH", "SMYTHE")
    b = _dice_df(spark, "SMYTHE", "SMITH")
    assert a["dice"] == pytest.approx(b["dice"])
    assert 0.0 <= a["dice"] <= 1.0


def test_dice_threshold_edge(spark):
    # exact dice == 0.5 must PASS (>=, MetaBlocking.java:118):
    # c1=4, c2=4, inter=2 -> 2*2/(4+4) = 0.5
    w1 = [0b1111] + [0] * 46
    w2 = [0b0011 | 0b110000] + [0] * 46
    df = spark.createDataFrame([(w1, w2)], "b1 array<bigint>, b2 array<bigint>")
    inter = bloom.intersection_expr(F.col("b1"), F.col("b2"), "dense")
    c1 = bloom.cardinality_expr("b1", "dense")
    c2 = bloom.cardinality_expr("b2", "dense")
    r = df.select(
        bloom.dice_sim_expr(inter, c1, c2).alias("dice"),
        bloom.dice_pass_expr(inter, c1, c2, 0.5).alias("passed"),
    ).first()
    assert r["dice"] == pytest.approx(0.5)
    assert r["passed"]


def test_negative_word_popcount(spark):
    # bit 63 set -> negative int64; bit_count must still count raw bits
    w = [-(1 << 63)] + [0] * 46
    df = spark.createDataFrame([(w,)], "b1 array<bigint>")
    assert df.select(bloom.cardinality_expr("b1", "dense").alias("c")).first()["c"] == 1


def test_sparse_positions_equal_dense_bits():
    """The sparse wire format is the SAME filter: positions(v) ==
    set-bit positions of the dense words for every value, including the
    <=1-char and None empties (sparse []) — plus the independent MD5
    reconstruction."""
    for v in ("SMITH", "ANNA", " A ", "", None, "O'BRIEN-McGEE", "X" * 40):
        sp = bloom.sparse_positions_value(v, CFG)
        assert sp == sorted(set(sp)), "positions sorted & distinct"
        assert set(sp) == bits_of(bloom.encode_value(v, CFG))
    assert set(bloom.sparse_positions_value("SMITH", CFG)) == expected_bits("SMITH")


def test_sparse_matching_equals_dense(spark):
    """END-TO-END representation equivalence: identical candidate pairs
    scored through the dense zip_with/bit_count path and the sparse
    array_intersect path produce the SAME matched pairs and
    matched_fields — and the HLSH keys are identical under both layouts,
    so every downstream (Dice match, bucket blocking) is wire-format
    independent."""
    import dataclasses

    from scalable_blocking_for_privacy_preserving_record_linkage_spark.operators import (
        hlsh as hlshmod,
        matching,
    )

    rows = [
        (str(i), "A" if i % 2 == 0 else "B",
         f"SM{chr(65 + i % 7)}TH{i % 5}", f"AN{chr(66 + i % 5)}A", f"CITY{i % 3}")
        for i in range(40)
    ] + [("40", "A", "", "Y", None), ("41", "B", "", "Y", None)]
    records = spark.createDataFrame(
        rows, "id string, party string, surname string, name string, city string"
    )
    pairs = (
        records.where("party = 'A'").select(F.col("id").alias("record1"))
        .crossJoin(records.where("party = 'B'").select(F.col("id").alias("record2")))
    )
    got = {}
    for name in ("dense", "sparse"):
        # matches_to_accept=0 keeps every pair, so all matched_fields compare
        cfg = dataclasses.replace(CFG, bloom_representation=name, matches_to_accept=0)
        blooms = matching.encode_blooms(records, cfg)
        scored = matching.match_candidates(pairs, blooms, cfg)
        got[name] = {
            (r["record1"], r["record2"]): r["matched_fields"]
            for r in scored.collect()
        }
        got[name + "_cards"] = {
            (r["recordID"], i): r[f"card_{i}"]
            for r in blooms.collect() for i in (1, 2, 3)
        }
        got[name + "_hlsh"] = {
            (r["pass"], r["recordID"]): r["key"]
            for r in hlshmod.hlsh_keys(blooms, cfg, num_passes=4).collect()
        }
    assert got["dense"] == got["sparse"] and len(got["dense"]) == 21 * 21
    assert got["dense_cards"] == got["sparse_cards"]
    assert got["dense_hlsh"] == got["sparse_hlsh"]


@pytest.mark.parametrize("a_layout, b_layout", [("dense", "sparse"), ("sparse", "dense")])
def test_mixed_layout_join_raises(spark, a_layout, b_layout):
    """An identical pair encoded under two layouts must not score silently
    (it scored NULL or 0 matched fields instead of 3)."""
    import dataclasses

    from scalable_blocking_for_privacy_preserving_record_linkage_spark.operators import matching

    rows = [("1", p, "SMITH", "ANNA", "ROME") for p in ("A", "B")]
    records = spark.createDataFrame(
        rows, "id string, party string, surname string, name string, city string"
    )
    pairs = spark.createDataFrame([("1", "1")], "record1 string, record2 string")

    def side(layout, i):
        cfg = dataclasses.replace(CFG, bloom_representation=layout)
        return matching.split_blooms(matching.encode_blooms(records, cfg), cfg)[i]

    joined = pairs.join(side(a_layout, 0), "record1").join(side(b_layout, 1), "record2")
    with pytest.raises(ValueError, match="bloom_representation"):
        matching.score_joined(joined, CFG)
