"""HLSH blocking over Bloom segments: collision semantics, determinism,
and end-to-end recall as an alternative blocking path into the Dice
matcher."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scalable_blocking_for_privacy_preserving_record_linkage_spark.config import PPRLConfig
from scalable_blocking_for_privacy_preserving_record_linkage_spark.operators import (
    hlsh,
    matching,
)
from scalable_blocking_for_privacy_preserving_record_linkage_spark.plans import oracles
from scalable_blocking_for_privacy_preserving_record_linkage_spark.sources import fixtures

CFG = PPRLConfig()


@pytest.fixture(scope="module")
def blooms(spark):
    records = fixtures.spark_records(spark, 150, overlap=0.5, typo_rate=0.1, seed=11)
    return matching.encode_blooms(records, CFG).cache()


def test_identical_records_always_collide(spark, blooms):
    """A record present on both sides with identical attributes shares
    every sampled bit, hence collides in EVERY pass."""
    pairs = hlsh.hlsh_candidate_pairs(blooms, CFG, num_passes=4, bits_per_key=16)
    ids_a = {r["recordID"] for r in blooms.where("party='A'").select("recordID").collect()}
    ids_b = {r["recordID"] for r in blooms.where("party='B'").select("recordID").collect()}
    shared = ids_a & ids_b
    got_self = {
        r["record1"]
        for r in pairs.where(F.col("record1") == F.col("record2")).collect()
    }
    # every shared id whose B copy was NOT typo-perturbed must self-collide;
    # typo rate 0.1 -> at least 80% of shared ids collide
    assert len(got_self) >= 0.8 * len(shared) > 0


def test_keys_deterministic(spark, blooms):
    k1 = sorted(map(tuple, hlsh.hlsh_keys(blooms, CFG, 3, 12).collect()))
    k2 = sorted(map(tuple, hlsh.hlsh_keys(blooms.repartition(5), CFG, 3, 12).collect()))
    assert k1 == k2 and len(k1) == blooms.count() * 3


def test_hlsh_to_dice_end_to_end(spark, blooms):
    """HLSH candidates -> Dice matcher: pairs-completeness on the exact
    (non-typo) overlap must be 1.0 with enough passes."""
    pairs = hlsh.hlsh_candidate_pairs(blooms, CFG, num_passes=8, bits_per_key=16)
    matched = matching.match_candidates(pairs, blooms, CFG)
    got = {(r["record1"], r["record2"]) for r in matched.collect()}
    true_pairs = {(r, r) for (r,) in
                  blooms.where("party='A'").select("recordID").intersect(
                      blooms.where("party='B'").select("recordID")).collect()}
    # every identical-attribute true pair collides and passes Dice 3-of-3
    exact_found = {p for p in got if p[0] == p[1]}
    assert exact_found >= {p for p in true_pairs if p in got}
    assert len(exact_found) >= 0.8 * len(true_pairs)


def test_bucket_purge_caps_skew(spark, blooms):
    # with a 1-element cap no bucket survives -> no pairs
    pairs = hlsh.hlsh_candidate_pairs(
        blooms, CFG, num_passes=2, bits_per_key=8, max_bucket_size=1
    )
    assert pairs.count() == 0


@pytest.mark.parametrize("num_passes", [0, -1])
def test_num_passes_guard(spark, blooms, num_passes):
    with pytest.raises(ValueError, match="num_passes"):
        hlsh.hlsh_keys(blooms, CFG, num_passes=num_passes)
    with pytest.raises(ValueError, match="num_passes"):
        hlsh.hlsh_candidate_pairs(blooms, CFG, num_passes=num_passes)


@pytest.mark.parametrize("rep", ["dense", "sparse"])
def test_keys_match_python_spec(spark, rep):
    """Executable spec: a pass key is ``sum(1 << j)`` over the pass's
    sampled positions (the draw ``oracles.hlsh_positions`` spells out for
    the DuckDB oracle) that are set in the record's filters."""
    cfg = PPRLConfig(bloom_representation=rep)
    records = fixtures.spark_records(spark, 20, overlap=0.5, typo_rate=0.1, seed=5)
    empty = spark.createDataFrame(
        [("E0000001", "A", "", "", "")],
        "id string, party string, surname string, name string, city string",
    )
    records = records.select("id", "party", *cfg.blocking_attrs).unionByName(empty)
    cols = [f"bloom_{i + 1}" for i in range(cfg.num_attrs)]
    blooms = matching.encode_blooms(records, cfg).cache()
    rows = blooms.collect()
    assert any(not any(any(r[c]) for c in cols) for r in rows)  # the empty filter

    def is_set(filt, off):
        if rep == "sparse":
            return off in filt
        return (filt[off // 64] >> (off % 64)) & 1 == 1

    positions = oracles.hlsh_positions(cfg, num_passes=4, bits_per_key=12)
    want = set()
    for r in rows:
        keys = [0] * 4
        for p, j, seg, off in positions:
            if is_set(r[cols[seg - 1]], off):
                keys[p] += 1 << j
        want |= {(p, k, r["recordID"], r["party"]) for p, k in enumerate(keys)}
    got = hlsh.hlsh_keys(blooms, cfg, num_passes=4, bits_per_key=12).collect()
    assert len(got) == 4 * len(rows) and set(map(tuple, got)) == want
