"""Block-ID cyclic pairing (D2) and block purge semantics."""

import pytest

from scalable_blocking_for_privacy_preserving_record_linkage_spark.config import PPRLConfig
from scalable_blocking_for_privacy_preserving_record_linkage_spark.operators import blocking

CFG = PPRLConfig()


def _classified_wide(spark, rows):
    return spark.createDataFrame(
        rows,
        "recordID string, party string, "
        "arr array<struct<s:int,classID:string,score:int>>",
    )


def test_cyclic_pairing_matches_reference(spark):
    # createBlockIDs (ReferenceSetBlocking.java:209-236): adjacent pairs in
    # sample order, cyclic wrap, lexicographically ordered blockID,
    # score = sum of the two scores
    rows = [
        ("r1", "A", [(1, "S1.2", 3), (2, "S2.9", 1), (3, "S3.1", 4)]),
        ("r2", "B", [(1, "S1.5", 0), (2, "S2.2", 2), (3, "S3.9", 1)]),
    ]
    out = blocking.block_ids_from_arrays(_classified_wide(spark, rows), CFG)
    got = {tuple(r) for r in out.collect()}
    assert got == {
        ("S1.2-S2.9", "r1", "A", 4),   # S1.2 + S2.9
        ("S2.9-S3.1", "r1", "A", 5),   # S2.9 + S3.1 (lexicographic: '2' < '3')
        ("S1.2-S3.1", "r1", "A", 7),   # wrap S3.1 + S1.2 -> ordered S1.2-S3.1
        ("S1.5-S2.2", "r2", "B", 2),
        ("S2.2-S3.9", "r2", "B", 3),
        ("S1.5-S3.9", "r2", "B", 1),
    }


def _elements(spark, rows):
    return spark.createDataFrame(
        rows, "blockID string, recordID string, party string, score int"
    )


@pytest.mark.parametrize("cap", [None, 500])
def test_purge_requires_both_parties(spark, cap):
    rows = [
        ("b1", "x", "A", 1),
        ("b1", "y", "B", 1),
        ("b2", "z", "A", 1),  # Alice-only block -> dropped (J1 semantics)
    ]
    cfg = PPRLConfig(purge_max_block_size=cap)
    out = blocking.purge_blocks(_elements(spark, rows), cfg)
    assert {r["blockID"] for r in out.collect()} == {"b1"}


def test_purge_drops_oversized_blocks(spark):
    cfg = PPRLConfig(purge_max_block_size=3)
    rows = [("big", f"r{i}", "A" if i % 2 else "B", i) for i in range(6)] + [
        ("ok", "a1", "A", 1),
        ("ok", "b1", "B", 2),
    ]
    out = blocking.purge_blocks(_elements(spark, rows), cfg)
    assert {r["blockID"] for r in out.collect()} == {"ok"}
