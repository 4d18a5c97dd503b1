"""Adaptive sorted-neighborhood window (D5) vs a direct transliteration of
the reference loop (MetaBlocking.java:48-76) as the oracle."""

import numpy as np
import pandas as pd
import pytest

from scalable_blocking_for_privacy_preserving_record_linkage_spark.config import PPRLConfig
from scalable_blocking_for_privacy_preserving_record_linkage_spark.operators.window import (
    candidate_edge_weights,
    candidate_pairs,
)
from window_kernel import candidate_pairs_kernel, window_pairs_block


def _reference_loop(sorted_elems, w):
    """Transliteration of createPossibleMatches (MetaBlocking.java:52-73):
    windowLimit starts at w and grows by one per same-party encounter."""
    pairs = set()
    n = len(sorted_elems)
    for i in range(1, n):
        party_i, id_i = sorted_elems[i]
        window_limit = w
        j = i - 1
        while j >= i - window_limit + 1 and j >= 0:
            party_j, id_j = sorted_elems[j]
            if party_i != party_j:
                if party_i == "A":
                    pairs.add((id_i, id_j))
                else:
                    pairs.add((id_j, id_i))
            else:
                window_limit += 1
            j -= 1
    return pairs


def _run_block(elems, w):
    pdf = pd.DataFrame(
        {
            "blockID": "b",
            "recordID": [e[1] for e in elems],
            "party": [e[0] for e in elems],
            "score": range(len(elems)),  # already in sorted order
        }
    )
    out = window_pairs_block(pdf, w)
    return set(zip(out["record1"], out["record2"]))


@pytest.mark.parametrize("w", [2, 3, 5, 10])
def test_window_equivalence_random(w):
    rng = np.random.default_rng(123 + w)
    for trial in range(25):
        n = int(rng.integers(2, 30))
        elems = [
            ("A" if rng.random() < 0.5 else "B", f"r{trial}_{k}") for k in range(n)
        ]
        assert _run_block(elems, w) == _reference_loop(elems, w), (w, elems)


def test_window_hand_case():
    # B A A B with w=2: each element pairs with its single nearest
    # opposite-party predecessor
    elems = [("B", "b1"), ("A", "a1"), ("A", "a2"), ("B", "b2")]
    got = _run_block(elems, 2)
    assert got == {("a1", "b1"), ("a2", "b1"), ("a2", "b2")}


def test_window_same_party_extension():
    # A A A B with w=2: the B scans back through 2 same-party extensions
    # and still reaches a2 only... reference: windowLimit grows per A seen,
    # so B pairs with a3 (nearest) and the loop continues: w-1=1 opposite
    # pair max -> only a3
    elems = [("A", "a1"), ("A", "a2"), ("A", "a3"), ("B", "b1")]
    assert _run_block(elems, 2) == _reference_loop(elems, 2) == {("a3", "b1")}


def test_candidate_pairs_distinct_across_blocks(spark):
    rows = [
        ("b1", "x", "A", 1),
        ("b1", "y", "B", 2),
        ("b2", "x", "A", 1),
        ("b2", "y", "B", 2),
    ]
    df = spark.createDataFrame(
        rows, "blockID string, recordID string, party string, score int"
    )
    out = candidate_pairs(df, PPRLConfig()).collect()
    assert [(r["record1"], r["record2"]) for r in out] == [("x", "y")]


def test_single_party_block_emits_nothing(spark):
    rows = [("b1", "x", "A", 1), ("b1", "y", "A", 2)]
    df = spark.createDataFrame(
        rows, "blockID string, recordID string, party string, score int"
    )
    assert candidate_pairs(df, PPRLConfig()).count() == 0


def _random_elements(rng, n_blocks, pool=0, dup_share=0.0):
    """Random (blockID, recordID, party, score) rows with deliberate score
    ties. ``pool`` > 0 draws record ids from a shared pool, so pairs
    co-occur across blocks; ``dup_share`` repeats that share of elements
    (cyclic pairing can put one record in one block twice)."""
    rows = []
    for b in range(n_blocks):
        for kk in range(int(rng.integers(1, 25))):
            if pool:
                i = int(rng.integers(0, pool))
                rid, party = f"r{i}", "AB"[i % 2]
            else:
                rid, party = f"r{b}_{kk}", "A" if rng.random() < 0.5 else "B"
            row = (f"b{b}", rid, party, int(rng.integers(0, 6)))
            rows.append(row)
            if dup_share and rng.random() < dup_share:
                rows.append(row)
    return rows


@pytest.mark.parametrize("w", [1, 2, 3, 10])
def test_catalyst_equals_kernel(spark, w):
    """The window-function Catalyst plan and the applyInPandas kernel
    must produce identical pair sets on random multi-block inputs
    (including tied scores, where the (score, party, recordID) total
    order decides). W = 1 pairs nothing on either side."""
    rng = np.random.default_rng(99 + w)
    df = spark.createDataFrame(
        _random_elements(rng, 12),
        "blockID string, recordID string, party string, score int",
    )
    cfg = PPRLConfig(window_size=w)
    got = {(r["record1"], r["record2"]) for r in candidate_pairs(df, cfg).collect()}
    want = {
        (r["record1"], r["record2"])
        for r in candidate_pairs_kernel(df, cfg).collect()
    }
    assert got == want
    assert (len(want) > 0) == (w > 1)


@pytest.mark.parametrize("w", [2, 5])
def test_edge_weights_equal_kernel_emissions(spark, w):
    """CBS/ARCS from ``candidate_edge_weights`` equal the weights
    recomputed in pandas from the kernel's per-block emissions: CBS =
    distinct co-occurring blocks, ARCS = sum of 1/|block| over them, with
    |block| counting duplicate elements."""
    rng = np.random.default_rng(7 + w)
    rows = _random_elements(rng, 20, pool=30, dup_share=0.15)
    pdf = pd.DataFrame(rows, columns=["blockID", "recordID", "party", "score"])
    per_block = []
    for block, g in pdf.groupby("blockID"):
        out = window_pairs_block(g, w).drop_duplicates()
        out["blockID"], out["block_n"] = block, len(g)
        per_block.append(out)
    emissions = pd.concat(per_block)
    want = (
        emissions.assign(arcs=1.0 / emissions["block_n"])
        .groupby(["record1", "record2"])
        .agg(cbs=("blockID", "size"), arcs=("arcs", "sum"))
    )

    df = spark.createDataFrame(
        rows, "blockID string, recordID string, party string, score int"
    )
    got = candidate_edge_weights(df, PPRLConfig(window_size=w)).toPandas()
    got = got.set_index(["record1", "record2"]).sort_index()
    assert list(got.index) == list(want.index)
    assert list(got["cbs_weight"]) == list(want["cbs"])
    assert list(got["arcs_weight"]) == pytest.approx(list(want["arcs"]))
    assert (want["cbs"] > 1).any()


def test_cbs_arcs_edge_pruning(spark):
    # pair (x,y) co-occurs in two blocks of size 2; (x,z) in one block of 4
    rows = [
        ("b1", "x", "A", 1), ("b1", "y", "B", 2),
        ("b2", "x", "A", 1), ("b2", "y", "B", 2),
        ("b3", "x", "A", 1), ("b3", "z", "B", 2),
        ("b3", "p", "A", 3), ("b3", "q", "B", 4),
    ]
    df = spark.createDataFrame(
        rows, "blockID string, recordID string, party string, score int"
    )
    weights = candidate_edge_weights(df, PPRLConfig())
    w = {
        (r["record1"], r["record2"]): (r["cbs_weight"], round(r["arcs_weight"], 3))
        for r in weights.collect()
    }
    assert w[("x", "y")] == (2, 1.0)          # 2 blocks x 1/2
    assert w[("x", "z")] == (1, 0.25)         # 1 block x 1/4
    pruned = weights.where("cbs_weight >= 2")
    assert {(r["record1"], r["record2"]) for r in pruned.collect()} == {("x", "y")}
    pruned2 = weights.where("arcs_weight >= 0.5")
    got2 = {(r["record1"], r["record2"]) for r in pruned2.collect()}
    assert ("x", "z") not in got2 and ("x", "y") in got2
