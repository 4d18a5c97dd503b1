import random

from workloads import fingerprint, quality

MATCHES = [(f"r{i}", f"r{i}" if i % 3 else f"s{i}") for i in range(200)]
CANDIDATES = MATCHES + [(f"r{i}", f"t{i}") for i in range(300)]
COMPONENTS = [(f"r{i}", i % 40) for i in range(200)]


def _frames(spark, matches, order_seed, parts):
    rng = random.Random(order_seed)

    def df(rows, cols):
        rows = list(rows)
        rng.shuffle(rows)
        return spark.createDataFrame(rows, cols).repartition(parts)

    return (
        df(CANDIDATES, ["record1", "record2"]),
        df(matches, ["record1", "record2"]),
        df(COMPONENTS, ["id", "component"]),
    )


def test_fingerprint_ignores_row_order_and_partitioning(spark):
    a = fingerprint(*_frames(spark, MATCHES, 0, 1))
    b = fingerprint(*_frames(spark, MATCHES, 1, 7))
    assert a == b
    assert a["pairs"] == len(CANDIDATES)
    assert a["matches"] == len(MATCHES)
    assert a["true_positives"] == sum(r1 == r2 for r1, r2 in MATCHES)
    assert a["clusters"] == 40


def test_fingerprint_hash_sees_a_changed_match(spark):
    changed = MATCHES[:-1] + [("r199", "x199")]
    a = fingerprint(*_frames(spark, MATCHES, 0, 3))
    b = fingerprint(*_frames(spark, changed, 0, 3))
    assert a["matches"] == b["matches"]
    assert a["match_hash"] != b["match_hash"]


def test_fingerprint_of_no_matches_without_components(spark):
    cands, matches, _ = _frames(spark, MATCHES, 0, 2)
    fp = fingerprint(cands, matches.limit(0), None)
    assert fp["matches"] == fp["true_positives"] == 0
    assert fp["clusters"] is None
    assert fp["match_hash"] == "0000000000000000-0"


def test_quality_from_fingerprint():
    fp = {"pairs": 50, "matches": 8, "true_positives": 6}
    q = quality(10, 20, 12, fp)
    assert q["pairs_completeness"] == 0.5
    assert q["precision"] == 0.75
    assert abs(q["f1"] - 0.6) < 1e-12
    assert q["reduction_ratio"] == 0.75
