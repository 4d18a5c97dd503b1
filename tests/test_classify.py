"""Cell-level pin of ``classify_wide`` against a plain-Python
transliteration of ``ReferenceSetBlocking.classifyBlockingAttribute``
(ReferenceSetBlocking.java:151-184): every (attribute, sample) cell of
every record, not just aggregates."""

import numpy as np
from test_strings import _java_binary_search

from scalable_blocking_for_privacy_preserving_record_linkage_spark.config import PPRLConfig
from scalable_blocking_for_privacy_preserving_record_linkage_spark.operators import classify

CFG = PPRLConfig(num_samples=2)

# samples per s (3 attributes × 2 samples), sorted by code point as
# build_reference_samples sorts them. Two-char prefixes are unique within
# a sample, so a value equal to rs[i] lands exactly on i.
_BASE = ["BETH", "CARL", "DORA", "FRED", "KARL", "MONA", "ÉMILE", "ÖZIL"]
SAMPLES = {
    s: sorted(v)
    for s, v in {
        1: _BASE,
        2: ["ANNA", "BRUNO", "CLARA", "DIETER", "ÅSA"],
        3: _BASE[1:],
        4: ["BERLIN", "KÖLN", "MÜNCHEN"],
        5: ["AACHEN", "BONN", "ESSEN", "ULM", "ZÜRICH"],
        6: _BASE[:5],
    }.items()
}


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _classify_blocking_attribute(value: str, rs: list, s: int, nsc: int):
    """classifyBlockingAttribute, one value at a time: prefix length
    nsc+1 for values longer than one char (:161-164), d1 only when
    ``pos - 1 > 0`` (:169), classID ``S{s}.{pos}`` or ``S{s}.{pos+1}``
    (:176,180)."""
    n = nsc + 1 if len(value) > 1 else nsc
    pos = _java_binary_search(rs, value, n, len(rs))
    d2 = _levenshtein(value, rs[pos])
    if pos - 1 > 0:
        d1 = _levenshtein(value, rs[pos - 1])
        if d1 < d2:
            return f"S{s}.{pos}", d1
    return f"S{s}.{pos + 1}", d2


def test_classify_wide_cells_match_reference(spark):
    values = [
        "B", "K", "Z", "Ö",                   # one char: prefix length nsc
        "AARON", "AA", "ZZZ", "ZZZZZZ",       # below the first / above the last
        "BETH", "ANNA", "AACHEN", "CARL",     # exact hit at index 0 / index 1
        "CETH", "DETH",                       # pos 1, nearer rs[0]: the strict guard
        "EARL", "KARLA", "MONIKA", "DORIS",   # between samples, both sides
        "ÖZIL", "ÉMILIE", "ÅSA", "ZÜRICH",    # non-ASCII
        "KÖLN", "MÜNCHEN", "BONNIE", "ESSEN",
    ]
    n = len(values)
    rows = [
        # repeated values: each value shows up in several rows and columns
        (f"r{i}", "AB"[i % 2], values[i % n], values[(5 * i + 3) % n], values[(7 * i + 1) % n])
        for i in range(4 * n)
    ]
    records = spark.createDataFrame(
        rows, "id string, party string, surname string, name string, city string"
    ).repartition(5)
    samples = {s: np.array(v, dtype=object) for s, v in SAMPLES.items()}
    out = classify.classify_wide(spark, records, samples, CFG)
    assert out.rdd.getNumPartitions() > 1

    got = {r["recordID"]: [tuple(c) for c in r["arr"]] for r in out.collect()}
    k = CFG.num_samples
    want = {
        rid: [
            (s, *_classify_blocking_attribute(attrs[(s - 1) // k], SAMPLES[s], s, CFG.num_search_chars))
            for s in range(1, 3 * k + 1)
        ]
        for rid, _, *attrs in rows
    }
    assert got == want
