"""Linkage-quality evaluation (the reference's ``printResult``,
/root/reference/src/main/java/com/simulator/Simulator.java:60-72, extended
with the standard blocking metrics the north star asks for).

Ground truth: a pair is a true match iff the raw ids are equal across the
two parties (Simulator.java:62). Metrics:

* pairs completeness (= recall of the reference): TP / expected_matches
* precision: TP / |matches|
* pairwise F1
* reduction ratio: 1 - |candidates| / (|A| * |B|)

Everything is computed with DataFrame aggregates — no collects of data
rows, only one row of scalar aggregates crosses the driver boundary.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class LinkageMetrics:
    n_alice: int
    n_bob: int
    n_candidates: int
    n_matches: int
    true_positives: int
    expected_matches: int
    pairs_completeness: float
    precision: float
    f1: float
    reduction_ratio: float

    def as_dict(self) -> dict:
        return dict(self.__dict__)


def evaluate(
    matches: DataFrame,
    candidates: DataFrame,
    n_alice: int,
    n_bob: int,
    expected_matches: int,
) -> LinkageMetrics:
    # one action: two single-row aggregates cross-joined
    n_matches, tp, n_candidates = matches.agg(
        F.count(F.lit(1)), F.count(F.when(F.col("record1") == F.col("record2"), 1))
    ).crossJoin(candidates.agg(F.count(F.lit(1)))).first()
    recall = tp / expected_matches if expected_matches else 0.0
    precision = tp / n_matches if n_matches else 0.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if (precision + recall) > 0
        else 0.0
    )
    rr = 1.0 - (n_candidates / (n_alice * n_bob)) if n_alice and n_bob else 0.0
    return LinkageMetrics(
        n_alice=n_alice,
        n_bob=n_bob,
        n_candidates=n_candidates,
        n_matches=n_matches,
        true_positives=tp,
        expected_matches=expected_matches,
        pairs_completeness=recall,
        precision=precision,
        f1=f1,
        reduction_ratio=rr,
    )

