"""Executable specification of the adaptive sorted-neighborhood window
(MetaBlocking.java:48-76): a vectorized numpy kernel per block, and the
same kernel run through ``applyInPandas``. No production path runs it;
``operators.window.candidate_pairs`` is tested against it.

Semantics: pair each element with its ``W - 1`` nearest PRECEDING
opposite-party elements in the block's (score, party, recordID) order —
the equivalence proved in ``operators/window.py``'s module docstring.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame

from scalable_blocking_for_privacy_preserving_record_linkage_spark.config import PPRLConfig

# Spark's Python workers cannot import this module (tests/ is not on their
# path), so the applyInPandas function ships its kernel by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])

_PAIR_SCHEMA = "record1 string, record2 string"


def window_pairs_block(pdf: pd.DataFrame, w: int) -> pd.DataFrame:
    # total order (score, party, recordID) — deterministic stand-in for the
    # reference's stable Bob-first tiebreak (SURVEY.md §2.6)
    pdf = pdf.sort_values(["score", "party", "recordID"], kind="mergesort")
    party = (pdf["party"].to_numpy() == "A")
    ids = pdf["recordID"].to_numpy()
    n = len(ids)
    k = w - 1
    if n < 2 or k <= 0:
        return pd.DataFrame({"record1": [], "record2": []}, dtype=object)

    out_r1: list[np.ndarray] = []
    out_r2: list[np.ndarray] = []
    pos_a = np.flatnonzero(party)        # sorted positions of Alice elements
    pos_b = np.flatnonzero(~party)
    for cur_pos, opp_pos, cur_is_a in ((pos_a, pos_b, True), (pos_b, pos_a, False)):
        if len(cur_pos) == 0 or len(opp_pos) == 0:
            continue
        # for each current element, number of opposite elements strictly before
        cnt = np.searchsorted(opp_pos, cur_pos)
        take = np.minimum(cnt, k)
        total = int(take.sum())
        if total == 0:
            continue
        # flat indices into opp_pos: for element e, slice [cnt-take, cnt)
        starts = np.repeat(cnt - take, take)
        offs = np.arange(total) - np.repeat(np.cumsum(take) - take, take)
        opp_idx = opp_pos[starts + offs]
        cur_idx = np.repeat(cur_pos, take)
        if cur_is_a:
            out_r1.append(ids[cur_idx])
            out_r2.append(ids[opp_idx])
        else:
            out_r1.append(ids[opp_idx])
            out_r2.append(ids[cur_idx])
    if not out_r1:
        return pd.DataFrame({"record1": [], "record2": []}, dtype=object)
    return pd.DataFrame(
        {"record1": np.concatenate(out_r1), "record2": np.concatenate(out_r2)}
    )


def candidate_pairs_kernel(elements: DataFrame, cfg: PPRLConfig) -> DataFrame:
    """applyInPandas form of the kernel, grouped by blockID: the
    cross-check for the Catalyst ``candidate_pairs`` plan (tests assert
    both produce identical pair sets)."""
    w = cfg.window_size

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return window_pairs_block(pdf, w)

    pairs = elements.groupBy("blockID").applyInPandas(fn, schema=_PAIR_SCHEMA)
    return pairs.dropDuplicates(["record1", "record2"])
