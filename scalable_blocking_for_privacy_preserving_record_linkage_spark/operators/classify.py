"""Reference-set classification (phase 1 of the reference pipeline).

Reproduces ``ReferenceSetBlocking.classifyBlockingAttribute``
(``ReferenceSetBlocking.java:151-184``) with two deliberate structural
rewrites for scale (SURVEY.md §2.5/§4.2):

* The reference runs 12 separate ``map`` stages (3 attrs × 4 samples),
  unions them and regroups by record (ReferenceSetBlocking.java:28-68).
  ``classify_wide`` runs ONE projection instead: every (attribute, sample)
  cell of a record is classified by the same pandas UDF inside a single
  array column, ordered by sample index ``s``. No explode, no shuffle, so
  the batch pipeline, the streaming jobs and ``__spark_entry__`` share it
  unchanged (``blocking.block_ids_from_arrays`` pairs the array next).
* The driver-side ``SecureRandom`` Durstenfeld shuffle
  (DurstenfeldShuffle.java:8-26) is replaced by a SEEDED hash permutation:
  candidates are ordered by ``md5("{seed}|{s}|{value}")`` and the first
  RS_SIZE taken. Determinism is a test requirement (documented divergence,
  SURVEY.md §2.8.2), and the md5 keying makes the draw reproducible in ANY
  engine — the DuckDB oracles re-derive the exact reference samples with
  ``ORDER BY md5(...) LIMIT n``.

The sorted samples are broadcast once and consumed inside the UDF via the
exact prefix-binary-search + Levenshtein semantics of the reference
(including the clamps of BinarySearch.java:34-36 and the strict
``pos-1 > 0`` guard at ReferenceSetBlocking.java:169).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import PPRLConfig
from ..functions.strings import levenshtein_batch, prefix_binary_search_batch


def build_reference_samples(
    reference_sets: DataFrame, cfg: PPRLConfig, db_size: int
) -> dict[int, np.ndarray]:
    """Driver-side: distinct/clean/uppercase each reference column, then draw
    ``num_samples`` seeded sorted samples per attribute.

    Mirrors ReferenceSetBlocking.java:33-41 (na.drop → distinct →
    len>1 filter → upper → shuffle → limit RS_SIZE → sort). Sample ``s`` is
    numbered 1..(attrs*samples) in the reference's loop order
    (ReferenceSetBlocking.java:31,67).

    The "shuffle" is the md5-keyed order ``md5("{seed}|{s}|{raw_value}")``
    (keyed on the distinct RAW value so the draw is well-defined even under
    case collisions); its DuckDB twin is
    ``ORDER BY md5('{seed}|{s}|' || v) LIMIT rs_size`` (plans/oracles.py).
    """
    rs_size = max(1, cfg.rs_size(db_size))
    # ONE driver pull for all attribute columns (the reference runs one
    # collectAsList job per attribute, ReferenceSetBlocking.java:33-36)
    cols = [f"col{i}" for i in range(1, cfg.num_attrs + 1)]
    pdf = reference_sets.select(*cols).toPandas()
    samples: dict[int, np.ndarray] = {}
    s = 1
    for col in cols:
        # distinct on RAW values, length filter, uppercase AFTER selection —
        # the selection key uses the raw value (unique post-distinct), so a
        # case-colliding pair stays as two individually-drawable entries
        vals = pdf[col].dropna().unique()
        vals = vals[np.char.str_len(vals.astype(str)) > 1].astype(str)
        for j in range(cfg.num_samples):
            keys = np.array(
                [
                    hashlib.md5(f"{cfg.seed}|{s}|{v}".encode("utf-8")).hexdigest()
                    for v in vals
                ]
            )
            sel = vals[np.argsort(keys)[:rs_size]]
            samples[s] = np.sort(np.char.upper(sel).astype(object))
            s += 1
    return samples


def make_classify_udf(
    spark: SparkSession,
    samples: dict[int, np.ndarray],
    cfg: PPRLConfig,
):
    """Build the vectorized (s, value) -> (classID, score) pandas UDF with
    the sorted samples broadcast once. ``classify_cells_expr`` calls it
    once per (attribute, sample) cell."""
    bc = spark.sparkContext.broadcast(
        {s: np.asarray(v, dtype=object) for s, v in samples.items()}
    )
    nsc = cfg.num_search_chars

    out_type = T.StructType(
        [
            T.StructField("classID", T.StringType()),
            T.StructField("score", T.IntegerType()),
        ]
    )

    @F.pandas_udf(out_type)
    def _classify(s_col: pd.Series, values: pd.Series) -> pd.DataFrame:
        class_out = np.empty(len(values), dtype=object)
        score_out = np.zeros(len(values), dtype=np.int64)
        sample_map = bc.value
        for s in pd.unique(s_col):
            rs = sample_map[int(s)]
            n = len(rs)
            mask = (s_col == s).to_numpy()
            vals = values[mask]
            # classify each DISTINCT value once (names/cities repeat heavily)
            uniq = pd.unique(vals)
            uq = np.asarray(uniq, dtype=object)
            pos = prefix_binary_search_batch(rs, uq, nsc, n)
            d2 = levenshtein_batch(uq, rs[pos])
            # d1 only when pos-1 > 0 (STRICT: index 0 never considered,
            # ReferenceSetBlocking.java:169)
            has_d1 = pos - 1 > 0
            d1 = np.full(len(uq), 1_000_000, dtype=np.int64)
            if has_d1.any():
                d1[has_d1] = levenshtein_batch(uq[has_d1], rs[pos[has_d1] - 1])
            use_d1 = d1 < d2
            cls_pos = np.where(use_d1, pos, pos + 1)
            score = np.where(use_d1, d1, d2)
            prefix = f"S{int(s)}."
            table = {
                v: (prefix + str(int(p)), int(sc))
                for v, p, sc in zip(uniq, cls_pos, score)
            }
            mapped = vals.map(table)
            class_out[mask] = [t[0] for t in mapped]
            score_out[mask] = [t[1] for t in mapped]
        return pd.DataFrame({"classID": class_out, "score": score_out})

    return _classify


def classify_wide(
    spark: SparkSession,
    records: DataFrame,
    samples: dict[int, np.ndarray],
    cfg: PPRLConfig,
) -> DataFrame:
    """STATELESS classification: all attr×sample cells as one array column
    per record — no explode, no groupBy, so it lifts to Structured
    Streaming append mode unchanged (streaming/jobs.py).

    Output: (recordID, party, arr: array<struct<s:int, classID, score>>),
    arr ordered by s, classID = ``"S{s}.{pos}"`` exactly as
    ReferenceSetBlocking.java:176,180.
    """
    _classify = make_classify_udf(spark, samples, cfg)
    return records.select(
        F.col(cfg.id_col).cast("string").alias("recordID"),
        "party",
        classify_cells_expr(_classify, cfg).alias("arr"),
    )


def classify_cells_expr(classify_udf, cfg: PPRLConfig):
    """array<struct<s, classID, score>> expression over the record's
    attribute columns — the wide-classify core, reusable inside any
    projection (e.g. the streaming enriched select)."""
    cells = []
    s = 1
    for attr in cfg.blocking_attrs:
        for _ in range(cfg.num_samples):
            c = classify_udf(F.lit(s).cast("int"), F.col(attr).cast("string"))
            cells.append(
                F.struct(
                    F.lit(s).cast("int").alias("s"),
                    c["classID"].alias("classID"),
                    c["score"].alias("score"),
                )
            )
            s += 1
    return F.array(*cells)
