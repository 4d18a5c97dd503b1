"""Reference-set classification (phase 1 of the reference pipeline).

Reproduces ``ReferenceSetBlocking.classifyBlockingAttribute``
(``ReferenceSetBlocking.java:151-184``) with two deliberate structural
rewrites for scale (SURVEY.md §2.5/§4.2):

* The reference runs 12 separate ``map`` stages (3 attrs × 4 samples),
  unions them and regroups by record (ReferenceSetBlocking.java:28-68).
  ``classify_wide`` runs ONE projection instead, with ONE pandas-UDF call
  per record over its blocking attributes (``cells_expr``). The UDF
  classifies each attribute's distinct values against that attribute's
  samples and returns the record's cells as two (rows × cells) matrices,
  ``classID`` and ``score``; Catalyst zips them into one array ordered by
  sample index ``s``, which it takes from the array position, so ``s``
  never crosses the Arrow boundary. No explode, no shuffle, so the batch
  pipeline, the streaming jobs and ``__spark_entry__`` share it
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
from pyspark.sql import Column, DataFrame, SparkSession
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


def _classify_values(
    values: np.ndarray, rs: np.ndarray, s: int, nsc: int
) -> tuple[np.ndarray, np.ndarray]:
    """(classID, score) of each value against the sorted sample ``rs`` —
    one ``classifyBlockingAttribute`` call per value
    (ReferenceSetBlocking.java:151-184)."""
    pos = prefix_binary_search_batch(rs, values, nsc, len(rs))
    d2 = levenshtein_batch(values, rs[pos])
    # d1 only when pos-1 > 0 (STRICT: index 0 never considered,
    # ReferenceSetBlocking.java:169)
    has_d1 = pos - 1 > 0
    d1 = np.full(len(values), 1_000_000, dtype=np.int64)
    if has_d1.any():
        d1[has_d1] = levenshtein_batch(values[has_d1], rs[pos[has_d1] - 1])
    use_d1 = d1 < d2
    cls_pos = np.where(use_d1, pos, pos + 1)
    class_ids = np.array([f"S{s}.{p}" for p in cls_pos], dtype=object)
    return class_ids, np.where(use_d1, d1, d2).astype(np.int32)


def cells_expr(
    spark: SparkSession, samples: dict[int, np.ndarray], cfg: PPRLConfig
) -> Column:
    """``array<struct<s:int, classID:string, score:int>>`` over the record's
    ``cfg.blocking_attrs`` columns: every (attribute, sample) cell, ordered
    by ``s``, from ONE pandas-UDF call per record. Usable inside any
    projection (``classify_wide``, ``run_pipeline``'s encoded stage, the
    streaming enriched select).

    The sorted samples are broadcast once. In each Arrow batch the UDF
    classifies every attribute's DISTINCT values once per sample (names
    and cities repeat heavily) and returns the cells as a struct of two
    ``array`` columns built from (rows × cells) matrices: an
    ``array<struct>`` result would be converted cell by cell into Python
    dicts on the way out."""
    bc = spark.sparkContext.broadcast(
        {s: np.asarray(v, dtype=object) for s, v in samples.items()}
    )
    nsc, k = cfg.num_search_chars, cfg.num_samples

    out_type = T.StructType(
        [
            T.StructField("classID", T.ArrayType(T.StringType())),
            T.StructField("score", T.ArrayType(T.IntegerType())),
        ]
    )

    @F.pandas_udf(out_type)
    def _classify(*attrs: pd.Series) -> pd.DataFrame:
        class_ids, scores = [], []
        for a, values in enumerate(attrs):
            if values.isna().any():
                raise ValueError("classify needs normalized records: NULL attribute")
            codes, uniq = pd.factorize(values)
            uq = np.asarray(uniq, dtype=object)
            for s in range(a * k + 1, (a + 1) * k + 1):
                c, sc = _classify_values(uq, bc.value[s], s, nsc)
                class_ids.append(c[codes])
                scores.append(sc[codes])
        return pd.DataFrame(
            {
                "classID": np.column_stack(class_ids).tolist(),
                "score": np.column_stack(scores).tolist(),
            }
        )

    cells = _classify(*[F.col(a).cast("string") for a in cfg.blocking_attrs])
    return F.transform(
        F.arrays_zip(cells["classID"], cells["score"]),
        lambda c, i: F.struct(
            (i + 1).alias("s"), c["classID"].alias("classID"), c["score"].alias("score")
        ),
    )


def classify_wide(
    spark: SparkSession,
    records: DataFrame,
    samples: dict[int, np.ndarray],
    cfg: PPRLConfig,
) -> DataFrame:
    """STATELESS classification: all attr×sample cells as one array column
    per record — no explode, no groupBy, so it lifts to Structured
    Streaming append mode unchanged (streaming/jobs.py).

    ``records`` must be normalized (``extract.normalize_records``); a NULL
    attribute raises inside the UDF.

    Output: (recordID, party, arr: array<struct<s:int, classID, score>>),
    arr ordered by s, classID = ``"S{s}.{pos}"`` exactly as
    ReferenceSetBlocking.java:176,180.
    """
    return records.select(
        F.col(cfg.id_col).cast("string").alias("recordID"),
        "party",
        cells_expr(spark, samples, cfg).alias("arr"),
    )
