"""Deterministic derivation of PPRL inputs from the shared driver testdata
(/root/testdata/sf*/documents.parquet) — used by __spark_entry__.py.

The two linkage parties are overlapping slices of the documents table
(doc_id % 4 != 3 -> party A, doc_id % 4 != 2 -> party B, i.e. 50% overlap),
and the three blocking attributes are deterministic token projections of
the text — the same shape as the reference's (surname, name, city)
projection of its CSVs (/root/reference/src/main/java/com/database/
SQLData.java:53-62). Everything is pure Catalyst so the extraction itself
is DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PPRLConfig
from ..operators.ranking import global_rank

TESTDATA_CFG = PPRLConfig(rs_size_override=25, purge_max_block_size=500)

# DuckDB twin of records_from_documents (kept adjacent so they evolve together)
RECORDS_ORACLE_SQL = """
WITH toks AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS t
  FROM documents
), recs AS (
  SELECT CAST(doc_id AS VARCHAR) AS id,
         upper(t[1] || t[2]) AS surname,
         upper(t[3] || t[4]) AS name,
         upper(source || t[5]) AS city,
         doc_id
  FROM toks WHERE len(t) >= 5
)
SELECT id, surname, name, city, 'A' AS party FROM recs WHERE doc_id % 4 <> 3
UNION ALL
SELECT id, surname, name, city, 'B' AS party FROM recs WHERE doc_id % 4 <> 2
"""


def documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def records_from_documents(docs: DataFrame) -> DataFrame:
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select(
        F.col("doc_id"),
        F.col("doc_id").cast("string").alias("id"),
        F.upper(F.concat(F.element_at(toks, 1), F.element_at(toks, 2))).alias("surname"),
        F.upper(F.concat(F.element_at(toks, 3), F.element_at(toks, 4))).alias("name"),
        F.upper(F.concat(F.col("source"), F.element_at(toks, 5))).alias("city"),
    ).where(F.size(toks) >= 5)
    a = base.where(F.col("doc_id") % 4 != 3).select("id", "surname", "name", "city", F.lit("A").alias("party"))
    b = base.where(F.col("doc_id") % 4 != 2).select("id", "surname", "name", "city", F.lit("B").alias("party"))
    return a.unionAll(b)


def reference_sets_from_records(records: DataFrame, cfg: PPRLConfig) -> DataFrame:
    """Public reference table derived from the distinct attribute values
    (stands in for the reference's external public CSV, SQLData.java:46-51)."""
    # ONE pass over the records for all attribute vocabularies (unpivot +
    # distinct), materialized once — the per-attr ranking jobs then read
    # the small checkpointed value set instead of re-deriving records
    pairs = F.array(
        *[
            F.struct(F.lit(i + 1).alias("ai"), F.col(attr).alias("v"))
            for i, attr in enumerate(cfg.blocking_attrs)
        ]
    )
    vocab = (
        records.select(F.explode(pairs).alias("p"))
        .select(F.col("p.ai").alias("ai"), F.col("p.v").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    cols = []
    for i in range(len(cfg.blocking_attrs)):
        # two-phase global rank — NOT Window.orderBy with no partitionBy,
        # which would funnel the whole distinct-value set through one task
        vals = global_rank(vocab.where(F.col("ai") == i + 1).select("v"), "v")
        cols.append(vals.select(F.col("rn"), F.col("v").alias(f"col{i+1}")))
    out = cols[0]
    for c in cols[1:]:
        out = out.join(c, "rn", "full_outer")
    return out.drop("rn")
