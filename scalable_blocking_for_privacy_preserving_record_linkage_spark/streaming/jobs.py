"""Structured-Streaming jobs: incremental PPRL ingest + event analytics.

The reference is pure batch (SURVEY.md §2.9 — no streaming of any kind);
these are the engine's forward extensions for continuous pipelines, built
on ``readStream``/``writeStream`` so every transformation below is the
SAME DataFrame code the batch pipeline uses — classification, Bloom
encoding and block assignment are stateless per record, so they lift to
streams unchanged (the Spark unified-batch-streaming contract).

* ``stream_records(...)``      — file-source stream of party records
* ``encode_stream(...)``       — incremental Bloom encoding of new records
* ``classify_stream(...)``     — incremental classify + block-id assignment;
                                 new records land in the same block keyspace
                                 as the static index, ready for a
                                 stream-static candidate join
* ``match_stream_against(...)``— stream-static join: score each incoming
                                 record's candidates against the indexed
                                 opposite party, emit matches continuously
* ``windowed_event_counts(...)``— watermarked tumbling-window aggregation
                                 over the events table (late data handled)

All jobs are testable with ``trigger(availableNow=True)`` + memory sink —
no always-on cluster needed.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PPRLConfig
from ..operators import blocking, classify, matching

RECORD_SCHEMA = "id string, surname string, name string, city string, party string"


def stream_records(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """Parquet file-source stream of (id, surname, name, city, party)."""
    return (
        spark.readStream.schema(RECORD_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def encode_stream(records: DataFrame, cfg: PPRLConfig) -> DataFrame:
    """Incremental Bloom encoding — the batch encoder applied to a stream
    (stateless pandas UDF; one Arrow batch per micro-batch partition)."""
    return matching.encode_blooms(records, cfg)


def classify_stream(
    records: DataFrame, samples: dict[int, np.ndarray], cfg: PPRLConfig
) -> DataFrame:
    """Incremental classification + block-id assignment for new records.

    Uses the STATELESS wide classify (one array column per record, no
    explode-then-groupBy) so the whole transform is a projection — legal
    in streaming append mode with no state store.
    """
    spark = records.sparkSession
    wide = classify.classify_wide(spark, records, samples, cfg)
    return blocking.block_ids_from_arrays(wide, cfg)


def match_stream_against(
    incoming: DataFrame,
    static_elements: DataFrame,
    static_blooms: DataFrame,
    samples: dict[int, np.ndarray],
    cfg: PPRLConfig,
    dedup_retention: str = "1 hour",
) -> DataFrame:
    """Stream-static linkage: each incoming record (party B) is classified
    AND Bloom-encoded in ONE projection (a single pandas-UDF pass — two
    derivatives of one stream would otherwise force a stream-stream
    join), its blocks looked up in the STATIC party-A index via a
    stream-static equi-join on blockID, and each candidate Dice-scored
    in-line. Append mode, no state store except the pair dedup.
    ``static_blooms`` must be encoded under ``cfg.bloom_representation``;
    ``score_joined`` raises on mixed layouts.

    The static side is the checkpointed output of the batch pipeline; at
    cluster scale it is a bucketed Iceberg table so the per-batch join
    needs no shuffle of the big side.
    """
    from ..operators.blocking import _cyclic_pair_expr

    n = cfg.num_attrs
    spark = incoming.sparkSession
    b = incoming.where(F.col("party") == "B")

    classify_udf = classify.make_classify_udf(spark, samples, cfg)
    enriched = matching.with_blooms(
        b,
        [
            F.col(cfg.id_col).cast("string").alias("record2"),
            classify.classify_cells_expr(classify_udf, cfg).alias("arr"),
        ],
        cfg,
        side="B",
    )
    b_cols = [f"{c}B_{i}" for c in ("bloom", "card") for i in range(1, n + 1)]
    stream_elements = enriched.select(
        "record2", F.explode(_cyclic_pair_expr("arr")).alias("bp"), *b_cols
    ).select(F.col("bp.blockID").alias("blockID"), "record2", *b_cols)

    # static A index: blockID -> (record1, blooms) built once, batch-side
    a_index = (
        static_elements.where(F.col("party") == "A")
        .select("blockID", F.col("recordID").alias("record1"))
        .join(matching.split_blooms(static_blooms, cfg)[0], "record1")
    )
    joined = stream_elements.join(a_index, "blockID")
    scored = matching.score_joined(joined, cfg)
    if scored.isStreaming:
        # BOUNDED dedup state: a bare dropDuplicates on an unbounded
        # stream grows the state store forever. Pairs are deduped within
        # ``dedup_retention`` of arrival time and the watermark lets the
        # store evict older keys (a pair re-emitted after retention is a
        # re-notification, not corruption — sinks upsert on the pair key).
        return (
            scored.withColumn("_arrival_ts", F.current_timestamp())
            .withWatermark("_arrival_ts", dedup_retention)
            .dropDuplicatesWithinWatermark(["record1", "record2"])
            .drop("_arrival_ts")
        )
    return scored.dropDuplicates(["record1", "record2"])


def dedup_stream_against(
    incoming_docs: DataFrame,
    corpus_index: DataFrame,
    num_hashes: int = 8,
    num_bands: int = 4,
    shingle_q: int = 5,
    verify_threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    dedup_retention: str = "1 hour",
) -> DataFrame:
    """Online dedup of a crawl stream against a static corpus: each
    incoming document is MinHash-banded in ONE stateless projection,
    stream-static equi-joined on (band, band_sig) against the prebuilt
    ``dedup.minhash_band_index`` of the corpus, then exact-verified with
    distinct-q-gram Jaccard via ``array_intersect`` — the same
    no-row-explosion verify the batch ``canonical_docs`` uses, so batch
    and stream share one code path (asserted by batch-parity tests).

    Output (append mode): (doc_id, dup_of, jaccard) — one row per
    (incoming doc, corpus near-dup) pair at ``jaccard >= verify_threshold``.
    A training-data ingest drops incoming docs that appear here. The only
    state is the pair dedup, bounded by ``dedup_retention`` via
    watermark + dropDuplicatesWithinWatermark (same eviction contract as
    ``match_stream_against``).

    Banding params MUST match the ones the index was built with; at
    cluster scale the index is a bucketed table on (band, band_sig) so the
    per-micro-batch join shuffles only the (small) new-arrivals side.
    """
    from ..operators import dedup as dedup_ops

    stream_banded = dedup_ops.minhash_band_index(
        incoming_docs, id_col, text_col, num_hashes, num_bands, shingle_q
    ).select(
        "band",
        "band_sig",
        F.col("id").alias("doc_id"),
        F.col("grams").alias("g_new"),
    )
    static_side = corpus_index.select(
        "band",
        "band_sig",
        F.col("id").alias("dup_of"),
        F.col("grams").alias("g_old"),
    )
    joined = stream_banded.join(static_side, ["band", "band_sig"]).where(
        F.col("doc_id") != F.col("dup_of")
    )
    c = F.size(F.array_intersect("g_new", "g_old"))
    # threshold on the UNROUNDED ratio (round only the projected output) —
    # identical semantics to batch canonical_docs and the DuckDB oracle; a
    # pair within 5e-7 below the threshold must not sneak in via rounding
    jac = c / (F.size("g_new") + F.size("g_old") - c)
    verified = joined.where(jac >= verify_threshold).select(
        "doc_id",
        "dup_of",
        F.round(jac, 6).alias("jaccard"),
    )
    if verified.isStreaming:
        return (
            verified.withColumn("_arrival_ts", F.current_timestamp())
            .withWatermark("_arrival_ts", dedup_retention)
            .dropDuplicatesWithinWatermark(["doc_id", "dup_of"])
            .drop("_arrival_ts")
        )
    return verified.dropDuplicates(["doc_id", "dup_of"])


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window event rollup (works batch AND stream).

    Output: (window_start, window_end, event_type, n_events, total_value).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def hopping_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked HOPPING-window rollup (overlapping windows; each event
    lands in window/slide buckets — works batch AND stream, same unified
    API as the tumbling variant). Output schema matches
    ``windowed_event_counts``.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
