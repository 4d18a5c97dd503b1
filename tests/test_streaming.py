"""Structured-Streaming jobs: file-source ingest, incremental encode +
classify, stream-static matching, watermarked windowed aggregation.

Strategy: run each streaming job with trigger(availableNow=True) into a
memory sink and compare against the SAME transformation run in batch —
the unified-API contract makes the batch result the oracle.
"""

from __future__ import annotations

import dataclasses

import pandas as pd
import pytest
from pyspark.sql import functions as F

from scalable_blocking_for_privacy_preserving_record_linkage_spark.config import PPRLConfig
from scalable_blocking_for_privacy_preserving_record_linkage_spark.operators import (
    blocking,
    classify,
    matching,
)
from scalable_blocking_for_privacy_preserving_record_linkage_spark.sources import (
    extract,
    fixtures,
)
from scalable_blocking_for_privacy_preserving_record_linkage_spark.streaming import jobs

CFG = PPRLConfig(rs_size_override=10, purge_max_block_size=500)


@pytest.fixture(scope="module")
def record_dir(spark, tmp_path_factory):
    """Party records written as MULTIPLE parquet files (micro-batch fodder)."""
    path = str(tmp_path_factory.mktemp("stream_records"))
    records = fixtures.spark_records(spark, 120, overlap=0.5, typo_rate=0.0, seed=7)
    records.repartition(4).write.mode("overwrite").parquet(path)
    return path


def _run_stream(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return name


def test_encode_stream_matches_batch(spark, record_dir):
    stream = jobs.stream_records(spark, record_dir, max_files_per_trigger=2)
    assert stream.isStreaming
    _run_stream(jobs.encode_stream(stream, CFG), "enc_stream")
    got = spark.sql("select recordID, party, card_1, card_2, card_3 from enc_stream")

    batch = matching.encode_blooms(spark.read.parquet(record_dir), CFG)
    want = batch.select("recordID", "party", "card_1", "card_2", "card_3")

    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w and len(g) > 0


def test_classify_stream_matches_batch(spark, record_dir):
    batch_records = spark.read.parquet(record_dir)
    samples = classify.build_reference_samples(
        fixtures.spark_reference_sets(spark), CFG, batch_records.count()
    )

    stream = jobs.stream_records(spark, record_dir, max_files_per_trigger=2)
    _run_stream(jobs.classify_stream(stream, samples, CFG), "cls_stream")
    got = spark.sql("select blockID, recordID, party, score from cls_stream")

    want = blocking.block_ids_from_arrays(
        classify.classify_wide(spark, batch_records, samples, CFG), CFG
    )

    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.select("blockID", "recordID", "party", "score").collect()))
    assert g == w and len(g) > 0


def _stream_static_oracle(static_elements, static_blooms, cfg):
    """Batch oracle of ``match_stream_against``: the same candidate rule
    (B and A share a block, no window) + Dice, as sorted (record1, record2)."""
    a_side = static_elements.where("party='A'").select("blockID", F.col("recordID").alias("record1"))
    b_side = static_elements.where("party='B'").select("blockID", F.col("recordID").alias("record2"))
    cand = b_side.join(a_side, "blockID").select("record1", "record2").dropDuplicates(["record1", "record2"])
    want = matching.match_candidates(cand, static_blooms, cfg).select("record1", "record2")
    return sorted(map(tuple, want.collect()))


@pytest.mark.parametrize("layout", ["dense", "sparse"])
def test_match_stream_against_static(spark, record_dir, layout):
    """New B-party records arriving as a stream match the static A index
    exactly as the batch pipeline would, in either CLK wire format."""
    cfg = dataclasses.replace(CFG, bloom_representation=layout)
    batch_records = spark.read.parquet(record_dir)
    samples = classify.build_reference_samples(
        fixtures.spark_reference_sets(spark), cfg, batch_records.count()
    )
    static_elements = blocking.block_ids_from_arrays(
        classify.classify_wide(spark, batch_records, samples, cfg), cfg
    )
    static_blooms = matching.encode_blooms(batch_records, cfg)

    stream = jobs.stream_records(spark, record_dir, max_files_per_trigger=2)
    matched = jobs.match_stream_against(
        stream.where(F.col("party") == "B"),
        static_elements,
        static_blooms,
        samples,
        cfg,
    )
    sink = f"match_stream_{layout}"
    _run_stream(matched.select("record1", "record2", "matched_fields"), sink)
    got = spark.sql(f"select record1, record2 from {sink}")

    w = _stream_static_oracle(static_elements, static_blooms, cfg)
    assert sorted(map(tuple, got.collect())) == w and len(w) > 0


def test_match_stream_normalizes_like_batch(spark, record_dir, tmp_path):
    """Messy B records (lower-cased, padded, one NULL attribute) arriving
    as a stream match the static A index exactly as the batch pipeline
    matches them after ``normalize_records``."""
    batch_records = extract.normalize_records(spark.read.parquet(record_dir), CFG)
    samples = classify.build_reference_samples(
        fixtures.spark_reference_sets(spark), CFG, batch_records.count()
    )
    static_elements = blocking.block_ids_from_arrays(
        classify.classify_wide(spark, batch_records, samples, CFG), CFG
    )
    static_blooms = matching.encode_blooms(batch_records, CFG)

    messy_dir = str(tmp_path / "messy")
    messy = batch_records.where("party='B'").select(
        "id",
        F.concat(F.lit("  "), F.lower("surname"), F.lit(" ")).alias("surname"),
        F.lower("name").alias("name"),
        "city",
        "party",
    )
    null_city = spark.createDataFrame([("NULLCITY", "SMITH", "JOHN", None, "B")], jobs.RECORD_SCHEMA)
    messy.unionByName(null_city).repartition(3).write.parquet(messy_dir)

    stream = jobs.stream_records(spark, messy_dir, max_files_per_trigger=2)
    matched = jobs.match_stream_against(stream, static_elements, static_blooms, samples, CFG)
    _run_stream(matched.select("record1", "record2"), "match_stream_messy")
    got = spark.sql("select record1, record2 from match_stream_messy")

    w = _stream_static_oracle(static_elements, static_blooms, CFG)
    assert sorted(map(tuple, got.collect())) == w and len(w) > 0


def test_windowed_event_counts_stream_vs_batch(spark, tmp_path):
    pdf = pd.DataFrame(
        {
            "event_id": range(100),
            "ts": pd.date_range("2024-01-01", periods=100, freq="7min"),
            "event_type": ["click" if i % 3 else "view" for i in range(100)],
            "value": [float(i % 10) for i in range(100)],
        }
    )
    path = str(tmp_path / "events")
    spark.createDataFrame(pdf).repartition(3).write.parquet(path)

    batch = spark.read.parquet(path)
    want = jobs.windowed_event_counts(batch)

    stream = (
        spark.readStream.schema(batch.schema).option("maxFilesPerTrigger", 1).parquet(path)
    )
    q = (
        jobs.windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName("win_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "select window_start, window_end, event_type, n_events, total_value from win_stream"
    )
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w and len(g) > 0


def test_hopping_event_counts_stream_vs_batch(spark, tmp_path):
    pdf = pd.DataFrame(
        {
            "event_id": range(60),
            "ts": pd.date_range("2024-01-01", periods=60, freq="11min"),
            "event_type": ["click" if i % 2 else "view" for i in range(60)],
            "value": [float(i % 7) for i in range(60)],
        }
    )
    path = str(tmp_path / "events_hop")
    spark.createDataFrame(pdf).repartition(3).write.parquet(path)

    batch = spark.read.parquet(path)
    want = jobs.hopping_event_counts(batch)
    # every event lands in window/slide = 2 overlapping windows
    n_events = int(
        want.agg(F.sum("n_events").alias("s")).collect()[0]["s"]
    )
    assert n_events == 2 * 60

    stream = (
        spark.readStream.schema(batch.schema).option("maxFilesPerTrigger", 1).parquet(path)
    )
    q = (
        jobs.hopping_event_counts(stream)
        .writeStream.format("memory")
        .queryName("hop_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "select window_start, window_end, event_type, n_events, total_value from hop_stream"
    )
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w and len(g) > 0


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState sessionization: sessions closed by a gap
    within the stream match the batch sessionizer's gap rule."""
    from scalable_blocking_for_privacy_preserving_record_linkage_spark.streaming.state import (
        sessionize_stream,
    )

    # user 1: two sessions (gap 3600s); user 2: one session; events split
    # across files so state must carry across micro-batches
    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = [
        (1, base), (1, base + pd.Timedelta(seconds=60)),
        (1, base + pd.Timedelta(seconds=120)),
        (1, base + pd.Timedelta(seconds=120 + 3600 + 1)),     # new session
        (1, base + pd.Timedelta(seconds=120 + 3600 + 30)),
        (2, base), (2, base + pd.Timedelta(seconds=1000)),
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "ts"]).sort_values("ts")
    path = str(tmp_path / "sessev")
    spark.createDataFrame(pdf).repartition(1).write.parquet(path)

    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    q = (
        sessionize_stream(stream, gap_seconds=1800)
        .writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["n_events"])
        for r in spark.sql("select * from sess_stream").collect()
    }
    # only CLOSED sessions are emitted: user 1's first session (3 events)
    # closed by the in-stream gap; open sessions are held in state
    assert (1, 3) in got


def test_dedup_stream_against_matches_batch(spark, tmp_path):
    """Stream-static near-dup detection: crawl stream vs corpus index,
    availableNow + memory sink must equal the identical code path run
    batch, and must flag exactly the planted near-dups."""
    from scalable_blocking_for_privacy_preserving_record_linkage_spark.operators import dedup

    base = ("boilerplate navigation header footer legal text repeated on "
            "every page of the same host with tiny local differences")
    corpus_texts = [(i, base.replace("tiny", f"corp{i}")) for i in range(10)]
    corpus_texts += [(100 + i, f"unique corpus document number {i} " * 4) for i in range(5)]
    corpus = spark.createDataFrame(corpus_texts, "doc_id long, text string")
    index = dedup.minhash_band_index(corpus, num_hashes=16, num_bands=4)

    # stream: 2 near-dups of the boilerplate family, 1 genuinely new doc
    new_texts = [
        (200, base.replace("tiny", "stream0")),
        (201, base.replace("tiny", "stream1")),
        (202, "a genuinely novel page about arrow record batches " * 3),
    ]
    sdir = str(tmp_path / "docs_stream")
    spark.createDataFrame(new_texts, "doc_id long, text string").repartition(
        2
    ).write.mode("overwrite").parquet(sdir)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(sdir)
    )

    args = dict(num_hashes=16, num_bands=4, verify_threshold=0.7)
    _run_stream(jobs.dedup_stream_against(stream, index, **args), "dd_stream")
    got = {
        (r["doc_id"], r["dup_of"], r["jaccard"])
        for r in spark.sql("select * from dd_stream").collect()
    }
    want = {
        (r["doc_id"], r["dup_of"], r["jaccard"])
        for r in jobs.dedup_stream_against(
            spark.read.parquet(sdir), index, **args
        ).collect()
    }
    assert got == want and len(got) > 0
    flagged = {d for d, _, _ in got}
    assert 202 not in flagged          # novel doc passes through
    assert {200, 201} <= flagged       # planted near-dups are caught


def _run_to_files(df, out_dir, ckpt_dir, cols):
    """Run an availableNow pass into a parquet sink with a persistent
    checkpoint — stopping and starting again later IS a restart from the
    checkpoint (offsets + state store both recover from disk)."""
    q = (
        df.select(*cols)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)


def test_match_stream_restart_from_checkpoint_exactly_once(spark, tmp_path):
    """Kill/restart evidence for the stream-static matcher: process half
    the input, let the query terminate (equivalent to a kill between
    micro-batches), append more files INCLUDING an exact re-send of
    already-processed records, and restart from the same checkpoint.
    Exactly-once contract: (a) already-read files are not reprocessed,
    (b) the pair-dedup STATE survives the restart, so the re-sent records
    produce no duplicate match pairs, (c) no gaps — the final output
    equals the batch oracle over the distinct input."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    records = fixtures.spark_records(spark, 120, overlap=0.5, typo_rate=0.0, seed=7)
    samples = classify.build_reference_samples(
        fixtures.spark_reference_sets(spark), CFG, records.count()
    )
    static_elements = blocking.block_ids_from_arrays(
        classify.classify_wide(spark, records, samples, CFG), CFG
    )
    static_blooms = matching.encode_blooms(records, CFG)

    b = records.where(F.col("party") == "B").cache()
    bucket = F.pmod(F.xxhash64("id"), F.lit(3))
    g0 = b.where(bucket == 0)
    g1 = b.where(bucket == 1)
    g2 = b.where(bucket == 2)

    def matched_stream():
        stream = jobs.stream_records(spark, src, max_files_per_trigger=1)
        return jobs.match_stream_against(
            stream, static_elements, static_blooms, samples, CFG
        )

    cols = ["record1", "record2", "matched_fields"]
    # phase 1: two file groups, run to termination ("kill" point)
    g0.write.mode("append").parquet(src)
    g1.write.mode("append").parquet(src)
    _run_to_files(matched_stream(), out, ckpt, cols)
    n_phase1 = spark.read.parquet(out).count()
    assert n_phase1 > 0

    # phase 2: new records + an exact RE-SEND of g1 (new files, same
    # rows) -> restart from the SAME checkpoint
    g2.write.mode("append").parquet(src)
    g1.write.mode("append").parquet(src)  # duplicate content, new files
    _run_to_files(matched_stream(), out, ckpt, cols)

    got = spark.read.parquet(out).select("record1", "record2").collect()
    pairs = [(r.record1, r.record2) for r in got]
    # no duplicate pairs despite the duplicated input spanning the restart
    assert len(pairs) == len(set(pairs))
    # no gaps: equals the batch candidate rule + Dice over distinct input
    a_side = static_elements.where("party='A'").select(
        "blockID", F.col("recordID").alias("record1")
    )
    b_side = static_elements.where("party='B'").select(
        "blockID", F.col("recordID").alias("record2")
    )
    cand = (
        b_side.join(a_side, "blockID")
        .select("record1", "record2")
        .dropDuplicates(["record1", "record2"])
    )
    want = {
        (r.record1, r.record2)
        for r in matching.match_candidates(cand, static_blooms, CFG)
        .select("record1", "record2")
        .collect()
    }
    assert set(pairs) == want and len(want) > 0


def test_dedup_stream_restart_from_checkpoint_exactly_once(spark, tmp_path):
    """Same restart contract for the online dedup job: the re-sent
    near-dup must NOT re-emit its (doc_id, dup_of) pair after the restart
    (dropDuplicatesWithinWatermark state recovers from the checkpoint),
    and the union of both phases equals the batch run over the distinct
    stream docs."""
    from scalable_blocking_for_privacy_preserving_record_linkage_spark.operators import dedup

    base = ("boilerplate navigation header footer legal text repeated on "
            "every page of the same host with tiny local differences")
    corpus = spark.createDataFrame(
        [(i, base.replace("tiny", f"corp{i}")) for i in range(8)],
        "doc_id long, text string",
    )
    index = dedup.minhash_band_index(corpus, num_hashes=16, num_bands=4)

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    phase1 = [(200, base.replace("tiny", "stream0")), (201, base.replace("tiny", "stream1"))]
    resend = [phase1[0]]  # doc 200 re-sent verbatim after the restart
    phase2 = [(202, base.replace("tiny", "stream2"))] + resend

    args = dict(num_hashes=16, num_bands=4, verify_threshold=0.7)

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        _run_to_files(
            jobs.dedup_stream_against(stream, index, **args),
            out, ckpt, ["doc_id", "dup_of", "jaccard"],
        )

    spark.createDataFrame(phase1, "doc_id long, text string").write.mode("append").parquet(src)
    run()
    assert spark.read.parquet(out).count() > 0
    spark.createDataFrame(phase2, "doc_id long, text string").write.mode("append").parquet(src)
    run()

    rows = spark.read.parquet(out).collect()
    keys = [(r.doc_id, r.dup_of) for r in rows]
    assert len(keys) == len(set(keys))  # doc 200's pairs emitted ONCE
    distinct_docs = spark.createDataFrame(
        sorted(set(phase1 + phase2)), "doc_id long, text string"
    )
    want = {
        (r.doc_id, r.dup_of, r.jaccard)
        for r in jobs.dedup_stream_against(distinct_docs, index, **args).collect()
    }
    assert {(r.doc_id, r.dup_of, r.jaccard) for r in rows} == want and len(want) > 0


def _poison_once(flag_path: str):
    """Fault injector: a pandas-UDF predicate that CRASHES the first task
    that evaluates it (creating a marker file first), and passes every
    row through once the marker exists. Injected into a stream's plan it
    kills the query DURING a micro-batch — after the batch is committed
    to the offsets log and tasks have started (partial sink progress),
    but before the sink/commit log records the batch — the hard restart
    point the between-batch kill tests don't reach."""
    import os as _os

    @F.pandas_udf("boolean")
    def poison(ids: pd.Series) -> pd.Series:
        if not _os.path.exists(flag_path):
            open(flag_path, "w").close()
            raise RuntimeError("injected mid-batch crash")
        return pd.Series([True] * len(ids))

    return poison


def test_match_stream_midbatch_crash_restart_exactly_once(spark, tmp_path):
    """Kill the matcher DURING a micro-batch (injected task failure after
    partial progress), restart from the same checkpoint, and assert
    exactly-once: the crashed batch's partial sink files are invisible
    (file-sink manifest), the batch replays exactly once, and the final
    output equals the batch oracle with no duplicate pairs."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    flag = str(tmp_path / "poison_done")

    records = fixtures.spark_records(spark, 120, overlap=0.5, typo_rate=0.0, seed=11)
    samples = classify.build_reference_samples(
        fixtures.spark_reference_sets(spark), CFG, records.count()
    )
    static_elements = blocking.block_ids_from_arrays(
        classify.classify_wide(spark, records, samples, CFG), CFG
    )
    static_blooms = matching.encode_blooms(records, CFG)
    records.where(F.col("party") == "B").write.mode("append").parquet(src)

    poison = _poison_once(flag)

    def matched_stream():
        stream = jobs.stream_records(spark, src, max_files_per_trigger=1)
        stream = stream.where(poison(F.col("id")))
        return jobs.match_stream_against(
            stream, static_elements, static_blooms, samples, CFG
        )

    cols = ["record1", "record2", "matched_fields"]
    # first run: the poison kills the query mid-batch
    with pytest.raises(Exception):
        _run_to_files(matched_stream(), out, ckpt, cols)
    assert __import__("os").path.exists(flag), "crash actually fired"

    # restart from the SAME checkpoint: the marker exists, the batch
    # replays cleanly to completion
    _run_to_files(matched_stream(), out, ckpt, cols)

    got = spark.read.parquet(out).select("record1", "record2").collect()
    pairs = [(r.record1, r.record2) for r in got]
    assert len(pairs) == len(set(pairs)), "no duplicate pairs across the crash"
    a_side = static_elements.where("party='A'").select(
        "blockID", F.col("recordID").alias("record1")
    )
    b_side = static_elements.where("party='B'").select(
        "blockID", F.col("recordID").alias("record2")
    )
    cand = (
        b_side.join(a_side, "blockID")
        .select("record1", "record2")
        .dropDuplicates(["record1", "record2"])
    )
    want = {
        (r.record1, r.record2)
        for r in matching.match_candidates(cand, static_blooms, CFG)
        .select("record1", "record2")
        .collect()
    }
    assert set(pairs) == want and len(want) > 0


def test_dedup_stream_midbatch_crash_restart_exactly_once(spark, tmp_path):
    """Same mid-batch-crash restart contract for the online dedup job:
    the crashed batch replays exactly once (no duplicate (doc_id, dup_of)
    emissions, no gaps vs the batch oracle)."""
    from scalable_blocking_for_privacy_preserving_record_linkage_spark.operators import dedup

    base = ("boilerplate navigation header footer legal text repeated on "
            "every page of the same host with tiny local differences")
    corpus = spark.createDataFrame(
        [(i, base.replace("tiny", f"corp{i}")) for i in range(8)],
        "doc_id long, text string",
    )
    index = dedup.minhash_band_index(corpus, num_hashes=16, num_bands=4)

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    flag = str(tmp_path / "poison_done")
    docs = [(200, base.replace("tiny", "stream0")),
            (201, base.replace("tiny", "stream1"))]
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "append"
    ).parquet(src)

    poison = _poison_once(flag)
    args = dict(num_hashes=16, num_bands=4, verify_threshold=0.7)

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        ).where(poison(F.col("doc_id")))
        _run_to_files(
            jobs.dedup_stream_against(stream, index, **args),
            out, ckpt, ["doc_id", "dup_of", "jaccard"],
        )

    with pytest.raises(Exception):
        run()
    run()  # restart from the same checkpoint completes the batch

    rows = spark.read.parquet(out).collect()
    keys = [(r.doc_id, r.dup_of) for r in rows]
    assert len(keys) == len(set(keys))
    batch_docs = spark.createDataFrame(docs, "doc_id long, text string")
    want = {
        (r.doc_id, r.dup_of, r.jaccard)
        for r in jobs.dedup_stream_against(batch_docs, index, **args).collect()
    }
    assert {(r.doc_id, r.dup_of, r.jaccard) for r in rows} == want and len(want) > 0
