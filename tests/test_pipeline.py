"""Golden end-to-end pipeline tests + invariants (SURVEY.md §5.2)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from scalable_blocking_for_privacy_preserving_record_linkage_spark.config import PPRLConfig
from scalable_blocking_for_privacy_preserving_record_linkage_spark.operators import clustering
from scalable_blocking_for_privacy_preserving_record_linkage_spark.operators.evaluate import evaluate
from scalable_blocking_for_privacy_preserving_record_linkage_spark.plans import pipeline
from scalable_blocking_for_privacy_preserving_record_linkage_spark.plans.pipeline import (
    run_pipeline,
    run_pipeline_from_pages,
)
from scalable_blocking_for_privacy_preserving_record_linkage_spark.sources import (
    extract,
    fixtures,
    io,
)


@pytest.fixture(scope="module")
def golden(spark):
    """1k/party, 100% overlap (mirrors the reference's 1k configuration,
    Conf.java:54), 5% seeded typos on the B side."""
    cfg = PPRLConfig(rs_size_override=20)
    recs = fixtures.spark_records(spark, 1000, overlap=1.0, typo_rate=0.05, seed=42)
    rs = fixtures.spark_reference_sets(spark, seed=42)
    return run_pipeline(spark, recs, rs, cfg)


def test_golden_f1(golden):
    m = golden.metrics
    assert m.pairs_completeness >= 0.99
    assert m.f1 >= 0.99
    assert 0.0 < m.reduction_ratio < 1.0


def test_golden_match_columns(golden):
    # record1 = Alice id, record2 = Bob id (MetaBlocking.java:64-68)
    a_ids = {r["id"] for r in golden.records.where("party='A'").select("id").collect()}
    b_ids = {r["id"] for r in golden.records.where("party='B'").select("id").collect()}
    sample = golden.matches.limit(50).collect()
    assert all(r["record1"] in a_ids and r["record2"] in b_ids for r in sample)


def test_golden_clusters(golden):
    comps = clustering.clusters_table(golden.components)
    # matched nodes are namespaced A:/B: and every cluster has >= 2 members
    first = comps.orderBy(F.desc("size")).first()
    assert first["size"] >= 2
    assert all(m[:2] in ("A:", "B:") for m in first["members"])


def test_partition_invariance(spark):
    """Output must not depend on input partitioning (NOT true of the
    reference — its collect_list pairing is shuffle-dependent; our sort fix
    makes this assertable, SURVEY.md §2.8.1)."""
    cfg = PPRLConfig(rs_size_override=10, seed=3)
    rs = fixtures.spark_reference_sets(spark, seed=3)

    def matches_with(nparts):
        recs = fixtures.spark_records(spark, 200, overlap=1.0, seed=3).repartition(nparts)
        res = run_pipeline(spark, recs, rs, cfg, with_clusters=False, with_metrics=False)
        return sorted(
            (r["record1"], r["record2"])
            for r in res.matches.select("record1", "record2").collect()
        )

    assert matches_with(1) == matches_with(13)


def test_pages_extractor_invariant(spark):
    pages = fixtures.spark_pages(spark, 300, overlap=0.25, typo_rate=0.0, seed=9)
    bad = pages.where(extract.extract_text(F.col("html")) != F.col("text")).count()
    assert bad == 0


def test_pages_end_to_end(spark):
    cfg = PPRLConfig(rs_size_override=15, seed=9)
    pages = fixtures.spark_pages(spark, 300, overlap=0.25, typo_rate=0.0, seed=9)
    rs = fixtures.spark_reference_sets(spark, seed=9)
    res = run_pipeline_from_pages(spark, pages, rs, cfg, with_clusters=False)
    assert res.metrics.pairs_completeness == 1.0


def test_sample_fraction_at_load(spark):
    """cfg.sample_fraction applies a seeded load-time sample in
    records_from_pages (SQLData.java:21-27 made live): deterministic for a
    fixed seed, strict subset of the unsampled extraction."""
    pages = fixtures.spark_pages(spark, 300, overlap=0.25, typo_rate=0.0, seed=9)
    full = extract.records_from_pages(pages, PPRLConfig(seed=9))
    samp_cfg = PPRLConfig(seed=9, sample_fraction=0.3)
    ids = lambda df: {(r["id"], r["party"]) for r in df.select("id", "party").collect()}
    s1, s2 = (
        ids(extract.records_from_pages(pages, samp_cfg)) for _ in range(2)
    )
    assert s1 == s2                      # seeded -> reproducible
    assert s1 < ids(full)                # strict subset
    assert 0 < len(s1) < 300 * 2 * 0.6   # roughly the asked fraction


def test_checkpoint_resume(spark, tmp_path):
    """A rerun over the same Parquet inputs resumes from the checkpoints; a
    rerun over a rewritten input recomputes and equals a fresh run."""
    cfg = PPRLConfig(rs_size_override=10, seed=5)
    recs_path = str(tmp_path / "records")
    fixtures.spark_records(spark, 150, overlap=0.5, seed=5).write.parquet(recs_path)
    fixtures.spark_reference_sets(spark, seed=5).write.parquet(str(tmp_path / "rs"))
    rs = spark.read.parquet(str(tmp_path / "rs"))
    d = str(tmp_path / "ckpt")

    def run(checkpoint_dir=d, cfg=cfg):
        return run_pipeline(
            spark, spark.read.parquet(recs_path), rs, cfg,
            checkpoint_dir=checkpoint_dir, with_clusters=False,
        )

    def matches_manifest():
        with open(os.path.join(d, "matches", io.MANIFEST)) as f:
            return f.read()

    n1 = run().matches.count()
    # classify and encode share one per-record stage and one checkpoint
    assert set(os.listdir(d)) == {"encoded", "block_elements", "candidates", "matches"}
    written = matches_manifest()
    # second run resumes from checkpoints (same key: config and input
    # files) and agrees; the manifest, with its wall time, is not rewritten
    assert run().matches.count() == n1
    assert matches_manifest() == written
    # a rewritten input has new part-file names: the rerun recomputes
    fixtures.spark_records(spark, 150, overlap=1.0, seed=5).write.mode(
        "overwrite"
    ).parquet(recs_path)
    fresh = sorted(run(checkpoint_dir=None).matches.select("record1", "record2").collect())
    assert len(fresh) != n1
    assert sorted(run().matches.select("record1", "record2").collect()) == fresh
    assert matches_manifest() != written
    # changed params invalidate the checkpoint (different hash)
    cfg2 = PPRLConfig(rs_size_override=10, seed=5, window_size=3)
    r3 = run(checkpoint_dir=str(tmp_path / "ckpt2"), cfg=cfg2)
    assert r3.matches is not None


def test_write_checkpoint_runs_one_job(spark, tmp_path):
    """The manifest's row count comes from an Observation on the write, not
    from a second job over the written files."""
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    sc = spark.sparkContext
    group = "write-checkpoint-one-job"
    sc.setJobGroup(group, "write_checkpoint")
    try:
        back = io.write_checkpoint(df, str(tmp_path / "stage"), "stage", "h")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    with open(os.path.join(tmp_path, "stage", io.MANIFEST)) as f:
        manifest = json.load(f)
    assert manifest["rows"] == 100 and manifest["completed"]
    assert back.count() == 100


def test_truncated_manifest_recomputes(spark, tmp_path):
    """A manifest cut short (a crash mid-write) reads as "no checkpoint":
    the rerun recomputes that stage and rewrites a whole manifest, while the
    stages before it resume (inputs from Parquet: in-memory ones never
    resume)."""
    cfg = PPRLConfig(rs_size_override=10, seed=5)
    fixtures.spark_records(spark, 150, overlap=0.5, seed=5).write.parquet(str(tmp_path / "recs"))
    fixtures.spark_reference_sets(spark, seed=5).write.parquet(str(tmp_path / "rs"))
    recs = spark.read.parquet(str(tmp_path / "recs"))
    rs = spark.read.parquet(str(tmp_path / "rs"))
    d = str(tmp_path / "ckpt")
    kw = dict(checkpoint_dir=d, with_clusters=False, with_metrics=False)
    n1 = run_pipeline(spark, recs, rs, cfg, **kw).matches.count()
    mpath = os.path.join(d, "matches", io.MANIFEST)
    cpath = os.path.join(d, "candidates", io.MANIFEST)
    with open(cpath) as f:
        candidates_manifest = f.read()
    with open(mpath) as f:
        text = f.read()
    with open(mpath, "w") as f:
        f.write(text[: len(text) // 2])
    assert run_pipeline(spark, recs, rs, cfg, **kw).matches.count() == n1
    with open(mpath) as f:
        assert json.load(f)["completed"]
    with open(cpath) as f:
        assert f.read() == candidates_manifest


def test_resume_reads_manifest_schema_without_jobs(spark, tmp_path):
    """A resumed stage rereads with the schema its manifest records: the
    same schema as the fresh run's, and no Spark job beyond the read
    itself (no footer inference). A manifest without a schema reads as
    "no checkpoint"."""
    df = spark.range(20).selectExpr(
        "cast(id as string) AS recordID",
        "array(named_struct('s', cast(id as int), 'classID', 'S1.1', 'score', 2)) AS arr",
    )
    d = str(tmp_path / "ckpt")
    fresh = io.checkpoint_stage(lambda: df, spark, d, "classified", "h")

    def recompute():
        raise AssertionError("a completed stage was recomputed")

    resumed, n_jobs = _jobs(
        spark, "resume-no-job",
        lambda: io.checkpoint_stage(recompute, spark, d, "classified", "h"),
    )
    assert n_jobs == 0
    assert resumed.schema == fresh.schema
    assert sorted(resumed.collect()) == sorted(df.collect())

    mpath = os.path.join(d, "classified", io.MANIFEST)
    with open(mpath) as f:
        manifest = json.load(f)
    del manifest["schema"]
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    assert io.read_checkpoint(spark, os.path.join(d, "classified"), "classified", "h") is None


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_evaluate_runs_one_action(spark):
    """The three counts come from one collect: the two aggregates' map
    stages plus its result stage (AQE runs each shuffle map stage as its
    own job). Three count() actions run 6."""
    matches = spark.range(1000).selectExpr(
        "cast(id as string) record1", "cast(id % 7 as string) record2"
    )
    candidates = spark.range(5000).selectExpr(
        "cast(id as string) record1", "cast(id as string) record2"
    )
    m, jobs = _jobs(
        spark, "evaluate-one-action", lambda: evaluate(matches, candidates, 100, 100, 7)
    )
    assert (m.n_matches, m.true_positives, m.n_candidates) == (1000, 7, 5000)
    assert jobs <= 4


def test_party_sizes_one_action(spark):
    """|A|, |B| and the id-equality ground truth from one aggregate, with
    intersect's set semantics (duplicate and NULL ids count once)."""
    recs = spark.createDataFrame(
        [("1", "A"), ("1", "A"), ("1", "B"), ("2", "A"), ("3", "B"), (None, "A"), (None, "B")],
        "id string, party string",
    )
    sizes, jobs = _jobs(spark, "party-sizes", lambda: pipeline._party_sizes(recs))
    assert sizes == (4, 3, 2)
    assert jobs <= 3


def test_null_attrs_dropped(spark):
    cfg = PPRLConfig(rs_size_override=10, seed=7)
    recs = fixtures.spark_records(spark, 200, overlap=0.5, seed=7, null_rate=0.1)
    rs = fixtures.spark_reference_sets(spark, seed=7)
    res = run_pipeline(spark, recs, rs, cfg, with_clusters=False)
    # normalized records contain no null/empty blocking attrs
    for attr in cfg.blocking_attrs:
        assert res.records.where(F.col(attr).isNull() | (F.length(attr) == 0)).count() == 0


def test_catalog_fallback_roundtrip(spark, tmp_path):
    """catalog.write_table/read_table degrade to partitioned parquet when
    no Iceberg runtime is present (this container), same call sites."""
    from scalable_blocking_for_privacy_preserving_record_linkage_spark.sources import catalog

    assert catalog.iceberg_available(spark) is False
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, "a", "z")], "id long, part string, v string"
    )
    wh = str(tmp_path / "wh")
    catalog.write_table(df, "db.t1", wh, partition_by=["part"])
    back = catalog.read_table(spark, "db.t1", wh)
    assert sorted(tuple(r) for r in back.select("id", "part", "v").collect()) == [
        (1, "a", "x"), (2, "b", "y"), (3, "a", "z"),
    ]
    # partition layout materialized (partition pruning works on read)
    import os
    assert os.path.isdir(os.path.join(wh, "db", "t1", "part=a"))


def test_north_star_f1_gate(spark):
    """The BASELINE.json bar: pairwise F1 >= 0.99 on labeled pairs, at the
    verify-surface fixture (500/party, 25% overlap, 5% typos) from the
    north-star pages shape. Operating threshold 0.6: the Dice semantics
    are the reference's at ANY t (oracle-checked); t is the tunable the
    operator sets for the precision/recall point, and 0.6 holds
    pairs-completeness at 1.0 while cutting the near-collision false
    positives that t=0.5 admits on syllable-vocabulary data."""
    from scalable_blocking_for_privacy_preserving_record_linkage_spark.plans.pipeline import (
        run_pipeline_from_pages,
    )

    pages = fixtures.spark_pages(spark, 500, overlap=0.25, typo_rate=0.05, seed=42)
    res = run_pipeline_from_pages(
        spark,
        pages,
        fixtures.spark_reference_sets(spark),
        PPRLConfig(rs_size_override=20, matching_threshold=0.6),
    )
    m = res.metrics
    assert m.pairs_completeness >= 0.99
    assert m.f1 >= 0.99


def test_distributed_fixture_matches_driver_side_semantics(spark):
    """spark_party_records_distributed: same contract as
    generate_party_records — exact per-party counts, exactly n*overlap
    shared ids (ground truth), typo rate in the right ballpark on shared
    B rows only, deterministic and partition-invariant."""
    from pyspark.sql import functions as F

    from scalable_blocking_for_privacy_preserving_record_linkage_spark.sources import (
        fixtures,
    )

    n, overlap, typo = 4000, 0.25, 0.05
    recs, ref = fixtures.spark_party_records_distributed(
        spark, n, overlap=overlap, typo_rate=typo, seed=11
    )
    counts = {r["party"]: r["count"] for r in recs.groupBy("party").count().collect()}
    assert counts == {"A": n, "B": n}
    shared = (
        recs.groupBy("id").agg(F.count_distinct("party").alias("p")).where("p=2").count()
    )
    assert shared == int(n * overlap)
    # typos: only shared B rows may differ from their A twin, at ~typo_rate
    a = recs.where("party='A'").select("id", "surname", "name", "city")
    b = recs.where("party='B'").select(
        "id",
        F.col("surname").alias("s2"),
        F.col("name").alias("n2"),
        F.col("city").alias("c2"),
    )
    j = a.join(b, "id")
    diff = j.where(
        (F.col("surname") != F.col("s2"))
        | (F.col("name") != F.col("n2"))
        | (F.col("city") != F.col("c2"))
    ).count()
    assert 0 < diff < int(n * overlap) * typo * 2.5
    # deterministic + partition-invariant
    again, _ = fixtures.spark_party_records_distributed(
        spark, n, overlap=overlap, typo_rate=typo, seed=11
    )
    assert sorted(map(tuple, recs.collect())) == sorted(
        map(tuple, again.repartition(13).collect())
    )
    # reference table carries the full vocabularies
    assert ref.columns == ["col1", "col2", "col3"]
    assert ref.where(F.col("col1").isNotNull()).count() == 100_000
