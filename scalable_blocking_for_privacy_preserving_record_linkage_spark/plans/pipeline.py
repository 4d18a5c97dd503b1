"""End-to-end PPRL pipeline (the reference's ``Simulator.main``,
/root/reference/src/main/java/com/simulator/Simulator.java:21-58, rebuilt
Spark-first).

Stage graph (shuffles annotated; compare the reference's six, SURVEY.md §3;
[name] marks a checkpoint):

  records ──(normalize: narrow)──► [encoded] ONE per-record pass: one
          pandas-UDF call returns all 12 classify cells and three more
          return the CLK filters, all in ONE Python evaluation node
          (narrow) ──► block_ids explode (narrow) ──(purge: slim
          groupBy(blockID) verdicts + left_semi, window ranks on blockID:
          SHUFFLE 1 on hash(blockID))──► [block_elements]
          ──(banded range-join: SHUFFLE 2)──(distinct: SHUFFLE 3)──►
          [candidates] ──(attach filters ×2: SHUFFLES 4,5)──► [matches]
          (Catalyst Dice filter) ──(iterative CC joins)──► clusters

Classify and encode are stateless functions of the same normalized
attributes, so they cross the Python boundary once, as the stream side
does (streaming/jobs.py). The reference's 12-way classify-union +
groupBy(recordID) regroup collapses into that stateless pass (no shuffle
at all before block formation), its two per-party block groupBys + inner
join collapse into one slim count-aggregate purge, and its per-row
sorted-neighborhood loop becomes a codegen banded range-join — five
shuffles on slimmer rows versus the reference's six on wider ones, with
no Python in the per-pair path.

The four marked stages checkpoint to Parquet (Iceberg in production) with
a lineage manifest; a rerun with the same config resumes after the last
completed stage (north-star resumability requirement).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PPRLConfig
from ..operators import blocking, classify, clustering, matching, window
from ..operators.evaluate import LinkageMetrics, evaluate
from ..sources import extract
from ..sources.io import checkpoint_stage, ensure_parallelism


@dataclass
class PipelineResult:
    records: DataFrame
    classified: DataFrame
    elements: DataFrame
    candidates: DataFrame
    blooms: DataFrame
    matches: DataFrame
    components: DataFrame | None
    metrics: LinkageMetrics | None


def run_pipeline(
    spark: SparkSession,
    records: DataFrame,
    reference_sets: DataFrame,
    cfg: PPRLConfig,
    checkpoint_dir: str | None = None,
    with_clusters: bool = True,
    with_metrics: bool = True,
) -> PipelineResult:
    """records: (id, surname, name, city, party); reference_sets: (col1..colN)."""
    ph = cfg.params_hash()

    normalized = ensure_parallelism(extract.normalize_records(records, cfg)).cache()

    # the party-size action exists only to size the RS draw and the metrics
    # denominators — skip it entirely when the RS size is pinned and no
    # metrics were requested (one less action on the e2e path)
    n_alice = n_bob = expected = 0
    if cfg.rs_size_override is None or with_metrics:
        n_alice, n_bob, expected = _party_sizes(normalized)

    samples = classify.build_reference_samples(reference_sets, cfg, max(n_alice, n_bob))

    # classify's cells and the CLK filters in one projection: one Python
    # node, one checkpoint. Without a checkpoint, a consumer of only `arr`
    # or only the filters prunes the node to that UDF kind.
    encoded = checkpoint_stage(
        lambda: matching.with_blooms(
            normalized,
            [
                F.col(cfg.id_col).cast("string").alias("recordID"),
                F.col("party"),
                classify.cells_expr(spark, samples, cfg).alias("arr"),
            ],
            cfg,
        ),
        spark, checkpoint_dir, "encoded", ph,
    )
    classified = encoded.select("recordID", "party", "arr")
    blooms = encoded.drop("arr")
    elements = checkpoint_stage(
        lambda: blocking.purge_blocks(
            blocking.block_ids_from_arrays(classified, cfg), cfg
        ),
        spark, checkpoint_dir, "block_elements", ph,
    )
    candidates = checkpoint_stage(
        lambda: window.candidate_pairs(elements, cfg),
        spark, checkpoint_dir, "candidates", ph,
    )
    # the reference caches matches before its double count (Simulator.java:50);
    # without a durable checkpoint we truncate lineage locally so downstream
    # consumers (Dice join, clustering, metrics) never re-run the classify/
    # window DAG — matches MUST be built from the checkpointed candidates
    truncate = checkpoint_dir is None and (with_clusters or with_metrics)
    if truncate:
        candidates = candidates.localCheckpoint()
    matches = checkpoint_stage(
        lambda: matching.match_candidates(candidates, blooms, cfg),
        spark, checkpoint_dir, "matches", ph,
    )
    if truncate:
        matches = matches.localCheckpoint()

    components = None
    if with_clusters:
        components = clustering.connected_components(matches)

    metrics = None
    if with_metrics:
        metrics = evaluate(matches, candidates, n_alice, n_bob, expected)

    return PipelineResult(
        records=normalized,
        classified=classified,
        elements=elements,
        candidates=candidates,
        blooms=blooms,
        matches=matches,
        components=components,
        metrics=metrics,
    )


def _party_sizes(records: DataFrame) -> tuple[int, int, int]:
    """(|A|, |B|, expected matches) in one action. expected = |ids on both
    sides| (ground truth: id equality, Simulator.java:62; the reference
    derives it as DB_SIZE*COMMON_RECORDS from its file construction,
    Conf.java:54-55)."""
    per_id = records.groupBy("id").agg(
        F.count(F.when(F.col("party") == "A", 1)).alias("a"),
        F.count(F.when(F.col("party") == "B", 1)).alias("b"),
    )
    n_alice, n_bob, expected = per_id.agg(
        F.sum("a"), F.sum("b"), F.count(F.when((F.col("a") > 0) & (F.col("b") > 0), 1))
    ).first()
    return n_alice or 0, n_bob or 0, expected


def run_pipeline_from_pages(
    spark: SparkSession,
    pages: DataFrame,
    reference_sets: DataFrame,
    cfg: PPRLConfig,
    **kw,
) -> PipelineResult:
    """North-star entry: pages (url, warc_ts, html, text, lang) in."""
    records = extract.records_from_pages(pages, cfg)
    return run_pipeline(spark, records, reference_sets, cfg, **kw)
