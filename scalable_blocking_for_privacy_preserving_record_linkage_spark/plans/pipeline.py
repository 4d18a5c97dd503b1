"""End-to-end PPRL pipeline (the reference's ``Simulator.main``,
/root/reference/src/main/java/com/simulator/Simulator.java:21-58, rebuilt
Spark-first).

Stage graph (shuffles annotated; compare the reference's six, SURVEY.md §3;
[name] marks a checkpoint):

  records ──(normalize: narrow)──► [encoded] ONE per-record pass: one
          pandas-UDF call returns all 12 classify cells and three more
          return the CLK filters, all in ONE Python evaluation node
          (narrow) ──► block_ids explode (narrow) ──(purge: slim
          groupBy(blockID) verdicts + left_semi: SHUFFLE 1 on
          hash(blockID))──► [block_elements]
          ──(two window functions + explode: SHUFFLE 2 on hash(blockID))
          ──(distinct: SHUFFLE 3)──► [candidates]
          ──(attach filters ×2: SHUFFLES 4,5)──► [matches]
          (Catalyst Dice filter) ──(iterative CC joins)──► clusters

Classify and encode are stateless functions of the same normalized
attributes, so they cross the Python boundary once, as the stream side
does (streaming/jobs.py). The reference's 12-way classify-union +
groupBy(recordID) regroup collapses into that stateless pass (no shuffle
at all before block formation), its two per-party block groupBys + inner
join collapse into one slim count-aggregate purge, and its per-row
sorted-neighborhood loop becomes two window functions and an explode — five
shuffles on slimmer rows versus the reference's six on wider ones, with
no Python in the per-pair path.

The four marked stages checkpoint to Parquet (Iceberg in production) with
a lineage manifest; a rerun with the same config over the same input
files resumes after the last completed stage (north-star resumability
requirement). In-memory inputs never resume.
"""

from __future__ import annotations

import hashlib
import json
import uuid
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
    key = _stage_key(cfg, records, reference_sets)

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
        spark, checkpoint_dir, "encoded", key,
    )
    classified = encoded.select("recordID", "party", "arr")
    blooms = encoded.drop("arr")
    elements = checkpoint_stage(
        lambda: blocking.purge_blocks(
            blocking.block_ids_from_arrays(classified, cfg), cfg
        ),
        spark, checkpoint_dir, "block_elements", key,
    )
    candidates = checkpoint_stage(
        lambda: window.candidate_pairs(elements, cfg),
        spark, checkpoint_dir, "candidates", key,
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
        spark, checkpoint_dir, "matches", key,
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


def _stage_key(cfg: PPRLConfig, *inputs: DataFrame) -> str:
    """Checkpoint key: the config hash plus the sorted file names each
    input reads. Rewriting a Parquet input renames its part files (every
    write stamps a fresh UUID into them), so the key moves with the data.
    An input with no files (an in-memory frame) has no such identity: it
    gets a key that never matches, and every stage recomputes.
    ``semanticHash()`` is no substitute: it differs between processes."""
    files = [sorted(df.inputFiles()) for df in inputs]
    if not all(files):
        return uuid.uuid4().hex
    blob = json.dumps([cfg.params_hash(), files])
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()[:16]


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
