"""The benchmark's PPRL workloads: input generation, the timed linkage
run, the traced layer-by-layer run, and the output fingerprint.

The timed run calls the library the way a user does (``run_pipeline``,
or the HLSH operators for ``hlsh-sparse``). The traced run calls each
layer's public function in ``run_pipeline``'s order and materializes the
layer's output inside the layer's span, so every span owns the Spark
work of its layer. Neither run changes library code.
"""

from __future__ import annotations

import dataclasses
import gc
import json
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scalable_blocking_for_privacy_preserving_record_linkage_spark.config import PPRLConfig
from scalable_blocking_for_privacy_preserving_record_linkage_spark.operators import (
    blocking,
    classify,
    clustering,
    hlsh,
    matching,
    window,
)
from scalable_blocking_for_privacy_preserving_record_linkage_spark.operators.evaluate import (
    evaluate,
)
from scalable_blocking_for_privacy_preserving_record_linkage_spark.plans import testdata
from scalable_blocking_for_privacy_preserving_record_linkage_spark.plans.pipeline import (
    run_pipeline,
)
from scalable_blocking_for_privacy_preserving_record_linkage_spark.sources import (
    extract,
    fixtures,
)
from scalable_blocking_for_privacy_preserving_record_linkage_spark.sources.io import (
    MANIFEST,
    checkpoint_stage,
    ensure_parallelism,
)

from inputs import documents_frame

# layer -> the public functions it times, in run_pipeline's order
LAYERS = {
    "extract": "normalize_records, ensure_parallelism",
    "classify": "build_reference_samples, classify_wide",
    "blocking": "block_ids_from_arrays, purge_blocks",
    "window": "candidate_pairs",
    "hlsh": "hlsh_candidate_pairs",
    "matching.encode": "encode_blooms",
    "matching.score": "match_candidates",
    "clustering": "connected_components",
    "io": "checkpoint_stage",
    "evaluate": "evaluate",
}
HLSH_PASSES, HLSH_BITS, HLSH_MAX_BUCKET = 8, 16, 1000
# Parquet files per input table: fixed, so the inputs of a seed are the
# same files on every host
INPUT_FILES = 4


@dataclass(frozen=True)
class Outcome:
    """What one linkage run produced: the fingerprint fields (pairs,
    matches, true_positives, clusters, match_hash) and linkage quality."""

    fingerprint: dict
    quality: dict


def fingerprint(
    candidates: DataFrame, matches: DataFrame, components: DataFrame | None
) -> dict:
    """Counts plus an order-independent hash of the match set, all from
    ONE action: per-pair xxhash64 folded with XOR and a 31-bit sum, so
    neither row order nor partitioning can change the result."""
    h = F.xxhash64("record1", "record2")
    row = matches.agg(
        F.count(F.lit(1)).alias("matches"),
        F.coalesce(F.sum((F.col("record1") == F.col("record2")).cast("long")), F.lit(0)).alias("tp"),
        F.coalesce(F.bit_xor(h), F.lit(0)).alias("hx"),
        F.coalesce(F.sum(F.pmod(h, F.lit(1 << 31))), F.lit(0)).alias("hs"),
    ).crossJoin(candidates.agg(F.count(F.lit(1)).alias("pairs")))
    if components is not None:
        row = row.crossJoin(
            components.agg(F.countDistinct("component").alias("clusters"))
        )
    r = row.collect()[0].asDict()
    return {
        "pairs": r["pairs"],
        "matches": r["matches"],
        "true_positives": r["tp"],
        "clusters": r.get("clusters"),
        "match_hash": f"{r['hx'] & 0xFFFFFFFFFFFFFFFF:016x}-{r['hs']:x}",
    }


def quality(n_alice: int, n_bob: int, expected: int, fp: dict) -> dict:
    """The four linkage-quality metrics of ``operators.evaluate``, from a
    fingerprint: ``hlsh-sparse`` has no ``run_pipeline`` result to take
    them from, and ``evaluate`` would add three count jobs to its run."""
    tp, m = fp["true_positives"], fp["matches"]
    pc = tp / expected if expected else 0.0
    prec = tp / m if m else 0.0
    return {
        "pairs_completeness": pc,
        "precision": prec,
        "f1": 2 * prec * pc / (prec + pc) if prec + pc else 0.0,
        "reduction_ratio": 1.0 - fp["pairs"] / (n_alice * n_bob),
    }


def _quality(m) -> dict:
    return {
        "pairs_completeness": m.pairs_completeness,
        "precision": m.precision,
        "f1": m.f1,
        "reduction_ratio": m.reduction_ratio,
    }


def _materialize(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def _write(df: DataFrame, path: str, files: int) -> None:
    df.repartition(files).write.mode("overwrite").parquet(path)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_"))
    )


class Workload:
    """One benchmark workload. The seed varies the generated inputs only:
    ``config()`` keeps ``PPRLConfig.seed`` at its default, because
    per-seed reference-sample and HLSH bit draws move the candidate count
    by 15-20% and would swamp the run-to-run spread of ``pairs_per_s``."""

    name: str

    def __init__(self, spark: SparkSession, seed: int, work_dir: str, size: int):
        self.spark = spark
        self.seed = seed
        self.size = size
        self.input_dir = os.path.join(work_dir, "inputs", f"{self.name}-{seed}")
        self.scratch = os.path.join(work_dir, "scratch", f"{self.name}-{seed}")
        self.cfg = self.config()

    def path(self, name: str) -> str:
        return os.path.join(self.input_dir, name)

    def documents(self) -> DataFrame:
        return self.spark.createDataFrame(documents_frame(self.size, self.seed))

    def records(self) -> DataFrame:
        return self.spark.read.parquet(self.path("records"))

    def reference(self) -> DataFrame:
        return self.spark.read.parquet(self.path("reference"))

    def fresh_scratch(self) -> str:
        shutil.rmtree(self.scratch, ignore_errors=True)
        os.makedirs(self.scratch)
        return self.scratch

    def cleanup(self) -> None:
        """Between runs, outside every timed window: drop cached and
        locally checkpointed frames and checkpoint files, then collect
        garbage on both sides, so each run starts from the Parquet inputs
        with the memory the previous run held given back."""
        self.spark.catalog.clearCache()
        sc = self.spark.sparkContext
        # localCheckpoint blocks outlive clearCache()
        for rdd in sc._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
        shutil.rmtree(self.scratch, ignore_errors=True)
        gc.collect()
        sc._jvm.System.gc()


class PipelineWorkload(Workload):
    """Workloads that run the library's ``run_pipeline``."""

    checkpointed = False

    def run(self) -> Outcome:
        ckpt = self.fresh_scratch() if self.checkpointed else None
        res = run_pipeline(
            self.spark,
            self.records(),
            self.reference(),
            self.cfg,
            checkpoint_dir=ckpt,
            with_clusters=True,
            with_metrics=True,
        )
        return Outcome(
            fingerprint(res.candidates, res.matches, res.components),
            _quality(res.metrics),
        )

    def trace(self, tracer) -> tuple[Outcome, dict]:
        """``run_pipeline`` (plans/pipeline.py) layer by layer."""
        spark, cfg = self.spark, self.cfg
        ckpt = self.fresh_scratch() if self.checkpointed else None
        ph = cfg.params_hash()
        extra: dict = {}

        def stage_io(name: str, df: DataFrame) -> DataFrame:
            if ckpt is None:
                return df
            with tracer.span("io"):
                return checkpoint_stage(lambda: df, spark, ckpt, name, ph)

        with tracer.span("extract"):
            normalized = ensure_parallelism(
                extract.normalize_records(self.records(), cfg)
            ).cache()
            counts = {
                r["party"]: r["count"]
                for r in normalized.groupBy("party").count().collect()
            }
        n_alice, n_bob = counts.get("A", 0), counts.get("B", 0)
        extra["extract.rows_out"] = n_alice + n_bob

        with tracer.span("classify"):
            with tracer.span("classify.samples"):
                samples = classify.build_reference_samples(
                    self.reference(), cfg, max(n_alice, n_bob)
                )
            classified = _materialize(
                classify.classify_wide(spark, normalized, samples, cfg)
            )
        extra["classify.rows_out"] = classified.count()
        classified = stage_io("classified", classified)

        with tracer.span("blocking"):
            elements = _materialize(
                blocking.purge_blocks(blocking.block_ids_from_arrays(classified, cfg), cfg)
            )
        n_elements = elements.count()
        n_raw = blocking.block_ids_from_arrays(classified, cfg).count()
        extra["blocking.rows_out"] = n_elements
        extra["blocking.purged_share"] = 1.0 - n_elements / n_raw if n_raw else 0.0
        extra["blocking.max_block_size"] = (
            elements.groupBy("blockID").count().agg(F.max("count")).collect()[0][0]
        )
        elements = stage_io("block_elements", elements)

        with tracer.span("window"):
            candidates = _materialize(window.candidate_pairs(elements, cfg))
        n_pairs = candidates.count()
        extra["window.rows_out"] = n_pairs
        emitted = (
            window.candidate_edge_weights(elements, cfg)
            .agg(F.sum("cbs_weight"))
            .collect()[0][0]
        )
        extra["window.redundancy"] = emitted / n_pairs if n_pairs else 0.0
        candidates = stage_io("candidates", candidates)

        with tracer.span("matching.encode"):
            blooms = _materialize(matching.encode_blooms(normalized, cfg))
        extra["matching.encode.rows_out"] = blooms.count()
        blooms = stage_io("blooms", blooms)

        with tracer.span("matching.score"):
            matches = _materialize(matching.match_candidates(candidates, blooms, cfg))
        n_matches = matches.count()
        extra["matching.score.rows_out"] = n_matches
        extra["matching.score.match_share"] = n_matches / n_pairs if n_pairs else 0.0
        matches = stage_io("matches", matches)

        with tracer.span("clustering"):
            components = _materialize(clustering.connected_components(matches))
        sizes = components.groupBy("component").count()
        row = sizes.agg(F.count(F.lit(1)), F.max("count"), F.sum("count")).collect()[0]
        extra["clustering.components"] = row[0]
        extra["clustering.max_component_size"] = row[1] or 0
        extra["clustering.rows_out"] = row[2] or 0

        with tracer.span("evaluate"):
            a_ids = normalized.where("party = 'A'").select("id")
            b_ids = normalized.where("party = 'B'").select("id")
            metrics = evaluate(
                matches, candidates, n_alice, n_bob, a_ids.intersect(b_ids).count()
            )
        extra["evaluate.rows_out"] = 1

        if ckpt is not None:
            extra["io.bytes_written"] = _dir_bytes(ckpt)
            rows = 0
            for stage in os.listdir(ckpt):
                with open(os.path.join(ckpt, stage, MANIFEST)) as f:
                    rows += json.load(f)["rows"]
            extra["io.rows_out"] = rows

        fp = fingerprint(candidates, matches, components)
        normalized.unpersist()
        return Outcome(fp, _quality(metrics)), extra


class ResumableDocs(PipelineWorkload):
    """Documents-derived parties run with a checkpoint dir: per-job
    overhead, Parquet checkpoint I/O and connected components dominate."""

    name = "resumable-docs"
    checkpointed = True

    def config(self) -> PPRLConfig:
        return testdata.TESTDATA_CFG

    def generate(self) -> None:
        records = testdata.records_from_documents(self.documents())
        _write(records, self.path("records"), INPUT_FILES)
        # stands in for the reference's external public table: set-up work
        _write(
            testdata.reference_sets_from_records(self.records(), self.cfg),
            self.path("reference"),
            1,
        )


class VoterScale(PipelineWorkload):
    """Voter-cardinality parties on the in-memory path: classify, window,
    CLK encode and the Dice attach-joins dominate."""

    name = "voter-scale"

    def config(self) -> PPRLConfig:
        # scripts/envelope_probe.py: the reference's 0.1% reference-set rule
        return PPRLConfig(
            rs_size_override=max(20, self.size // 1000),
            matching_threshold=0.6,
            purge_max_block_size=20000,
        )

    def generate(self) -> None:
        records, ref = fixtures.spark_party_records_distributed(
            self.spark, self.size, overlap=0.25, typo_rate=0.05, seed=self.seed
        )
        _write(records, self.path("records"), INPUT_FILES)
        _write(ref, self.path("reference"), 1)


class HlshSparse(Workload):
    """HLSH blocking then Dice on the sparse CLK layout: bypasses classify,
    blocking, window and clustering."""

    name = "hlsh-sparse"

    def config(self) -> PPRLConfig:
        return dataclasses.replace(testdata.TESTDATA_CFG, bloom_representation="sparse")

    def generate(self) -> None:
        records = testdata.records_from_documents(self.documents())
        _write(records, self.path("records"), INPUT_FILES)
        # ground truth for the quality metrics: party sizes and shared ids
        recs = self.records()
        a = recs.where("party = 'A'").select("id")
        b = recs.where("party = 'B'").select("id")
        self.truth = (a.count(), b.count(), a.intersect(b).count())

    def _pairs(self, blooms: DataFrame) -> DataFrame:
        return hlsh.hlsh_candidate_pairs(
            blooms,
            self.cfg,
            num_passes=HLSH_PASSES,
            bits_per_key=HLSH_BITS,
            max_bucket_size=HLSH_MAX_BUCKET,
        )

    def run(self) -> Outcome:
        # the pprl_hlsh_matches shape: the encoded filters feed the key
        # passes, the bucket purge and both attach sides, so materialize once
        blooms = matching.encode_blooms(self.records(), self.cfg).localCheckpoint()
        pairs = self._pairs(blooms)
        fp = fingerprint(pairs, matching.match_candidates(pairs, blooms, self.cfg), None)
        return Outcome(fp, quality(*self.truth, fp))

    def trace(self, tracer) -> tuple[Outcome, dict]:
        cfg, extra = self.cfg, {}
        with tracer.span("matching.encode"):
            blooms = _materialize(matching.encode_blooms(self.records(), cfg))
        extra["matching.encode.rows_out"] = blooms.count()

        with tracer.span("hlsh"):
            pairs = _materialize(self._pairs(blooms))
        n_pairs = pairs.count()
        extra["hlsh.rows_out"] = n_pairs
        keys = hlsh.hlsh_keys(blooms, cfg, HLSH_PASSES, HLSH_BITS)
        sizes = keys.groupBy("pass", "key").count()
        row = sizes.agg(
            F.sum("count"), F.sum(F.when(F.col("count") > HLSH_MAX_BUCKET, F.col("count")))
        ).collect()[0]
        extra["hlsh.purged_share"] = (row[1] or 0) / row[0] if row[0] else 0.0

        with tracer.span("matching.score"):
            matches = _materialize(matching.match_candidates(pairs, blooms, cfg))
        n_matches = matches.count()
        extra["matching.score.rows_out"] = n_matches
        extra["matching.score.match_share"] = n_matches / n_pairs if n_pairs else 0.0

        fp = fingerprint(pairs, matches, None)
        return Outcome(fp, quality(*self.truth, fp)), extra


WORKLOADS = {w.name: w for w in (ResumableDocs, VoterScale, HlshSparse)}
