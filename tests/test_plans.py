"""Physical-plan quality gates: the optimizations we rely on at 100TB
must be visible in .explain output, not assumed.

* predicate pushdown + column pruning reach the parquet scan
* the Dice matching path contains NO Python evaluation (pure Catalyst)
* the candidate generator contains NO Python evaluation and no join
* classify is ONE Python call per record, and both the batch pipeline and
  the stream side evaluate it with the CLK encoders in one Python node
* broadcast join is chosen for the small dimension side
* HLSH key plans build in a bounded number of Python -> JVM round trips
"""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from scalable_blocking_for_privacy_preserving_record_linkage_spark.config import PPRLConfig
from scalable_blocking_for_privacy_preserving_record_linkage_spark.operators import (
    classify,
    hlsh,
    matching,
    window,
)
from scalable_blocking_for_privacy_preserving_record_linkage_spark.plans import pipeline
from scalable_blocking_for_privacy_preserving_record_linkage_spark.sources import fixtures
from scalable_blocking_for_privacy_preserving_record_linkage_spark.streaming import jobs
from conftest import count_jvm_calls

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_parquet_filter_pushdown_and_pruning(spark):
    d = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .where(F.col("l_quantity") > 40)
        .select("l_orderkey", "l_quantity")
    )
    plan = formatted(d)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40" in plan
    # column pruning: the scan reads exactly the two referenced columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:" in plan


def test_match_path_has_no_python_eval(spark):
    records = fixtures.spark_records(spark, 50, seed=3)
    pairs = spark.createDataFrame(
        [("R0000001", "R0000002")], "record1 string, record2 string"
    )
    # BOTH wire formats: per-PAIR scoring must be JVM-side whichever
    # representation ships (dense: zip_with+bit_count; sparse:
    # array_intersect) — encoding is pandas-UDF (expected, one ArrowEval
    # per bloom column), but the top fragment above the joins may not
    # evaluate Python
    for rep, primitive in (("dense", "bit_count"), ("sparse", "array_intersect")):
        cfg = PPRLConfig(rs_size_override=5, bloom_representation=rep)
        blooms = matching.encode_blooms(records, cfg)
        matched = matching.match_candidates(pairs, blooms, cfg)
        plan = plan_of(matched)
        top = plan.split("SortMergeJoin")[0].split("BroadcastHashJoin")[0]
        assert "ArrowEvalPython" not in top and "BatchEvalPython" not in top
        assert primitive in plan


def test_candidate_generation_is_pure_catalyst(spark):
    """Candidates come from window functions over ONE hash(blockID)
    exchange and an explode: no Python, no join, and a bounded number of
    Python -> JVM round trips to build."""
    elements = spark.createDataFrame(
        [("b1", "x", "A", 1), ("b1", "y", "B", 2)],
        "blockID string, recordID string, party string, score int",
    )
    with count_jvm_calls() as calls:
        pairs = window.candidate_pairs(elements, PPRLConfig())
    assert calls[0] <= 700, calls[0]
    plan = plan_of(pairs)
    assert "ArrowEvalPython" not in plan and "FlatMapGroupsInPandas" not in plan
    assert "Join" not in plan, plan
    # the pair dedup's exchange, then the one hash(blockID) exchange, below
    # both windows (AQE prints the pre-final plan)
    exchanges = re.findall(r"Exchange hashpartitioning\((\w+)#", plan)
    assert exchanges == ["record1", "blockID"], exchanges
    assert plan.count("Window [") == 2, plan
    assert plan.index("Exchange hashpartitioning(blockID#") > plan.rindex("Window ["), plan


def _python_nodes(plan: str) -> list[str]:
    """The ArrowEvalPython lines of a plan: each lists its UDF calls, then
    one ``pythonUDF<n>`` output per call."""
    return [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]


def _classify_inputs(spark, cfg):
    records = fixtures.spark_records(spark, 40, seed=3)
    samples = {
        s: np.array(sorted(["ANNA", "BERT", "CARL", "DORA"]), dtype=object)
        for s in range(1, cfg.num_attrs * cfg.num_samples + 1)
    }
    return records, samples


def test_classify_is_one_python_call(spark):
    """All (attribute, sample) cells of a record come from ONE Python UDF
    call; the sample index ``s`` is added by Catalyst, not shipped."""
    cfg = PPRLConfig(rs_size_override=5)
    records, samples = _classify_inputs(spark, cfg)
    nodes = _python_nodes(plan_of(classify.classify_wide(spark, records, samples, cfg)))
    assert len(nodes) == 1
    assert len(re.findall(r"pythonUDF\d+#", nodes[0])) == 1, nodes[0]


def test_match_stream_side_one_python_node(spark):
    """The stream side of the stream-static matcher evaluates classify and
    the three CLK encoders in ONE ArrowEvalPython node (one Arrow round
    trip per micro-batch partition)."""
    cfg = PPRLConfig(rs_size_override=5)
    records, samples = _classify_inputs(spark, cfg)
    static_elements = spark.createDataFrame(
        [("S1.1-S2.1", "R0000001", "A", 0)],
        "blockID string, recordID string, party string, score int",
    )
    matched = jobs.match_stream_against(
        records, static_elements, matching.encode_blooms(records, cfg), samples, cfg
    )
    stream_side = [n for n in _python_nodes(plan_of(matched)) if "_classify(" in n]
    assert len(stream_side) == 1
    node = stream_side[0]
    assert node.count("_classify(") == 1 and node.count("_encode(") == cfg.num_attrs, node


def test_pipeline_encoded_stage_one_python_node(spark, monkeypatch):
    """``run_pipeline``'s per-record stage evaluates classify and the three
    CLK encoders in ONE ArrowEvalPython node, as the stream side does."""
    stages = {}

    def capture(compute, spark, checkpoint_dir, stage, params_hash):
        stages[stage] = compute()
        return stages[stage]

    monkeypatch.setattr(pipeline, "checkpoint_stage", capture)
    cfg = PPRLConfig(rs_size_override=5)
    pipeline.run_pipeline(
        spark,
        fixtures.spark_records(spark, 40, seed=3),
        fixtures.spark_reference_sets(spark, seed=3),
        cfg,
        with_clusters=False,
        with_metrics=False,
    )
    nodes = _python_nodes(plan_of(stages["encoded"]))
    assert len(nodes) == 1, nodes
    assert nodes[0].count("_classify(") == 1, nodes[0]
    assert nodes[0].count("_encode(") == cfg.num_attrs, nodes[0]


@pytest.mark.parametrize("rep", ["dense", "sparse"])
def test_hlsh_keys_plan_build_is_cheap(spark, rep):
    """Building the 8-pass x 16-bit key plan is a fixed handful of driver
    round trips, not one per sampled bit (thousands when each bit was its
    own Column call)."""
    cfg = PPRLConfig(bloom_representation=rep)
    blooms = matching.encode_blooms(fixtures.spark_records(spark, 10, seed=3), cfg)
    with count_jvm_calls() as calls:
        hlsh.hlsh_keys(blooms, cfg, 8, 16)
    assert calls[0] <= 100, calls[0]


def test_small_dim_join_broadcasts(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet")
    c = spark.read.parquet(f"{SF}/customer.parquet")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).groupBy(
        "c_mktsegment"
    ).count()
    assert "BroadcastHashJoin" in plan_of(j)


def test_global_topk_is_take_ordered_not_global_window(spark):
    """rel_topk / rel_q3_shipping must compile the global top-k to
    TakeOrderedAndProject (distributed per-partition heaps), never a
    row_number window over an unpartitioned sort (single-task at scale).
    The rank window that remains runs over the bounded k-row result."""
    import __spark_entry__ as entrymod

    qmap = {**entrymod.queries(), **entrymod.extra_queries()}
    for name in ("rel_topk", "rel_q3_shipping", "docs_vocab_topk"):
        df = qmap[name](spark, SF)
        plan = plan_of(df)
        assert "TakeOrderedAndProject" in plan, name


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed the same way on the join key must equi-join
    with zero Exchange — the co-location contract the catalog module
    promises for the bloom attach-joins at scale."""
    from scalable_blocking_for_privacy_preserving_record_linkage_spark.sources import catalog as cat

    left = spark.range(0, 1000).selectExpr(
        "concat('R', id) AS recordID", "id % 7 AS payload"
    )
    right = spark.range(0, 1000).selectExpr(
        "concat('R', id) AS recordID", "id % 3 AS word"
    )
    spark.sql("DROP TABLE IF EXISTS bkt_cand")
    spark.sql("DROP TABLE IF EXISTS bkt_blooms")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # tiny fixture would broadcast (a BroadcastExchange); the production
    # shape is two big sides, where the bucketed sort-merge join applies
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cat.write_bucketed_table(left, "bkt_cand", ["recordID"], 8)
        cat.write_bucketed_table(right, "bkt_blooms", ["recordID"], 8)
        j = (
            spark.table("bkt_cand")
            .join(spark.table("bkt_blooms"), "recordID")
            .where(F.col("word") >= 0)  # keep the join non-trivial
        )
        plan = plan_of(j)
        assert "Exchange" not in plan, plan
        assert j.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS bkt_cand")
        spark.sql("DROP TABLE IF EXISTS bkt_blooms")


def test_ivf_recall_plan_broadcasts_queries_no_cartesian(spark):
    """ann_ivf_recall's two top-k arms: the bounded query side must
    BROADCAST (corpus never pair-shuffles) and no plan node may be a
    cartesian product — the probe join is an equi-join on list_id."""
    import numpy as np

    from scalable_blocking_for_privacy_preserving_record_linkage_spark.operators import (
        similarity,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = similarity.ivf_seeded_centroids(dim=64, n_lists=8, seed=42)
    df = similarity.ivf_recall_at_k(
        emb, emb.where(F.col("vec_id") < 5), cents, k=5, nprobe=3
    )
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_asof_auto_prepass_not_in_returned_plan(spark):
    """The auto skew pre-pass runs eagerly at build time; the RETURNED
    plan must stay the plain union+window — no leftover aggregation of
    the pre-pass, no join, one exchange per input branch."""
    from scalable_blocking_for_privacy_preserving_record_linkage_spark.operators import (
        asof,
    )

    left = spark.createDataFrame(
        [(1, 10.0, "u1"), (2, 20.0, "u2")], "event_id long, ts double, user_id string"
    )
    right = spark.createDataFrame(
        [("u1", 8.0, "a")], "user_id string, ts double, tag string"
    )
    plan = plan_of(asof.asof_join(left, right, on="ts", by=("user_id",)))
    assert "Join" not in plan
    assert "HashAggregate" not in plan  # the pre-pass agg is not part of the result
    assert plan.count("Exchange") <= 2


def test_line_dedup_plan_broadcasts_boiler_set_no_python(spark):
    """line_dedup's verdict join must broadcast the (small) boilerplate
    set and the whole plan stays JVM-side: no Python evaluation, no
    cartesian product, and the parquet scan is pruned to (doc_id, text)."""
    import __spark_entry__ as entrymod

    df = entrymod._q_docs_line_dedup(spark, SF)
    f = formatted(df)
    assert "Python" not in f
    assert "Cartesian" not in f
    assert "BroadcastHashJoin" in f
    assert "struct<doc_id:bigint,text:string>" in f


def test_pmi_bigrams_plan_takeordered_no_python(spark):
    """docs_pmi_bigrams' top-25 must be a TakeOrderedAndProject (never a
    single-task global sort) with zero Python and no cartesian blowup
    (the two 1-row totals attach via broadcast)."""
    import __spark_entry__ as entrymod

    df = entrymod._q_docs_pmi_bigrams(spark, SF)
    p = plan_of(df)
    assert "TakeOrderedAndProject" in p
    assert "Python" not in p
    assert "CartesianProduct" not in p


def test_tfidf_plan_no_python_no_cartesian(spark):
    """docs_tfidf_topk: per-doc window (partitioned, never single-task
    global sort), lazy broadcast N (nested-loop on 1 row, NOT a
    CartesianProduct), zero Python."""
    import __spark_entry__ as entrymod

    df = entrymod._q_docs_tfidf_topk(spark, SF)
    p = plan_of(df)
    assert "Python" not in p
    assert "CartesianProduct" not in p
    assert "Window" in p and "row_number" in p
