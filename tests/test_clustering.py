"""Connected components over match edges."""

import pytest
from pyspark.sql import functions as F

from scalable_blocking_for_privacy_preserving_record_linkage_spark.operators import clustering
from scalable_blocking_for_privacy_preserving_record_linkage_spark.operators.clustering import (
    clusters_table,
    connected_components,
)


def test_components_chain(spark):
    # A1-B1, A2-B1, A2-B2 form one component; A9-B9 another
    matches = spark.createDataFrame(
        [("1", "1"), ("2", "1"), ("2", "2"), ("9", "9")],
        "record1 string, record2 string",
    )
    comps = connected_components(matches)
    rows = {r["node"]: r["component"] for r in comps.collect()}
    assert rows["A:1"] == rows["B:1"] == rows["A:2"] == rows["B:2"] == "A:1"
    assert rows["A:9"] == rows["B:9"] == "A:9"
    ct = {r["component"]: r["size"] for r in clusters_table(comps).collect()}
    assert ct == {"A:1": 4, "A:9": 2}


def test_components_empty(spark):
    matches = spark.createDataFrame([], "record1 string, record2 string")
    assert connected_components(matches).count() == 0


def _path(spark, n_nodes):
    """A:0 - B:0 - A:1 - B:1 - ... : one path of ``n_nodes`` match nodes."""
    k = n_nodes // 2
    return spark.createDataFrame(
        [(str(i), str(i)) for i in range(k)] + [(str(i + 1), str(i)) for i in range(k - 1)],
        "record1 string, record2 string",
    )


@pytest.mark.parametrize("n_nodes", [200, 10_000])
def test_components_long_path(spark, n_nodes):
    comps = connected_components(_path(spark, n_nodes))
    row = comps.agg(F.count(F.lit(1)), F.countDistinct("component"), F.min("component")).first()
    assert tuple(row) == (n_nodes, 1, "A:0")


def test_components_round_cap_raises(spark, monkeypatch):
    monkeypatch.setattr(clustering, "MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(_path(spark, 200)).count()


def test_canonical_clusters_numeric_labels(spark):
    ids = spark.createDataFrame([(10,), (2,), (7,)], "doc_id bigint")
    pairs = spark.createDataFrame([(10, 2)], "id1 bigint, id2 bigint")
    rows = {r["doc_id"]: r for r in clustering.canonical_clusters(ids, pairs).collect()}
    assert {d: (r["cluster_id"], r["cluster_size"], r["is_canonical"]) for d, r in rows.items()} == {
        10: (2, 2, 0),
        2: (2, 2, 1),
        7: (7, 1, 1),
    }
