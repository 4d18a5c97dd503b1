"""Session factory settings."""

from __future__ import annotations

from scalable_blocking_for_privacy_preserving_record_linkage_spark.session import get_spark


def test_explicit_shuffle_partitions_win_over_non_numeric_cpus(spark, monkeypatch):
    # a non-numeric SPARK_GRAFT_CPUS must only change the fallback, never
    # override the caller's explicit partition count
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "auto")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        s = get_spark(master="local[4]", shuffle_partitions=8)
        assert s.conf.get("spark.sql.shuffle.partitions") == "8"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
