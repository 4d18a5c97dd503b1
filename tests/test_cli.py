"""CLI simulator parity: reference-positional args, properties loading,
positional-CSV inputs, printResult output shape."""

from __future__ import annotations

import re

import pandas as pd
import pytest

from scalable_blocking_for_privacy_preserving_record_linkage_spark import cli
from scalable_blocking_for_privacy_preserving_record_linkage_spark.sources import fixtures


@pytest.fixture(autouse=True)
def _restore_shuffle_partitions(spark):
    # cli.main goes through session.get_spark, which re-applies its
    # shuffle-partition count to the shared test session
    before = spark.conf.get("spark.sql.shuffle.partitions")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", before)


def _parse_result(out: str) -> dict:
    recall = float(re.search(r"Recall : ([\d.]+)", out).group(1))
    precision = float(re.search(r"Precision : ([\d.]+)", out).group(1))
    return {"recall": recall, "precision": precision}


def test_cli_synthetic_run(spark, capsys):
    rc = cli.main(["--synthetic", "200", "--rs-size", "15", "--common-records", "0.25"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Execution time" in out
    got = _parse_result(out)
    assert got["recall"] >= 0.95
    assert got["precision"] >= 0.9


def test_cli_csv_inputs_with_properties(spark, tmp_path, capsys):
    """The reference launch shape: two positional headerless CSVs
    (_c0 id, _c1 surname, _c2 name, _c5 city), a headered RS CSV
    (field1..3), and a config.properties that is actually loaded."""
    recs = fixtures.generate_party_records(150, overlap=0.25, typo_rate=0.0, seed=11)
    for party in ("A", "B"):
        part = recs[recs["party"] == party]
        csv = pd.DataFrame(
            {
                0: part["id"],
                1: part["surname"],
                2: part["name"],
                3: "filler3",
                4: "filler4",
                5: part["city"],
            }
        )
        csv.to_csv(tmp_path / f"db_{party}.csv", index=False, header=False)
    rs = fixtures.generate_reference_sets(seed=11)
    rs.columns = ["field1", "field2", "field3"]
    rs.to_csv(tmp_path / "rs.csv", index=False)

    props = tmp_path / "config.properties"
    props.write_text(
        "# reference-style properties\n"
        "WINDOW_SIZE=12\nMATCHING_THRESHOLD=0.5\nRS_SIZE=15\n"
        "NUM_OF_SAMPLES=4\nCOMMON_RECORDS=0.25\nDB_SIZE=150\n"
    )
    rc = cli.main(
        [
            "--db-a", str(tmp_path / "db_A.csv"),
            "--db-b", str(tmp_path / "db_B.csv"),
            "--reference-set", str(tmp_path / "rs.csv"),
            "--properties", str(props),
        ]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "Window: 12" in out
    got = _parse_result(out)
    assert got["recall"] >= 0.95


def test_cli_positional_args_override_properties(spark, tmp_path, capsys):
    """Conf.init order: positional args win over the properties file."""
    props = tmp_path / "p.properties"
    props.write_text("WINDOW_SIZE=7\nRS_SIZE=15\n")
    rc = cli.main(
        ["1", "0.1", "9", "0.5", "4", "--synthetic", "100", "--properties", str(props)]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "Window: 9" in out
    # db_thousands=1 flips COMMON_RECORDS to 1.0 (Conf.java:46-47)
    assert "DB: 1000" in out
