"""Command-line simulator — launch parity with the reference.

The reference is launched as ``spark-submit ... blocking.jar 100 0.001 20
0.5 4`` (README.md:3-6) with positional args parsed by ``Conf.init``
(/root/reference/src/main/java/com/utils/Conf.java:41-64: DB size in
thousands, RS fraction, window size, matching threshold, number of
samples) and a documentation-only ``config.properties``. This module
accepts the SAME five positional args, actually LOADS a properties file
(``--properties``), and reads the reference's input shapes:

* ``--db-a/--db-b`` — headerless CSVs projected positionally
  (_c0 -> id, _c1 -> attr1, _c2 -> attr2, _c5 -> attr3) with the
  all-attrs null-drop (SQLData.java:53-62), ``limit(DB_SIZE)``
  (SQLData.java:23-29) and the optional fractional load sample
  ``.sample(SAMPLE_FRACTION, seed=4)`` (dormant in the reference,
  SQLData.java:21-27 — resurrected behind ``--sample-fraction``);
* ``--reference-set`` — headered CSV, field1..3 -> col1..3
  (SQLData.java:46-51);
* ``--pages`` — the north-star parquet shape (url, warc_ts, html, text,
  lang);
* ``--synthetic N`` — the seeded fixture generator (testing without data).

Output mirrors ``Simulator.printResult`` (Simulator.java:60-72): execution
time, TP count, match count, Recall = TP / (DB_SIZE * COMMON_RECORDS),
Precision = TP / matches.

Launch: ``spark-submit --py-files <package.zip> -m ...`` or
``python -m scalable_blocking_for_privacy_preserving_record_linkage_spark.cli``.
"""

from __future__ import annotations

import argparse
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import PPRLConfig
from .plans.pipeline import run_pipeline
from .session import get_spark

# config.properties keys -> (PPRLConfig field, parser); mirrors the
# reference's property names (config.properties at the repo root there)
_PROP_KEYS = {
    "NUM_OF_BINARY_SEARCH_CHARS": ("num_search_chars", int),
    "WINDOW_SIZE": ("window_size", int),
    "MATCHING_THRESHOLD": ("matching_threshold", float),
    "NUM_OF_SAMPLES": ("num_samples", int),
    "HASH_FUNCTIONS": ("hash_functions", int),
    "nGramSize": ("ngram_size", int),
    "MATCHES_TO_ACCEPT": ("matches_to_accept", int),
    "RS_SIZE": ("rs_size_override", int),
    "ID": ("id_col", str),
}


def load_properties(path: str) -> dict:
    """Parse a java-style .properties file (comments, key=value)."""
    out: dict[str, str] = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith(("#", "!")):
                continue
            key, _, value = line.partition("=")
            out[key.strip()] = value.strip()
    return out


def build_config(args: argparse.Namespace) -> tuple[PPRLConfig, dict]:
    """Resolution order: dataclass defaults < properties file <
    reference-positional args < explicit flags."""
    fields: dict = {}
    extras = {"db_size": None, "common_records": args.common_records}
    if args.properties:
        props = load_properties(args.properties)
        for key, (field, parse) in _PROP_KEYS.items():
            if key in props:
                fields[field] = parse(props[key])
        if "DB_SIZE" in props:
            extras["db_size"] = int(props["DB_SIZE"])
        if "COMMON_RECORDS" in props:
            extras["common_records"] = float(props["COMMON_RECORDS"])
        attrs = [props[k] for k in ("ATTR_1", "ATTR_2", "ATTR_3") if k in props]
        n_attrs = int(props.get("NUMBER_OF_BLOCKING_ATTRS", len(attrs) or 3))
        if attrs:
            fields["blocking_attrs"] = tuple(attrs[:n_attrs])
    # Conf.init positional semantics (Conf.java:41-64)
    if args.db_thousands is not None:
        extras["db_size"] = args.db_thousands * 1000
        extras["common_records"] = 1.0 if args.db_thousands == 1 else 0.25
    if args.rs_fraction is not None:
        fields["rs_fraction"] = args.rs_fraction
        fields.pop("rs_size_override", None)
    if args.window_size is not None:
        fields["window_size"] = args.window_size
    if args.threshold is not None:
        fields["matching_threshold"] = args.threshold
    if args.num_samples is not None:
        fields["num_samples"] = args.num_samples
    if args.rs_size is not None:
        fields["rs_size_override"] = args.rs_size
    if args.purge_max_block_size is not None:
        fields["purge_max_block_size"] = args.purge_max_block_size
    if args.seed is not None:
        fields["seed"] = args.seed
    if args.sample_fraction is not None and args.sample_fraction < 1.0:
        # load-time corpus sample: applied inside records_from_pages for
        # --pages runs (CSV loads sample in _load_party_csv with the
        # reference's literal seed 4, SQLData.java:21-27)
        fields["sample_fraction"] = args.sample_fraction
    cfg = PPRLConfig(**fields)
    print(
        f"DB: {extras['db_size'] or 'from input'}"
        f"\nRS: {cfg.rs_size_override if cfg.rs_size_override is not None else f'{cfg.rs_fraction} * DB'}"
        f"\nWindow: {cfg.window_size}"
        f"\nThreshold: {cfg.matching_threshold}"
        f"\nSamples: {cfg.num_samples}"
    )
    return cfg, extras


def _load_party_csv(
    spark: SparkSession,
    path: str,
    party: str,
    cfg: PPRLConfig,
    db_size: int | None,
    sample_fraction: float | None,
) -> DataFrame:
    """SQLData's positional CSV projection + null filter + limit/sample.

    Reference parity (SQLData.java:21-29): limit(DB_SIZE) applies
    UNCONDITIONALLY there (the .sample call is dormant), so when both a
    sample fraction and a DB size are given we compose them — sample
    first, then cap at db_size — rather than letting the sample replace
    the cap and load an unbounded fraction of a huge file."""
    df = spark.read.format("csv").load(path)
    if sample_fraction is not None and sample_fraction < 1.0:
        df = df.sample(fraction=sample_fraction, seed=4)
    if db_size:
        df = df.limit(db_size)
    positional = ["_c0", "_c1", "_c2", "_c5"]
    cols = [F.col(positional[0]).alias(cfg.id_col)] + [
        F.col(c).alias(a)
        for c, a in zip(positional[1 : 1 + cfg.num_attrs], cfg.blocking_attrs)
    ]
    df = df.select(*cols, F.lit(party).alias("party"))
    cond = None
    for a in cfg.blocking_attrs:
        c = F.col(a).isNotNull()
        cond = c if cond is None else cond & c
    return df.where(cond)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="pprl-simulator",
        description="PySpark PPRL blocking simulator (reference launch parity)",
    )
    # the reference's five positional args, all optional (Conf.java:42-48)
    p.add_argument("db_thousands", nargs="?", type=int, default=None)
    p.add_argument("rs_fraction", nargs="?", type=float, default=None)
    p.add_argument("window_size", nargs="?", type=int, default=None)
    p.add_argument("threshold", nargs="?", type=float, default=None)
    p.add_argument("num_samples", nargs="?", type=int, default=None)
    # inputs
    p.add_argument("--db-a", help="party A CSV (positional cols, headerless)")
    p.add_argument("--db-b", help="party B CSV")
    p.add_argument("--reference-set", help="reference-set CSV (header field1..3)")
    p.add_argument("--pages", help="north-star pages parquet (url, warc_ts, html, text, lang)")
    p.add_argument("--synthetic", type=int, help="generate N records/party instead of reading files")
    # knobs
    p.add_argument("--properties", help="config.properties file (actually loaded)")
    p.add_argument("--sample-fraction", type=float, default=None,
                   help="fractional load sample, seed 4 (SQLData.java:21-27)")
    p.add_argument("--rs-size", type=int, default=None)
    p.add_argument("--purge-max-block-size", type=int, default=None)
    p.add_argument("--common-records", type=float, default=0.25)
    p.add_argument("--seed", type=int, default=None)
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--output", default=None, help="write match pairs parquet here")
    p.add_argument("--master", default=None, help="spark master override (else spark-submit's)")
    args = p.parse_args(argv)

    cfg, extras = build_config(args)

    spark = get_spark(app_name="pprl-simulator", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")

    if args.synthetic:
        from .sources import fixtures

        records = fixtures.spark_records(
            spark, args.synthetic, overlap=extras["common_records"],
            seed=cfg.seed,
        )
        reference_sets = fixtures.spark_reference_sets(spark, seed=cfg.seed)
        pages = None
    elif args.pages:
        pages = spark.read.parquet(args.pages)
        from .plans.testdata import reference_sets_from_records
        from .sources.extract import records_from_pages

        records = records_from_pages(pages, cfg)
        reference_sets = reference_sets_from_records(records, cfg)
    elif args.db_a and args.db_b and args.reference_set:
        pages = None
        a = _load_party_csv(spark, args.db_a, "A", cfg, extras["db_size"], args.sample_fraction)
        b = _load_party_csv(spark, args.db_b, "B", cfg, extras["db_size"], args.sample_fraction)
        records = a.unionByName(b)
        rs = spark.read.format("csv").option("header", "true").load(args.reference_set)
        reference_sets = rs.select(
            *[F.col(f"field{i+1}").alias(f"col{i+1}") for i in range(cfg.num_attrs)]
        )
    else:
        p.error("provide --synthetic N, --pages PATH, or --db-a/--db-b/--reference-set")
        return 2

    t0 = time.time()
    res = run_pipeline(
        spark, records, reference_sets, cfg,
        checkpoint_dir=args.checkpoint_dir,
        with_clusters=False, with_metrics=False,
    )
    matches = res.matches.cache()
    matches_size = matches.count()
    tp = matches.where(F.col("record1") == F.col("record2")).count()
    elapsed = time.time() - t0

    if args.output:
        matches.write.mode("overwrite").parquet(args.output)

    # Simulator.printResult parity (Simulator.java:60-72)
    db_size = extras["db_size"] or max(
        records.where("party='A'").count(), records.where("party='B'").count()
    )
    commons = int(db_size * extras["common_records"])
    print(f"Execution time: {elapsed:.1f} seconds")
    print(tp)
    print(matches_size)
    print(f"Recall : {tp / commons if commons else float('nan')}")
    print(f"Precision : {tp / matches_size if matches_size else float('nan')}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
