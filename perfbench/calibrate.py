"""Compare the linkage figures of the generated documents with a real table.

    python3 perfbench/calibrate.py --documents <dir>/sf0.1/documents.parquet \
        --size 5000 --size 1000 --seeds 1 2

Runs ``resumable-docs`` and ``hlsh-sparse`` once, untimed, on the given
documents table and on the generator's output at each size and seed, and
prints one JSON line per input and workload: party sizes, candidate
pairs per A x B, reduction ratio, matches per pair, precision, pairs
completeness and F1. README.md records the figures.
"""

from __future__ import annotations

import argparse
import json

import run


def figures(wl) -> dict:
    wl.generate()
    recs = wl.records()
    n_a = recs.where("party = 'A'").count()
    n_b = recs.where("party = 'B'").count()
    out = wl.run()
    fp, q = out.fingerprint, out.quality
    wl.cleanup()
    return {
        "records_a": n_a,
        "records_b": n_b,
        "pairs": fp["pairs"],
        "pairs_per_axb": fp["pairs"] / (n_a * n_b),
        "matches": fp["matches"],
        "match_share": fp["matches"] / fp["pairs"],
        **q,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--documents", help="Parquet documents table to compare with")
    ap.add_argument("--size", type=int, action="append", default=[])
    ap.add_argument("--seeds", type=int, nargs="+", default=[1])
    args = ap.parse_args()

    run._prepare_env()
    from workloads import WORKLOADS

    spark = run.start_session("calibrate", 4, False)
    try:
        inputs = [(f"gen-{n}-{s}", n, s) for n in args.size for s in args.seeds]
        if args.documents:
            inputs.insert(0, ("table", 0, 0))
        for label, size, seed in inputs:
            for name in ("resumable-docs", "hlsh-sparse"):
                wl = WORKLOADS[name](
                    spark, seed, str(run.WORK / "calibrate" / label), size
                )
                if label == "table":
                    wl.documents = lambda: spark.read.parquet(args.documents)
                row = {"input": label, "workload": name, **figures(wl)}
                print(json.dumps(row), flush=True)
    finally:
        run.stop_session(spark)


if __name__ == "__main__":
    main()
