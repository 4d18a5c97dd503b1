"""Run one PPRL benchmark workload and print its metrics.

    python3 perfbench/run.py --workload hlsh-sparse --seed 1 --seconds 12 --trace 0

Set-up starts the Spark session, generates the workload's inputs from
the seed into Parquet (several times; the median counts) and runs two
untimed warm-up linkages. The timed phase then repeats the linkage run
until ``--seconds`` have passed and reports medians. ``--trace 1`` adds
one layer-by-layer traced run after the timed ones and reports the
per-layer metrics instead of the end-to-end ones.

Every run's output is fingerprinted (pairs, matches, true positives,
clusters, match-set hash) and must equal the last warm-up's and, for pinned
seeds, ``fingerprints.json``. Informational lines (effective Spark conf,
load averages, host steal time, per-run walls, peak RSS) precede the
last line, which is the result object. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
PACKAGE = "scalable_blocking_for_privacy_preserving_record_linkage_spark"

# input size per workload: documents for the docs-derived parties,
# records per party for the voter fixture
SIZES = {"resumable-docs": 600, "voter-scale": 2000, "hlsh-sparse": 1000}
# A timed run during which the hypervisor gave more than this share of
# the host's CPU time to other guests is not counted: a load gate for a
# shared virtual host, where such runs were up to 80% slower.
STEAL_GATE = 0.05
DRIVER_MEMORY = "4g"
# input generations per process: setup_s reports their median, so one
# slow generation on a noisy host does not move it
SETUP_REPS = 3
# untimed linkage runs before the timed ones: after one, the first timed
# run was still 1-2 s slower than the next on both workloads
WARMUP_RUNS = 2

END_TO_END = {
    "wall_s": "s",
    "pairs_per_s": "1/s",
    "setup_s": "s",
    "pairs_completeness": "ratio",
    "precision": "ratio",
    "f1": "ratio",
    "reduction_ratio": "ratio",
}
LAYER_FIELDS = {
    "wall_s": "s",
    "jobs": "count",
    "rows_out": "rows",
    "executor_run_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
}
LAYER_EXTRAS = {
    "classify.samples_s": "s",
    "classify.arrow_bytes": "bytes",
    "matching.encode.arrow_bytes": "bytes",
    "blocking.purged_share": "ratio",
    "blocking.max_block_size": "rows",
    "window.redundancy": "ratio",
    "matching.score.match_share": "ratio",
    "clustering.components": "count",
    "clustering.max_component_size": "rows",
    "hlsh.purged_share": "ratio",
    "io.bytes_written": "bytes",
    "trace_overhead_s": "s",
}


def _prepare_env() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let the workers import the library from it."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    sys.path[:0] = [str(ROOT), str(HERE)]


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, over all CPUs
    (the ``steal`` column of /proc/stat): the host noise behind a run."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def start_session(name: str, cores: int, trace: bool):
    from scalable_blocking_for_privacy_preserving_record_linkage_spark.session import (
        get_spark,
    )

    conf = {
        "spark.local.dir": str(WORK / "tmp"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads stage metrics from the status REST API
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.port": "0",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    spark = get_spark(
        app_name=f"perfbench-{name}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def effective_conf(spark, cores: int) -> dict:
    """The settings that decide plans; fails if the requested shuffle
    partition count did not take."""
    get = spark.conf.get
    conf = {
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": get("spark.sql.shuffle.partitions"),
        "aqe": get("spark.sql.adaptive.enabled"),
        "broadcast_threshold": get("spark.sql.autoBroadcastJoinThreshold"),
        "arrow": get("spark.sql.execution.arrow.pyspark.enabled"),
    }
    if conf["shuffle_partitions"] != str(cores):
        raise RuntimeError(
            f"requested {cores} shuffle partitions, session has "
            f"{conf['shuffle_partitions']}"
        )
    return conf


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits at EOF on its stdin
        proc.wait(timeout=60)


def layer_metrics(tracer, extra: dict, wall_s: float) -> dict:
    from workloads import LAYERS

    top = [s for s in tracer.spans if s.parent is None]
    out = {}
    for layer in LAYERS:
        spans = [s for s in top if s.name == layer]
        out[f"{layer}.wall_s"] = sum(s.duration for s in spans)
        for f in ("jobs", "executor_run_s", "shuffle_write_bytes", "spill_bytes"):
            out[f"{layer}.{f}"] = sum(s.work.get(f, 0) for s in spans)
        out[f"{layer}.rows_out"] = extra.get(f"{layer}.rows_out", 0)
    by_name = {s.name: s for s in tracer.spans}
    samples = by_name.get("classify.samples")
    for name in LAYER_EXTRAS:
        out[name] = extra.get(name, 0)
    out["classify.samples_s"] = samples.duration if samples else 0.0
    for layer in ("classify", "matching.encode"):
        out[f"{layer}.arrow_bytes"] = sum(
            s.work.get("arrow_bytes", 0) for s in top if s.name == layer
        )
    out["trace_overhead_s"] = sum(s.duration for s in top) - wall_s
    return out


def per_layer_specs() -> dict:
    from workloads import LAYERS

    specs = {f"{l}.{f}": u for l in LAYERS for f, u in LAYER_FIELDS.items()}
    specs.update(LAYER_EXTRAS)
    return specs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / PACKAGE).is_dir():
        sys.exit(f"{PACKAGE} not found in {ROOT}: run from the repository root")

    _prepare_env()
    from rss import PeakRss
    from tracing import StageProbe, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    pinned = json.loads((HERE / "fingerprints.json").read_text())
    expect = pinned.get(args.workload, {}).get(str(args.seed))
    cores = len(os.sched_getaffinity(0))
    info: dict = {"workload": args.workload, "seed": args.seed, "cores": cores}

    t = time.perf_counter()
    spark = start_session(args.workload, cores, bool(args.trace))
    session_s = time.perf_counter() - t
    try:
        info["conf"] = effective_conf(spark, cores)
        wl = WORKLOADS[args.workload](spark, args.seed, str(WORK), SIZES[args.workload])
        gen_s = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.generate()
            gen_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        for _ in range(WARMUP_RUNS):
            wl.cleanup()
            warm = wl.run()
        warmup_s = time.perf_counter() - t
        info.update(session_s=session_s, generate_s=gen_s, warmup_s=warmup_s)
        reference = expect or warm.fingerprint

        jvm = spark.sparkContext._gateway.proc.pid
        runs, failed = [], 0
        start = time.perf_counter()
        # past --seconds, keep going (up to half as long again) only while
        # no run has passed the steal gate
        while not runs or (
            time.perf_counter() - start
            < args.seconds * (1 if any(r["counted"] for r in runs) else 1.5)
        ):
            wl.cleanup()
            load0, steal0 = os.getloadavg()[0], steal_s()
            with PeakRss(jvm) as mem:
                t = time.perf_counter()
                out = wl.run()
                wall = time.perf_counter() - t
            ok = out.fingerprint == reference and out.fingerprint == warm.fingerprint
            failed += not ok
            stolen = steal_s() - steal0
            runs.append(
                {
                    "wall_s": wall,
                    "peak_rss_mb": mem.peak / 2**20,
                    "load_start": load0,
                    "load_end": os.getloadavg()[0],
                    "steal_s": stolen,
                    "counted": stolen <= STEAL_GATE * cores * wall,
                    "ok": ok,
                }
            )
        info["runs"] = runs
        # if no run passed the gate, the least disturbed one counts
        counted = [r for r in runs if r["counted"]] or [
            min(runs, key=lambda r: r["steal_s"] / r["wall_s"])
        ]
        # the sample count of every median; the result object's
        # ``attempted`` also counts the runs the gate left out
        info["samples"] = len(counted)
        # informational: it repeated only within about 9% between seeds
        info["peak_rss_mb"] = statistics.median(r["peak_rss_mb"] for r in counted)
        info["fingerprint"] = warm.fingerprint
        info["pinned"] = expect is not None
        wall_s = statistics.median(r["wall_s"] for r in counted)

        if args.trace:
            wl.cleanup()
            tracer = Tracer(StageProbe(spark))
            traced, extra = wl.trace(tracer)
            tracer.dump(str(WORK / f"trace-{args.workload}-{args.seed}.json"))
            keys = ("pairs", "matches", "clusters")
            trace_ok = all(traced.fingerprint[k] == warm.fingerprint[k] for k in keys)
            info["traced_fingerprint"] = traced.fingerprint
            metrics = layer_metrics(tracer, extra, wall_s)
            units = per_layer_specs()
        else:
            trace_ok = True
            metrics = {
                "wall_s": wall_s,
                "pairs_per_s": warm.fingerprint["pairs"] / wall_s,
                "setup_s": session_s + statistics.median(gen_s) + warmup_s,
                **warm.quality,
            }
            units = END_TO_END
        wl.cleanup()
    finally:
        stop_session(spark)

    print(json.dumps({"info": info}), flush=True)
    result = {
        "correct": failed == 0 and trace_ok,
        "attempted": len(runs),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
