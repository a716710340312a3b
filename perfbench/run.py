#!/usr/bin/env python3
"""One benchmark run of one workload, from the root of a checkout.

    python3 perfbench/run.py --workload iterative_chain --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selfcheck

A run sets up the package and a Spark session (`session.get_spark`,
local[nproc]), generates its input tables, runs one cold pass over the
workload's queries, then timed passes until `--seconds` have gone by (at
least `MIN_TIMED_PASSES`), and finally checks every query's last result
against its DuckDB oracle. The last line of standard output is one JSON
object: `correct`, `attempted`, `failed` and `metrics` (the end-to-end
metrics of BENCHMARK.json, or with `--trace 1` its per-layer metrics). A
traced run also writes each query's breakdown to a JSON file. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "analyzing_big_data_in_scala_spark"

import probes  # noqa: E402
from workloads import DATA_SEED, MIN_TIMED_PASSES, SELFCHECK_SF, SF, WORKLOADS, Checker  # noqa: E402


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def isolate(scratch: Path) -> str:
    """Point every file Spark, the JVM and Python write at `scratch`, and make
    it the working directory (so the session's warehouse is fresh). Returns
    the input-data directory."""
    for sub in ("data", "tmp", "local", "cwd"):
        (scratch / sub).mkdir(parents=True, exist_ok=True)
    tmp = str(scratch / "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "local")
    # C1 only (TieredStopAtLevel=1): with C2 the JIT keeps compiling for many
    # passes, its threads take more than half of the JVM's CPU in the first
    # two, and the warm passes drift by 10-20% for as long as a run can last.
    # With C1 alone the second pass is within about 10% of the later ones,
    # the third is at their level, and a warm pass costs a fifth to a third
    # less CPU.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.pop("SPARK_MASTER", None)
    os.chdir(scratch / "cwd")
    return str(scratch / "data")


def setup(app: str):
    """Import the package's query registry and start its session; return
    (spark, QUERIES, import seconds, session-start seconds)."""
    t0 = time.perf_counter()
    from analyzing_big_data_in_scala_spark.plans import QUERIES
    from analyzing_big_data_in_scala_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark(app)
    t2 = time.perf_counter()
    return spark, QUERIES, t1 - t0, t2 - t1


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on end of input
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_query(spark, spec, sf_dir: str, tracer):
    """Call one registry query and materialize it. Returns (record, df)."""
    if tracer is not None:
        before = tracer.mark()
        n_progress, n_started = len(tracer.progress), tracer.started
    t0 = time.perf_counter()
    df = spec.fn(spark, sf_dir)
    t1 = time.perf_counter()
    if tracer is not None:
        between = tracer.mark()
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    rec = {"query": spec.name, "wall_s": t2 - t0}
    if tracer is not None:
        after = tracer.mark()
        rec["plans.call_s"] = t1 - t0
        rec["exec.materialize_s"] = t2 - t1
        rec.update(tracer.collect(before, between, after, t2 - t0, n_progress, n_started))
    return rec, df


def run_pass(spark, queries, order, sf_dir: str, jvm_pid: int, tracer=None) -> dict:
    """One pass over the workload in `order`. Failed calls are recorded, not
    raised, so every pass attempts every query."""
    if tracer is not None:
        tracer.attach()
    cpu_jvm0, cpu_py0, steal0 = probes.tree_cpu_s(jvm_pid), probes.self_cpu_s(), probes.steal_s()
    records, frames, failed = [], {}, []
    t0 = time.perf_counter()
    for name in order:
        try:
            rec, frames[name] = run_query(spark, queries[name], sf_dir, tracer)
            records.append(rec)
        except Exception:  # noqa: BLE001 - a failing query is counted, the run goes on
            log(f"query {name} failed:\n{traceback.format_exc()}")
            failed.append(name)
    wall = time.perf_counter() - t0
    if tracer is not None:
        tracer.detach()
    out = {
        "traced": tracer is not None,
        "wall_s": wall,
        "order": list(order),
        "jvm_cpu_s": probes.tree_cpu_s(jvm_pid) - cpu_jvm0,
        "python_cpu_s": probes.self_cpu_s() - cpu_py0,
        "steal_s": probes.steal_s() - steal0,
        "queries": records,
        "failed": failed,
        "frames": frames,
    }
    log(
        f"pass {wall:.3f} s{' (traced)' if tracer is not None else ''}, "
        f"cpu {out['jvm_cpu_s'] + out['python_cpu_s']:.2f} s, steal {out['steal_s']:.2f} s"
    )
    return out


def check_results(checker: Checker, queries, names, frames: dict) -> list[str]:
    """Check each query's result; return the names that are wrong. A query
    that left no result (its call raised) fails its check too."""
    wrong = []
    for name in names:
        if name not in frames:
            reason = "no result: the call raised"
        else:
            try:
                reason = checker.check(queries[name], frames[name])
            except Exception:  # noqa: BLE001 - a check that cannot run is a failed check
                reason = traceback.format_exc()
        if reason is not None:
            log(f"check {name} FAILED: {reason}")
            wrong.append(name)
    return wrong


def end_to_end(setup_s: float, timed: list[dict]) -> dict[str, float]:
    """The end-to-end metrics. A query's warm time is its fastest timed call:
    CPU steal and other load on the host only ever add to a call's time, and
    they come in bursts that spare some calls of a run."""
    best: dict[str, float] = {}
    for p in timed:
        for r in p["queries"]:
            best[r["query"]] = min(best.get(r["query"], math.inf), r["wall_s"])
    return {
        "setup_s": setup_s,
        "warm_pass_s": sum(best.values()),
        "query_geomean_s": math.exp(statistics.fmean(math.log(v) for v in best.values())),
        "cpu_s": statistics.median(p["jvm_cpu_s"] + p["python_cpu_s"] for p in timed),
    }


def per_layer(timed_traced: list[dict], overhead_s: float, setup_parts: dict, rss_mb: float) -> dict:
    """Medians over traced passes of each layer figure summed over the pass."""
    keys = [k for k in timed_traced[0]["queries"][0] if k not in ("query", "wall_s")]
    out = {k: statistics.median(sum(r[k] for r in p["queries"]) for p in timed_traced) for k in keys}
    out.update(setup_parts)
    out["host.steal_s"] = statistics.median(p["steal_s"] for p in timed_traced)
    out["host.jvm_cpu_s"] = statistics.median(p["jvm_cpu_s"] for p in timed_traced)
    out["host.python_cpu_s"] = statistics.median(p["python_cpu_s"] for p in timed_traced)
    out["host.jvm_peak_rss_mb"] = rss_mb
    out["trace.overhead_s"] = overhead_s
    return out


def write_tables(sf_dir: str, sf: float) -> None:
    """Generate the input tables. Called after set-up, so that set-up pays
    the whole import cost of a fresh interpreter (datagen loads numpy and
    pyarrow, which the package also imports)."""
    import datagen

    log(f"generating tables at sf{sf}")
    datagen.write_tables(sf_dir, sf, DATA_SEED)


def benchmark(args, sf_dir: str) -> dict:
    spark, queries, import_s, start_s = setup(f"perfbench-{args.workload}")
    names = WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    tracer = None
    try:
        write_tables(sf_dir, SF)
        jvm = probes.jvm_pid(spark)
        if args.trace:
            tracer = probes.SparkTracer(spark)
            cold_before = tracer.mark()
        log("cold pass")
        cold = run_pass(spark, queries, rng.sample(names, len(names)), sf_dir, jvm)
        if tracer is not None:
            # The cold pass runs untraced, so that it is timed as in an
            # untraced run; only the cheap counters are read around it.
            cold_after = tracer.mark()
            cold_layers = {
                "cold.pass_s": cold["wall_s"],
                "cold.jobs": cold_after[0] - cold_before[0],
                "cold.codegen_compiles": cold_after[2] - cold_before[2],
            }
        timed: list[dict] = []
        t0 = time.perf_counter()
        while True:
            # A traced run alternates untraced and traced passes, so that the
            # tracing overhead is measured within the run.
            traced = tracer is not None and len(timed) % 2 == 1
            timed.append(
                run_pass(spark, queries, rng.sample(names, len(names)), sf_dir, jvm, tracer if traced else None)
            )
            enough = len(timed) >= MIN_TIMED_PASSES and time.perf_counter() - t0 >= args.seconds
            if enough and (tracer is None or len(timed) % 2 == 0):
                break
        log(f"{len(timed)} timed passes; checking results")
        checker = Checker(sf_dir)
        try:
            wrong = check_results(checker, queries, names, timed[-1]["frames"])
        finally:
            checker.close()
        rss_mb = probes.peak_rss_mb(jvm)
    finally:
        stop_jvm(spark)

    passes = [cold] + timed
    failed_calls = sum(len(p["failed"]) for p in passes)
    result = {
        # No query of a workload is expected to fail: a call that raised
        # makes the run incorrect, as a wrong result does.
        "correct": not wrong and failed_calls == 0,
        "attempted": len(names) * len(passes) + len(names),
        "failed": failed_calls + len(wrong),
    }
    untraced = [p for p in timed if not p["traced"]]
    e2e = end_to_end(import_s + start_s, untraced)
    if tracer is None:
        result["metrics"] = e2e
        return result
    traced = [p for p in timed if p["traced"]]
    traced_warm = end_to_end(import_s + start_s, traced)["warm_pass_s"]
    layers = per_layer(
        traced,
        traced_warm - e2e["warm_pass_s"],
        {"plans.import_s": import_s, "session.start_s": start_s, **cold_layers},
        rss_mb,
    )
    result["metrics"] = layers
    trace = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": SF,
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "end_to_end_untraced": e2e,
        "per_layer": layers,
        "passes": [{k: v for k, v in p.items() if k != "frames"} for p in passes],
    }
    out = ROOT / ".perfbench_out" / f"trace-{args.workload}-{args.seed}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(trace, indent=1))
    log(f"trace written to {out}")
    return result


def selfcheck(sf_dir: str) -> dict:
    """Every workload once at a tiny scale, with all of its checks."""
    spark, queries, _, _ = setup("perfbench-selfcheck")
    attempted = failed = 0
    try:
        write_tables(sf_dir, SELFCHECK_SF)
        jvm = probes.jvm_pid(spark)
        checker = Checker(sf_dir)
        try:
            for workload, names in WORKLOADS.items():
                p = run_pass(spark, queries, names, sf_dir, jvm)
                wrong = check_results(checker, queries, names, p["frames"])
                attempted += 2 * len(names)
                failed += len(p["failed"]) + len(wrong)
                log(f"{workload}: {p['wall_s']:.1f} s, failed={p['failed']} wrong={wrong}")
        finally:
            checker.close()
    finally:
        stop_jvm(spark)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true", help="run every workload once at a tiny scale")
    args = ap.parse_args(argv)
    if not args.selfcheck and args.workload is None:
        ap.error("--workload is required")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    # Unwind on SIGTERM too, so the JVM is stopped and the scratch removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for needed in (ROOT / PACKAGE / "__init__.py", ROOT / "tests" / "oracle_check.py", ROOT / "BENCHMARK.json"):
        if not needed.is_file():
            log(f"missing {needed.relative_to(ROOT)}: run from a checkout of the project")
            return 2
    sys.path.insert(0, str(ROOT))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    scratch = ROOT / ".perfbench_runs" / f"{args.workload or 'selfcheck'}-{os.getpid()}"
    try:
        data_dir = isolate(scratch)
        result = selfcheck(data_dir) if args.selfcheck else benchmark(args, data_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(scratch, ignore_errors=True)
    if "metrics" in result:
        values = result["metrics"]
        listed = spec["per_layer" if args.trace else "end_to_end"]
        result["metrics"] = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] or not args.selfcheck else 1


if __name__ == "__main__":
    sys.exit(main())
