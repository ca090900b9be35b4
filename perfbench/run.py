#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload enem_ingest --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The run starts its own local Spark
session, builds the workload's inputs from ``--seed``, runs a closed
loop of operations in whole rounds until ``--seconds`` of busy time
have passed, checks every
operation's output outside the timed region, and prints one JSON object
as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` reports its per-layer metrics from spans opened around
the engine calls (see ``perfbench/README.md``). Lines before the last
are comments for a human reader. Any failed operation makes the exit
code 1; a run that cannot finish prints no result line and exits
non-zero.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# Two of the box's four vCPUs: with every vCPU busy, CPU time the
# hypervisor gives to other guests lands on the critical path, and runs
# spread about twice as wide.
CORES = 2
SETUP_ROUNDS = 3


def closed_loop(workload, tracer, seconds: float) -> list[tuple[float, int, bool]]:
    """Run operations back to back until ``seconds`` of busy time have
    passed and the current round is whole, or until an operation raises.
    A record is (wall seconds, units, ok)."""
    records, busy = [], 0.0
    while busy < seconds or len(records) % workload.ops_per_round:
        t0 = time.perf_counter()
        try:
            units, check = workload.op(len(records), tracer)
        except Exception:  # counted as failed; the run then stops
            traceback.print_exc()
            records.append((time.perf_counter() - t0, 0, False))
            return records
        wall = time.perf_counter() - t0
        busy += wall
        try:
            ok = bool(check())
        except Exception:
            traceback.print_exc()
            ok = False
        records.append((wall, units, ok))
    return records


def stop_spark(spark, jvm_pid: int) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of those processes has ended."""
    from pyspark import SparkContext

    from perfbench.trace import process_tree

    pids = process_tree(jvm_pid)
    try:
        spark.stop()
    finally:
        proc = SparkContext._gateway.proc
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.time() + 60
        for pid in pids:
            while _alive(pid):
                if time.time() > deadline:
                    os.kill(pid, signal.SIGKILL)
                    deadline = time.time() + 10
                time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    if not os.path.isdir(os.path.join(ROOT, "pdf_to_vectordb_etl_spark")):
        print(f"no engine source next to {BENCH_DIR}; run from a full checkout", file=sys.stderr)
        return 2

    # Executors import the engine and this package by name: run from the
    # checkout root and keep every scratch file inside it.
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    work = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    from pdf_to_vectordb_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            # a fixed-size heap: when GC ergonomics grow it instead, the
            # Spark driver's resident set moves by 20 % from run to run
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.range(1).collect()
    session_s = time.perf_counter() - t0
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    try:
        result, ledger = measure(spark, args, spec, work, session_s, jvm_pid)
    finally:
        stop_spark(spark, jvm_pid)
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(BENCH_DIR, ".ledger"), exist_ok=True)
    ledger_path = os.path.join(
        BENCH_DIR, ".ledger", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(ledger_path, "w") as fh:
        json.dump(ledger, fh, indent=1)
    print(f"# ledger: {os.path.relpath(ledger_path, ROOT)}")
    print(json.dumps(result))
    return 0 if result["failed"] == 0 else 1


def measure(spark, args, spec, work: str, session_s: float, jvm_pid: int):
    from perfbench.trace import (
        Tracer,
        calibration_s,
        cpu_times,
        peak_rss_mb,
        process_tree,
        steal_share,
    )
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](spark, work, args.seed)
    prepare_s = []
    for _ in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warm()
    warm_s = time.perf_counter() - t0
    setup_s = session_s + warm_s + statistics.median(prepare_s)

    tracer = Tracer(spark, enabled=bool(args.trace))
    if args.trace:
        wl.start_tracing(tracer)
    cpu_before = cpu_times()
    records = closed_loop(wl, tracer, args.seconds)
    steal = steal_share(cpu_before, cpu_times())
    loop_spans = len(tracer.spans)
    # the replays a traced run adds after the loop; a wrong one counts
    # as a failed operation
    layer_ok = wl.layers(tracer) if args.trace else []
    rss_by_pid = peak_rss_mb([os.getpid(), *process_tree(jvm_pid)])
    rss_mb = sum(rss_by_pid.values())
    calib = calibration_s(spark)

    walls = [w for w, _, _ in records]
    busy = sum(walls)
    failed = sum(1 for _, _, ok in records if not ok) + layer_ok.count(False)
    attempted = len(records) + len(layer_ok)
    units = sum(u for _, u, _ in records)
    if args.trace:
        metrics = wl.per_layer(tracer)
        metrics["spark.failed_tasks"] = sum(s["failed_tasks"] for s in tracer.spans)
        metrics["trace.overhead_ms"] = (
            1e3 * sum(s["overhead_s"] for s in tracer.spans[:loop_spans]) / len(records)
        )
        metrics["box.calibration_s"] = calib
        metrics["box.cpu_steal_share"] = steal
        wanted = spec["per_layer"]
    else:
        metrics = {
            "setup_s": setup_s,
            "throughput_per_s": units / busy,
            "op_p50_ms": 1e3 * statistics.median(walls),
            "peak_rss_mb": rss_mb,
        }
        wanted = spec["end_to_end"]

    names = {m["name"] for m in wanted}
    unknown = set(metrics) - names
    if unknown:
        raise RuntimeError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    # a layer this workload never calls did no work in it
    out = {}
    for m in wanted:
        value = float(metrics.get(m["name"], 0.0))
        if not math.isfinite(value):
            raise RuntimeError(f"metric {m['name']} is {value}")
        out[m["name"]] = {"value": value, "unit": m["unit"]}

    print(f"# workload {wl.name}: {len(records)} operations, {units} {wl.unit} in {busy:.3f} s busy")
    print(f"# setup: session {session_s:.3f} s, warm-up {warm_s:.3f} s, inputs {prepare_s}")
    print(f"# calibration_s {calib:.4f} (best of 3 fixed range sums)")
    print(f"# cpu_steal_share {steal:.4f} (CPU time taken by other guests during the loop)")
    print(f"# error_rate {failed / attempted:.4f} ({failed}/{attempted})")
    print(f"# op_p50_ms {1e3 * statistics.median(walls):.3f} (traced: {bool(args.trace)})")
    print(f"# peak_rss_mb {rss_mb:.1f}")
    for line in wl.summary(records):
        print(f"# {line}")
    for name, v in out.items():
        print(f"# {name} = {v['value']:.6g} {v['unit']}")

    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}
    ledger = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "session_s": session_s,
        "prepare_s": prepare_s,
        "warm_s": warm_s,
        "calibration_s": calib,
        "cpu_steal_share": steal,
        "peak_rss_mb_by_pid": rss_by_pid,
        "operations": [{"wall_s": w, "units": u, "ok": ok} for w, u, ok in records],
        "spans": tracer.spans,
        "result": result,
    }
    return result, ledger


if __name__ == "__main__":
    sys.exit(main())
