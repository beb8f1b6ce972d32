#!/usr/bin/env python3
"""Store-lifecycle and curation benchmark for sonnerie_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads: ``ingest_compact``,
``read_serve``, ``curation`` (see BENCHMARK.json for why each exists).
Load: one process, Spark ``local[nproc]``, one client thread, closed
loop (each call waits for the previous one), durable commits.

Prints a readable report (every metric by name and unit, with sample
counts), then, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics when
``--trace 0``, the per-layer metrics when ``--trace 1``. A traced run
also reports tracing overhead (traced minus untraced end-to-end values
for the same workload and seed) and writes its spans to
``perfbench/out/``. Exits non-zero, printing no result, if the program
cannot be imported or a call raises.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from workloads import CURATION

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

# (name, unit, better) of each end-to-end metric; every workload reports
# both. What one unit of work is depends on the workload (WORK_UNIT).
# The workload-specific latencies, throughputs and peak RSS are printed
# in the report but not bounded: on a 4-vCPU guest with other tenants
# their run-to-run spread reaches the largest bound allowed (peak RSS:
# the JVM's share follows G1 heap sizing and varies by a third).
E2E = [
    ("setup_s", "s", "lower"),
    ("work_s", "s", "lower"),
]
WORK_UNIT = {
    "ingest_compact": "one ingest cycle: 100 transactions, 4 stream micro-batches,"
                      " minor + major compaction",
    "read_serve": "one round of 87 mixed read/serve operations (per-kind medians)",
    "curation": "one pass over the nine curation queries",
}

_JOBS = [("jobs", "count"), ("job_run_s", "s"), ("driver_gap_s", "s")]

# (name, unit, better, the end-to-end metric it should move on which
# workload). Layers a workload does not touch read 0 there. A ``.s`` is
# a per-cycle total on ingest_compact and a per-call median elsewhere.
LAYERS = [
    ("session.get_spark.s", "s", "lower", "setup_s (all)"),
    ("db.Transaction.add_line.s", "s", "lower", "ingest_tx_rec_per_s, work_s (ingest_compact)"),
    ("db.Transaction.commit.s", "s", "lower", "ingest_tx_rec_per_s, work_s (ingest_compact)"),
    ("db.commit_deletes.s", "s", "lower", "ingest_tx_rec_per_s, work_s (ingest_compact)"),
    ("streaming.ingest.batches", "count", "lower", "ingest_stream_rec_per_s (ingest_compact)"),
    ("streaming.ingest.batch.s", "s", "lower", "ingest_stream_rec_per_s (ingest_compact)"),
    *[(f"streaming.ingest.{p}.ms", "ms", "lower", "ingest_stream_rec_per_s (ingest_compact)")
      for p in ("addBatch", "queryPlanning", "walCommit", "triggerExecution")],
    *[(f"streaming.ingest.{k}", u, "lower", "ingest_stream_rec_per_s (ingest_compact)")
      for k, u in _JOBS],
    ("db.compact.minor.s", "s", "lower", "compact_s, work_s (ingest_compact)"),
    ("db.compact.major.s", "s", "lower", "compact_s, work_s (ingest_compact)"),
    *[(f"db.compact.{k}", u, "lower", "compact_s (ingest_compact)") for k, u in _JOBS],
    ("db.stats.n_runs", "count", "lower",
     "compact_s (ingest_compact, before compaction); get tail (read_serve, at end)"),
    ("db.stats.bytes_before", "bytes", "lower", "compact_s (ingest_compact)"),
    ("db.stats.bytes_after", "bytes", "lower", "space_amp (ingest_compact)"),
    ("db.write_amp", "ratio", "lower", "compact_s, space_amp (ingest_compact)"),
    ("db.space_amp", "ratio", "lower", "space_amp (ingest_compact)"),
    ("pointread.get.s", "s", "lower", "get_p50_ms, work_s (read_serve)"),
    ("pointread.get.ms_per_row", "ms", "lower", "get_p50_ms (read_serve)"),
    ("pointread.get.after_put.s", "s", "lower", "get tail: p99, or p90 below 1000 gets (read_serve)"),
    ("pointread.get_many.s", "s", "lower", "get_many_p50_ms (read_serve)"),
    ("serve.GET.overhead_ms", "ms", "lower", "http_get_p50_ms (read_serve)"),
    ("serve.PUT.s", "s", "lower", "http_put_p50_ms (read_serve)"),
    ("serve.PUT.records", "count", "higher", "http_put_p50_ms (read_serve)"),
    ("db.read.s", "s", "lower", "scan_p50_s (read_serve)"),
    ("db.read.rows", "count", "higher", "scan_p50_s (read_serve)"),
    *[(f"db.read.{k}", u, "lower", "scan_p50_s (read_serve)") for k, u in _JOBS],
    *[(f"curation.{q}.{k}", u, b, "curation_s, work_s (curation)")
      for q in CURATION
      for k, u, b in [("s", "s", "lower"), *[(k, u, "lower") for k, u in _JOBS],
                      ("rows", "count", "higher")]],
    ("trace.spans", "count", "lower", "tracing overhead (all)"),
    *[(f"trace.overhead.{n}", u, "lower", f"{n} (all): traced minus untraced")
      for n, u, _ in E2E],
]


def pin_environment(work: str) -> dict:
    """Host-derived settings, fixed before the JVM starts: every core,
    a driver heap well below RAM, and every scratch path inside the
    run's own work directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    heap_mb = min(3072, mem_mb // 4)
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        # every JVM, the spark-submit launcher's too: no hsperfdata in /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "SPARK_GRAFT_EXTRA_CONF": json.dumps({
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # job accounting reads the status store after the timed phase
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }),
    }
    os.environ.update(env)
    return {"cpus": cpus, "mem_mb": mem_mb, "driver_heap_mb": heap_mb}


def steal_jiffies() -> int:
    """Hypervisor steal from /proc/stat; a diagnostic, never used to
    drop a run."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, ValueError, IndexError):
        return -1


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for ln in f:
                if ln.startswith("VmHWM:"):
                    return int(ln.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def untraced_baseline(args) -> tuple[dict, str]:
    """End-to-end values of an untraced run of the same workload: the
    record an earlier run with this seed left, else the newest record of
    any seed, else a fresh untraced child run with this seed."""
    path = os.path.join(OUT, f"e2e-{args.workload}-{args.seed}.json")
    if not os.path.exists(path):
        prefix = f"e2e-{args.workload}-"
        older = [os.path.join(OUT, f) for f in os.listdir(OUT) if f.startswith(prefix)]
        if older:
            path = max(older, key=os.path.getmtime)
        else:
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                 "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
                stdout=subprocess.DEVNULL, check=True, timeout=170,
            )
    with open(path) as f:
        return json.load(f), os.path.basename(path)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and so its Python
    workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORK_UNIT))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.perf_counter()

    sys.path.insert(0, ROOT)
    import sonnerie_spark  # noqa: F401  (fail fast outside a checkout)

    from spans import JobAccounting, Tracer
    from workloads import WORKLOADS, Ctx

    os.makedirs(OUT, exist_ok=True)
    baseline, baseline_from = untraced_baseline(args) if args.trace else (None, None)
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    host = pin_environment(work)
    steal0 = steal_jiffies()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = sonnerie_spark.get_spark("perfbench")
        session_s = time.perf_counter() - t0
        jvm_pid = getattr(spark.sparkContext._gateway, "proc", None)
        tracer = Tracer(bool(args.trace))
        ctx = Ctx(spark, tracer, JobAccounting(spark, bool(args.trace)), work, OUT)
        res = WORKLOADS[args.workload](ctx, args.seed, args.seconds)
        rss_py, rss_jvm = vm_hwm_mb("self"), (vm_hwm_mb(jvm_pid.pid) if jvm_pid else 0.0)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    steal = steal_jiffies() - steal0 if steal0 >= 0 else -1

    e2e = {
        "setup_s": session_s + statistics.median(res.setup),
        "work_s": statistics.median(res.work),
    }
    units = {n: u for n, u, _ in E2E}
    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds}  "
          f"trace {args.trace}  cpus {host['cpus']}  driver heap {host['driver_heap_mb']} MB  "
          f"steal {steal} jiffies  wall {time.perf_counter() - t_start:.1f} s")
    print(f"  work unit: {WORK_UNIT[args.workload]} ({len(res.work)} measured)")
    for n, v in e2e.items():
        print(f"  {n:28s} {v:14.4f} {units[n]}")
    print(f"  {'failed_ops_ratio':28s} {res.failed / max(1, res.attempted):14.4f} "
          f"ratio  ({res.failed} of {res.attempted})")
    print(f"  {'peak_rss_mb':28s} {rss_py + rss_jvm:14.4f} MB  "
          f"(python {rss_py:.1f}, jvm {rss_jvm:.1f})")
    for n, (v, u, k) in res.report.items():
        print(f"  {n:28s} {v:14.4f} {u}  (n={k})")
    for note in res.notes:
        print(f"  MISMATCH: {note}")

    if args.trace:
        tracer_spans = len(ctx.tracer.spans)
        ctx.tracer.dump(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.jsonl"))
        layers = dict.fromkeys((n for n, *_ in LAYERS), 0.0)
        layers.update(res.layers)
        layers["session.get_spark.s"] = session_s
        layers["trace.spans"] = tracer_spans
        for n in units:
            layers[f"trace.overhead.{n}"] = e2e[n] - baseline[n]
        print(f"  tracing overhead against {baseline_from}")
        for n, u, _, moves in LAYERS:
            print(f"  {n:50s} {layers[n]:14.4f} {u:6s} -> {moves}")
        metrics = {n: {"value": layers[n], "unit": u} for n, u, *_ in LAYERS}
    else:
        with open(os.path.join(OUT, f"e2e-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(e2e, f)
        metrics = {n: {"value": e2e[n], "unit": units[n]} for n in units}
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
