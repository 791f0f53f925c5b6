"""Warehouse benchmark: one command, two workloads, end-to-end or per layer.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 5 --trace 0

Run from the repository root.  It generates the workload's inputs from
the seed under ``.perfbench_work/``, then starts two fresh worker
processes at once, each with its own JVM.  Both set up (``get_spark`` +
``load_all`` + the ``api.health`` round trip); then one exits and the
other runs the workload.  ``setup_s`` is the median of the set-up
times.  The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics for ``--trace 0`` and the per-layer metrics
for ``--trace 1``.  A fuller report (environment, sample counts, failing
ops) is written to ``.perfbench_work/results/``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import asdict, replace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("headline", "ingest")
SF = 0.01  # fixture scale: 60k lineitem rows
SETUPS = 2  # fresh processes set up per run; setup_s is their median
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"
RUN_DEADLINE_S = 170  # the whole run, set-up included

# Closed-loop throughput is the steady end-to-end number; latency
# percentiles rest on too few samples per run (17 on headline, 6 on
# ingest) to gate on, so they are reported per layer with their sample count.
END_TO_END = {
    "setup_s": "s",
    "queries_per_s": "1/s",
}
PER_LAYER = {
    "query_p50_s": "s",
    "query_p90_s": "s",
    "query.samples": "count",
    "peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "warmup_s": "s",
    "tables.parquet_reads": "count",
    "tables.parquet_read_s": "s",
    "build.self_s": "s",
    "build.jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.wall_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_failures": "count",
    "exec.cpu_util": "ratio",
    "memo.entries": "count",
    "memo.cold_s": "s",
    "csv_ingest.sniff_s": "s",
    "csv_ingest.infer_s": "s",
    "csv_ingest.validate_s": "s",
    "csv_ingest.register_s": "s",
    "csv_ingest.refresh_s": "s",
    "csv_ingest.jobs": "count",
    "catalog.table_info_s": "s",
    "catalog.list_tables_s": "s",
    "catalog.drop_table_s": "s",
    "ingest.scan_bytes_per_csv_byte": "ratio",
    "ingest_p50_s": "s",
    "ingest_p90_s": "s",
    "ingest_mb_per_s": "MB/s",
    "error_rate": "ratio",
    "trace.overhead_pct": "%",
}


class BenchError(RuntimeError):
    pass


def _prepare(args, work: str) -> dict:
    """Generate the workload's inputs; returns the worker config."""
    import gen

    cfg = {
        "root": ROOT,
        "work": work,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "load_avg": os.getloadavg(),
        "data_dir": os.path.join(work, f"sf{SF}"),
        "result_path": os.path.join(work, "result.json"),
    }
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    if args.workload == "headline":
        gen.write_tables(cfg["data_dir"], args.seed, SF)
    else:
        src = os.path.join(work, "csv_src")
        specs = gen.csv_plan(args.seed)
        cfg["csv_sources"] = gen.write_plan(src, specs)
        cfg["csv_specs"] = [asdict(s) for s in specs]
        # the warm-up cycle: the quoted files and the re-ingested one at
        # 1 MB each, the first without a header, so every code path of the
        # flow runs once at a small, fixed cost
        warm = [s for s in specs if s.quoted or s.reingest]
        warm = [replace(s, name=f"warm_{i}", size_mb=1, header=i > 0)
                for i, s in enumerate(warm)]
        cfg["warm_sources"] = gen.write_plan(src, warm)
        cfg["warm_specs"] = [asdict(s) for s in warm]
    return cfg


def _spawn(cfg: dict, work: str, index: int, setup_only: bool):
    """Start one worker; returns (process, wall-clock launch time)."""
    cfg = dict(cfg, setup_only=setup_only)
    cfg_path = os.path.join(work, f"worker{index}.json")
    with open(cfg_path, "w", encoding="utf-8") as f:
        json.dump(cfg, f)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONDONTWRITEBYTECODE="1",
        # keeps every JVM the worker starts (the launcher and the driver)
        # writing inside the checkout: no /tmp/hsperfdata, no /tmp scratch
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    )
    with open(os.path.join(work, f"worker{index}.log"), "w", encoding="utf-8") as log:
        launched = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=work, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=log, text=True,
        )
    return proc, launched


def _ready(proc: subprocess.Popen, launched: float, index: int) -> tuple[float, dict]:
    """Wait for the worker's READY line; returns (set-up seconds, breakdown)."""
    for line in proc.stdout:
        if line.startswith("READY "):
            detail = json.loads(line[6:])
            return detail.pop("t") - launched, detail
    raise BenchError(f"worker {index} did not finish set-up (see worker{index}.log)")


def _stop(proc: subprocess.Popen, timeout: float = 30) -> int:
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        return proc.wait()


def _wait(proc: subprocess.Popen, deadline: float, index: int) -> None:
    proc.stdout.read()
    code = _stop(proc, timeout=max(1.0, deadline - time.perf_counter()))
    if code != 0:
        raise BenchError(f"worker {index} exited with {code} (see worker{index}.log)")


def _metrics(args, setups: list[tuple[float, dict]], res: dict) -> dict:
    e2e = res["e2e"]
    values = {
        "setup_s": statistics.median([s[0] for s in setups]),
        "query_p50_s": e2e["query_p50_s"]["value"],
        "query_p90_s": e2e["query_p90_s"]["value"],
        "query.samples": e2e["query_p50_s"]["n"],
        "queries_per_s": e2e["queries_per_s"]["value"],
        "peak_rss_mb": res["peak_rss_mb"],
        "error_rate": res["failed"] / res["attempted"],
        **{k: statistics.median([s[1][k] for s in setups])
           for k in ("session.get_spark_s", "registry.load_all_s", "warmup_s")},
        **{k: v["value"] for k, v in e2e.items() if k.startswith("ingest_")},
        **res["layers"],
    }
    units = PER_LAYER if args.trace else END_TO_END
    return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a terminated run still unwinds, so its workers are killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    if not os.path.isdir(os.path.join(ROOT, "data_warehouse_hive_spark")):
        print("perfbench: the data_warehouse_hive_spark package is not next to "
              "perfbench/; run from a checkout of the repository", file=sys.stderr)
        return 2

    started = time.perf_counter()
    deadline = started + RUN_DEADLINE_S
    base = os.path.join(ROOT, ".perfbench_work")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(base, f"{tag}-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    try:
        cfg = _prepare(args, work)
        cfg["spans_path"] = os.path.join(results, f"{tag}-spans.jsonl")
        # All set-ups start together, so each one meets the same contention;
        # the last worker then runs the workload.  The other shuts down
        # during its untimed warm-up, long before its timed passes.
        procs = [_spawn(cfg, work, i, setup_only=i < SETUPS - 1) for i in range(SETUPS)]
        watchdog = threading.Timer(
            deadline - time.perf_counter(), lambda: [p.kill() for p, _ in procs])
        watchdog.start()
        try:
            setups = [_ready(p, launched, i) for i, (p, launched) in enumerate(procs)]
            main_proc = procs[-1][0]
            main_proc.stdin.write("go\n")
            main_proc.stdin.close()
            for i, (p, _) in enumerate(procs):
                _wait(p, deadline, i)
        finally:
            watchdog.cancel()
            for p, _ in procs:
                if p.poll() is None:
                    p.kill()
                    p.wait()
        with open(cfg["result_path"], encoding="utf-8") as f:
            res = json.load(f)
    except BenchError as ex:
        print(f"perfbench: {ex}", file=sys.stderr)
        for name in sorted(os.listdir(work)) if os.path.isdir(work) else ():
            if name.endswith(".log"):
                shutil.copy(os.path.join(work, name), os.path.join(results, f"{tag}-{name}"))
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = _metrics(args, setups, res)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "sf": SF, "cpus": CPUS, "env": res["env"],
        "setup_samples_s": [s[0] for s in setups], "setup_detail": [s[1] for s in setups],
        "samples": {k: v for k, v in res["e2e"].items() if isinstance(v, dict)},
        "op_walls_s": res["op_walls"], "warm_s": res["warm_s"], "passes": res["passes"], "pass_s": res["pass_s"], "first_pass_s": res["first_pass_s"],
        "memo_ids": res["memo_ids"], "failures": res["failures"], "metrics": metrics,
        "run_wall_s": time.perf_counter() - started,
    }
    with open(os.path.join(results, f"{tag}.json"), "w", encoding="utf-8") as f:
        json.dump(report, f, indent=1)
    for line in res["failures"]:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    print(f"perfbench: env {json.dumps(res['env'])} error_rate "
          f"{res['failed']}/{res['attempted']}", file=sys.stderr)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
