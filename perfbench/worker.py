"""One worker process: fresh JVM, set-up, then (unless set-up only) the
workload's passes.  Started by ``run.py``; not a command of its own.

It prints one ``READY {...}`` line, stamped with the wall clock, the moment
set-up is done (the parent times set-up from its launch of the process to
that stamp).  A set-up-only worker then exits; the workload worker waits
for a line on stdin (sent once all set-ups are done), runs the workload,
writes its result to the path in its config and shuts Spark and the JVM
down before exiting.
"""

from __future__ import annotations

import json
import math
import os
import random
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads as W  # noqa: E402
from layers import (  # noqa: E402
    STAGE_FIELDS, SparkAccounting, Tracer, install_layer_wrappers, self_times,
)


def percentile(values: list[float], q: float) -> dict:
    """Nearest-rank ``q``-th percentile, with the sample count and how many
    samples lie beyond it (a tail percentile is trustworthy once ten or
    more samples lie beyond it)."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100 * len(ordered)))
    return {"value": ordered[rank - 1], "n": len(ordered), "beyond": len(ordered) - rank}


def _op_walls(ops: list[W.Op]) -> dict[str, list[float]]:
    """Each untraced op's wall times over the timed passes, by op key."""
    walls: dict[str, list[float]] = {}
    for o in ops:
        if not o.traced and o.error is None:
            walls.setdefault(o.key, []).append(o.wall)
    return walls


def steady_rate(ops: list[W.Op]) -> float:
    """Queries per second of one steady pass: the pass's query count over
    the sum, across the pass's ops, of each op's median wall time over the
    timed passes.  A burst of contention from outside slows some ops of
    one pass; the per-op median drops it where a total would keep it."""
    queries = {o.key for o in ops if o.kind == "query"}
    return len(queries) / sum(statistics.median(w) for w in _op_walls(ops).values())


def _rss_peak_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _setup(cfg: dict):
    sys.path.insert(0, cfg["root"])
    t0 = time.perf_counter()
    from data_warehouse_hive_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        warehouse_dir=os.path.join(cfg["work"], "warehouse"),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the whole heap from the start, so passes do not speed up as it grows
            "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from data_warehouse_hive_spark.registry import load_all

    registry = load_all()
    t2 = time.perf_counter()
    return spark, registry, {"session.get_spark_s": t1 - t0, "registry.load_all_s": t2 - t1}


def _teardown(spark) -> None:
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:  # the JVM exits once its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)


def _summary(ctx: W.Context, cores: int) -> dict:
    """End-to-end numbers from untraced ops, per-layer from traced ones."""
    plain = [o for o in ctx.ops if not o.traced and o.error is None]
    traced = [o for o in ctx.ops if o.traced and o.error is None]
    queries = [o.wall for o in plain if o.kind == "query"]
    e2e = {
        "query_p50_s": percentile(queries, 50),
        "query_p90_s": percentile(queries, 90),
        "queries_per_s": {"value": steady_rate(plain), "n": len(queries)},
    }
    ingests = [o for o in plain if o.kind == "process_csv"]
    if ingests:
        walls = [o.wall for o in ingests]
        e2e["ingest_p50_s"] = percentile(walls, 50)
        e2e["ingest_p90_s"] = percentile(walls, 90)
        e2e["ingest_mb_per_s"] = {
            "value": sum(o.size_bytes for o in ingests) / 1e6 / sum(walls),
            "n": len(ingests),
        }
    layers = _layers(ctx, traced, cores) if traced else {}
    if traced:
        # same op mix on both sides (whole passes), so mean op time compares
        layers["trace.overhead_pct"] = 100 * (
            sum(o.wall for o in traced) / len(traced)
            / (sum(o.wall for o in plain) / len(plain)) - 1
        )
    return {"e2e": e2e, "layers": layers}


def _layers(ctx: W.Context, ops: list[W.Op], cores: int) -> dict:
    """Per-layer numbers of the traced ops: layer totals divided by the
    number of ops of the kind that layer serves (times per call)."""
    from collections import Counter

    spans: dict[str, list[tuple[str, float, float]]] = {}
    for s, own in zip(ctx.tracer.spans, self_times(ctx.tracer.spans)):
        spans.setdefault(s.op, []).append((s.name, s.end - s.start, own))
    total: Counter = Counter()
    kinds = Counter(o.kind for o in ops)
    csv_bytes = scanned = 0
    for op in ops:
        own_spans = spans.get(op.tag, [])
        reads = [d for name, d, _ in own_spans if name == "tables.parquet_read"]
        total["tables.parquet_reads"] += len(reads)
        total["tables.parquet_read_s"] += sum(reads)
        jobs = {k: v for k, v in op.layers.items() if k != "catalyst"}
        for acc in jobs.values():
            for k in ("jobs", *STAGE_FIELDS):
                total[f"exec.{k}"] += acc[k]
            total["exec.wall_s"] += acc["job_ms"] / 1000
        for phases in [*op.layers.get("catalyst", []), op.df_phases]:
            for ph, ms in phases.items():
                total[f"catalyst.{ph}_ms"] += ms
        if "build" in jobs:
            total["build.jobs"] += jobs["build"]["jobs"]
            total["build.self_s"] += (
                op.phases["build"] - sum(reads) - jobs["build"]["job_ms"] / 1000
            )
        if "process_csv" in jobs:
            total["csv_ingest.jobs"] += jobs["process_csv"]["jobs"]
        for name, _, own in own_spans:
            if name.startswith(("csv_ingest.", "catalog.")):
                total[f"{name}_s"] += own
        if op.kind in ("process_csv", "table_info", "query"):
            scanned += sum(a["input_bytes"] for a in jobs.values())
            csv_bytes += op.size_bytes

    def per(key: str, kind: str | None) -> float:
        n = len(ops) if kind is None else kinds[kind]
        return total[key] / n if n else 0.0

    out = {k: per(k, None) for k in total if k.startswith(("tables.", "exec.", "catalyst."))}
    out["build.self_s"] = per("build.self_s", "query")
    out["build.jobs"] = per("build.jobs", "query")
    for key in ("sniff_s", "infer_s", "validate_s", "register_s", "refresh_s", "jobs"):
        out[f"csv_ingest.{key}"] = per(f"csv_ingest.{key}", "process_csv")
    for kind in ("table_info", "list_tables", "drop_table"):
        out[f"catalog.{kind}_s"] = per(f"catalog.{kind}_s", kind)
    out["ingest.scan_bytes_per_csv_byte"] = scanned / csv_bytes if csv_bytes else 0.0
    busy_ms = total["exec.wall_s"] * 1000
    out["exec.cpu_util"] = total["exec.cpu_ms"] / (busy_ms * cores) if busy_ms else 0.0
    return out


def run(cfg: dict) -> None:
    spark, registry, setup = _setup(cfg)
    tracer = Tracer()
    acct = SparkAccounting(spark)
    ctx = W.Context(spark, registry, cfg, tracer, acct)
    t0 = time.perf_counter()
    W.warmup(ctx)
    setup["warmup_s"] = time.perf_counter() - t0
    print("READY " + json.dumps(dict(setup, t=time.time())), flush=True)
    if cfg["setup_only"]:
        _teardown(spark)
        return
    sys.stdin.readline()  # the parent's go-ahead, once every set-up is done

    sc = spark.sparkContext
    cores = sc.defaultParallelism
    env = {
        "nproc": os.cpu_count(),
        "default_parallelism": cores,
        "pyspark": __import__("pyspark").__version__,
        "spark_master": sc.master,
        "load_avg_start": cfg["load_avg"],
        "seed": cfg["seed"],
    }
    rng = random.Random(cfg["seed"])
    if cfg["trace"]:
        acct.start_listener()
    t0 = time.perf_counter()

    # Untimed warm-up, checked like every pass.  For headline, the cold
    # first pass and one more pass, since the second pass still runs well
    # below steady speed while the JIT catches up; for ingest, one cycle
    # of small files.
    if cfg["workload"] == "headline":
        W.headline_first_pass(ctx, rng)
        step = lambda i, traced: W.headline_pass(ctx, rng, traced)  # noqa: E731
        step("w", False)
    else:
        specs = [gen.CsvSpec(**d) for d in cfg["csv_specs"]]
        step = lambda i, traced: W.ingest_cycle(  # noqa: E731
            ctx, i, specs, cfg["csv_sources"], traced)
        warm = [gen.CsvSpec(**d) for d in cfg["warm_specs"]]
        W.ingest_cycle(ctx, "w", warm, cfg["warm_sources"], False)
    ctx.ops.clear()

    # Timed passes: whole passes until the run length is reached, so every
    # op appears equally often.  A traced run interleaves untraced and
    # traced passes in ABBA order (cancelling a warm-up trend) over half
    # the run length each; only untraced passes feed end-to-end numbers.
    warm_s = time.perf_counter() - t0
    i, pass_s = 0, []
    while True:
        traced = bool(cfg["trace"]) and i % 4 in (1, 2)
        if traced:
            install_layer_wrappers(tracer, acct)
        t = time.perf_counter()
        step(i, traced)
        tracer.unwrap_all()
        if not traced:
            pass_s.append(time.perf_counter() - t)
        i += 1
        if not cfg["trace"] and sum(pass_s) >= cfg["seconds"]:
            break
        if cfg["trace"] and i % 4 == 0 and sum(pass_s) >= cfg["seconds"] / 2:
            break
    acct.stop_listener()

    summary = _summary(ctx, cores)
    layers = summary["layers"]
    layers["memo.entries"] = W.memo_entries()
    if ctx.memo_ids:
        steady = {
            q: statistics.median([o.wall for o in ctx.ops if o.name == q and not o.traced])
            for q in ctx.memo_ids
        }
        layers["memo.cold_s"] = sum(ctx.first_pass[q] - steady[q] for q in ctx.memo_ids)
    else:
        layers["memo.cold_s"] = 0.0
    jvm_pid = sc._gateway.jvm.java.lang.ProcessHandle.current().pid()
    summary["peak_rss_mb"] = _rss_peak_mb("self") + _rss_peak_mb(jvm_pid)
    summary.update(
        env=env,
        setup=setup,
        attempted=ctx.attempted,
        failed=len(ctx.failed_keys),
        failures=ctx.failures,
        first_pass_s=ctx.first_pass,
        memo_ids=ctx.memo_ids,
        op_walls=_op_walls(ctx.ops),
        warm_s=warm_s,
        passes=i,
        pass_s=pass_s,
    )
    if cfg["trace"]:
        tracer.dump(cfg["spans_path"])
    with open(cfg["result_path"], "w", encoding="utf-8") as f:
        json.dump(summary, f, indent=1, default=str)
    _teardown(spark)


if __name__ == "__main__":
    with open(sys.argv[1], encoding="utf-8") as fh:
        run(json.load(fh))
