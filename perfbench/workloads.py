"""The two workloads: what one op is, how it is checked, how it is timed.

Both run as one closed-loop client (the next op starts when the previous
one returned) inside one worker process with its own JVM.

* ``headline`` — the 17 headline registry queries over the generated
  fixture tables, each pass in a fresh seeded order.  One op = the
  registry ``fn(spark, sf_dir)`` (build) plus a forced noop-sink write
  (execute).
* ``ingest``   — the reference's upload flow over generated CSV files:
  ``api.process_csv`` (validation on) → ``api.table_info`` → one aggregate
  ``spark.sql`` query → ``api.list_tables`` → ``api.drop_table``; one file
  per cycle is changed and re-registered with ``drop_if_exists=True``
  before its drop.
"""

from __future__ import annotations

import os
import random
import shutil
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

from gen import CsvSpec

# The headline ids, frozen here so the workload cannot drift with the
# program: the same 17 queries as the headline in ``bench.py``.
HEADLINE = (
    "q_groupby_agg", "q_stats_profile", "q_join_multiway", "q_join_inner",
    "q_win_rownum", "q_win_frame_rows", "q_topk_per_group", "q_topk",
    "q_union_all", "q_fn_string", "q_text_stats", "q_text_fingerprint",
    "q_dedup_exact", "q_dedup_minhash", "q_sim_search", "q_time_tumbling",
    "q_time_session_gap",
)

# The six session memo dicts (module, attribute).
MEMOS = (
    ("data_warehouse_hive_spark.extensions.dedup", "_PAIRS_CACHE"),
    ("data_warehouse_hive_spark.extensions.graph", "_LPA_CACHE"),
    ("data_warehouse_hive_spark.extensions.similarity", "_KMEANS_CACHE"),
    ("data_warehouse_hive_spark.extensions.similarity", "_EVAL_TOPK_CACHE"),
    ("data_warehouse_hive_spark.extensions.knn_graph", "_KNN_CACHE"),
    ("data_warehouse_hive_spark.functions.text", "_BPE_CACHE"),
)


def memo_entries() -> int:
    import importlib

    return sum(len(getattr(importlib.import_module(m), a)) for m, a in MEMOS)


def force(df) -> None:
    """Execute the whole plan with nothing collected to the driver."""
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Op:
    """One timed op: its wall time split into the workload's phases."""

    kind: str  # query | process_csv | table_info | list_tables | drop_table
    name: str
    traced: bool
    wall: float = 0.0
    phases: dict[str, float] = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    error: str | None = None
    size_bytes: int = 0
    df_phases: dict = field(default_factory=dict)
    tag: str = ""  # the traced op's id: its job tag prefix and span op
    key: str = ""  # the same op in every pass; defaults to the name

    def __post_init__(self) -> None:
        self.key = self.key or self.name


class Context:
    """What a workload needs from the worker."""

    def __init__(self, spark, registry, cfg, tracer, acct) -> None:
        self.spark = spark
        self.registry = registry
        self.cfg = cfg
        self.tracer = tracer
        self.acct = acct
        self.failures: list[str] = []
        self.failed_keys: set[tuple[str, int]] = set()
        self.attempted = 0
        self.ops: list[Op] = []
        self.first_pass: dict[str, float] = {}
        self.memo_ids: list[str] = []

    def fail(self, what: str, detail: str) -> None:
        """Record a failure of the op or check counted last."""
        self.failures.append(f"{what}: {detail}")
        self.failed_keys.add((what, self.attempted))

    def timed(self, op: Op, phase: str, fn):
        """Run ``fn`` as one phase of ``op``, spanned and job-tagged when
        the op is traced; returns its result."""
        t0 = time.perf_counter()
        if op.traced:
            with self.tracer.span(phase), self.acct.phase(phase):
                out = fn()
        else:
            out = fn()
        op.phases[phase] = time.perf_counter() - t0
        return out


def _run_op(ctx: Context, op: Op, body) -> None:
    """Run ``body()`` as one op; count it, time it, keep its error."""
    ctx.attempted += 1
    if op.traced:
        op.tag = ctx.tracer.op = ctx.acct.begin_op()
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span("op") if op.traced else nullcontext():
            body()
    except Exception as ex:  # noqa: BLE001 — a failing op is reported, not fatal
        op.error = f"{type(ex).__name__}: {ex}"
        ctx.fail(op.name, op.error)
        traceback.print_exc()
    op.wall = time.perf_counter() - t0
    if op.traced:
        op.layers = ctx.acct.end_op(list(op.phases) + ["tables"])
    ctx.ops.append(op)


def warmup(ctx: Context) -> None:
    """The set-up's first engine round trip: the API's health check."""
    from data_warehouse_hive_spark import api

    if api.health(ctx.spark)["status"] != "healthy":
        raise RuntimeError("health check failed after set-up")


# ---------------------------------------------------------------------------
# headline
# ---------------------------------------------------------------------------

def _query_op(ctx: Context, qid: str, traced: bool) -> None:
    op = Op("query", qid, traced)

    def body():
        df = ctx.timed(
            op, "build", lambda: ctx.registry[qid].fn(ctx.spark, ctx.cfg["data_dir"])
        )
        if traced:  # read before executing: execution extends the phases
            phases = ctx.acct.df_phases(df)
            # a DataFrame already optimized was built by an earlier op (a
            # memo hit); its analysis is not this op's work
            if "optimization" not in phases:
                op.df_phases = phases
        ctx.timed(op, "exec", lambda: force(df))

    _run_op(ctx, op, body)


class _Collected:
    """A result already collected, handed to the oracle compare in place
    of the DataFrame so the query does not execute a second time."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 — the DataFrame method it stands in for
        return self._pdf


def headline_first_pass(ctx: Context, rng: random.Random) -> None:
    """Cold pass: times each query once (build + collect), notes which ones
    fill a memo, then checks the result against its DuckDB oracle."""
    from data_warehouse_hive_spark.testing import compare_to_oracle, duckdb_connection

    con = duckdb_connection(ctx.cfg["data_dir"])
    order = list(HEADLINE)
    rng.shuffle(order)
    for qid in order:
        before = memo_entries()
        op = Op("query", qid, traced=False)
        got = {}
        _run_op(ctx, op, lambda: got.__setitem__(
            "pdf", ctx.registry[qid].fn(ctx.spark, ctx.cfg["data_dir"]).toPandas()))
        ctx.ops.pop()  # the cold pass is not a steady sample
        ctx.first_pass[qid] = op.wall
        if memo_entries() > before:
            ctx.memo_ids.append(qid)
        if "pdf" not in got:
            continue
        ctx.attempted += 1
        try:
            res = compare_to_oracle(
                qid, _Collected(got["pdf"]), ctx.registry[qid].oracle, con,
                digest_row_limit=None,
            )
        except Exception as ex:  # noqa: BLE001 — reported as a failed check
            ctx.fail(f"{qid} oracle", f"{type(ex).__name__}: {ex}")
            continue
        if not res.ok:
            ctx.fail(f"{qid} oracle", "; ".join(res.problems)[:300])
    con.close()


def headline_pass(ctx: Context, rng: random.Random, traced: bool) -> None:
    order = list(HEADLINE)
    rng.shuffle(order)
    for qid in order:
        _query_op(ctx, qid, traced)


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

def agg_sql(table: str, spec: CsvSpec) -> str:
    c = spec.column
    return (
        f"SELECT COUNT(*) AS rows, MAX(`{c('id')}`) AS max_id, "
        f"COUNT(`{c('qty')}`) AS qty_count, SUM(`{c('qty')}`) AS qty_sum, "
        f"SUM(CAST(ROUND(`{c('amount')}` * 100) AS BIGINT)) AS amount_cents "
        f"FROM `{table}`"
    )


def _check_ingest(ctx: Context, what: str, spec: CsvSpec, expected: dict,
                  resp: dict, info: dict, row) -> None:
    """Every output of one file's flow against what the generator wrote."""
    got_types = {c["name"]: c["type"] for c in resp.get("columns", [])}
    if got_types != spec.types():
        ctx.fail(what, f"types {got_types} != {spec.types()}")
    val = resp.get("validation") or {}
    if val.get("rows") != expected["rows"]:
        ctx.fail(what, f"validated rows {val.get('rows')} != {expected['rows']}")
    for col, stats in (val.get("columns") or {}).items():
        want = spec.violations if col == spec.column("qty") else 0
        if stats["type_violations"] != want:
            ctx.fail(what, f"{col} type_violations {stats['type_violations']} != {want}")
    if info.get("row_count") != expected["rows"]:
        ctx.fail(what, f"table_info row_count {info.get('row_count')} != {expected['rows']}")
    got = row.asDict() if row is not None else {}
    for key, want in expected.items():
        if got.get(key) != want:
            ctx.fail(what, f"query {key} {got.get(key)} != {want}")


def _step(ctx: Context, kind: str, table: str, key: str, traced: bool, fn,
          size_bytes: int = 0):
    """One op of a file's flow; returns ``fn()``'s result, None if it raised."""
    op = Op(kind, f"{table}:{kind}", traced, size_bytes=size_bytes, key=f"{key}:{kind}")
    out: dict = {}
    _run_op(ctx, op, lambda: out.setdefault("v", ctx.timed(op, kind, fn)))
    return out.get("v")


def ingest_file(ctx: Context, spec: CsvSpec, sources: list[str], upload: str,
                table: str, traced: bool) -> None:
    """One file's whole flow; a re-ingest file runs process/info/query twice."""
    from data_warehouse_hive_spark import api

    spark = ctx.spark
    for version, src in enumerate(sources):
        shutil.copyfile(src, upload)  # the upload lands (untimed)
        key = f"{spec.name}.v{version}"
        resp = _step(
            ctx, "process_csv", table, key, traced,
            lambda: api.process_csv(
                spark, upload, table, has_header=spec.header,
                validate=True, drop_if_exists=version > 0,
            ),
            size_bytes=os.path.getsize(upload),
        )
        info = _step(ctx, "table_info", table, key, traced,
                     lambda: api.table_info(spark, table))
        row = _step(ctx, "query", table, key, traced,
                    lambda: spark.sql(agg_sql(table, spec)).collect()[0])
        ctx.attempted += 1
        _check_ingest(ctx, f"{table} v{version}", spec, spec.expected[version],
                      resp or {}, info or {}, row)

    listed = _step(ctx, "list_tables", table, spec.name, traced,
                   lambda: api.list_tables(spark))
    if listed is not None and table not in listed.get("tables", []):
        ctx.fail(f"{table}:list_tables", "registered table not listed")
    dropped = _step(ctx, "drop_table", table, spec.name, traced,
                    lambda: api.drop_table(spark, table))
    if dropped is not None and dropped.get("status") != "success":
        ctx.fail(f"{table}:drop_table", str(dropped))


def ingest_cycle(ctx: Context, cycle: int | str, specs: list[CsvSpec],
                 sources: list[list[str]], traced: bool) -> None:
    """Every file of the plan through its whole flow; ``cycle`` names
    this cycle's tables."""
    upload_dir = os.path.join(ctx.cfg["work"], "uploads")
    os.makedirs(upload_dir, exist_ok=True)
    for spec, src in zip(specs, sources):
        table = f"{spec.name}_c{cycle}"
        ingest_file(ctx, spec, src, os.path.join(upload_dir, f"{table}.csv"), table, traced)
