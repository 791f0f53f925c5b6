"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from layers import Span, covered, self_times  # noqa: E402
from workloads import Op  # noqa: E402
from worker import percentile, steady_rate  # noqa: E402

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _same_files(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


def test_tables_deterministic_per_seed_and_differ_across_seeds(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.write_tables(str(tmp_path / name), seed, 0.001)
    assert _same_files(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_files(str(tmp_path / "a"), str(tmp_path / "c"))
    assert sorted(os.listdir(tmp_path / "a")) == sorted(f"{t}.parquet" for t in gen.TABLES)


def test_csv_deterministic_per_seed_and_differ_across_seeds(tmp_path):
    def write(seed: int, tag: str) -> list[str]:
        paths = gen.write_plan(str(tmp_path / tag), gen.csv_plan(seed)[:2])
        return [p for versions in paths for p in versions]

    a, b, c = write(5, "a"), write(5, "b"), write(6, "c")
    assert all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))
    assert not any(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, c))


def test_reingest_version_changes_content(tmp_path):
    spec = next(s for s in gen.csv_plan(1) if s.reingest)
    v0, v1 = gen.write_plan(str(tmp_path), [spec])[0]
    assert not filecmp.cmp(v0, v1, shallow=False)
    assert spec.expected[0]["rows"] != spec.expected[1]["rows"]


def test_csv_plan_is_stratified():
    for seed in (1, 2, 3):
        specs = gen.csv_plan(seed)
        assert sorted(s.size_mb for s in specs) == sorted(gen.CSV_SIZES_MB)
        assert sorted(s.delimiter for s in specs) == sorted(",;\t|,")
        assert [s.size_mb for s in specs if s.reingest] == [gen.REINGEST_MB]
        assert sum(not s.header for s in specs) == 1


def test_csv_expected_values_match_file(tmp_path):
    import csv

    spec = gen.CsvSpec(name="t", size_mb=0, seed=3, delimiter=";", header=True,
                       quoted=True, kinds=list(gen.KIND_TYPES), violations=5)
    path = str(tmp_path / "t.csv")
    expected = gen.write_csv(spec, path)
    with open(path, newline="", encoding="utf-8") as f:
        rows = list(csv.DictReader(f, delimiter=";"))
    assert len(rows) == expected["rows"]
    qty = [r["qty"] for r in rows]
    bad = [q for q in qty if not q.lstrip("-").isdigit()]
    assert len(bad) == 5
    assert all(i >= gen.INFER_ROWS for i, q in enumerate(qty) if q in bad)
    assert sum(int(q) for q in qty if q not in bad) == expected["qty_sum"]
    assert len(qty) - len(bad) == expected["qty_count"]
    assert max(int(r["id"]) for r in rows) == expected["max_id"]
    assert sum(round(float(r["amount"]) * 100) for r in rows) == expected["amount_cents"]
    assert all(";" in r["name"] for r in rows)  # quoted delimiter survives


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared_e2e == run.END_TO_END
    assert declared_layer == run.PER_LAYER
    for name in [*declared_e2e, *declared_layer, *(w["name"] for w in bench["workloads"])]:
        assert METRIC_NAME.match(name), name
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)


def test_percentile_reports_sample_count():
    values = [float(i) for i in range(1, 101)]
    p90 = percentile(values, 90)
    assert p90 == {"value": 90.0, "n": 100, "beyond": 10}
    p50 = percentile([3.0, 1.0, 2.0], 50)
    assert p50 == {"value": 2.0, "n": 3, "beyond": 1}
    with pytest.raises(ValueError):
        percentile([], 50)


def test_steady_rate_takes_each_ops_median_over_passes():
    def op(kind, key, wall):
        return Op(kind, f"{key}_c0:{kind}", traced=False, wall=wall, key=key)

    passes = [
        [op("query", "q1", 1.0), op("query", "q2", 2.0), op("drop_table", "d", 1.0)],
        [op("query", "q1", 9.0), op("query", "q2", 2.2), op("drop_table", "d", 1.0)],
        [op("query", "q1", 1.2), op("query", "q2", 2.1), op("drop_table", "d", 1.0)],
    ]
    # one slow q1 (9.0) is dropped by its median; the steady pass is
    # 1.2 + 2.1 + 1.0 seconds for its two queries
    assert steady_rate([o for p in passes for o in p]) == pytest.approx(2 / 4.3)
    assert Op("query", "q_topk", traced=False).key == "q_topk"


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert covered([(0, 5)], 2, 3) == 1
    assert covered([(4, 5)], 0, 3) == 0


def test_self_time_is_duration_minus_covered_children():
    spans = [
        Span("op", 0.0, 10.0, None, "x"),
        Span("build", 1.0, 4.0, 0, "x"),
        Span("read", 2.0, 3.0, 1, "x"),
        Span("exec", 3.5, 9.0, 0, "x"),  # overlaps build by 0.5
        Span("late", 9.5, 12.0, 0, "x"),  # runs past its parent's end
    ]
    got = self_times(spans)
    assert got == pytest.approx([10 - (8.0 + 0.5), 3 - 1, 1, 5.5, 2.5])
