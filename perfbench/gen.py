"""Seeded input generators: the fixture tables and the ingest CSV files.

Everything here is a pure function of (seed, scale): the same seed writes
byte-identical files, and the program under test only ever sees the files.

* ``write_tables`` writes the ten fixture tables the registry queries read
  (``region`` … ``embeddings``), one parquet file and one row group each,
  with the column names and physical types of the repository's fixtures
  (int32/int64, naive microsecond timestamps, ``list<float>`` vectors).
  Row counts follow the TPC-H ratios at scale ``sf``.
* ``csv_plan`` + ``write_plan`` describe and write the ingest workload's
  files.  The cost profile is fixed (see ``csv_plan``), so every seed sees
  the same mix; the seed varies the order, delimiters, the headerless
  file, column order, violation counts and the content.  Each spec
  carries the truth the correctness check compares against: row count,
  per-column Spark type, planted violations and the aggregate query's
  expected values.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EPOCH_ORDERS = np.datetime64("1995-01-01", "us")
_EPOCH_EVENTS = np.datetime64("2024-01-01", "us")
_US_PER_DAY = 86_400_000_000


def _ts(epoch: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(epoch + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_user = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(_EPOCH_ORDERS, rng.integers(0, 2405, n_ord) * _US_PER_DAY),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_ORDERS, (1 + rng.integers(0, 2499, n_line)) * _US_PER_DAY),
    })
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_evt))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": _ts(_EPOCH_EVENTS, ts),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), i64),
        "event_type": rng.choice(_EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts = [
        " ".join(rng.choice(_WORDS, int(k)))
        for k in rng.integers(10, 101, n_doc)
    ]
    # near-duplicate documents, so the dedup queries have pairs to find
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        j = int(rng.integers(0, n_doc))
        texts[j] = texts[int(i)] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], i64),
    })
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.2, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten fixture tables under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in _tables(seed, sf).items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
        counts[name] = table.num_rows
    return counts


# ---------------------------------------------------------------------------
# Ingest CSV files
# ---------------------------------------------------------------------------

# File sizes of one ingest cycle, in MB.  ``reingest`` marks the one file
# per cycle whose content changes and is re-registered with
# drop_if_exists=True.
CSV_SIZES_MB = (1, 2, 4, 8, 16)
REINGEST_MB = 4
QUOTED_MB = (2, 16)
VIOLATED_MB = (1, 4, 8)
# Spark's CSV inference reads the first 1000 rows; planted violations sit
# after them so the inferred type stays the declared one.
INFER_ROWS = 1000

# column kind -> Spark type Spark's CSV inference gives it
KIND_TYPES = {
    "id": "int",
    "qty": "int",
    "amount": "double",
    "flag": "boolean",
    "day": "date",
    "at": "timestamp",
    "name": "string",
    "note": "string",
}


@dataclass
class CsvSpec:
    """One ingest file and the truth the correctness check compares to."""

    name: str
    size_mb: int
    seed: int
    delimiter: str
    header: bool
    quoted: bool  # string cells carry the delimiter inside quotes
    kinds: list[str]
    violations: int  # non-int cells planted in the qty column
    reingest: bool = False
    # what each written version holds, filled by write_plan
    expected: list[dict] = field(default_factory=list)

    def columns(self) -> list[str]:
        if self.header:
            return list(self.kinds)
        return [f"_c{i}" for i in range(len(self.kinds))]

    def column(self, kind: str) -> str:
        return self.columns()[self.kinds.index(kind)]

    def types(self) -> dict[str, str]:
        return {c: KIND_TYPES[k] for c, k in zip(self.columns(), self.kinds)}


def csv_plan(seed: int) -> list[CsvSpec]:
    """One cycle of ingest files, in the order they are used.

    The mix is stratified so every seed has the same cost profile: each
    size once, every delimiter (comma twice), quoted delimiters in the 2
    and 16 MB files, planted violations in the 1, 4 and 8 MB files, one
    file without a header, and the 4 MB file re-ingested.  The seed
    decides the order, the delimiters, the headerless file, the column
    order and the content."""
    rng = np.random.default_rng([seed, 7])
    k = len(CSV_SIZES_MB)
    delimiters = rng.permutation(list(",;\t|,"))
    headerless = int(rng.integers(k))
    specs = []
    for pos, size in enumerate(rng.permutation(CSV_SIZES_MB).tolist()):
        rest = [kind for kind in KIND_TYPES if kind != "id"]
        rng.shuffle(rest)
        specs.append(CsvSpec(
            name=f"upload_{pos}",
            size_mb=size,
            seed=int(rng.integers(0, 2**31)),
            delimiter=str(delimiters[pos]),
            header=pos != headerless,
            quoted=size in QUOTED_MB,
            kinds=["id", *rest],
            violations=int(rng.integers(1, 40)) if size in VIOLATED_MB else 0,
            reingest=size == REINGEST_MB,
        ))
    return specs


def _cells(spec: CsvSpec, n: int, rng: np.random.Generator, version: int):
    """Column kind -> list of cell texts, plus the expected aggregates."""
    ids = np.arange(1, n + 1) + version * 10_000_000
    qty = rng.integers(-500, 5000, n)
    cents = rng.integers(-100_000, 10_000_000, n)
    bad = np.zeros(n, bool)
    if spec.violations:
        bad[rng.choice(np.arange(INFER_ROWS, n), spec.violations, replace=False)] = True
    words = rng.choice(_WORDS, (3, n)).tolist()
    days = rng.integers(0, 3650, n)
    secs = rng.integers(0, 86_400, n).astype("timedelta64[s]")
    day0 = np.datetime64("2015-01-01") + days
    if spec.quoted:
        # a delimiter inside a quoted cell, the case naive splitting breaks
        name = [f'"{a} {b}{spec.delimiter} x"' for a, b in zip(words[0], words[1])]
    else:
        name = [f"{a} {b}" for a, b in zip(words[0], words[1])]
    cells = {
        "id": ids.astype(str).tolist(),
        "qty": [f"n/a{q % 7}" if b else str(q) for q, b in zip(qty.tolist(), bad.tolist())],
        "amount": [
            f"{'-' if c < 0 else ''}{abs(c) // 100}.{abs(c) % 100:02d}"
            for c in cents.tolist()
        ],
        "flag": np.where(rng.random(n) < 0.5, "true", "false").tolist(),
        "day": np.datetime_as_string(day0, unit="D").tolist(),
        "at": [
            s.replace("T", " ")
            for s in np.datetime_as_string(day0.astype("datetime64[s]") + secs, unit="s").tolist()
        ],
        "name": name,
        "note": [w if r >= 0.3 else "" for w, r in zip(words[2], rng.random(n).tolist())],
    }
    good = ~bad
    expected = {
        "rows": int(n),
        "max_id": int(ids[-1]),
        "qty_count": int(good.sum()),
        "qty_sum": int(qty[good].sum()),
        "amount_cents": int(cents.sum()),
    }
    return cells, expected


# approximate text width of each column kind, to size the row count
_WIDTH = {"id": 7, "qty": 4, "amount": 8, "flag": 5, "day": 10, "at": 19, "name": 11, "note": 4}


def write_csv(spec: CsvSpec, path: str, version: int = 0) -> dict:
    """Write ``spec``'s file (``version`` 1 is the changed re-upload);
    returns what the file holds: row count and the aggregate's values."""
    rng = np.random.default_rng([spec.seed, version])
    per_row = sum(_WIDTH[k] + 1 for k in spec.kinds) + (4 if spec.quoted else 0)
    n = max(INFER_ROWS + 50, int(spec.size_mb * 1_000_000 / per_row))
    if version:
        n = n * 3 // 4
    cells, expected = _cells(spec, n, rng, version)
    lines = map(spec.delimiter.join, zip(*(cells[k] for k in spec.kinds)))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        if spec.header:
            f.write(spec.delimiter.join(spec.kinds) + "\n")
        f.write("\n".join(lines) + "\n")
    return expected


def write_plan(out_dir: str, specs: list[CsvSpec]) -> list[list[str]]:
    """Write every version of every file once; fills each spec's
    ``expected`` and returns each spec's file paths, by version."""
    sources = []
    for spec in specs:
        paths = [
            os.path.join(out_dir, f"{spec.name}.v{version}.csv")
            for version in range(2 if spec.reingest else 1)
        ]
        spec.expected = [write_csv(spec, p, v) for v, p in enumerate(paths)]
        sources.append(paths)
    return sources
