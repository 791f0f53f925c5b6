"""Degenerate-input hardening for the reusable pipeline helpers.

At 100 TB a partition, slice, or incremental batch is routinely EMPTY or
a single row; operators must return empty/identity results, not throw.
These tests drive the building-block helpers (not the registry queries,
which always see the full fixture) with empty and singleton inputs.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T


def _docs(spark, rows):
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_minhash_signature_empty_corpus(spark):
    from data_warehouse_hive_spark.extensions.dedup import signature

    sig = signature(_docs(spark, []))
    assert sig.count() == 0


def test_minhash_pairs_single_doc(spark):
    from data_warehouse_hive_spark.extensions.dedup import (
        minhash_candidate_pairs,
    )

    pairs = minhash_candidate_pairs(
        _docs(spark, [(1, "alpha beta gamma delta")])
    )
    assert pairs.count() == 0  # no pair can exist


def test_minhash_signature_doc_shorter_than_shingle(spark):
    from data_warehouse_hive_spark.extensions.dedup import signature

    sig = signature(_docs(spark, [(1, "one two")]))  # < n=3 words
    rows = sig.collect()
    assert len(rows) == 1 and rows[0]["doc_id"] == 1


def test_label_propagation_empty_edges(spark):
    from data_warehouse_hive_spark.extensions.dedup import (
        min_label_propagation,
    )

    edges = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("src", T.LongType()),
                T.StructField("dst", T.LongType()),
            ]
        ),
    )
    labels, iters = min_label_propagation(edges)
    assert labels.count() == 0


def test_gopher_quality_empty(spark):
    from data_warehouse_hive_spark.extensions.curation import gopher_quality

    out = gopher_quality(_docs(spark, []))
    assert out.count() == 0
    assert "keep" in out.columns


def test_column_stats_empty_table(spark):
    from data_warehouse_hive_spark.sources.stats import column_stats

    df = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("a", T.LongType()),
                T.StructField("b", T.StringType()),
            ]
        ),
    )
    stats = column_stats(df)
    assert stats["a"]["null_count"] == 0
    assert stats["a"]["non_null_count"] == 0


def test_shingle_arrays_whitespace_only_doc(spark):
    from data_warehouse_hive_spark.extensions.dedup import shingle_arrays

    out = shingle_arrays(_docs(spark, [(7, "   ")]))
    rows = out.collect()
    # normalizes to empty → one degenerate shingle row, never a crash
    assert len(rows) == 1


def test_kmv_union_smaller_than_k(spark, tmp_path):
    """KMV with fewer distinct keys than K=128: the global-union sketch
    has an EMPTY kth relation, and the query must still return its one
    row via the m<k exact-count fallback (r6 advice: the old crossJoin
    against empty kth returned zero rows)."""
    import datetime

    from data_warehouse_hive_spark.registry import load_all

    rows = [
        (
            i,
            datetime.datetime(2024, 1, 1, 0, 0, i % 60),
            i % 5,  # 5 users x 1 day => 5 distinct kmv keys << K
            "click" if i % 2 == 0 else "purchase",
            float(i),
            "{}",
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = load_all()["q_agg_kmv"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0].asDict()
    assert r["exact_union"] == 5
    assert r["est_union"] == 5.0


def _spearman_on_prices(spark, tmp_path, prices):
    """Run q_stats_spearman over a lineitem fixture whose only rows
    carry the given l_extendedprice values."""
    from data_warehouse_hive_spark.registry import load_all

    df = spark.createDataFrame(
        [(float(i % 3 + 1), p) for i, p in enumerate(prices)],
        "l_quantity double, l_extendedprice double",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    return load_all()["q_stats_spearman"].fn(spark, str(tmp_path)).collect()


def test_spearman_wide_rank_rejects_null_domain(spark, tmp_path):
    """rank2_wide's bucketing needs a non-negative, non-null key: a NULL
    price must fail loudly with its own message, not be reported as a
    negative value."""
    import pytest

    with pytest.raises(Exception, match="non-null domain") as err:
        _spearman_on_prices(spark, tmp_path, [1.0, None, 3.5, 2.25])
    assert "negative" not in str(err.value)
    with pytest.raises(Exception, match="non-negative domain"):
        _spearman_on_prices(spark, tmp_path, [1.0, -2.0, 3.5, 2.25])


def test_ordered_pairs_matches_array_expansion(spark):
    """tables.ordered_pairs ≡ the single-row flatten(transform(slice))
    i<j expansion it replaced, as multisets, on seeded random sorted
    distinct int arrays — sizes 0, 1 and 2 plus random sizes up to 300,
    drawn from one small domain so pairs repeat across arrays."""
    import random
    from collections import Counter
    from itertools import combinations

    from data_warehouse_hive_spark.tables import ordered_pairs

    rng = random.Random(20260817)
    sizes = [0, 1, 2] + [rng.randint(3, 300) for _ in range(9)] + [300]
    arrays = [sorted(rng.sample(range(-400, 400), n)) for n in sizes]
    df = spark.createDataFrame(
        [(a,) for a in arrays], "arr array<long>"
    )

    got = Counter(
        (r["a"], r["b"]) for r in ordered_pairs(df, "arr", "a", "b").collect()
    )
    arr = F.col("arr")
    old = F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.size(arr)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    ref = Counter(
        (r["p"]["a"], r["p"]["b"])
        for r in df.select(F.explode(old).alias("p")).collect()
    )
    assert got == ref
    assert got == Counter(p for a in arrays for p in combinations(a, 2))


def _stub_spark(app: str = "app-1"):
    """Just enough of a SparkSession for tables.session_memo."""
    from types import SimpleNamespace

    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


def test_session_memo_builds_once_per_scope_and_key():
    from data_warehouse_hive_spark.tables import session_memo

    store: dict = {}
    calls: list = []

    def build(tag):
        return lambda: calls.append(tag) or tag

    s = _stub_spark()
    assert session_memo(store, s, "sf_a", build("a")) == "a"
    assert session_memo(store, s, "sf_a", build("again")) == "a"
    assert session_memo(store, s, "sf_a", build("x"), key="x") == "x"
    assert session_memo(store, s, "sf_a", build("x2"), key="x") == "x"
    assert calls == ["a", "x"]
    # a new application is a new scope even for the same sf_dir
    assert session_memo(store, _stub_spark("app-2"), "sf_a", build("b")) == "b"
    assert calls == ["a", "x", "b"]


def test_session_memo_new_scope_evicts_only_stale_entries():
    from data_warehouse_hive_spark.tables import session_memo

    s = _stub_spark()
    store: dict = {}
    other: dict = {}
    session_memo(store, s, "sf_a", lambda: 1)
    session_memo(store, s, "sf_a", lambda: 2, key="k")
    session_memo(other, s, "sf_a", lambda: 3)
    assert session_memo(store, s, "sf_b", lambda: 4) == 4
    assert store == {("app-1", "sf_b", ""): 4}
    # eviction is per store: another module's memo keeps its entries
    assert other == {("app-1", "sf_a", ""): 3}
    # a new key in the live scope keeps that scope's other keys
    session_memo(store, s, "sf_b", lambda: 5, key="k")
    assert store == {("app-1", "sf_b", ""): 4, ("app-1", "sf_b", "k"): 5}


def test_session_memo_nested_same_scope_build_keeps_both_keys():
    from data_warehouse_hive_spark.tables import session_memo

    s = _stub_spark()
    store: dict = {("app-1", "sf_old", "inner"): "stale"}

    def inner():
        return session_memo(store, s, "sf_a", lambda: ["inner"], key="inner")

    def outer():
        return inner() + ["outer"]

    assert session_memo(store, s, "sf_a", outer, key="outer") == [
        "inner",
        "outer",
    ]
    assert store == {
        ("app-1", "sf_a", "inner"): ["inner"],
        ("app-1", "sf_a", "outer"): ["inner", "outer"],
    }
    assert inner() is store[("app-1", "sf_a", "inner")]


def test_session_memo_round_trips_plain_values():
    from data_warehouse_hive_spark.tables import session_memo

    s = _stub_spark()
    store: dict = {}
    merges = [(1, "a", "b", "ab", 7)]
    pair = ("und", "labels")
    assert session_memo(store, s, "sf_a", lambda: merges) is merges
    assert session_memo(store, s, "sf_a", list) is merges
    assert session_memo(store, s, "sf_a", lambda: pair, key="t") is pair
    assert session_memo(store, s, "sf_a", tuple, key="t") is pair


def test_pairs_memo_keeps_only_live_scope(spark, sf_dir, tmp_path):
    """Warming at one sf_dir and then running at another must not pin
    the first corpus's checkpointed pairs (both calls stay lazy)."""
    import shutil

    from data_warehouse_hive_spark.extensions import dedup
    from data_warehouse_hive_spark.tables import table_path

    shutil.copy(
        table_path(sf_dir, "documents"), table_path(str(tmp_path), "documents")
    )
    dedup.candidate_pairs_cached(spark, sf_dir)
    dedup.candidate_pairs_cached(spark, str(tmp_path))
    assert len(dedup._PAIRS_CACHE) == 1
    assert list(dedup._PAIRS_CACHE)[0][1] == str(tmp_path)


def test_multiset_compare_matches_columns_by_name(spark):
    """_multiset_compare joins the two sides by column NAME, so the same
    rows with reordered columns are equal; a different column set is a
    contract violation."""
    import pytest

    from data_warehouse_hive_spark.sources.ddl_queries import _multiset_compare

    a = spark.createDataFrame([(1, "x"), (2, "y"), (2, "y")], "k long, v string")
    assert _multiset_compare(a, a.select("v", "k")) == (0, 0, 3)
    with pytest.raises(AssertionError):
        _multiset_compare(a, a.select("k", F.col("v").alias("w")))
