"""Round-9 optimization internals: session memo + scale-adaptive spread.

``session_memo`` is the one session-scoped memo of ``queries/``: values
are keyed by (application, *key) and entries of other applications are
dropped on every insert. ``base_table`` memoizes only the lazy DataFrame
*plan* per (application, sf_dir, name) — never rows; ``spread`` recovers
parallelism only when the scan yields fewer partitions than the cluster
has slots (single-row-group driver tables) and must be a strict no-op
otherwise, so warehouse-scale plans are unchanged.
"""

from __future__ import annotations

import pytest

from martial_arts_ocr_spark.queries.neardup import _learned_centroids
from martial_arts_ocr_spark.queries.tables import (SPREAD_MIN_SOURCE_BYTES,
                                                   _MEMO, base_table,
                                                   scan_partitions,
                                                   session_memo,
                                                   source_bytes, spread,
                                                   spread_table)

# uses the conftest session-scoped `spark` fixture — a module-local
# fixture that calls .stop() would kill the process-global SparkContext
# under every later test module (found the hard way this round)

SF = "/root/testdata/sf0.001"


def test_base_table_memoizes_plan_per_session(spark):
    a = base_table(spark, SF, "documents")
    b = base_table(spark, SF, "documents")
    assert a is b                      # same lazy plan object, no rebuild
    # distinct tables get distinct entries
    c = base_table(spark, SF, "events")
    assert c is not a
    # it is a plan memo, not a result memo: actions still scan parquet
    assert a.count() == spark.read.parquet(f"{SF}/documents.parquet").count()


def test_base_table_evicts_other_applications(spark):
    base_table(spark, SF, "documents")
    app = spark.sparkContext.applicationId
    _MEMO[("dead-app", SF, "documents")] = object()
    # eviction runs on the INSERT path, so probe a table that is not
    # already cached for this session (cache hits skip eviction)
    _MEMO.pop((app, SF, "orders"), None)
    base_table(spark, SF, "orders")
    assert all(k[0] == app for k in _MEMO)


@pytest.mark.parametrize("insert", [
    lambda spark: base_table(spark, SF, "orders"),
    lambda spark: source_bytes(spark, SF, "orders"),
    lambda spark: scan_partitions(spark, SF, "orders"),
    lambda spark: session_memo(spark, ("test", "value"), lambda: 1),
], ids=["base_table", "source_bytes", "scan_partitions", "session_memo"])
def test_any_memo_insert_evicts_dead_app_entries(spark, insert):
    """Dead-app entries go on every insert path, frames and plain values
    alike — and only the reference goes: the frame is not unpersisted
    (a stopped app's blocks died with its SparkContext)."""
    app = spark.sparkContext.applicationId
    frame = spark.range(3).persist()
    _MEMO[("dead-app", SF, "cosine_nd")] = frame
    _MEMO[("dead-app", SF, "centroids")] = [[0.1, 0.2], [0.3, 0.4]]
    for key in [(SF, "orders"), (SF, "orders", "bytes"),
                (SF, "orders", "nparts"), ("test", "value")]:
        _MEMO.pop((app, *key), None)   # force a miss, i.e. an insert
    insert(spark)
    assert _MEMO and all(k[0] == app for k in _MEMO)
    assert frame.is_cached
    frame.unpersist()


def test_learned_centroids_are_session_scoped(spark):
    app = spark.sparkContext.applicationId
    cents = _learned_centroids(spark, SF)
    keys = [k for k, v in _MEMO.items() if v is cents]
    assert keys == [(app, SF, "centroids")]


def test_falsy_value_is_a_memo_hit(spark):
    calls = []

    def build():
        calls.append(1)
        return {}                      # e.g. no usable per-lang LM model

    key = ("test", "empty-dict")
    _MEMO.pop((spark.sparkContext.applicationId, *key), None)
    assert session_memo(spark, key, build) == {}
    assert session_memo(spark, key, build) == {}
    assert calls == [1]


def test_spread_fires_only_below_parallelism(spark):
    p = spark.sparkContext.defaultParallelism
    # single-row-group parquet scan -> 1 partition -> spread repartitions
    narrow = base_table(spark, SF, "documents").select("doc_id", "text")
    assert narrow.rdd.getNumPartitions() < p
    out = spread(narrow)
    assert out.rdd.getNumPartitions() == p
    # already-parallel input -> STRICT no-op (same object, no exchange)
    wide = spark.range(1000).repartition(p)
    assert spread(wide) is wide
    wider = spark.range(1000).repartition(p * 2)
    assert spread(wider) is wider


def test_spread_preserves_rows(spark):
    narrow = base_table(spark, SF, "documents").select("doc_id")
    before = sorted(r["doc_id"] for r in narrow.collect())
    after = sorted(r["doc_id"] for r in spread(narrow).collect())
    assert before == after


def test_spread_respects_source_size_threshold(spark):
    """Sub-threshold sources (every sf fixture table) stay unspread —
    the exchange's fixed first-run cost exceeds the serialized compute
    it would parallelize; above the threshold the repartition fires."""
    narrow = base_table(spark, SF, "documents").select("doc_id", "text")
    small = spread(narrow, n_source=1, src_bytes=SPREAD_MIN_SOURCE_BYTES - 1)
    assert small is narrow
    big = spread(narrow, n_source=1, src_bytes=SPREAD_MIN_SOURCE_BYTES)
    assert big is not narrow
    assert big.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # spread_table wires the real file size through: the tiny sf0.001
    # documents table must come back unspread
    st = spread_table(spark, SF, "documents", "doc_id", "text")
    assert st.rdd.getNumPartitions() == 1
