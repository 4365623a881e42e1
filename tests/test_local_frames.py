"""Frames the library builds from driver-held rows (``session.local_frame``)
must plan as ``LocalTableScan``: a ``Scan ExistingRDD`` of a Python-built
frame runs one Python task per partition every time it is scanned.  Each
test builds its inputs with ``local_frame`` too, so any ``Scan
ExistingRDD`` left in a plan comes from the operator under test."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from jurimetria_etl_spark.session import local_frame
from tools.gen_testdata import generate
from tools.plan_audit import python_rdd_scans


def _assert_local(jplan) -> None:
    plan = jplan.toString()
    assert "LocalTableScan" in plan, plan
    assert "Scan ExistingRDD" not in plan, plan
    assert python_rdd_scans(jplan) == 0


def _plan(df):
    return df._jdf.queryExecution().executedPlan()


def test_local_frame_matches_create_dataframe(spark):
    rows = [
        (1, "a", [1.0, 2.0], dt.datetime(2024, 1, 2, 3, 4, 5), {"k": 1}),
        (2, None, None, None, None),
    ]
    ddl = "i bigint, s string, v array<double>, ts timestamp, m map<string,int>"
    want = spark.createDataFrame(rows, ddl)
    got = local_frame(spark, rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert python_rdd_scans(_plan(want)) == 1
    _assert_local(_plan(got))
    by_name = local_frame(spark, [{"s": "x", "i": 3}], "i int, s string")
    assert by_name.collect()[0].asDict() == {"i": 3, "s": "x"}
    assert local_frame(spark, [], "p double").count() == 0


def test_local_frame_rejects_malformed_rows(spark):
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType([StructField("c", IntegerType(), False)])
    with pytest.raises(ValueError, match="not nullable"):
        local_frame(spark, [(None,)], schema)
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2)], schema)  # a value with no column
    with pytest.raises(ValueError):
        local_frame(spark, [(1, "a"), (2,)], "i int, s string")  # ragged


def test_ann_store_batch_probe_with_list_probes(spark, tmp_path):
    from jurimetria_etl_spark.operators.ann_store import (
        append_ann_store,
        ann_ivf_topk_store_batch,
    )

    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    rows = [(i, [float(i % 3), float(i % 5)]) for i in range(20)]
    d = str(tmp_path / "ann")
    append_ann_store(
        local_frame(spark, rows, "vec_id bigint, embedding array<double>"),
        d,
        cents,
    )
    out = ann_ivf_topk_store_batch(
        spark, d, [(7, [1.0, 1.0])], k=3, n_probe=2
    )
    _assert_local(_plan(out))
    assert out.count() == 3


def test_text_index_stats_sidecar_write(spark, tmp_path, monkeypatch):
    from jurimetria_etl_spark.operators.search import append_text_index

    plans = {}
    write = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        plans[path] = self._df._jdf.queryExecution().executedPlan()
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    idx = str(tmp_path / "tindex")
    docs = local_frame(
        spark,
        [(0, "spark shuffles data"), (1, "join keys")],
        "doc_id long, text string",
    )
    append_text_index(docs, idx)
    stats = [p for path, p in plans.items() if path.startswith(f"{idx}/stats")]
    assert len(stats) == 1, sorted(plans)
    _assert_local(stats[0])


def test_dedup_union_find_small_component_path(spark):
    from jurimetria_etl_spark.operators.dedup import near_dup_clusters

    pairs = local_frame(
        spark, [(1, 2), (2, 3), (7, 8)], "left_id bigint, right_id bigint"
    )
    out = near_dup_clusters(pairs)
    _assert_local(_plan(out))
    assert sorted(map(tuple, out.collect())) == [
        (1, 1), (2, 1), (3, 1), (7, 7), (8, 7)
    ]


def test_percentile_cont_selection(spark):
    from jurimetria_etl_spark.operators.stats import percentile_cont_selection

    rows = [(g, float(v)) for g in ("a", "b") for v in range(11)]
    df = local_frame(spark, rows, "g string, v double")
    out = percentile_cont_selection(df, "g", {"v": [0.5]})
    _assert_local(_plan(out))
    assert sorted((r["g"], r["val"]) for r in out.collect()) == [
        ("a", 5.0), ("b", 5.0)
    ]


def test_x35_query_frame(spark, tmp_path):
    from jurimetria_etl_spark.plans.extensions import x35_bm25_search

    generate(0.001, str(tmp_path), seed=1)
    _assert_local(_plan(x35_bm25_search(spark, str(tmp_path))))
