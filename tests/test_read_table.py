"""catalog.read_table: one schema inference per table version.

A warehouse query must still see every day ingested after an earlier call,
a table rewritten with a new schema must be read with that schema, a
missing path must fail as a bare ``spark.read.parquet`` fails, and a
repeated call must start fewer Spark jobs than the first one.  Also the
write-side session hygiene the reader relies on: a fact ingest leaves the
session's partition-overwrite mode untouched.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.errors import AnalysisException

from olap_sus_spark import catalog, etl
from olap_sus_spark.queries import warehouse as W
from olap_sus_spark.sources import formats, sinks
from tests.test_etl_e2e import DT, LANDING, SEEDS

NEXT_DT = "2024-01-16"


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("wh_read_table"))
    etl.bootstrap_warehouse(spark, SEEDS, d)
    etl.run_ingest(spark, "sim", DT, LANDING, d)
    return d


def _deaths(spark, wh) -> int:
    return sum(r.quantidade_obitos for r in W.rollup_deaths_by_occupation_schooling(spark, wh)
               .collect())


def _pivot_total(spark, wh) -> int:
    rows = W.pivot_deaths_year_by_uf(spark, wh).collect()
    return sum(v for r in rows for k, v in r.asDict().items() if k != "ano" and v)


def test_query_after_ingest_sees_new_day(spark, wh, tmp_path):
    before, pivot_before = _deaths(spark, wh), _pivot_total(spark, wh)
    assert before > 0 and pivot_before == before
    # The same landing rows again, under the next day's partition.
    landing = str(tmp_path / "landing")
    shutil.copytree(os.path.join(LANDING, "sim", f"dt={DT}"),
                    os.path.join(landing, "sim", f"dt={NEXT_DT}"))
    etl.run_ingest(spark, "sim", NEXT_DT, landing, wh)
    assert _deaths(spark, wh) == 2 * before
    assert _pivot_total(spark, wh) == 2 * before


def test_rewritten_table_is_read_with_new_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "k int, v string").write.parquet(path)
    assert catalog.read_table(spark, path).collect()[0].asDict() == {"k": 1, "v": "a"}
    spark.createDataFrame([(2, 2.5)], "k int, w double").write.mode("overwrite").parquet(path)
    df = catalog.read_table(spark, path)
    assert df.columns == ["k", "w"]
    assert df.collect()[0].asDict() == {"k": 2, "w": 2.5}


def test_missing_path_raises_what_spark_raises(spark, tmp_path):
    missing = str(tmp_path / "no_such_table")
    with pytest.raises(AnalysisException) as bare:
        spark.read.parquet(missing)
    with pytest.raises(type(bare.value)):
        catalog.read_table(spark, missing)
    with pytest.raises(type(bare.value)):
        catalog.load_table(spark, str(tmp_path), "orders")


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeated_call_starts_fewer_jobs(spark, wh, monkeypatch):
    monkeypatch.setattr(catalog, "_MEMO", {})  # as after a fresh start
    for fn in (W.rollup_deaths_by_occupation_schooling, W.pivot_deaths_year_by_uf):
        first = _jobs(spark, f"read_table-{fn.__name__}-1", lambda: fn(spark, wh).collect())
        again = _jobs(spark, f"read_table-{fn.__name__}-2", lambda: fn(spark, wh).collect())
        assert again < first, (fn.__name__, first, again)


def test_fact_ingest_leaves_overwrite_mode_alone(spark, tmp_path):
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    fact = spark.createDataFrame([(1,)], "quantidade int")
    sinks.write_fact_partition(fact, str(tmp_path), "fact", "2024-01-01")
    assert spark.conf.get(key) == before

    path = str(tmp_path / "full")
    formats.write_table(spark.createDataFrame([(1, "a"), (2, "b")], "v int, p string"),
                        path, partition_by=["p"])
    formats.write_table(spark.createDataFrame([(3, "c")], "v int, p string"),
                        path, partition_by=["p"])
    assert sorted(f for f in os.listdir(path) if f.startswith("p=")) == ["p=c"]
    assert [tuple(r) for r in spark.read.parquet(path).collect()] == [(3, "c")]
