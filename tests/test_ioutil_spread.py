"""Round-10 focused tests for the optimization internals:

* ioutil.spread_small_scan — fires only for severely under-split tiny
  inputs, is a no-op for already-parallel or large inputs, and never
  changes row content;
* dedup.minhash_dedup_pairs — the materialized (lineage-cut +
  candidate-prefiltered) form returns exactly the lazy form's rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rml_utils_processor_ts_spark.ioutil import spread_small_scan


@pytest.fixture(scope="module")
def tiny_parquet(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("spread") / "tiny.parquet")
    spark.range(0, 1000, 1, 4).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    ).coalesce(1).write.mode("overwrite").parquet(p)
    return p


def test_spread_fires_on_single_file(spark, tiny_parquet):
    df = spark.read.parquet(tiny_parquet)
    assert df.rdd.getNumPartitions() == 1
    out = spread_small_scan(df)
    par = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == par
    # identical content, order aside
    assert sorted(r["id"] for r in out.collect()) == list(range(1000))


def test_spread_noop_when_parallel_enough(spark, tmp_path):
    p = str(tmp_path / "many.parquet")
    par = spark.sparkContext.defaultParallelism
    spark.range(0, 1000, 1, max(2, par // 4)).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    out = spread_small_scan(df)
    assert out is df  # untouched: already >= 25% as parallel as the session


def test_spread_noop_on_non_file_plans(spark):
    df = spark.range(10).groupBy().count()
    assert spread_small_scan(df) is df  # no input files -> untouched


def test_minhash_pairs_materialized_equals_lazy(spark, sf_dir):
    from rml_utils_processor_ts_spark.operators.dedup import minhash_dedup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    eager = minhash_dedup_pairs(docs, threshold=0.2, materialize=True)
    lazy = minhash_dedup_pairs(docs, threshold=0.2, materialize=False)
    rows_e = sorted(map(tuple, eager.collect()))
    rows_l = sorted(map(tuple, lazy.collect()))
    assert rows_e == rows_l
    assert len(rows_e) > 0
