"""Unit pins for hadoop_sync_spark.io's analyzed-plan cache."""

from __future__ import annotations

import os

from hadoop_sync_spark.io import _plan_cache_key, load_table, table_path


def test_table_regenerated_in_place_misses_plan_cache(spark, tmp_path):
    """Overwriting a table under the same path within one session must
    not serve the cached plan's old file listing."""
    sf_dir = str(tmp_path)
    path = table_path(sf_dir, "region")
    spark.range(3).write.parquet(path)
    assert load_table(spark, sf_dir, "region").count() == 3
    spark.range(5).write.mode("overwrite").parquet(path)
    assert load_table(spark, sf_dir, "region").count() == 5


def test_plan_cache_key_holds_the_session_not_its_id(spark, tmp_path):
    """The key holds the session object itself (identity compare), so
    a dead session's reused address can never alias a live one."""
    assert _plan_cache_key(spark, str(tmp_path), "t")[0] is spark


def test_decode_file_uri_col_matches_driver_decode(spark, tmp_path):
    """The Spark-side file-URI decode and its driver-side twin agree on
    the URIs Spark reports for real files, and both give back the
    path: names holding '+', '%', a space and non-ASCII characters."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from hadoop_sync_spark.io import decode_file_uri, decode_file_uri_col

    names = ["a+b", "p%20q", "100%", "with space", "ünïcødé €", "m +%é"]
    paths = []
    for n in names:
        p = os.path.join(str(tmp_path), f"{n}.parquet")
        pq.write_table(pa.table({"x": [1]}), p)
        paths.append(os.path.abspath(p))
    rows = spark.read.parquet(*paths).select(
        F.col("_metadata.file_path").alias("fp"),
        decode_file_uri_col(F.col("_metadata.file_path")).alias("col"),
    ).collect()
    assert len(rows) == len(names)
    assert sorted(decode_file_uri(r.fp) for r in rows) == sorted(paths)
    assert sorted(r.col for r in rows) == sorted(paths)
