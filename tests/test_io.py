"""Unit pins for hadoop_sync_spark.io's analyzed-plan cache."""

from __future__ import annotations

from hadoop_sync_spark.io import load_table, table_path


def test_table_regenerated_in_place_misses_plan_cache(spark, tmp_path):
    """Overwriting a table under the same path within one session must
    not serve the cached plan's old file listing."""
    sf_dir = str(tmp_path)
    path = table_path(sf_dir, "region")
    spark.range(3).write.parquet(path)
    assert load_table(spark, sf_dir, "region").count() == 3
    spark.range(5).write.mode("overwrite").parquet(path)
    assert load_table(spark, sf_dir, "region").count() == 5
