"""Bucketed-table support: pre-shuffle once at write time so repeated
joins/aggregations on the bucket key run with NO exchange.

At 100 TB this is the difference between shuffling the event table every
billing run and shuffling it once per ingest: persist events bucketed by
``instance_uuid`` (and sorted by ``created_at`` within buckets so the
sessionization window's sort is also pre-done), then every billing window
re-aggregation is exchange-free. tests/test_bucketing.py proves the
bucketed join plan contains no Exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # the default catalog is in-memory per session; a location left behind
    # by an earlier session blocks CREATE — clear it
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(
        f"{warehouse.removeprefix('file:')}/{table_name.lower()}", ignore_errors=True
    )
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)
