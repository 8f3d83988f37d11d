"""The height-bucket write (sources/partitioned_write.py) runs its
upstream once and leaves one parquet file per bucket directory."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from zigchain_indexer_clickhouse_spark.sources.partitioned_write import (
    BUCKET_SIZE,
    write_height_partitioned,
)


def test_write_runs_upstream_once_one_file_per_bucket(spark, tmp_path):
    """An upstream that counts the rows it produces: a range shuffle's
    sampling job would run it a second time (2N); the hash shuffle
    runs it once."""
    n = 1000
    seen = spark.sparkContext.accumulator(0)

    def count(batches):
        for b in batches:
            seen.add(len(b))
            yield b

    df = (spark.range(0, n, 1, 4).toDF("height")
          .mapInPandas(count, "height long")
          .withColumn("tag", F.col("height") * 7))
    path = str(tmp_path / "attrs")
    write_height_partitioned(df, path, "height")

    assert seen.value == n

    dirs = sorted(d for d in os.listdir(path) if d.startswith("height_bucket="))
    assert dirs == sorted(f"height_bucket={b}" for b in range(n // BUCKET_SIZE))
    for d in dirs:
        files = [f for f in os.listdir(os.path.join(path, d))
                 if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)

    back = spark.read.parquet(path).collect()
    assert sorted((r["height"], r["tag"], r["height_bucket"]) for r in back) \
        == [(h, 7 * h, h // BUCKET_SIZE) for h in range(n)]
