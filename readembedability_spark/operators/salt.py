"""O-8: explicit salted repartition by url-hash (BASELINE.json:6
"explicit salting/repartitioning by url-hash to kill host-level skew").

Pages from one hot host (Zipf web reality) must not land in one task:
repartitioning on the url HASH is uniform regardless of host, so any
hot host spreads evenly across all partitions. The ``salt`` column
(``pmod(xxhash64(url), num_salts)``) is computed after the exchange and
retained in the output for lineage + Iceberg partition layout.

Scale-critical ordering: this is THE heavy exchange of the pipeline
(the html payload moves once). Because the later dedup window also
clusters by url, hashpartitioning(url) satisfies its distribution
requirement and Catalyst inserts NO second exchange — the 100 TB
payload is shuffled exactly once end-to-end (verified by
tests/test_plans.py::test_single_python_boundary).

Sizing rule: with ``parallelism=None`` the exchange is
``repartition("url")``, which hashes into ``spark.sql.shuffle.partitions``
buckets that adaptive query execution (AQE) then merges by their actual
shuffle bytes — about one partition per core on a small input, up to
``spark.sql.adaptive.advisoryPartitionSizeInBytes`` each on a large one.
With AQE off, Spark keeps ``spark.sql.shuffle.partitions`` as is. An int
fixes the count (AQE never merges an explicit count). The count matters
because every partition becomes one ``mapInPandas`` task, and each task
carries a fixed cost no matter how few rows it gets: the Python worker's
per-task set-up (re-scanning its zip importers) plus the JVM's shuffle
read, Parquet writer and commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from readembedability_spark.functions import salt_col


def salt_repartition(
    pages: DataFrame, parallelism: int | None = None, num_salts: int = 64
) -> DataFrame:
    if parallelism is None:
        pages = pages.repartition("url")
    else:
        pages = pages.repartition(parallelism, "url")
    return pages.withColumn("salt", salt_col("url", num_salts))
