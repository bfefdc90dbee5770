"""The one SparkSession builder for every entry point (jobs, benches,
tests).

``SETTINGS`` holds the session settings the code depends on, pinned
here so a cluster's ``spark-defaults.conf`` cannot change results:

- the UTC session time zone: the extractor emits naive-UTC datetimes
  and every registry query and oracle reads timestamps as UTC
  (``queries._t``);
- adaptive query execution: with ``RunConfig.parallelism=None`` it
  sizes the url exchange from its data (``operators.salt``).

An explicit ``master`` marks a local smoke run, which gets a small
shuffle (``spark.sql.shuffle.partitions=8``). Caller extras go in
``conf`` and win over both.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

SETTINGS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
}


def get_session(
    app_name: str, master: str | None = None, conf: dict | None = None
) -> SparkSession:
    """Create the session, or apply the runtime settings to the active
    one, and set the log level to ``ERROR``."""
    builder = SparkSession.builder.appName(app_name)
    opts = dict(SETTINGS)
    if master:
        builder = builder.master(master)
        opts["spark.sql.shuffle.partitions"] = "8"
    opts.update(conf or {})
    spark = builder.config(map=opts).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
