"""Recommended SparkSession configuration for this engine.

These are the knobs that measurably matter for the pipeline (derived from
the benchmarks in BASELINE.md, not guessed):

- AQE on (runtime re-plan; the router's REBALANCE relies on it to size,
  split and merge the write partitions)
- shuffle partitions ≈ total cores (the fan-out rebalance is the only
  pre-sink shuffle; 200 default over-parallelizes small runs and
  under-parallelizes big ones)
- Arrow batch 64k (default 10k pays the JVM↔Python crossing 6× as often
  for the pandas UDFs, ``ruby_double_str`` and ``lang_id_pandas``, at
  identical memory footprint)
- the partition overwrite mode is not a session setting: each sink write
  (``operators.route._write_sinks``) sets static or dynamic for its own
  ``save`` only, so the caller's other writes keep Spark's static default
- sink encoding is not a session setting either: every partitioned sink write
  (``operators.route._write_sinks``) caps parquet's dictionary at 16 KiB
  (``route.SINK_DICT_PAGE_BYTES``; parquet's default is 1 MiB).
  Low-cardinality columns (``lang``, ``country``, ``city``, lat/lon) keep
  their dictionaries; an all-distinct column falls back to plain encoding
  once its dictionary passes 16 KiB (~1,365 INT96 ``warc_ts`` values, a
  few dozen ``html`` values) instead of hashing every value into a
  dictionary parquet throws away at the end of the first page. On
  perfbench's ``batch_route`` (100k pages, 4-vCPU VM, traced, seed 5)
  the sink files shrink slightly (``route.bytes`` 11.08 → 10.87 MB) and
  the run's task CPU falls (``spark.task_cpu_s`` 1.79 / 1.65 → 1.49 /
  1.51 s over two runs each); untraced ``cpu_norm_s`` 2.85 → 2.26 s
  (seed 31, 10 interleaved pairs). Keep the cap a constant: a session
  setting would change every other parquet write of the caller's job.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def build_session(master: str | None = None, cores: int | None = None,
                  app_name: str = "fluent_plugin_geoip_spark",
                  **extra: str) -> SparkSession:
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    if cores:
        b = b.config("spark.sql.shuffle.partitions", str(cores))
    b = (b.config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
         .config("spark.sql.session.timeZone", "UTC"))
    for k, v in extra.items():
        b = b.config(k, v)
    return b.getOrCreate()
