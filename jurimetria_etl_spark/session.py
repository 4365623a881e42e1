"""SparkSession factory with scale-aware defaults.

Design notes (SURVEY.md §4, §7):
- Session timezone pinned to UTC: timestamps are stored as UTC instants and
  America/Sao_Paulo is applied only at derivation points via
  ``from_utc_timestamp`` (reference carries per-value tz —
  ``/root/reference/src/jurimetria_pipeline.py:51-58``).
- AQE on: runtime skew-join handling + dynamic coalescing of shuffle
  partitions, which is what makes one config serve sf0.001 tests and a
  1000-executor 100 TB run.
- ``spark.sql.shuffle.partitions`` defaults to the local core count (the
  driver harness runs local[N]); on a real cluster this is overridden by AQE's
  coalescing with ``initialPartitionNum`` headroom.
- Python tasks carry a fixed cost far above their work on small data: a
  warm 2-task ``parallelize(range(4), 2).map(f).count()`` took 0.28 s
  against 0.04 s for the same job in the JVM (4-CPU host, CPython 3.11.7),
  and 0.14-0.22 s of it was ``importlib.invalidate_caches()`` re-parsing
  every cached zip archive (``pyspark.zip``, the spark-core jar) on every
  task, which CPython 3.12 made lazy (gh-103200).  Local sessions
  therefore run their workers under ``_pydaemon.py``, which re-reads an
  archive only when it changed (about 0.13 s for that job); cluster
  masters keep the stock daemon, since executors may lack this package.
  ``local_frame`` removes the other source, the Python stages that
  ``createDataFrame(<list>)`` frames add to every scan.  The benchmark's
  ``task_cpu_s`` counts JVM CPU only: a span whose run time far exceeds
  its CPU time is Python-bound.  SCALE.md has the measurements.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# the directory holding this package: workers import the daemon from it
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "jurimetria-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Local test/bench mode: ``local[$SPARK_GRAFT_CPUS]``.  On a cluster, pass
    ``master=None`` with an externally-submitted application; only the SQL
    confs below matter there.
    """
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # AQE coalescing only shrinks partitions — the pinned shuffle
        # count above would otherwise CAP every cluster shuffle at the
        # local core count (multi-TB partitions at 100 TB).  A high
        # initialPartitionNum gives AQE real headroom: shuffles START
        # wide and coalesce down to the data, locally and on a cluster.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS", "2048"),
        )
        # Let AQE optimize (and in particular COALESCE) the plans that
        # materialize persisted/cached frames (r16).  Spark defaults this
        # off so a cache's output partitioning stays predictable for
        # downstream exchange reuse, but with the wide
        # initialPartitionNum above that default makes every
        # persist()-backed frame in the span/dedup/similarity operators
        # execute its shuffles at the FULL initial width — measured:
        # x28's candidate-id cache materialized through 2048-task
        # stages on kilobytes of data, uncoalesced, at every scale.
        # None of this repo's caches rely on cached output partitioning
        # (each is consumed through joins/aggregations that plan their
        # own exchanges), so the coalesce is pure win.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # Arrow for the (few) pandas_udf paths — vectorized transfer.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Nested-schema pruning so struct projections reach the parquet scan.
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Split-size floor when files are small: the default 4 MB open-cost
        # floors a 10 MB table at ~3 splits, serializing CPU-dense aggs on
        # 3 of 32 cores.  512 KB biases small tables toward full-width
        # parallelism; big files are still governed by maxPartitionBytes
        # (128 MB), so the 100 TB scan plan is unchanged.
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        # Python Data Source filter pushdown (the datajud source prunes
        # tribunal partitions from pushed filters).
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Driver fixtures carry TIMESTAMP(NANOS) parquet columns; read them
        # as epoch-nanos longs (normalized in sources/fixtures.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    if master is None and not SparkSession.getActiveSession():
        master = f"local[{cpus}]"
    if master is not None:
        builder = builder.master(master)
        if master.startswith("local"):
            # Stat-guarded zip refresh for the Python workers (_pydaemon.py);
            # cluster executors may not have this package, so only local.
            builder = builder.config(
                "spark.python.daemon.module", "jurimetria_etl_spark._pydaemon"
            ).config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows, schema: StructType | str
) -> DataFrame:
    """A DataFrame from rows the driver holds (tuples, ``Row``s or dicts).

    ``spark.createDataFrame(<list>)`` plans as ``Scan ExistingRDD``, and
    every scan of it runs one Python ``map`` task per partition.  The same
    rows sent as a ``pyarrow.Table`` plan as ``LocalTableScan``: no Python
    tasks, 0.12 s against 0.38 s per use on a 4-CPU host.  Values go
    through ``schema.toInternal`` first, so timestamps and dates mean what
    they mean to ``createDataFrame``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    internal = [schema.toInternal(r) for r in rows]
    columns = list(zip(*internal, strict=True)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [
            pa.array(c, type=t)
            for c, t in zip(columns, arrow_schema.types, strict=True)
        ],
        schema=arrow_schema,
    )
    for f, col in zip(schema.fields, table.columns):
        if not f.nullable and col.null_count:
            raise ValueError(f"column {f.name!r} is not nullable")
    return spark.createDataFrame(table, schema=schema)
