"""Parquet-backed table catalog.

The reference reads every input via a pushed-down JDBC sub-query
(``readFromPostgres``, functions/mentoringFunction2.scala:20-28 —
``dbtable = "($query) as subquery"``). In the new engine the primary
source is parquet; filters and projections reach the scan through
Catalyst (PushedFilters / ReadSchema in ``.explain``), so pushdown is
declarative rather than string-assembled.

``Catalog`` also registers every table as a temp view so specs and users
can address tables by name in ``spark.sql``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _arrow_schema(path: str):
    """Read the parquet schema footer with pyarrow (sub-millisecond,
    driver-local) and convert it to a Spark StructType, so
    ``spark.read.schema(...)`` can skip the JVM schema-inference job —
    worth ~1 s of cold-session latency on the first table touch, and at
    cluster scale it avoids listing/footer-sampling S3 objects twice.

    Nanosecond timestamps map to LongType to match what Spark infers
    under ``spark.sql.legacy.parquet.nanosAsLong`` (the events.ts
    convention handled below). Any surprise (multi-file layout quirks,
    exotic types) returns None and the caller falls back to normal
    inference — this is an optimization, never a semantics change.
    """
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_type
        from pyspark.sql.types import LongType, StructField, StructType

        if os.path.isdir(path):
            parts = sorted(
                f for f in os.listdir(path)
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
            if not parts:
                return None
            fpath = os.path.join(path, parts[0])
        else:
            fpath = path
        fields = []
        for f in pq.read_schema(fpath):
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
                t = LongType()
            else:
                t = from_arrow_type(f.type)
            fields.append(StructField(f.name, t, f.nullable))
        return StructType(fields)
    except Exception:
        return None


# Opt-in shared-scan cache (SPARK_GRAFT_SHARED_SCANS=1): one persisted
# DataFrame per (session, data_dir, table), shared across every Catalog
# instance in the process. A registry sweep runs ~170 queries that each
# construct their own Catalog; without this each query re-scans the same
# parquet from disk. With it, the first touch materializes the table
# into Spark's columnar block cache (MEMORY_AND_DISK — spills, never
# OOMs) and every later query reads InMemoryTableScan. Engine-level
# optimization, not per-plan: column pruning/filtering still apply on
# the cached relation. Off by default — single-query workloads should
# keep plain scans with parquet pushdown.
_SHARED_CACHE: dict = {}


def shared_scans_enabled() -> bool:
    return os.environ.get("SPARK_GRAFT_SHARED_SCANS") == "1"


def load_table(spark: SparkSession, data_dir: str, name: str) -> DataFrame:
    """Load one table from ``<data_dir>/<name>.parquet``.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark reads
    as a nanosecond long under ``spark.sql.legacy.parquet.nanosAsLong``;
    convert it back to a microsecond timestamp here so downstream plans
    (and the DuckDB oracle) see a real timestamp column.

    The conf is set defensively at runtime so the loader works on ANY
    SparkSession (the driver gate hands us a vanilla one, not the builder
    from ``session.py``); it is runtime-settable and a no-op when already
    set.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # oracle timestamps are TZ-naive; pin the session to UTC so date_trunc
    # and friends agree with DuckDB regardless of host timezone
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    shared_key = (id(spark), data_dir, name)
    if shared_scans_enabled() and shared_key in _SHARED_CACHE:
        return _SHARED_CACHE[shared_key]
    path = os.path.join(data_dir, f"{name}.parquet")
    schema = _arrow_schema(path)
    reader = spark.read.schema(schema) if schema is not None else spark.read
    df = reader.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        # integer division — ns epoch values (~1.7e18) overflow double precision
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        # Tag the UNTRANSFORMED frame with its source path so driver-local
        # fast paths (e.g. the gated PQ training in operators/similarity)
        # can read gate-sized corpora via pyarrow without a Spark job.
        # Any transformation produces a new DataFrame object without the
        # tag, so the tag can never leak onto a derived frame.
        df._edp_parquet_path = path
    if shared_scans_enabled():
        df = df.persist()
        if name != "events":
            df._edp_parquet_path = path
        _SHARED_CACHE[shared_key] = df
    return df


def _warm_session(spark: SparkSession, data_dir: str) -> None:
    """Fire-and-forget JVM warmup, once per session.

    The FIRST job on a fresh JVM pays ~4 s of one-time cost (DAGScheduler
    spin-up, Janino compiler class-loading, shuffle/broadcast/window
    machinery, Hadoop FileSystem init) before any data is touched, and
    each exec-feature class adds ~1 s more the first time it appears in a
    plan. Running one tiny job that touches parquet + broadcast join +
    higher-order function + window + shuffle in a daemon thread overlaps
    that warmup with driver-side plan construction, so a cold session's
    first real query sees mostly-warm machinery. On a long-lived cluster
    session this is one sub-second job over <=5 rows — noise."""
    if getattr(spark, "_edp_warmed", False):
        return
    spark._edp_warmed = True

    def _run() -> None:
        try:
            from pyspark.sql import functions as F
            from pyspark.sql.window import Window

            path = os.path.join(data_dir, "region.parquet")
            if os.path.exists(path):
                d = spark.read.parquet(path).limit(3)
                key = d.columns[0]
            else:  # no parquet nearby: still warm the exec machinery
                d = spark.range(3).withColumnRenamed("id", "k")
                key = "k"
            # warms the Arrow -> LocalRelation path every driver-local
            # tier hands its result back through
            from ..operators.util import local_frame

            lit = local_frame(spark, [(1,), (2,)], "_w int")
            w = Window.partitionBy(key).orderBy(key)
            (
                d.crossJoin(F.broadcast(lit))
                .withColumn(
                    "_a",
                    F.expr("aggregate(array(1.0d,2.0d), double(0), (a,x)->a+x)"),
                )
                .withColumn("_rn", F.row_number().over(w))
                .groupBy(key)
                .agg(F.sum("_a"))
                .collect()
            )
        except Exception:
            pass

    import threading

    threading.Thread(target=_run, daemon=True).start()


class Catalog:
    """Named-table access over a data directory, with lazy view registration."""

    def __init__(self, spark: SparkSession, data_dir: str):
        self.spark = spark
        self.data_dir = data_dir
        self._cache: dict[str, DataFrame] = {}
        _warm_session(spark, data_dir)

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            self._cache[name] = load_table(self.spark, self.data_dir, name)
        return self._cache[name]

    def register_views(self, names: tuple[str, ...] = TABLES) -> None:
        """Register each table as a temp view (skip missing/unreadable files).

        Per-table fault tolerance: one unreadable table must not poison
        queries that never touch it.
        """
        for name in names:
            path = os.path.join(self.data_dir, f"{name}.parquet")
            if not os.path.exists(path):
                continue
            try:
                self.table(name).createOrReplaceTempView(name)
            except Exception:
                self._cache.pop(name, None)

    def sql(self, query: str) -> DataFrame:
        """Run SQL against the catalog, registering only referenced tables.

        Lazy registration: a word-boundary scan of the query text picks out
        the known table names so an orders-only query never loads (or
        fails on) an unrelated table.
        """
        import re

        referenced = tuple(
            name for name in TABLES if re.search(rf"\b{name}\b", query)
        )
        self.register_views(referenced or TABLES)
        return self.spark.sql(query)
