"""Partitioning utilities shared by CPU-bound operators."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def epoch_us(col) -> Column:
    """Microseconds-since-epoch from a timestamp column, NTZ-safe.

    ``unix_micros`` rejects TIMESTAMP_NTZ, and parquet written without
    UTC adjustment (the driver's events table) reads back as NTZ on a
    vanilla session. Casting to TIMESTAMP first converts via the session
    timezone — the catalog pins it to UTC, so NTZ values are interpreted
    as UTC instants, matching DuckDB's ``epoch_us`` on naive timestamps.
    A no-op cast for columns that are already TIMESTAMP."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure enough partitions ahead of a CPU-bound stage.

    A parquet file smaller than ``spark.sql.files.maxPartitionBytes``
    arrives as ONE split — fine for IO, fatal for a downstream
    compute-heavy stage (Pandas UDF, wide expression trees, self-joins)
    that would then run on a single core. Round-robin repartition when
    the frame has fewer partitions than the session's default
    parallelism; no-op otherwise. At real scale the scan already
    produces hundreds of splits and this never fires — it exists for
    the small-file tail (and local benchmarks), where the shuffle it
    adds is proportionally tiny.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def local_frame(spark, rows, schema) -> DataFrame:
    """A driver-side result as an in-plan ``LocalRelation``.

    ``rows`` is a list of tuples in ``schema`` field order; ``schema`` is
    a ``StructType`` or a DDL string. The rows go to the JVM as one
    pyarrow Table typed by the schema's Arrow mapping, so under
    ``spark.sql.execution.arrow.localRelationThreshold`` Spark keeps
    them in the plan: a ``LocalRelation`` with size stats, whose scan or
    collect runs no job. ``createDataFrame`` over a Python list instead
    pickles the rows into a ``ParallelCollectionRDD`` (a ``LogicalRDD``
    with no stats), and every read of it costs a Spark job (measured in
    docs/LOCAL_TIERS.md). Every driver-local tier hands its result back
    through here (sync test in ``tests/test_local_vs_distributed.py``)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def collect_small_corpus(
    df: DataFrame, vec_col: str, id_col: str, max_rows: int
):
    """Return an embedding corpus as a sorted list of (id, [float, ...])
    if it is at or under ``max_rows``, else None — the gate for
    driver-local training fast paths (PQ codebooks, k-means centroids).

    Two tiers: a frame tagged by the Catalog with its source parquet
    path (an untransformed local scan) is counted from the parquet
    FOOTER and read with pyarrow — zero Spark jobs, which matters
    because on a cold JVM even a count() costs seconds of Hadoop/codegen
    warmup. Untagged frames fall back to df.count() + collect. Either
    way the float32 -> Python float widening is exact, so downstream
    math is unaffected by which tier ran."""
    import os

    path = getattr(df, "_edp_parquet_path", None)
    if path is not None:
        try:
            import pyarrow.parquet as pq

            if os.path.isdir(path):
                import glob

                parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
                n = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
            else:
                n = pq.ParquetFile(path).metadata.num_rows
            if n > max_rows:
                return None
            tbl = pq.read_table(path, columns=[id_col, vec_col])
            ids = tbl.column(id_col).to_pylist()
            vs = tbl.column(vec_col).to_pylist()
            return sorted(
                (i, [float(x) for x in v]) for i, v in zip(ids, vs)
            )
        except Exception:  # pragma: no cover - fall through to Spark path
            pass
    if df.count() > max_rows:
        return None
    rows = df.select(
        F.col(id_col).alias("_id"),
        F.expr(f"transform({vec_col}, x -> double(x))").alias("_v"),
    ).collect()
    return sorted((r["_id"], list(r["_v"])) for r in rows)


def collect_small_columns(df: DataFrame, cols: list, max_rows: int):
    """Column lists for a SMALL, untransformed Catalog scan, read via
    pyarrow with zero Spark jobs — or None when the frame is untagged
    (any transformation drops the tag) or larger than ``max_rows``.
    Unlike :func:`collect_small_corpus` there is no ``df.count()``
    fallback: an untagged frame simply takes the distributed path, so
    the gate itself never costs a Spark job."""
    import os

    path = getattr(df, "_edp_parquet_path", None)
    if path is None:
        return None
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            import glob

            parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
            n = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
        else:
            n = pq.ParquetFile(path).metadata.num_rows
        if n > max_rows:
            return None
        tbl = pq.read_table(path, columns=cols)
        return [tbl.column(c).to_pylist() for c in cols]
    except Exception:  # pragma: no cover - fall back to the Spark path
        return None


def lloyd_local(vecs, k: int, n_iter: int):
    """Driver-local Lloyd iterations over a small corpus, replaying the
    distributed chain's math bit-for-bit (see operators/cluster._lloyd):
    min-id init with cluster ids by id rank; left-to-right IEEE squared-
    L2 fold; argmin ties to the smaller cluster id; component means as
    exact DECIMAL(28,12) sums (HALF_UP per-element quantization — the
    semantics of Spark's cast(double as decimal)) divided by the member
    count in one IEEE division. Returns [(cluster_id, [centroid...])].
    Centroid state is O(k*dim) at any corpus scale — the same
    driver-resident economics as Spark MLlib's KMeans."""
    import decimal

    ctx = decimal.Context(prec=50)
    q12 = decimal.Decimal(1).scaleb(-12)

    def dec(x):
        # quantize from the SHORTEST repr, not the exact binary expansion:
        # Spark's cast(double as decimal(28,12)) goes through
        # Double.toString (shortest round-trip decimal), so at half-ulp
        # ties on the 12th place the two representations would round
        # differently under HALF_UP if we fed Decimal the full expansion.
        return decimal.Decimal(repr(x)).quantize(
            q12, rounding=decimal.ROUND_HALF_UP, context=ctx
        )

    def d2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return acc

    cents = [(cl, vecs[cl][1]) for cl in range(min(k, len(vecs)))]
    X = _np_matrix(vecs)
    for _ in range(n_iter):
        if X is not None:
            # vectorized over rows, dim-by-dim left-to-right — each
            # element's op sequence is the same IEEE-double fold as the
            # scalar loop, so results (incl. ties) are bit-identical
            rows = lloyd_assign_np(X, [c for _, c in cents])
            order = [c_id for c_id, _ in cents]
            assigned = (order[r] for r in rows)
        else:
            assigned = (
                min((d2(v, c), c_id) for c_id, c in cents)[1] for _i, v in vecs
            )
        # exact component sums: quantized values are multiples of 1e-12,
        # accumulated as scaled INTEGERS (same decimal value as the
        # former Decimal.add chain, order-independent, faster)
        sums: dict = {}
        counts: dict = {}
        for cl, (_i, v) in zip(assigned, vecs):
            counts[cl] = counts.get(cl, 0) + 1
            acc = sums.get(cl)
            if acc is None:
                sums[cl] = [int(dec(x).scaleb(12)) for x in v]
            else:
                for d in range(len(v)):
                    acc[d] += int(dec(v[d]).scaleb(12))
        cents = [
            (
                cl,
                [
                    float(decimal.Decimal(sums[cl][d]).scaleb(-12, context=ctx))
                    / counts[cl]
                    for d in range(len(sums[cl]))
                ],
            )
            for cl in sorted(sums)
        ]
    return cents


def _np_matrix(vecs):
    """(n x dim) float64 matrix of the corpus, or None when numpy is
    unavailable / the corpus is empty (callers fall back to scalar)."""
    try:
        import numpy as np
    except ImportError:  # pragma: no cover - numpy is baked into the env
        return None
    if not vecs:
        return None
    return np.asarray([v for _i, v in vecs], dtype=np.float64)


def lloyd_assign_np(X, cent_list):
    """Vectorized Lloyd assignment: argmin over squared-L2 computed as a
    dim-by-dim left-to-right fold (bit-identical to the scalar/Spark
    fold); ``argmin`` returns the FIRST minimum, which with centroid
    columns in ascending cluster order is the ties-to-smaller-id rule."""
    import numpy as np

    n = X.shape[0]
    D = np.empty((n, len(cent_list)), dtype=np.float64)
    for j, c in enumerate(cent_list):
        acc = np.zeros(n, dtype=np.float64)
        for d in range(X.shape[1]):
            t = X[:, d] - c[d]
            acc = acc + t * t
        D[:, j] = acc
    return D.argmin(axis=1)
