"""Table loading for the driver corpus (TESTDATA.md), and the storage
rules every persisted engine state shares.

Parquet scans are the engine's primary source: self-describing schema,
column pruning and predicate pushdown reach the file reader via
Catalyst (``.explain`` shows PushedFilters / ReadSchema), and at
cluster scale files split into tasks by ``spark.sql.files.maxPartitionBytes``.

The reference instead decoded its entire input **in the driver** and
``sc.parallelize``-d it (reference main.py:31) — the anti-pattern this
module replaces (SURVEY.md §2A S7).

Persisted state is base tables written by Spark plus per-micro-batch
``batch=<id>/`` partitions that streams commit next to them:

 - the vector indexes (``operators/quantize.py``) and the dedup index
   (``operators/dedup_index.py``): a driver-written ``params.parquet``,
   base tables, and ``stream_<t>/batch=<id>/`` per base table ``<t>``;
 - the streamed graph state (``streaming/ingest.py``): no params file,
   and ``corpus/{base, stream/batch=<id>}`` plus
   ``graph/{base, stream/batch=<id>}``.

The helpers at the bottom of this module are those layouts' only
filesystem code.
Every path goes through its OWN Hadoop FileSystem (``_hadoop_fs``),
never ``os.path``: a driver-local ``os.makedirs`` on ``file:///x``
creates a stray relative ``./file:/x`` tree, and ``os.path.exists`` on
an ``hdfs://`` or ``s3a://`` path is always False.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_mrdf_spark.session import apply_engine_conf

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table as a DataFrame (distributed parquet scan).

    ``events.ts`` has shipped as both TIMESTAMP(NANOS) (which Spark's
    reader rejects — read as long via the legacy conf, then exact
    integer-divide to microseconds, matching DuckDB's nanos→us
    truncation bit-for-bit) and plain TIMESTAMP_MICROS (directly
    readable). Branch on the resolved scan type so either vintage of
    the corpus loads identically.
    """
    apply_engine_conf(spark)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        ts_type = dict(df.dtypes).get("ts", "")
        if ts_type == "bigint":  # nanos vintage, surfaced as raw int64
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # micros vintage reads as NTZ; downstream (unix_micros,
            # session/sliding windows) expects TIMESTAMP — cast is
            # value-preserving under the engine's UTC session TZ
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        resolved = dict(df.dtypes).get("ts", "")
        if resolved != "timestamp":
            # schema drift must fail HERE, not queries downstream: a
            # future corpus vintage surfacing ts as anything but the
            # known bigint/ntz/timestamp shapes would otherwise
            # propagate a raw column into every events query
            raise TypeError(
                f"events.ts resolved to {resolved!r}, expected 'timestamp' "
                f"(raw scan type was {ts_type!r}); teach io.load_table this vintage"
            )
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load the whole corpus; also registers each as a temp view so both
    the DataFrame API and ``spark.sql`` can reach them."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-style partitioned parquet sink: one directory per partition
    value, so a filter on the partition column prunes whole directories
    at planning time (``PartitionFilters`` in the scan) — at 100 TB the
    difference between scanning a day and scanning a decade."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed parquet table (external, at ``path``): rows are
    hash-distributed into ``num_buckets`` files by ``bucket_cols`` at
    WRITE time, so later equi-joins/aggregations on those columns read
    the data already co-located — Catalyst drops the shuffle Exchange
    entirely when both sides are bucketed the same way. This is the
    materialized answer to the orders⋈lineitem fact-fact shuffle."""
    w = df.write.mode(mode).format("parquet").option("path", path)
    w = w.bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def upsert_parquet(
    spark: SparkSession,
    base_path: str,
    updates: DataFrame,
    key: str,
    out_path: str,
) -> None:
    """MERGE-style upsert for plain parquet: rows in ``updates`` replace
    base rows with the same ``key``; new keys append. (Format-level
    upsert needs a table format — Delta/Iceberg MERGE INTO; on raw
    parquet the honest primitive is anti-join + union + rewrite, which
    is exactly what those formats' copy-on-write does per file group.)"""
    base = spark.read.parquet(base_path)
    merged = base.join(updates.select(key), key, "left_anti").unionByName(updates)
    merged.write.mode("overwrite").parquet(out_path)


def zorder_key(
    cols: list[str], mins: list[float], maxs: list[float], bits: int = 16
):
    """Morton (Z-order) interleave of ``cols`` as a pure-JVM integer
    expression: each column is equi-width-binned to ``bits`` bits
    against its [min, max], then the bit planes interleave so rows
    close in EVERY dimension get close keys. 64-bit budget:
    len(cols) · bits ≤ 63."""
    from pyspark.sql import functions as F

    n = len(cols)
    if n * bits > 63:
        raise ValueError(f"{n} cols × {bits} bits exceeds the int64 budget")
    binned = []
    for c, mn, mx in zip(cols, mins, maxs):
        span = float(mx) - float(mn)
        if span <= 0:
            binned.append(F.lit(0).cast("long"))
            continue
        b = F.floor(
            (F.col(c).cast("double") - F.lit(float(mn)))
            * F.lit(float(2**bits) / span)
        ).cast("long")
        binned.append(F.least(F.greatest(b, F.lit(0)), F.lit(2**bits - 1)))
    key = F.lit(0).cast("long")
    for i in range(bits):
        for j, b in enumerate(binned):
            key = key.bitwiseOR(
                F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), i * n + j)
            )
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    target_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet sink (the lakehouse ``OPTIMIZE
    ZORDER`` move, on plain parquet): rows sort by the Morton
    interleave of ``cols``, so each output file covers a narrow
    hyper-rectangle of the key space and its parquet footer min/max
    stats prune scans filtered on ANY of the clustered columns — a
    plain sort-by-one-column layout skips well on that column and not
    at all on the others.

    Two passes: one min/max aggregate (O(cols) scalars to the driver)
    to fix the binning, then bin + interleave map-side (pure JVM bit
    arithmetic), ``repartitionByRange`` on the key (range partitioning
    = contiguous key blocks per file) with a sort inside each file so
    row-group stats are tight too. Skipping effectiveness is measured,
    not assumed — tests/test_sinks.py reads the written footers and
    counts which files a range predicate could prune."""
    from pyspark.sql import functions as F

    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"mx{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    mins = [stats[f"mn{i}"] for i in range(len(cols))]
    maxs = [stats[f"mx{i}"] for i in range(len(cols))]
    key = zorder_key(cols, mins, maxs, bits=bits)
    (
        df.withColumn("_zkey", key)
        .repartitionByRange(target_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode(mode)
        .parquet(path)
    )


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` on whatever scheme it carries
    (file://, hdfs://, s3a://, ...) under the session's Hadoop conf."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), hpath


def write_params_file(spark: SparkSession, path: str, table) -> None:
    """Write a pyarrow ``table`` as ``<path>/params.parquet``: encoded to
    bytes in the driver, then moved through the path's Hadoop FS
    (``create`` makes the parent directories on every scheme)."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    buf = pa.BufferOutputStream()
    papq.write_table(table, buf)
    fs, p = _hadoop_fs(spark, f"{path.rstrip('/')}/params.parquet")
    out = fs.create(p, True)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()


def read_params_file(spark: SparkSession, path: str):
    """Inverse of ``write_params_file``: the pyarrow table stored at
    ``<path>/params.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    fs, p = _hadoop_fs(spark, f"{path.rstrip('/')}/params.parquet")
    stream = fs.open(p)
    try:
        data = spark.sparkContext._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return papq.read_table(pa.BufferReader(bytes(data)))


def read_stream_partitions(
    spark: SparkSession, stream_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """The committed ``batch=<id>`` partitions under ``stream_dir`` (with
    their ``batch`` column), or None when there are none to read.

    An absent or empty directory, and one whose every ``batch=<id>``
    holds only an uncommitted ``_temporary`` write (a crash before the
    first commit), read as "no stream rows": uncommitted partitions are
    invisible by the exactly-once model, and the replayed batch
    overwrites them. With at least one committed partition the read
    succeeds and parquet ignores the underscore-prefixed leftovers.
    ``exclude_batch`` drops one batch id — a crash-replayed batch must
    see exactly the state its first attempt saw, never its own partial
    writes."""
    from pyspark.errors import AnalysisException

    fs, p = _hadoop_fs(spark, stream_dir)
    if not fs.exists(p) or len(fs.listStatus(p)) == 0:
        return None
    try:
        s = spark.read.option("basePath", stream_dir).parquet(stream_dir)
    except AnalysisException:
        return None  # no data file anywhere to infer a schema from
    if exclude_batch is not None:
        s = s.filter(F.col("batch") != exclude_batch)
    return s


def same_path(spark: SparkSession, a: str, b: str) -> bool:
    """Whether ``a`` and ``b`` name the same directory once qualified by
    their filesystems — ``/x/a``, ``/x/a/`` and ``file:///x/a`` agree;
    relative paths resolve against the working directory."""

    def qualified(path: str) -> str:
        fs, p = _hadoop_fs(spark, path)
        return fs.makeQualified(p).toString()

    return qualified(a) == qualified(b)
