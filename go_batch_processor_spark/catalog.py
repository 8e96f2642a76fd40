"""Fixture-table catalog: explicit schemas, loaders, temp-view helper.

Schemas mirror FIXTURES.md §2 exactly and are ALWAYS passed to the reader —
schema inference on read is forbidden at the 100 TB design point (it triggers
a footer-sampling job over the whole dataset and can silently widen types).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_S = T.StructField


def _schema(*fields: T.StructField) -> T.StructType:
    return T.StructType(list(fields))


TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": _schema(
        _S("r_regionkey", T.IntegerType()),
        _S("r_name", T.StringType()),
    ),
    "nation": _schema(
        _S("n_nationkey", T.IntegerType()),
        _S("n_name", T.StringType()),
        _S("n_regionkey", T.IntegerType()),
    ),
    "customer": _schema(
        _S("c_custkey", T.LongType()),
        _S("c_name", T.StringType()),
        _S("c_nationkey", T.IntegerType()),
        _S("c_acctbal", T.DoubleType()),
        _S("c_mktsegment", T.StringType()),
    ),
    "supplier": _schema(
        _S("s_suppkey", T.LongType()),
        _S("s_name", T.StringType()),
        _S("s_nationkey", T.IntegerType()),
        _S("s_acctbal", T.DoubleType()),
    ),
    "part": _schema(
        _S("p_partkey", T.LongType()),
        _S("p_name", T.StringType()),
        _S("p_brand", T.StringType()),
        _S("p_type", T.StringType()),
        _S("p_size", T.IntegerType()),
        _S("p_retailprice", T.DoubleType()),
    ),
    "orders": _schema(
        _S("o_orderkey", T.LongType()),
        _S("o_custkey", T.LongType()),
        _S("o_orderstatus", T.StringType()),
        _S("o_totalprice", T.DoubleType()),
        _S("o_orderdate", T.TimestampType()),
        _S("o_orderpriority", T.StringType()),
    ),
    "lineitem": _schema(
        _S("l_orderkey", T.LongType()),
        _S("l_partkey", T.LongType()),
        _S("l_suppkey", T.LongType()),
        _S("l_linenumber", T.IntegerType()),
        _S("l_quantity", T.DoubleType()),
        _S("l_extendedprice", T.DoubleType()),
        _S("l_discount", T.DoubleType()),
        _S("l_tax", T.DoubleType()),
        _S("l_returnflag", T.StringType()),
        _S("l_linestatus", T.StringType()),
        _S("l_shipdate", T.TimestampType()),
    ),
    "events": _schema(
        _S("event_id", T.LongType()),
        _S("ts", T.TimestampType()),
        _S("user_id", T.LongType()),
        _S("event_type", T.StringType()),
        _S("value", T.DoubleType()),
        _S("props", T.StringType()),
    ),
    "documents": _schema(
        _S("doc_id", T.LongType()),
        _S("text", T.StringType()),
        _S("lang", T.StringType()),
        _S("source", T.StringType()),
        _S("n_chars", T.LongType()),
    ),
    "embeddings": _schema(
        _S("vec_id", T.LongType()),
        _S("embedding", T.ArrayType(T.FloatType())),
        _S("label", T.IntegerType()),
    ),
}

TABLE_NAMES: tuple[str, ...] = tuple(TABLE_SCHEMAS)

# Dimension tables small enough to ALWAYS broadcast, even at sf=100TB
# (region/nation are fixed-cardinality; supplier/part grow slowly).
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation"})


# Keyed by (path, part-file mtime_ns): a fixture regenerated in-place with a
# different unit within one process must NOT return the stale unit — that is
# silent 1000x time scaling, the exact bug this function exists to prevent.
_TS_UNIT_CACHE: dict[tuple[str, int], str] = {}


def events_ts_unit(path: str) -> str:
    """Detect the physical parquet time unit of ``events.ts`` ('us' or 'ns').

    Fixture regenerations have flipped between TIMESTAMP(NANOS) and
    TIMESTAMP(MICROS); hard-coding either path silently compresses or
    inflates event time 1000x. Reading ONE footer with pyarrow is O(KB) and
    driver-side only, so it is safe at any scale. Cached per
    (path, mtime) so an in-place regen invalidates automatically.
    """
    import os

    target = path
    if os.path.isdir(target):
        part = next(
            (
                f
                for f in sorted(os.listdir(target))
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            ),
            None,
        )
        if part is None:
            raise FileNotFoundError(
                f"no parquet part file in events dataset directory {path!r}"
            )
        target = os.path.join(target, part)
    mtime = os.stat(target).st_mtime_ns
    key = (target, mtime)
    unit = _TS_UNIT_CACHE.get(key)
    if unit is None:
        import pyarrow.parquet as pq

        t = pq.read_schema(target).field("ts").type
        unit = getattr(t, "unit", "us")
        if unit not in ("us", "ns"):
            # ms/s fixtures would need their own scaling; none exist today.
            raise ValueError(f"unsupported events.ts parquet unit {unit!r} in {path}")
        _TS_UNIT_CACHE[key] = unit
    return unit


# Keyed by (part-file path, mtime_ns), same invalidation contract as
# _TS_UNIT_CACHE. Superseded entries (same path, older mtime) are evicted
# on insert so repeated in-place fixture regeneration cannot grow the
# dict unboundedly (r10 ADVICE).
_ROW_COUNT_CACHE: dict[tuple[str, int], int] = {}


def table_row_count(sf_dir: str, name: str) -> int:
    """EXACT row count of a fixture table from its parquet footer(s) —
    driver-side pyarrow metadata reads, O(KB) per file, NO Spark job.

    Regime probes (e.g. stats_spearman_corr's window-vs-distributed
    cumsum split) only need the corpus row count to compare against a
    literal cap; `df.count()` pays a Spark job + driver round-trip per
    invocation even though parquet already stores num_rows in every
    footer. Cached per (file, mtime) so in-place fixture regeneration
    invalidates automatically.

    LOCAL-FILESYSTEM ONLY: unlike load_table (which goes through
    Spark's reader and accepts any Hadoop-visible URI), this helper
    stats/lists the path with os and pyarrow directly. Callers on a
    remote sf_dir (s3://, hdfs://) must fall back to df.count(); the
    assert turns that misuse into an immediate, named error instead of
    a confusing FileNotFoundError deep in os.stat (r10 ADVICE)."""
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    assert "://" not in str(sf_dir) or str(sf_dir).startswith("file://"), (
        f"table_row_count reads parquet footers via the LOCAL filesystem; "
        f"got non-local sf_dir {sf_dir!r} — use load_table(...).count() "
        f"for remote storage"
    )
    targets = [path]
    if os.path.isdir(path):
        targets = [
            os.path.join(path, f)
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
        if not targets:
            raise FileNotFoundError(
                f"no parquet part file in dataset directory {path!r}"
            )
    total = 0
    for t in targets:
        key = (t, os.stat(t).st_mtime_ns)
        n = _ROW_COUNT_CACHE.get(key)
        if n is None:
            n = pq.ParquetFile(t).metadata.num_rows
            # Same-path entries with a different (older) mtime are
            # superseded — drop them so regeneration churn can't grow
            # the cache beyond one live entry per part file.
            for old in [k for k in _ROW_COUNT_CACHE if k[0] == t]:
                del _ROW_COUNT_CACHE[old]
            _ROW_COUNT_CACHE[key] = n
        total += n
    return total


def _events_raw_schema() -> T.StructType:
    return T.StructType(
        [
            f if f.name != "ts" else _S("ts", T.LongType())
            for f in TABLE_SCHEMAS["events"].fields
        ]
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with its explicit schema.

    ``events.ts`` physical unit varies by fixture generation: TIMESTAMP(MICROS)
    reads natively as TimestampType; TIMESTAMP(NANOS) has no Spark type, so it
    is read as a nanos long (legacy.parquet.nanosAsLong) and converted to a
    microsecond TimestampType here — sub-microsecond parts truncate, matching
    DuckDB's micros semantics for the oracle. The unit is detected from the
    parquet footer (see events_ts_unit), never assumed.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events" and events_ts_unit(path) == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.schema(_events_raw_schema()).parquet(path)
        from pyspark.sql import functions as F

        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))).select(
            *[f.name for f in TABLE_SCHEMAS["events"].fields]
        )
    return spark.read.schema(TABLE_SCHEMAS[name]).parquet(path)


def local_frame(spark: SparkSession, rows: list, ddl: str) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``ddl`` column
    order), built from an Arrow table so it plans as a LocalTableScan.

    The list form of ``createDataFrame`` plans as ``Scan ExistingRDD``: a
    parallelize RDD whose every action schedules a job (a 697-row frame
    sorted and collected in 0.65 s that way, 0.11 s from Arrow)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(T._parse_datatype_string(ddl))
    cols = list(zip(*rows)) or [()] * len(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
    )
    return spark.createDataFrame(table)


def load_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming (readStream) variant of load_table: file-stream source over
    one fixture table, same unit-detecting schema handling as load_table."""
    from pyspark.sql import functions as F

    if name == "events" and events_ts_unit(f"{sf_dir}/{name}.parquet") == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = (
            spark.readStream.schema(_events_raw_schema())
            .option("pathGlobFilter", f"{name}.parquet")
            .parquet(sf_dir)
        )
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))).select(
            *[f.name for f in TABLE_SCHEMAS["events"].fields]
        )
    return (
        spark.readStream.schema(TABLE_SCHEMAS[name])
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Read several fixture tables; all of them when no names given."""
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register fixture tables as temp views (for spark.sql-based operators)."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)
