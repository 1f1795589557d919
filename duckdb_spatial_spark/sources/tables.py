"""Driver testdata loading helpers.

``events.parquet`` stores ``ts`` as microsecond timestamps without a
timezone, which Spark reads as TIMESTAMP_NTZ. Batch queries take it as
is; :func:`stream_table` turns it into a TIMESTAMP (its wall time read as
UTC) because watermarks and event-time windows need one.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..runtime import utc_timestamp

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


_SCHEMA_CACHE: dict = {}


def _read_cached_schema(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet with the INFERRED schema memoized per path for
    the session. Schema inference is a whole Spark job (footer read) per
    spark.read.parquet call; the testdata paths are read by nearly every
    query, so the bench paid that job 200+ times per run. The cache holds
    metadata only (a StructType), is per-session, and is populated by
    Spark's own inference on first touch — every run still derives it
    from the parquet inputs, exactly like ``_RG_CACHE`` below."""
    s = _SCHEMA_CACHE.get(path)
    if s is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = df.schema
        return df
    return spark.read.schema(s).parquet(path)


def local_relation(spark: SparkSession, rows, schema) -> DataFrame:
    """Bounded driver-side rows as a LocalRelation, built from a
    ``pyarrow.Table``: the plan holds the rows, so collects and broadcast
    builds run no job and no Python task, where ``createDataFrame`` of a
    list or pandas frame plans an RDD scan that runs Python tasks on every
    use. ``schema`` is a StructType or DDL string; ``rows`` are sequences
    in field order. Values go through the field types' ``toInternal``, as
    in ``createDataFrame(list)``, so a naive datetime in a TIMESTAMP
    column is read in the process's local zone (what ``collect()``
    returns). ``rows`` may also be a ``pyarrow.Table`` whose columns are
    in field order: it is cast to the schema's Arrow types as a whole,
    with no per-value Python work. All fields come back nullable: Arrow
    cannot cast a nullable struct field to the non-nullable one a plan's
    schema may carry. A row of the wrong length or an integer outside its
    column's range raises ValueError."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    schema = schema.toNullable()
    arrow = to_arrow_schema(schema)
    if isinstance(rows, pa.Table):
        return spark.createDataFrame(
            rows.rename_columns(arrow.names).cast(arrow), schema)
    rows = list(rows)
    width = len(schema.fields)
    for i, r in enumerate(rows):
        if len(r) != width:
            raise ValueError(
                f"local_relation: row {i} has {len(r)} values, the schema "
                f"has {width} fields")
    cols = []
    for j, (f, af) in enumerate(zip(schema.fields, arrow)):
        vals = [r[j] for r in rows]
        if f.dataType.needConversion():
            vals = [f.dataType.toInternal(v) for v in vals]
        if pa.types.is_integer(af.type):
            # Arrow's own overflow error names neither column nor limit
            lim = 1 << (af.type.bit_width - 1)
            bad = next((v for v in vals
                        if v is not None and not -lim <= v < lim), None)
            if bad is not None:
                raise ValueError(
                    f"local_relation: {bad} is out of range for column "
                    f"{f.name!r} ({f.dataType.simpleString()})")
        cols.append(pa.array(vals, type=af.type))
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow),
                                 schema)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = True
) -> DataFrame:
    """Load a driver testdata table. ``fan_out`` (default) round-robins a
    single-row-group file across cores for pandas-UDF-heavy consumers; pass
    False for pure-JVM relational queries where the exchange is dead cost."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = _read_cached_schema(spark, path)
    return _fan_out(spark, df, path) if fan_out else df


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A driver testdata table as a file STREAM over ``sf_dir``, with
    :func:`load_table`'s schema. ``events.ts`` becomes a TIMESTAMP via
    ``runtime.utc_timestamp``, so the stream's event time does not depend
    on the session timezone."""
    schema = load_table(spark, sf_dir, name, fan_out=False).schema
    df = (spark.readStream.schema(schema)
          .option("pathGlobFilter", f"{name}.parquet").parquet(sf_dir))
    if name == "events":
        df = df.withColumn("ts", utc_timestamp("ts"))
    return df


def read_layout(spark: SparkSession, *paths: str) -> DataFrame:
    """Read a parquet layout THIS ENGINE just wrote, skipping the
    schema-inference job: the Spark schema is derived driver-side from one
    file's footer (pyarrow, ~ms). Falls back to normal inference when the
    footer carries any timestamp column — the arrow->Spark mapping of
    UTC-adjusted vs NTZ timestamps does not always match Spark's own
    inference rules (measured on this testdata), and only timestamp types
    are ambiguous. All fields are forced nullable, the conservative
    convention Spark itself uses for parquet reads of optional columns."""
    import glob as _glob

    from pyspark.sql.types import StructField, StructType

    first = paths[0]
    if os.path.isdir(first):
        cand = sorted(_glob.glob(os.path.join(first, "*.parquet")))
        probe = cand[0] if cand else None
    else:
        probe = first
    schema = None
    if probe is not None:
        try:
            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import from_arrow_schema

            arrow = pq.ParquetFile(probe).schema_arrow
            if "timestamp" not in str(arrow).lower():
                s = from_arrow_schema(arrow)
                schema = StructType(
                    [StructField(f.name, f.dataType, True) for f in s.fields]
                )
        except Exception:
            schema = None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def parquet_minmax(files, cols):
    """Exact per-column (min, max) over ``files`` from parquet footers —
    driver-side metadata, no Spark job. Parquet stores exact min/max
    stats for doubles/longs; row groups with zero non-null values are
    skipped. Returns ``{col: (min, max)}``, or None when any requested
    stat is missing (absent column, suppressed stats — e.g. NaN
    payloads — or an all-null column): callers fall back to the agg-job
    path so behavior is unchanged in the degenerate cases."""
    import pyarrow.parquet as pq

    out = {c: [None, None] for c in cols}
    for f in files:
        try:
            meta = pq.ParquetFile(f).metadata
        except Exception:
            return None
        idx = {meta.schema.column(i).name: i
               for i in range(meta.num_columns)}
        for c in cols:
            i = idx.get(c)
            if i is None:
                return None
            for rg in range(meta.num_row_groups):
                col = meta.row_group(rg).column(i)
                if col.num_values == 0:
                    continue
                s = col.statistics
                if s is None or not s.has_min_max:
                    return None
                lo, hi = out[c]
                out[c][0] = s.min if lo is None else min(lo, s.min)
                out[c][1] = s.max if hi is None else max(hi, s.max)
    if any(v[0] is None or v[1] is None for v in out.values()):
        return None
    return {c: (v[0], v[1]) for c, v in out.items()}


_RG_CACHE: dict = {}


def _row_groups(path: str) -> int:
    """Row-group count from the parquet footer (driver-side, ~ms, cached).
    Byte-splitting cannot parallelize a scan below row-group granularity —
    Spark assigns every row group to the one split holding its midpoint, so
    splits of a 1-row-group file yield N-1 EMPTY tasks (df.rdd partition
    counts lie about effective parallelism)."""
    n = _RG_CACHE.get(path)
    if n is None:
        try:
            import pyarrow.parquet as pq

            n = pq.ParquetFile(path).metadata.num_row_groups
        except Exception:
            n = 1 << 30  # unknown layout → leave it alone
        _RG_CACHE[path] = n
    return n


def _fan_out(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """The driver's testdata parquet files hold a single row group, so a
    scan yields ONE effective task no matter how small maxPartitionBytes is
    — every downstream Arrow/pandas-UDF stage would run on one core.
    Round-robin repartition to cluster parallelism when the scan can't fan
    out itself (Catalyst still pushes filters/pruning below the exchange).
    At real scale files span many row groups and this is a no-op."""
    # 8-way, not full parallelism: every chained pandas-UDF stage spins a
    # Python runner per task, and measured first-run cost at 32 tasks is
    # dominated by the worker fork storm (17s vs 3s at 8/16 for the same
    # query); 8 gives ~linear UDF speedup at this data scale while keeping
    # job overhead near the single-task floor.
    par = min(8, spark.sparkContext.defaultParallelism)
    if _row_groups(path) * 2 <= par:
        return df.repartition(par)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
