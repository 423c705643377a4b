"""Source scans (SURVEY.md §2.1, S1–S8).

The reference reads Postgres over JDBC (S1/S2), CSV feeds with inferred
schemas (S3), parquet (S4), and driver-side JSON rows from its REST source
(S5/S7).  Here parquet is the primary inter-stage medium (columnar,
splittable, footer-pruned); JDBC is kept as a thin, option-compatible
wrapper; CSV keeps the reference's positional-rename contract
(``ingestion_tasks.py:48-52`` — the contract is column ORDER, not header
names).
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session_cache import session_cached

TESTDATA_TABLES = (
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


def _path_signature(path: str) -> tuple[int, int, int] | None:
    """(total bytes, max mtime_ns, file count) of a local table path —
    the freshness key of the relation cache below.  Any rewrite,
    append, compaction or rebuild changes at least one component, so a
    cached relation can never serve a stale file listing or schema.
    os.stat only (no file contents); None for non-local paths, which
    disables caching for them."""
    import os

    try:
        st = os.stat(path)
        if os.path.isfile(path):
            return (st.st_size, st.st_mtime_ns, 1)
        if os.path.isdir(path):
            total, mt, n = 0, st.st_mtime_ns, 0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    s = os.stat(os.path.join(root, f))
                    total, mt, n = total + s.st_size, max(mt, s.st_mtime_ns), n + 1
            return (total, mt, n)
    except OSError:
        return None
    return None


# Session-scoped parquet RELATION cache (r15, guide §6 driver-side
# listing/planning cost): every `spark.read.parquet` pays file listing
# + footer schema inference on the DRIVER — measured 0.07–0.09 s per
# open even warm, and the mart/analyst queries open 3–7 tables PER
# BUILD (q_customer_sales_report ~0.55 s of its 1.25 s at sf0.1 was
# re-opening static tables).  A catalog-backed deployment gets this
# for free (the metastore caches table metadata; Spark itself caches
# listings per session via filesourcePartitionFileCacheSize) — bare
# path reads re-pay it per call, so we lift the same per-session
# memoization to the relation level.  NOT result caching: the cached
# object is the lazy reader plan; every action still scans the parquet
# files.  Held per session (session_cache — a sibling session must not
# get a frame analyzed under the first one's confs: the events cast
# binds its time zone) and keyed on (path, path SIGNATURE, partitioning
# args): a rewrite of the path (size/mtime/file-count change) misses the
# cache and re-lists/re-infers.  LRU-bounded, so a long-lived session
# over many paths evicts its cold relations instead of growing.
_RELATION_CACHE_MAX = 256


def read_parquet_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    min_partitions: int | None = None,
    target_partition_bytes: int | None = None,
) -> DataFrame:
    """S4: parquet scan.  Catalyst pushes filters + column pruning into the
    footer-level scan — callers should select/filter declaratively and NOT
    pre-materialize (cf. reference's manual select-after-scan,
    m_customer_metrics_task.py:41-48, which Catalyst subsumes).

    ``min_partitions``: set for compute-heavy map stages over FEW input
    files (hashing, vector math) — a small parquet file arrives as one
    split, serializing all pre-shuffle work onto one core.  Large inputs
    split on spark.sql.files.maxPartitionBytes and don't need it.

    ``target_partition_bytes`` (r14, guide §2.2/§6): makes the split
    count SCALE-ADAPTIVE instead of a flat ``min_partitions`` — the
    actual repartition count is ``clamp(ceil(bytes / target), 1,
    min_partitions)``.  A flat count tuned for the cluster width
    over-splits small inputs (a 0.8 MB table fanned to 32 partitions
    schedules ~30 empty tasks in EVERY downstream stage — measured
    ~15-20% of several ML queries' wall clock at sf0.1), while large
    inputs still climb to the full ``min_partitions`` cap, so the
    compute-heavy scale paths (10×/100× corpora) keep their measured
    parallelism.  Pick ``target`` by the map work's compute density:
    heavier per-byte work wants smaller targets."""
    if name == "events":
        # events.parquet carries TIMESTAMP(NANOS), which the vectorized
        # reader rejects outright under default confs — set the session
        # conf HERE (not only in our session factory) so the queries also
        # work on a caller-provided SparkSession (the driver harness
        # builds its own).  Set even on a relation-cache hit: the conf
        # governs scan EXECUTION, not plan construction.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # timestamp outputs render in session TZ; pin UTC so window
        # boundaries and collected values are engine-portable even on a
        # TZ-pinned caller session
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    sig = _path_signature(path)
    key = None if sig is None else (path, sig, min_partitions, target_partition_bytes)
    return session_cached(
        spark,
        "relations",
        key,
        lambda: _open_relation(spark, path, name, sig, min_partitions, target_partition_bytes),
        _RELATION_CACHE_MAX,
    )


def _open_relation(
    spark: SparkSession,
    path: str,
    name: str,
    sig: tuple[int, int, int] | None,
    min_partitions: int | None,
    target_partition_bytes: int | None,
) -> DataFrame:
    df = spark.read.parquet(path)
    if min_partitions is not None:
        n = min_partitions
        if target_partition_bytes is not None:
            size = sig[0] if sig is not None else None
            if size is not None:
                n = max(1, min(min_partitions, -(-size // target_partition_bytes)))
        df = df.repartition(n)
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # nanos → microsecond timestamp; DuckDB's TIMESTAMP is µs-native
            # so both engines see equal values.  Integer `div`, not `/`:
            # float division of an ~1.7e18 ns value rounds (53-bit mantissa)
            # where DuckDB's ns→µs conversion floors.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as
            # NTZ under inferTimestampNTZ; the engine's time functions
            # (unix_micros, window, watermark) want TIMESTAMP_LTZ.
            # Cast to the explicit DataType, NOT cast("timestamp"): the
            # string form resolves via spark.sql.timestampType, so on a
            # session configured TIMESTAMP_NTZ it is a silent no-op.
            # TZ invariant: the NTZ→LTZ cast binds the session time zone
            # at ANALYSIS time (ResolveTimeZone fills zoneId when this
            # DataFrame is built — verified empirically: switching
            # spark.sql.session.timeZone after this line does not change
            # collected instants).  UTC is pinned three lines up in this
            # same call, so the wall-clock value maps to the same instant
            # DuckDB sees regardless of later caller conf changes.
            from pyspark.sql.types import TimestampType

            # explicit raise, not `assert`: asserts are stripped under
            # `python -O`, which would turn this correctness guard into a
            # no-op exactly where a non-UTC session silently shifts every
            # collected instant
            tz = spark.conf.get("spark.sql.session.timeZone")
            if tz != "UTC":
                raise RuntimeError(
                    f"events NTZ->LTZ cast requires a UTC session (got {tz!r}); "
                    "the cast binds the session zone at analysis time"
                )
            df = df.withColumn("ts", F.col("ts").cast(TimestampType()))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: Iterable[str] = TESTDATA_TABLES) -> dict[str, DataFrame]:
    """Load the star schema and register temp views so both the DataFrame
    API and ``spark.sql`` (S6) see the same tables."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = read_parquet_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def read_csv_positional(
    spark: SparkSession,
    path: str,
    column_names: list[str],
    header: bool = True,
    schema: Any | None = None,
) -> DataFrame:
    """S3 + P2: CSV scan with the reference's positional-rename contract
    (``ingestion_tasks.py:269-289``): human-styled headers are discarded
    and columns are renamed BY POSITION to canonical names.

    ``inferSchema`` forces an extra full pass over the data — at 100 TB
    that is a second scan, so callers should pass an explicit ``schema``;
    inference remains the compatible default for feed-shaped inputs.
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    df = reader.csv(path)
    if len(df.columns) < len(column_names):
        raise ValueError(f"CSV at {path} has {len(df.columns)} columns, expected >= {len(column_names)}")
    return df.toDF(*column_names, *df.columns[len(column_names):])


def read_json_rows(spark: SparkSession, rows: list[Mapping[str, Any]], column_names: list[str] | None = None) -> DataFrame:
    """S5/S7: driver-side JSON payload (e.g. a REST response) → DataFrame.

    The reference materializes ``Row(**x)`` generators
    (``ingestion_tasks.py:44``).  This stays a driver-side boundary
    operation for small control-plane payloads only — large feeds must
    land as files and go through a distributed scan instead.
    """
    df = spark.createDataFrame(rows)  # type: ignore[arg-type]
    if column_names:
        df = df.toDF(*column_names)
    return df


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    multiline: bool = False,
) -> DataFrame:
    """JSON-lines FILE scan (r14) — the distributed sibling of
    :func:`read_json_rows`, closing the landed-feed path its docstring
    points large payloads at ("large feeds must land as files and go
    through a distributed scan").  One JSON object per line splits and
    parallelizes like any text source; ``multiline=True`` handles
    whole-file JSON documents (one record per FILE — no line splits,
    so only use it for many small files).

    ``schema`` (DDL string) should be passed in production: schema
    inference runs an extra full pass over the data, and a corrupt line
    under an explicit schema lands in the standard
    ``_corrupt_record``-style NULL row instead of poisoning inference.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if multiline:
        reader = reader.option("multiLine", "true")
    return reader.json(path)


def read_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    properties: Mapping[str, str] | None = None,
    num_partitions: int = 4,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
) -> DataFrame:
    """S1: full-table JDBC scan (reference: utils.py:181-210,
    numPartitions=4).  For real parallelism Spark needs a partition column
    + bounds; without them numPartitions is a single-stream read — the
    reference sets it anyway, we only forward it when it can take effect."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None and lower_bound is not None and upper_bound is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return reader.load()


def read_jdbc_query(spark: SparkSession, url: str, query: str, properties: Mapping[str, str] | None = None) -> DataFrame:
    """S2: pushdown-query scan — the whole SQL runs inside the source DB
    (reference wraps it as ``(q) as subquery``, Raptor.py:19-37)."""
    reader = spark.read.format("jdbc").option("url", url).option("query", query)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same predicate-pushdown/column-pruning contract as
    parquet (ORC ships in Spark, no external package).  Exists so a
    user whose lake is ORC-resident swaps one call; everything
    downstream is format-agnostic DataFrames."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    """ORC sink, mirroring write_parquet's partition discipline."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Multimodal ingest: raw files as rows — (path, modificationTime,
    length, content binary) via Spark's binaryFile source.  This is the
    entry point that feeds operators/multimodal.py: image/audio/video
    payloads become an opaque binary column with typed metadata, and
    the decode/feature kernels run Arrow-batched downstream.

    ``max_bytes`` guards the executor heap: binaryFile materializes
    each file as ONE row, so a stray multi-GB object would OOM a task —
    the filter happens on the LENGTH metadata column, before content
    is read into memory.  Files larger than the limit are dropped, not
    truncated (partial media is rarely decodable); count them via the
    returned frame's complement if auditing matters.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df
