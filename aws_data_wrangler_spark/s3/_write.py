"""Dataset writers (parquet/csv/json) with Glue-style dataset semantics.

Ref: /root/reference/awswrangler/s3/_write_parquet.py (``to_parquet``,
``store_parquet_metadata``), _write_text.py (``to_csv``, ``to_json``),
_write_dataset.py (mode handling: append | overwrite |
overwrite_partitions).

Spark-first: dataset mode maps onto ``DataFrameWriter.partitionBy`` —
the write itself is the shuffle-free path (each task writes its own
partition files), and ``overwrite_partitions`` is Spark's *dynamic
partition overwrite*, which is exactly Glue/Athena partition
replacement. Single-file (non-dataset) writes exist for API parity
but are a driver-side convenience — the dataset path is the one that
scales.
"""

from __future__ import annotations

import posixpath
import uuid
from typing import Any, Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession

from aws_data_wrangler_spark._data_types import athena2spark, athena_types_from_spark
from aws_data_wrangler_spark.exceptions import (
    EmptyDataFrame,
    InvalidArgumentCombination,
    InvalidArgumentValue,
)
from aws_data_wrangler_spark.s3._fs import (
    _active_spark,
    _fs_for,
    _hpath,
    delete_objects,
    list_objects,
    normalize_path,
)

_VALID_MODES = ("append", "overwrite", "overwrite_partitions")


def _cast_dtype(df: DataFrame, dtype: Optional[Dict[str, str]]) -> DataFrame:
    if not dtype:
        return df
    from pyspark.sql import functions as F

    return df.withColumns({col: F.col(col).cast(athena2spark(t)) for col, t in dtype.items()})


def _partitions_values(
    path: str, partition_cols: List[str], objects: List[str]
) -> Dict[str, List[str]]:
    """{partition_dir_uri: [values...]} over a dataset's object listing,
    mirroring the reference's to_parquet return payload."""
    out: Dict[str, List[str]] = {}
    root = normalize_path(path).rstrip("/")
    root_schemeless = root.split("://", 1)[-1]
    for obj in objects:
        # Hadoop renders file:/x, we normalize file:///x — compare scheme-less
        obj_schemeless = obj.split(":", 1)[-1].lstrip("/")
        rel = obj_schemeless[len(root_schemeless.lstrip("/")):].lstrip("/")
        parts = rel.split("/")[:-1]
        values = [p.split("=", 1)[1] for p in parts if "=" in p]
        if len(values) == len(partition_cols) and values:
            out[f"{root}/{'/'.join(parts)}/"] = values
    return out


def _write_single_file(df: DataFrame, path: str, fmt: str, spark: SparkSession, **options: Any) -> None:
    """Write exactly one object at ``path`` (coalesce→temp dir→rename).

    Driver-side convenience for small exports, matching the reference's
    non-dataset mode; dataset mode is the 100 TB path.
    """
    path = normalize_path(path)
    tmp = f"{posixpath.dirname(path)}/.sg_tmp_{uuid.uuid4().hex}"
    writer = df.coalesce(1).write.mode("overwrite")
    for key, value in options.items():
        writer = writer.option(key, value)
    getattr(writer.format(fmt), "save")(tmp)
    fs, jvm = _fs_for(spark, path)
    part_files = [p for p in list_objects(tmp, spark=spark)]
    if len(part_files) != 1:
        raise InvalidArgumentValue(f"expected exactly one part file, got {part_files}")
    fs.delete(_hpath(jvm, path), False)
    fs.rename(_hpath(jvm, part_files[0]), _hpath(jvm, path))
    delete_objects(tmp, spark=spark)


# reference kwargs that have no Spark analog (pandas index handling,
# boto plumbing, Glue partition-projection hints): accepted and
# dropped so call sites port unchanged. Projection hints would become
# table parameters on a Glue-backed metastore.
_ACCEPTED_NOOP_KWARGS = {
    "index", "use_threads", "boto3_session", "s3_additional_kwargs",
    "concurrent_partitioning", "catalog_versioning", "regular_partitions",
    "projection_enabled", "projection_types", "projection_ranges",
    "projection_values", "projection_intervals", "projection_digits",
    "catalog_id", "schema_evolution", "pandas_kwargs",
}


def _pop_noop_kwargs(options: Dict[str, Any]) -> None:
    for key in list(options):
        if key in _ACCEPTED_NOOP_KWARGS:
            options.pop(key)


def _sanitize_for_write(
    df: DataFrame, *col_lists: Optional[List[str]]
) -> List[Any]:
    """Apply Athena-compatible renames to the frame AND every
    caller-supplied column list (partition/sort/bloom cols). The lists
    must track the rename: ``partitionBy`` and the bloom/partition
    guard both operate on ON-DISK names, so a list left in
    pre-sanitize form either fails the write (partitionBy on a
    renamed column) or slips past a guard comparing sanitized names
    against unsanitized ones."""
    from aws_data_wrangler_spark import catalog

    out: List[Any] = [catalog.sanitize_dataframe_columns_names(df)]
    for cols in col_lists:
        out.append(
            [catalog.sanitize_column_name(c) for c in cols] if cols else cols
        )
    return out


def _sanitize_dtype(dtype: Optional[Dict[str, str]]) -> Optional[Dict[str, str]]:
    """``dtype`` keys must track the sanitize rename too (the reference's
    ``_sanitize`` sanitizes the dtype dict alongside the frame —
    ``/root/reference/awswrangler/s3/_write.py``): a dtype keyed by the
    pre-sanitize name would make ``_cast_dtype`` miss the now-renamed
    column and silently skip the intended cast."""
    from aws_data_wrangler_spark import catalog

    if not dtype:
        return dtype
    return {catalog.sanitize_column_name(k): v for k, v in dtype.items()}


def _write(
    df: DataFrame,
    path: str,
    fmt: str,
    dataset: bool,
    partition_cols: Optional[List[str]],
    mode: str,
    database: Optional[str],
    table: Optional[str],
    dtype: Optional[Dict[str, str]],
    spark: Optional[SparkSession],
    single_file_ok: bool = True,
    description: Optional[str] = None,
    parameters: Optional[Dict[str, str]] = None,
    columns_comments: Optional[Dict[str, str]] = None,
    **options: Any,
) -> Dict[str, Any]:
    spark = _active_spark(spark)
    if len(df.columns) == 0:
        raise EmptyDataFrame("DataFrame has no columns")
    if mode not in _VALID_MODES:
        raise InvalidArgumentValue(
            f"{mode} is an invalid mode, use append, overwrite or overwrite_partitions."
        )
    if not dataset and (partition_cols or database or table or mode != "append"):
        if partition_cols or database or table:
            raise InvalidArgumentCombination(
                "partition_cols / database / table require dataset=True"
            )
    df = _cast_dtype(df, dtype)
    path = normalize_path(path)

    if not dataset:
        _write_single_file(df, path, fmt, spark, **options)
        return {"paths": [path], "partitions_values": {}}

    partition_cols = partition_cols or []
    writer = df.write.format(fmt)
    for key, value in options.items():
        writer = writer.option(key, value)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    if mode == "append":
        writer = writer.mode("append")
    else:
        # the per-write option beats the session's
        # spark.sql.sources.partitionOverwriteMode, which stays untouched.
        # overwrite: full-prefix replacement (static). overwrite_partitions:
        # Glue-style partition replacement == Spark dynamic partition
        # overwrite; without partition_cols the reference degrades to a
        # full overwrite (awswrangler s3/_write_dataset.py)
        overwrite_mode = "static" if mode == "overwrite" else "dynamic"
        writer = writer.mode("overwrite").option("partitionOverwriteMode", overwrite_mode)
    writer.save(path)

    # one listing serves both halves of the payload
    paths = list_objects(path, spark=spark)
    result: Dict[str, Any] = {
        "paths": paths,
        "partitions_values": _partitions_values(path, partition_cols, paths) if partition_cols else {},
    }
    if database and table:
        from aws_data_wrangler_spark import catalog

        columns_types, partitions_types = athena_types_from_spark(df, partition_cols)
        catalog.create_table(
            database=database,
            table=table,
            path=path,
            columns_types=columns_types,
            partitions_types=partitions_types,
            table_format=fmt,
            mode="overwrite" if mode == "overwrite" else "append",
            description=description,
            parameters=parameters,
            columns_comments=columns_comments,
            spark=spark,
        )
        if partition_cols:
            catalog.repair_table_partitions(database=database, table=table, spark=spark)
    return result


def to_parquet(
    df: DataFrame,
    path: str,
    dataset: bool = False,
    partition_cols: Optional[List[str]] = None,
    mode: str = "append",
    database: Optional[str] = None,
    table: Optional[str] = None,
    dtype: Optional[Dict[str, str]] = None,
    compression: Optional[str] = "snappy",
    sort_cols: Optional[List[str]] = None,
    max_rows_by_file: Optional[int] = None,
    bloom_filter_cols: Optional[List[str]] = None,
    bloom_filter_ndv: Optional[int] = None,
    sanitize_columns: bool = False,
    description: Optional[str] = None,
    parameters: Optional[Dict[str, str]] = None,
    columns_comments: Optional[Dict[str, str]] = None,
    spark: Optional[SparkSession] = None,
    **options: Any,
) -> Dict[str, Any]:
    """Write parquet file or partitioned dataset (+ optional catalog
    registration). Ref: /root/reference/awswrangler/s3/_write_parquet.py
    ``to_parquet``.

    ``sanitize_columns`` applies Athena-compatible column renames;
    ``description`` / ``parameters`` / ``columns_comments`` flow into
    the catalog registration (require database+table). Reference-only
    kwargs with no Spark analog (``index``, projection hints, boto
    plumbing) are accepted and ignored.

    ``sort_cols`` sorts within each output task before writing —
    clusters values so parquet row-group min/max statistics prune
    effectively on those columns (the poor man's Z-order; at 100 TB
    this is what makes point-lookup scans skip most row groups).

    ``max_rows_by_file`` caps rows per output file (the reference's
    file-splitting knob) via Spark's ``maxRecordsPerFile`` — tasks
    roll over to a new file at the cap, bounding file sizes without a
    repartition.

    ``bloom_filter_cols`` writes a parquet BLOOM FILTER per listed
    column (``parquet.bloom.filter.enabled#col``): min/max row-group
    stats prune RANGE predicates, but an equality probe on a
    high-cardinality unsorted column (id lookups, content hashes)
    skips nothing by stats — the bloom filter lets readers (Spark,
    Trino, Impala) drop row groups that provably lack the value, the
    point-lookup complement to ``sort_cols``/Z-order at 100 TB.
    ``bloom_filter_ndv`` sizes the filters (expected distinct values
    per row group; the writer default otherwise).

    Returns ``{"paths": [...], "partitions_values": {...}}``. With
    ``dataset=True``, ``paths`` is every data object under ``path``
    after the write and ``partitions_values`` maps every partition
    directory present to its values, as on-disk names (Spark escapes
    e.g. ``:`` to ``%3A``). Unlike awswrangler 1.x, these are not only
    the objects and partitions this call wrote. A single-file write
    returns ``[path]`` and ``{}``.
    """
    _pop_noop_kwargs(options)
    options.setdefault("compression", compression or "none")
    if max_rows_by_file:
        options.setdefault("maxRecordsPerFile", str(int(max_rows_by_file)))
    if sanitize_columns:
        # the frame AND every column list move to on-disk names
        # together — a partition column whose name changes under
        # sanitization must still be caught by the bloom guard below
        # and must still resolve at partitionBy
        df, partition_cols, sort_cols, bloom_filter_cols = _sanitize_for_write(
            df, partition_cols, sort_cols, bloom_filter_cols
        )
        dtype = _sanitize_dtype(dtype)
    if bloom_filter_cols:
        # reject partition columns loudly — they become directories,
        # never data-file columns, so a "bloom filter" on one would
        # silently never exist
        missing = [c for c in bloom_filter_cols if c not in df.columns]
        if missing:
            raise ValueError(f"bloom_filter_cols not in the frame: {missing}")
        in_parts = [c for c in bloom_filter_cols if c in (partition_cols or [])]
        if in_parts:
            raise ValueError(
                f"bloom_filter_cols {in_parts} are partition columns — they "
                f"never reach the data files, so no bloom filter can be written"
            )
        for c in bloom_filter_cols:
            options[f"parquet.bloom.filter.enabled#{c}"] = "true"
            if bloom_filter_ndv:
                options[f"parquet.bloom.filter.expected.ndv#{c}"] = str(
                    int(bloom_filter_ndv)
                )
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    return _write(
        df, path, "parquet", dataset, partition_cols, mode, database, table, dtype, spark,
        description=description, parameters=parameters, columns_comments=columns_comments,
        **options
    )


def to_csv(
    df: DataFrame,
    path: str,
    dataset: bool = False,
    partition_cols: Optional[List[str]] = None,
    mode: str = "append",
    database: Optional[str] = None,
    table: Optional[str] = None,
    dtype: Optional[Dict[str, str]] = None,
    sep: str = ",",
    header: bool = True,
    columns: Optional[List[str]] = None,
    sanitize_columns: bool = False,
    description: Optional[str] = None,
    parameters: Optional[Dict[str, str]] = None,
    columns_comments: Optional[Dict[str, str]] = None,
    spark: Optional[SparkSession] = None,
    **options: Any,
) -> Dict[str, Any]:
    """Ref: /root/reference/awswrangler/s3/_write_text.py ``to_csv``.

    ``columns`` writes a subset; catalog-metadata kwargs as in
    ``to_parquet``.

    Returns ``{"paths": [...], "partitions_values": {...}}``. With
    ``dataset=True``, ``paths`` is every data object under ``path``
    after the write and ``partitions_values`` maps every partition
    directory present to its values, as on-disk names (Spark escapes
    e.g. ``:`` to ``%3A``). Unlike awswrangler 1.x, these are not only
    the objects and partitions this call wrote. A single-file write
    returns ``[path]`` and ``{}``.
    """
    _pop_noop_kwargs(options)
    options.setdefault("sep", sep)
    options.setdefault("header", str(header).lower())
    options.setdefault("timestampFormat", "yyyy-MM-dd HH:mm:ss")
    options.setdefault("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss")
    if columns:
        df = df.select(*columns)
    if sanitize_columns:
        df, partition_cols = _sanitize_for_write(df, partition_cols)
        dtype = _sanitize_dtype(dtype)
    return _write(
        df, path, "csv", dataset, partition_cols, mode, database, table, dtype, spark,
        description=description, parameters=parameters, columns_comments=columns_comments,
        **options
    )


def to_json(
    df: DataFrame,
    path: str,
    dataset: bool = False,
    partition_cols: Optional[List[str]] = None,
    mode: str = "append",
    database: Optional[str] = None,
    table: Optional[str] = None,
    dtype: Optional[Dict[str, str]] = None,
    spark: Optional[SparkSession] = None,
    **options: Any,
) -> Dict[str, Any]:
    """Ref: /root/reference/awswrangler/s3/_write_text.py ``to_json``."""
    return _write(
        df, path, "json", dataset, partition_cols, mode, database, table, dtype, spark, **options
    )


def zorder_layout(
    df: DataFrame,
    cols: List[str],
    bits: int = 8,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Re-lay a DataFrame along a Z-order (Morton) curve over ``cols``
    so a subsequent ``to_parquet``/``to_orc`` produces files whose
    min/max statistics prune on EVERY listed column, not just the
    leading sort key — the lakehouse OPTIMIZE-ZORDER layout step.

    Each column maps to a ``2**bits``-bucket id — numeric, date and
    timestamp columns by uniform min/max range (one stats pass),
    strings by md5 hash (equal values cluster; range pruning does not
    apply to hashed strings, point-lookup pruning does) — and the ids'
    bits interleave into one long z-key used for range repartitioning
    plus within-partition sort. The whole layout is one extra shuffle
    at write time; reads pay nothing and gain file skipping on every
    z-ordered column.

    ``sort_cols`` on ``to_parquet`` remains the right tool when ONE
    column dominates filters; z-order trades a little per-column
    clustering for multi-column pruning.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if not cols:
        raise InvalidArgumentValue("zorder_layout requires at least one column")
    if not 1 <= bits * len(cols) <= 63:
        raise InvalidArgumentValue("bits * len(cols) must fit a signed long (1..63)")
    n_buckets = 1 << bits
    schema = {f.name: f.dataType for f in df.schema.fields}
    numeric_like = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
        T.DoubleType, T.DecimalType, T.DateType, T.TimestampType, T.TimestampNTZType,
    )
    range_cols = [c for c in cols if isinstance(schema[c], numeric_like)]

    def as_double(c: str) -> "F.Column":
        # ANSI mode rejects date→double and ntz→double casts; route
        # temporals through their epoch forms
        if isinstance(schema[c], T.DateType):
            return F.unix_date(F.col(c)).cast("double")
        if isinstance(schema[c], T.TimestampNTZType):
            return F.col(c).cast("timestamp").cast("double")
        return F.col(c).cast("double")

    aggs = []
    for c in range_cols:
        aggs.append(F.min(as_double(c)).alias(f"__mn_{c}"))
        aggs.append(F.max(as_double(c)).alias(f"__mx_{c}"))
    stats = df.agg(*aggs).collect()[0] if aggs else None
    z = F.lit(0).cast("long")
    for idx, c in enumerate(cols):
        if c in range_cols:
            mn = stats[f"__mn_{c}"] or 0.0
            mx = stats[f"__mx_{c}"] or 0.0
            span = (mx - mn) or 1.0
            bucket = F.least(
                F.lit(n_buckets - 1),
                F.floor((as_double(c) - F.lit(mn)) / F.lit(span) * n_buckets),
            )
        else:
            bucket = F.conv(F.substring(F.md5(F.col(c).cast("string")), 1, 8), 16, 10).cast(
                "long"
            ) % n_buckets
        bucket = F.coalesce(bucket, F.lit(0)).cast("long")
        for b in range(bits):
            bit = F.shiftright(bucket, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(cols) + idx))
    laid = df.withColumn("__z", z)
    if num_partitions:
        laid = laid.repartitionByRange(num_partitions, "__z")
    else:
        laid = laid.repartitionByRange("__z")
    return laid.sortWithinPartitions("__z").drop("__z")


def to_orc(
    df: DataFrame,
    path: str,
    dataset: bool = False,
    partition_cols: Optional[List[str]] = None,
    mode: str = "append",
    database: Optional[str] = None,
    table: Optional[str] = None,
    dtype: Optional[Dict[str, str]] = None,
    sanitize_columns: bool = False,
    description: Optional[str] = None,
    parameters: Optional[Dict[str, str]] = None,
    columns_comments: Optional[Dict[str, str]] = None,
    spark: Optional[SparkSession] = None,
    **options: Any,
) -> Dict[str, Any]:
    """ORC twin of ``to_parquet`` (dataset modes, partitioning,
    catalog registration). No reference counterpart (awswrangler 1.x
    is parquet/text-only); the Spark ORC sink makes the format free.

    Catalog registration casts TIMESTAMP_NTZ columns to TIMESTAMP
    first: Athena-style DDL has no NTZ type, so the registered table
    declares ``timestamp`` — the parquet reader coerces that
    mismatch, the ORC reader refuses it (ORC_TYPE_CAST), so the cast
    must happen at write time. Pathless round-trips keep NTZ intact.

    Returns ``{"paths": [...], "partitions_values": {...}}``. With
    ``dataset=True``, ``paths`` is every data object under ``path``
    after the write and ``partitions_values`` maps every partition
    directory present to its values, as on-disk names (Spark escapes
    e.g. ``:`` to ``%3A``). Unlike awswrangler 1.x, these are not only
    the objects and partitions this call wrote. A single-file write
    returns ``[path]`` and ``{}``.
    """
    _pop_noop_kwargs(options)
    if sanitize_columns:
        df, partition_cols = _sanitize_for_write(df, partition_cols)
        dtype = _sanitize_dtype(dtype)
    if database and table:
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)]
        if ntz:
            df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return _write(
        df, path, "orc", dataset, partition_cols, mode, database, table, dtype, spark,
        description=description, parameters=parameters, columns_comments=columns_comments,
        **options
    )


def store_parquet_metadata(
    path: str,
    database: str,
    table: str,
    dataset: bool = True,
    spark: Optional[SparkSession] = None,
) -> Dict[str, Any]:
    """Infer a parquet dataset's schema and register it in the catalog
    (crawler-lite). Ref: /root/reference/awswrangler/s3/_write_parquet.py
    ``store_parquet_metadata``.
    """
    from aws_data_wrangler_spark import catalog
    from aws_data_wrangler_spark.s3._read import read_parquet_metadata

    spark = _active_spark(spark)
    columns_types, partitions_types = read_parquet_metadata(path, dataset=dataset, spark=spark)
    catalog.create_parquet_table(
        database=database,
        table=table,
        path=path,
        columns_types=columns_types,
        partitions_types=partitions_types or {},
        mode="overwrite",
        spark=spark,
    )
    if partitions_types:
        catalog.repair_table_partitions(database=database, table=table, spark=spark)
    return {"columns_types": columns_types, "partitions_types": partitions_types}


def merge_upsert_table(
    df: DataFrame,
    path: str,
    keys: List[str],
    order_col: str = "ts",
    tiebreak_cols: Optional[List[str]] = None,
    commit_id: Optional[int] = None,
    spark: Optional[SparkSession] = None,
) -> DataFrame:
    """Batch MERGE-INTO (upsert) against a versioned parquet table —
    the lakehouse UPSERT as a first-class batch API (the later
    reference generations call this ``s3.merge_upsert_table``): union
    the incoming frame with the current snapshot, keep the per-key
    argmax of ``order_col`` (ties broken by ``tiebreak_cols``,
    descending), and commit it as a NEW immutable snapshot directory
    (``v=N+1``) — readers always resolve ``max(v=N)``, so writers never
    overwrite files a reader may be scanning (snapshot isolation from
    plain parquet). Returns the merged snapshot as a DataFrame.

    Retry semantics (the streaming ``upsert_sink`` machinery,
    ``streaming.merge_upsert_batch``): by default a blind retry of the
    same frame is VALUE-idempotent — the argmax of a re-unioned batch
    is unchanged, so it writes a redundant snapshot with identical
    content, never a wrong one. Pass a stable ``commit_id`` (your
    orchestrator's run id) for exactly-once COMMITS too: the id rides
    the snapshot's batch marker, and a retry whose id matches the
    latest committed marker is skipped outright. Per-call cost is one
    shuffle of (snapshot ∪ batch) on the key; retention via
    ``streaming.vacuum_upsert_table``.
    """
    from aws_data_wrangler_spark.streaming import (
        _latest_snapshot_version,
        _snapshot_batch_id,
        merge_upsert_batch,
        read_upsert_table,
    )

    spark = spark or df.sparkSession
    version = _latest_snapshot_version(path, spark)
    if commit_id is None:
        # default = latest marker + 1: guaranteed NOT to match the
        # latest committed marker, so a default-mode merge can never be
        # mistaken for a retry and silently skipped — even when callers
        # mix in their own small-int commit ids
        latest_marker = (
            _snapshot_batch_id(path, version, spark) if version >= 0 else None
        )
        commit_id = (latest_marker if latest_marker is not None else -1) + 1
    merge_upsert_batch(df, commit_id, path, list(keys),
                       [order_col, *(tiebreak_cols or [])])
    result = read_upsert_table(path, spark)
    if result is None:
        # only reachable when the batch was EMPTY and no snapshot
        # existed yet: merge_upsert_batch skips empty batches, so a
        # fresh table never gets its v=0 snapshot — name the actual
        # cause instead of an opaque "produced no snapshot"
        raise ValueError(
            "merge_upsert_table: the input DataFrame is empty and no "
            f"snapshot exists under {path} yet — an empty batch on a "
            "fresh table merges nothing (on an existing table it "
            "returns the current snapshot unchanged)"
        )
    return result
