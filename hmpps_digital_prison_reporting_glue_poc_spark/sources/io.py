"""Readers and sinks (SURVEY.md §2.1 S1-S10).

Spark-first replacements for the reference's Glue DynamicFrame plumbing:

- S1 JSON event-log scan   (reference src/gg_logs_to_parquet.py:70-103,245-247)
- S3 parquet scan          (reference src/apply_change_log_to_delta.py:200-215)
- S5 CSV scan with header  (reference src/apply_to_domains.py:181-197)
- S6 partitioned parquet sink (reference src/gg_logs_to_parquet.py:126-143)
- S7/S8 table sink + merge (reference src/apply_change_log_to_delta.py:231-245,
  src/apply_to_domains.py:213-228) — the reference full-overwrites Delta per
  batch (its own README flags the latency, reference README.md:56); here the
  sink is incremental: Delta MERGE when delta-spark is importable, else a
  partition-scoped dynamic overwrite so only touched partitions rewrite.

Schema-first reads: the CDC JSON is read with an explicit schema (no
inference pass over 100 TB of JSON), which also pins before/after struct
field order — the Murmur3 struct hash (P2) depends on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

try:  # delta-spark is optional in this environment
    from delta.tables import DeltaTable  # type: ignore

    HAS_DELTA = True
except Exception:  # pragma: no cover - environment without delta
    # delta-spark is not installed in this container and package installs
    # are disallowed, so the MERGE INTO branch below cannot execute here;
    # the logical anti-join+union merge is its tested stand-in and the
    # Delta branch is the path that runs on a real cluster.
    DeltaTable = None
    HAS_DELTA = False


def cdc_envelope_schema(row_schema: T.StructType) -> T.StructType:
    """GoldenGate trail-file envelope (FIXTURES.md §1; reference
    dev/_dummy_records_offenders.py:24-33): ``before``/``after`` carry the
    full source row, ``tokens`` is an opaque string map dropped on ingest."""
    return T.StructType(
        [
            T.StructField("table", T.StringType()),
            T.StructField("op_type", T.StringType()),
            T.StructField("op_ts", T.StringType()),
            T.StructField("current_ts", T.StringType()),
            T.StructField("pos", T.StringType()),
            T.StructField("tokens", T.MapType(T.StringType(), T.StringType())),
            T.StructField("before", row_schema),
            T.StructField("after", row_schema),
        ]
    )


def read_cdc_json(
    spark: SparkSession, path: str, row_schema: T.StructType,
    quarantine: bool = False,
) -> DataFrame:
    """S1: schema-first JSON read of raw CDC events.

    ``quarantine=True`` adds a ``_corrupt_record`` column (PERMISSIVE mode):
    malformed lines land there with every schema field null, instead of
    silently becoming all-null rows — use ``split_corrupt`` to fork the
    stream into clean/quarantine frames. At 100 TB a poison line must not
    kill the batch, and must not vanish either."""
    schema = cdc_envelope_schema(row_schema)
    if quarantine:
        schema = T.StructType(
            list(schema.fields)
            + [T.StructField("_corrupt_record", T.StringType())]
        )
        return (
            spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(path)
        )
    return spark.read.schema(schema).json(path)


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Fork a quarantine-enabled CDC read into (clean, corrupt)."""
    from pyspark.sql import functions as F

    # Caching is required by Spark for referencing _corrupt_record in a
    # filter (see SPARK-21610); the frame is one batch of raw events.
    cached = df.cache()
    clean = cached.filter(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record"
    )
    corrupt = cached.filter(F.col("_corrupt_record").isNotNull()).select(
        "_corrupt_record"
    )
    return clean, corrupt


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.option("header", "true").csv(path)


def read_table(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    if fmt == "csv":
        return read_csv(spark, path)
    return spark.read.format(fmt).load(path)


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_by: list[str], mode: str = "append"
) -> None:
    """S6: event-log sink. Append-only (an event log is immutable);
    partitioned for read-side pruning."""
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)


def write_table(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite",
                partition_by: list[str] | None = None) -> None:
    writer = df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def merge_write(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    pk: list[str],
    delete_col: str | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """S7 rebuilt: incremental upsert sink.

    With delta-spark present: a true ``MERGE INTO`` — runtime scales with
    |updates| + |touched files|, not |target|.

    Parquet fallback, ``partition_by`` given (the scale path): the merge is
    PARTITION-SCOPED — touched partition values are derived from the
    updates (distinct over the partition columns, metadata-scale), only
    those partitions of the target are read (static partition pruning via
    a literal filter), and the merged result is written back with dynamic
    partition overwrite, so untouched partition files are never read,
    rewritten, or moved. Runtime scales with |updates| + |touched
    partitions|, not |target| (BASELINE.md's bar). A touched partition
    whose rows are ALL deleted is dropped explicitly (dynamic overwrite
    only replaces partitions present in the result).

    Parquet fallback without ``partition_by``: read target, anti-join out
    updated keys, union the new images, full rewrite via a non-destructive
    temp-dir swap — reference-equivalent behavior, correct but
    write-amplified; give the sink a partition column at any real scale.

    ``delete_col``: boolean column on ``updates`` marking rows whose key
    should be removed rather than upserted. The partition columns must be
    stable per key (a row never migrates partitions between versions) —
    same invariant a Delta/Hudi partitioned upsert requires.
    """
    if HAS_DELTA and DeltaTable.isDeltaTable(spark, path):
        cond = " AND ".join(f"t.{k} = u.{k}" for k in pk)
        builder = DeltaTable.forPath(spark, path).alias("t").merge(
            updates.alias("u"), cond
        )
        if delete_col:
            builder = builder.whenMatchedDelete(condition=f"u.{delete_col}")
            builder = builder.whenMatchedUpdateAll(condition=f"NOT u.{delete_col}")
            builder = builder.whenNotMatchedInsertAll(condition=f"NOT u.{delete_col}")
        else:
            builder = builder.whenMatchedUpdateAll().whenNotMatchedInsertAll()
        builder.execute()
        return

    # Parquet fallback: logical merge via anti-join + union.
    # Existence probe via the JVM filesystem API (works for any Hadoop
    # scheme, and avoids a logged executor error from a failed read).
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    exists = fs.exists(jpath)
    if delete_col is not None:
        live = updates.filter(~updates[delete_col]).drop(delete_col)
    else:
        live = updates

    if partition_by:
        if exists:
            _merge_write_partitioned(
                spark, updates, live, path, pk, partition_by, fs
            )
        else:  # first write: lay down the partitioned layout directly
            live.write.mode("overwrite").partitionBy(*partition_by).parquet(
                path
            )
        return
    if exists:
        target = spark.read.parquet(path)
        untouched = target.join(updates.select(*pk).distinct(), on=pk, how="left_anti")
        # Schema evolution (reference S8: Delta mergeSchema on domain
        # writes, src/apply_to_domains.py:223-224): new columns on either
        # side surface as nulls on the other.
        result = untouched.unionByName(live, allowMissingColumns=True)
    else:
        result = live
    # Non-destructive swap: materialize the merged result to a sibling temp
    # dir FIRST (reading the old data while writing the new), then swap it
    # into place. A failure mid-write leaves the existing target untouched;
    # a failure between delete and rename leaves the complete merged copy
    # in the temp dir for recovery — never a half-overwritten table.
    tmp = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + ".__merge_tmp__")
    if fs.exists(tmp):
        fs.delete(tmp, True)
    result.write.mode("overwrite").parquet(tmp.toString())
    if exists:
        fs.delete(jpath, True)
    fs.rename(tmp, jpath)


def _merge_write_partitioned(
    spark: SparkSession,
    updates: DataFrame,
    live: DataFrame,
    path: str,
    pk: list[str],
    partition_by: list[str],
    fs,
) -> None:
    """Partition-scoped parquet merge (the fallback's scale path).

    1. Distinct partition tuples of the updates — metadata-scale collect
       (one row per touched partition, same driver budget as a Delta
       commit's file listing).
    2. Literal IN filter on the partition columns → the target scan
       statically prunes to touched partition directories only
       (``.explain`` shows the pruned ``PartitionFilters``).
    3. Anti-join out updated keys within the touched slice, union the
       live images, write back under
       ``partitionOverwriteMode=dynamic`` — only partitions present in
       the result are replaced; untouched partition files are never
       read, rewritten, or moved (pytest pins byte-identical files).
    4. Touched partitions with zero surviving rows (all keys deleted)
       are removed explicitly — dynamic overwrite cannot drop a
       partition it writes no rows for.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    touched = [tuple(r) for r in updates.select(*partition_by).distinct().collect()]
    if not touched:
        return
    # A NULL partition value must still select the
    # __HIVE_DEFAULT_PARTITION__ slice — plain == would drop its
    # pre-existing rows while dynamic overwrite rewrites the partition.
    # isNull (not eqNullSafe(lit(None))): a VOID-typed literal is
    # rejected by partition pruning.
    def _part_eq(c, v):
        return F.col(c).isNull() if v is None else (F.col(c) == F.lit(v))

    part_filter = reduce(
        lambda a, b: a | b,
        (
            reduce(
                lambda x, y: x & y,
                (_part_eq(c, v) for c, v in zip(partition_by, vals)),
            )
            for vals in touched
        ),
    )
    target_slice = spark.read.parquet(path).filter(part_filter)
    untouched_rows = target_slice.join(
        updates.select(*pk).distinct(), on=pk, how="left_anti"
    )
    result = untouched_rows.unionByName(live, allowMissingColumns=True)

    # Spark refuses to overwrite a path its own plan reads from, so the
    # merged slice materializes to a sibling temp dir first (sized by the
    # touched partitions, not the target), then replays into the target
    # under dynamic overwrite. Failure before the dynamic overwrite
    # leaves the target untouched.
    jvm = spark._jvm
    tmp = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + ".__merge_tmp__")
    if fs.exists(tmp):
        fs.delete(tmp, True)
    result.write.mode("overwrite").partitionBy(*partition_by).parquet(
        tmp.toString()
    )
    # Explicit schema on the read-back: partition-type inference would
    # yield VOID for an all-null partition slice (write rejects it), and
    # fails outright when every touched row was deleted (empty tmp dir).
    staged = spark.read.schema(result.schema).parquet(tmp.toString())

    # Writer-level option, NOT spark.conf.set: inside foreachBatch the
    # session is a clone and a conf set on the wrong one silently falls
    # back to static overwrite (wiping untouched partitions).
    (
        staged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )

    # drop touched partitions that ended up empty (all rows deleted)
    remaining = {
        tuple(r)
        for r in staged.select(*partition_by).distinct().collect()
    }
    for vals in touched:
        if vals in remaining:
            continue
        subdir = "/".join(
            f"{c}={'__HIVE_DEFAULT_PARTITION__' if v is None else v}"
            for c, v in zip(partition_by, vals)
        )
        p = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/" + subdir)
        if fs.exists(p):
            fs.delete(p, True)
    fs.delete(tmp, True)


def read_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC scan (built-in vectorized reader — same pushdown/pruning
    contract as parquet; the other columnar lake format a reporting
    estate commonly holds). Pass ``schema`` when the directory may hold
    ZERO data files (an empty partitioned write leaves only _SUCCESS and
    schema inference raises UNABLE_TO_INFER_SCHEMA; r9 fuzz sweep)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
) -> DataFrame:
    """Multimodal ingest: Spark's ``binaryFile`` source — one row per
    file with (path, modificationTime, length, content BINARY). This is
    the production loading path for image/audio/video directories; the
    content column feeds directly into the Arrow-batched kernels in
    ``operators/multimodal.py`` (rename to ``media_id``/``content`` via
    :func:`binary_dir_as_media`). Partition-parallel: each file is a
    split, no driver-side listing beyond the index."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def binary_dir_as_media(files: DataFrame) -> DataFrame:
    """Adapt a ``binaryFile`` frame to the MEDIA_SCHEMA contract the
    multimodal operators consume: a stable integer media_id (xxhash64 of
    the file path — content-independent so re-ingests keep ids), the
    payload, and the filename extension as the media_type hint."""
    from pyspark.sql import functions as F

    return files.select(
        F.xxhash64(F.col("path")).alias("media_id"),
        F.col("content"),
        F.lower(
            F.regexp_extract(F.col("path"), r"\.([A-Za-z0-9]+)$", 1)
        ).alias("media_type"),
    )
