"""Idempotent dedupe-upsert sink (SURVEY.md §2.6 J1–J3, §2.8 T3/T4).

The reference merges each new batch into previously-written hourly/daily
JSON files with ordered-concat logic that SKIPS the write on overlap
(parse_canserver_filtered_log.py:327-344, infer_stationary_states.py:117-133)
— and its existence check can never fire on its own output (the
`.parquet`-name vs `.json`-sink quirk, :328 vs :348). We implement the
*intended* semantics: target ∪ batch, deduplicated on the logical key —
re-delivering any batch (SQS at-least-once, serverless.yml:179-204) is
a no-op.

Scale stance: never rewrite the whole table. With
``partitionOverwriteMode=dynamic`` only the partitions present in the
incoming batch are read back, merged, and overwritten — at 100 TB a
batch touches a handful of (device, date, hour) partitions, so the
merge cost is proportional to the batch, not the table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _write_merged(merged: DataFrame, target_dir: str, partition_cols: list[str]) -> None:
    """Overwrite ``target_dir`` with ``merged``, which was (partly)
    READ from ``target_dir``. Partitioned: dynamic overwrite — the
    commit protocol stages new files and deletes replaced partitions at
    commit time, after every task has finished reading, so the
    self-read is safe. Unpartitioned: dynamic mode leaves old root
    files in place (verified), so cut the lineage with an eager
    localCheckpoint and do a static overwrite."""
    spark = merged.sparkSession
    if partition_cols:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        merged.write.mode("overwrite").partitionBy(*partition_cols).parquet(target_dir)
    else:
        merged = merged.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(target_dir)


def upsert_parquet(
    batch_df: DataFrame,
    target_dir: str,
    keys: list[str],
    partition_cols: list[str] | None = None,
) -> None:
    """Merge ``batch_df`` into the parquet table at ``target_dir``,
    deduplicating on ``keys`` (first writer wins — union puts existing
    rows first so re-delivered rows never replace committed ones)."""
    spark = batch_df.sparkSession
    partition_cols = list(partition_cols or [])

    if _table_exists(spark, target_dir):
        old = spark.read.parquet(target_dir)
        if partition_cols:
            # read back only the partitions the batch touches: a
            # broadcast semi-join against the batch's distinct partition
            # values → partition pruning on the parquet scan.
            touched = batch_df.select(*partition_cols).distinct()
            old = old.join(F.broadcast(touched), on=partition_cols, how="left_semi")
        # first-writer-wins must be deterministic: dropDuplicates keeps an
        # arbitrary row, so rank committed rows (_src=0) ahead of the batch.
        merged = (
            old.withColumn("_src", F.lit(0))
            .unionByName(batch_df.withColumn("_src", F.lit(1)))
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy(*keys).orderBy("_src")
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_src", "_rn")
        )
    else:
        merged = batch_df.dropDuplicates(keys)

    _write_merged(merged, target_dir, partition_cols)


def merge_plan(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    *,
    update_cols: list[str] | None = None,
    delete_condition=None,
    insert: bool = True,
) -> DataFrame:
    """Lakehouse ``MERGE INTO`` as a pure DataFrame plan: one
    full-outer shuffle join on ``keys``, then per-column conditional
    projection — WHEN MATCHED AND <delete_condition> THEN DELETE,
    WHEN MATCHED THEN UPDATE SET <update_cols>, WHEN NOT MATCHED
    THEN INSERT (if ``insert``), target-only rows pass through.

    The reference's merge is ordered list-concat per output file with
    overlap-skip (parse_canserver_filtered_log.py:327-344); this is the
    keyed row-level semantics that logic approximates. ``source`` rows
    must be unique per key (enforce upstream — standard MERGE
    precondition). ``delete_condition`` is a Column evaluated against
    SOURCE columns. Source may carry extra columns (e.g. an op flag);
    they are dropped from the output.

    Scale: the single full-outer join is the irreducible shuffle of any
    keyed merge; both sides exchange on the key and AQE splits skew.
    Used through :func:`merge_into`, the target side is pruned to the
    batch's partitions first, so cost tracks the batch, not the table.
    """
    data_cols = [c for c in target.columns if c not in keys]
    s_cols = [c for c in data_cols if c in source.columns]
    upd = set(update_cols) if update_cols is not None else set(s_cols)

    if delete_condition is not None:
        source = source.withColumn("_del", delete_condition)
    else:
        source = source.withColumn("_del", F.lit(False))
    t = target.select(
        *keys, *[F.col(c).alias(f"_t_{c}") for c in data_cols]
    ).withColumn("_t", F.lit(True))
    s = source.select(
        *keys, *[F.col(c).alias(f"_s_{c}") for c in s_cols], "_del"
    ).withColumn("_s", F.lit(True))

    j = t.join(s, on=keys, how="full_outer")
    matched = F.col("_t").isNotNull() & F.col("_s").isNotNull()
    t_only = F.col("_s").isNull()
    s_only = F.col("_t").isNull()
    # unmatched delete rows must NOT fall through to INSERT — otherwise
    # re-delivering a batch resurrects rows it already deleted
    keep = (
        t_only
        | (matched & ~F.col("_del"))
        | (s_only & F.lit(insert) & ~F.col("_del"))
    )

    out = [F.col(k) for k in keys]  # join on=keys coalesces key cols
    for c in data_cols:
        if c in upd:
            expr = F.when(t_only, F.col(f"_t_{c}")).otherwise(F.col(f"_s_{c}"))
        elif c in s_cols:
            expr = F.when(s_only, F.col(f"_s_{c}")).otherwise(F.col(f"_t_{c}"))
        else:
            expr = F.col(f"_t_{c}")
        out.append(expr.alias(c))
    return j.filter(keep).select(*out)


def merge_into(
    source_df: DataFrame,
    target_dir: str,
    keys: list[str],
    *,
    update_cols: list[str] | None = None,
    delete_condition=None,
    insert: bool = True,
    partition_cols: list[str] | None = None,
) -> None:
    """Apply :func:`merge_plan` against the parquet table at
    ``target_dir`` in place — MERGE INTO without a table-format
    dependency. With ``partition_cols``, only partitions present in the
    source batch are read back and rewritten (dynamic overwrite), so a
    batch-sized merge never scans the full table; partition values must
    therefore be stable under the merge (carried by the key)."""
    spark = source_df.sparkSession
    partition_cols = list(partition_cols or [])

    if _table_exists(spark, target_dir):
        target = spark.read.parquet(target_dir)
        if partition_cols:
            touched = source_df.select(*partition_cols).distinct()
            target = target.join(
                F.broadcast(touched), on=partition_cols, how="left_semi"
            )
        merged = merge_plan(
            target,
            source_df,
            keys,
            update_cols=update_cols,
            delete_condition=delete_condition,
            insert=insert,
        )
    else:
        merged = source_df
        if delete_condition is not None:
            merged = merged.filter(~delete_condition)
        target_cols = [c for c in merged.columns if c != "_del"]
        merged = merged.select(*target_cols)

    _write_merged(merged, target_dir, partition_cols)


def _table_exists(spark: SparkSession, path: str) -> bool:
    if not os.path.exists(path):
        return False
    # a dir with no committed parquet part files is "absent"
    for root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def foreach_batch_upsert(target_dir: str, keys: list[str], partition_cols: list[str] | None = None):
    """Adapter for ``writeStream.foreachBatch`` — the streaming sink that
    replaces the reference's per-file S3 merge round-trip."""

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        # the upsert reads the batch twice (touched partitions + union):
        # cache it so the source decode and any stateful Python operator
        # upstream run once per micro-batch, not once per read
        batch_df.persist()
        try:
            upsert_parquet(batch_df, target_dir, keys, partition_cols)
        finally:
            batch_df.unpersist()

    return _sink
