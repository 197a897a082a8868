"""MergeTree-equivalent physical layout for engine tables.

Reference physical design (init.sql:17-19, 94-96):
  ENGINE = MergeTree()  PARTITION BY toYYYYMM(timestamp)  ORDER BY (<keys>)

Spark-native equivalent, and why it holds at 100 TB:

* ``PARTITION BY toYYYYMM`` -> Hive-style directory partitioning on a
  materialized ``ym`` int column. Catalyst prunes partitions from any
  predicate on ``ym`` (and on ``timestamp`` once queries filter through the
  helper below) — a month-scoped query over 10 years of data scans ~0.8%
  of files before a single row is read.
* ``ORDER BY (...)`` (sparse primary index) -> ``sortWithinPartitions`` on
  the same keys before write. Parquet row-group min/max statistics then
  give data-skipping on those columns, which is the same read-elimination
  mechanism as ClickHouse's sparse index (granule skipping).
* Secondary skip indexes (``INDEX ... TYPE bloom_filter``, the granule
  skipping init.sql relies on beyond the sort key) -> per-column Parquet
  BLOOM FILTERS on the high-cardinality lookup columns (``BLOOM_KEYS``:
  chat_id, message_id). A point lookup on a non-sort-key column then
  skips whole row groups at the parquet-mr layer before a single page
  is decoded — the exact analog of ClickHouse granule skipping on a
  secondary index. Dictionary encoding is disabled on those columns at
  write: parquet-mr omits the bloom when every page of a chunk is
  dictionary-encoded (the dictionary already answers membership
  exactly), which is true at fixture scale but false at 100 TB where
  high-cardinality chunks fall back to plain encoding mid-file and lose
  exact skipping — pinning the bloom at write makes the skip index
  physical at every scale, like ClickHouse's.
* MergeTree background merges -> :func:`compact_table`, an explicit
  compaction pass that rewrites a partition's many micro-batch files into
  few large sorted files. Streaming appends create small files by design
  (one per trigger per task); at scale, compaction is what keeps scan
  parallelism and open-file costs sane.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_nats_to_clickhouse_spark.operators.hints import bounded

from go_nats_to_clickhouse_spark.functions.clickhouse import to_yyyymm
from go_nats_to_clickhouse_spark.functions.constant import once_per_jvm

#: sort keys per engine table (init.sql:19,32,46,96)
SORT_KEYS: dict[str, tuple[str, ...]] = {
    "raw": ("timestamp", "chat_id", "sequence"),
    "all_streams": ("timestamp", "chat_id", "sequence"),
    "analytics": ("client_code", "project_code", "user_id", "session_id", "timestamp"),
}

PARTITION_COL = "ym"

#: ClickHouse secondary-skip-index analog (init.sql:19 granule skipping):
#: per-table high-cardinality point-lookup columns that get a Parquet
#: bloom filter at write. Sort keys already have min/max skipping; these
#: columns do not (a ts-sorted file spans the full chat_id/message_id
#: range, so min/max never excludes a row group).
BLOOM_KEYS: dict[str, tuple[str, ...]] = {
    "raw": ("chat_id",),
    "all_streams": ("chat_id",),
    "analytics": ("message_id", "chat_id"),
}

#: expected distinct values per row group for bloom sizing — ~100k keys
#: at 1% false-positive is ~120 KB per column chunk, negligible against
#: a 128 MB row group and row-group-bounded regardless of table size.
BLOOM_NDV = 100_000


def bloom_options(cols: tuple[str, ...], ndv: int = BLOOM_NDV) -> dict[str, str]:
    """Parquet writer options enabling a bloom filter on each column.

    Dictionary encoding is disabled per bloom column (module docstring:
    parquet-mr silently omits the bloom for all-dictionary chunks, which
    would leave the skip index absent exactly until the scale where it
    matters)."""
    opts: dict[str, str] = {}
    for c in cols:
        opts[f"parquet.bloom.filter.enabled#{c}"] = "true"
        opts[f"parquet.bloom.filter.expected.ndv#{c}"] = str(ndv)
        opts[f"parquet.enable.dictionary#{c}"] = "false"
    return opts


def bloom_skip_report(
    spark: SparkSession, path: str, column: str, value: str
) -> dict[str, int]:
    """Probe every row group of a table for ``column = value`` through
    parquet-java's own bloom readers — the same library Spark's scan
    uses for row-group filtering, so ``excluded`` counts row groups the
    reader PROVABLY skips on that point lookup. String columns only
    (the BLOOM_KEYS columns are strings; py4j cannot disambiguate the
    int/long hash overloads). Driver-side walk over footers only — no
    row data is read; bounded by file count, not table size."""
    if not isinstance(value, str):
        raise TypeError("bloom_skip_report probes string columns only")
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    binary = jvm.org.apache.parquet.io.api.Binary.fromString(value)
    report = {"row_groups": 0, "with_bloom": 0, "excluded": 0}
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fname in files:
            if not fname.endswith(".parquet"):
                continue
            p = jvm.org.apache.hadoop.fs.Path(os.path.join(root, fname))
            infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                p, conf
            )
            reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
            try:
                blocks = reader.getFooter().getBlocks()
                for bi in range(blocks.size()):
                    block = blocks.get(bi)
                    cols = block.getColumns()
                    for ci in range(cols.size()):
                        meta = cols.get(ci)
                        if meta.getPath().toDotString() != column:
                            continue
                        report["row_groups"] += 1
                        if meta.getBloomFilterOffset() < 0:
                            continue
                        bf = reader.getBloomFilterDataReader(block).readBloomFilter(
                            meta
                        )
                        if bf is None:
                            continue
                        report["with_bloom"] += 1
                        if not bf.findHash(bf.hash(binary)):
                            report["excluded"] += 1
            finally:
                reader.close()
    return report


def with_partition_col(df: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    """Materialize the monthly partition key toYYYYMM(timestamp) -> ym."""
    return df.withColumn(PARTITION_COL, _partition_key(ts_col))


_partition_key = once_per_jvm(to_yyyymm)


def write_partitioned(
    df: DataFrame,
    path: str,
    sort_keys: tuple[str, ...],
    ts_col: str = "timestamp",
    mode: str = "append",
    bloom_cols: tuple[str, ...] = (),
) -> None:
    """Append a batch in MergeTree-like layout: monthly dirs, sorted files,
    bloom skip indexes on ``bloom_cols`` (see :data:`BLOOM_KEYS`)."""
    out = with_partition_col(df, ts_col).sortWithinPartitions(*sort_keys)
    out.write.mode(mode).options(**bloom_options(bloom_cols)).partitionBy(
        PARTITION_COL
    ).parquet(path)


def read_table(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Read a layout table; ym comes back as a partition column and prunes.
    ``schema`` names the data columns to read and spares the read its
    schema-inference job; the int ``ym`` partition column is added to it."""
    if schema is None:
        return spark.read.parquet(path)
    full = T.StructType([*schema.fields, T.StructField(PARTITION_COL, T.IntegerType())])
    return spark.read.schema(full).parquet(path)


def compact_table(
    spark: SparkSession,
    path: str,
    sort_keys: tuple[str, ...],
    target_files_per_partition: int = 1,
    partition_cols: tuple[str, ...] = (PARTITION_COL,),
    bloom_cols: tuple[str, ...] = (),
) -> None:
    """Rewrite a table into few large sorted files per partition — the
    analog of MergeTree background merges. Run periodically, not per batch.
    ``partition_cols`` must match the table's existing layout (e.g.
    ("stream", "ym") for the per-stream raw table); pass the table's
    ``BLOOM_KEYS`` as ``bloom_cols`` so the merge preserves its skip
    indexes (ClickHouse merges rebuild secondary indexes too). Writes to a
    temp location, renames the old directory aside, swaps the new one in,
    then deletes the old — at no point is the table path absent with the
    data only in a temp dir, so a crash at any step leaves either the old
    or the new table readable (plus at most a leftover __compact_old to
    sweep)."""
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compact_tmp"
    old = path.rstrip("/") + "__compact_old"
    (
        df.repartition(target_files_per_partition, *[F.col(c) for c in partition_cols])
        .sortWithinPartitions(*sort_keys)
        .write.mode("overwrite")
        .options(**bloom_options(bloom_cols))
        .partitionBy(*partition_cols)
        .parquet(tmp)
    )
    # Local-FS swap; on a real deployment this would be a metastore/table
    # format (Delta/Iceberg) commit instead.
    import shutil

    def _carry_sidecars_then_drop(old_dir: str) -> None:
        # Carry non-data sidecars out of the retired generation before
        # dropping it: `_`-prefixed entries are invisible to the scan (so
        # absent from the rewrite) but must SURVIVE a merge — detached
        # partitions (`_detached/`, DETACH PARTITION) outlive background
        # merges in ClickHouse, and losing them would make compaction
        # silently destructive. Running this on a LEFTOVER old dir too
        # means a crash between the swap and the carry still strands
        # nothing: the next compaction rescues the sidecars before it
        # sweeps the leftover.
        for entry in os.listdir(old_dir):
            if entry.startswith("_") and not os.path.exists(
                os.path.join(path, entry)
            ):
                os.rename(
                    os.path.join(old_dir, entry), os.path.join(path, entry)
                )
        shutil.rmtree(old_dir)

    if os.path.exists(old):
        _carry_sidecars_then_drop(old)  # leftover from a crashed swap
    os.rename(path, old)
    os.rename(tmp, path)
    _carry_sidecars_then_drop(old)
    # Carried text-index sidecars reference the RETIRED generation's
    # files; rebuild them over the new parts, as ClickHouse merges
    # rebuild secondary indexes (search also self-protects: a stale
    # sidecar falls back to a full scan, never a wrong result).
    rebuild_text_indexes(spark, path)


def expire_partitions(path: str, before_ym: int) -> list[int]:
    """TTL expiry: drop every monthly partition older than ``before_ym`` —
    the analog of MergeTree ``TTL timestamp + INTERVAL n MONTH`` (which
    ClickHouse also implements as whole-part drops when the TTL key is the
    partition key). Pure metadata/directory operation: no file is read or
    rewritten, so expiring 5 years out of a 10-year 100-TB table costs
    O(months), not O(bytes). Returns the dropped ym values."""
    import shutil

    dropped = []
    for entry in sorted(os.listdir(path)):
        if not entry.startswith(f"{PARTITION_COL}="):
            continue
        ym = int(entry.split("=", 1)[1])
        if ym < before_ym:
            shutil.rmtree(os.path.join(path, entry))
            dropped.append(ym)
    return dropped


def erase_keys(
    spark: SparkSession,
    path: str,
    predicate_col: str,
    values: list,
    sort_keys: tuple[str, ...],
) -> dict[str, int]:
    """Key erasure (GDPR / right-to-be-forgotten): rewrite ONLY the
    partitions that contain matching rows, dropping those rows — the
    analog of ClickHouse ``ALTER TABLE ... DELETE WHERE`` mutations, which
    likewise rewrite affected parts in place.

    Scale shape: a first partition-pruned pass finds the affected ym set
    from parquet statistics + a column-pruned scan (only ``predicate_col``
    and ym are read); untouched partitions are never opened for the
    rewrite. Each affected partition is rewritten sorted, preserving the
    MergeTree-like layout. Returns {"partitions_rewritten", "rows_erased"}.
    """
    df = spark.read.parquet(path)
    hit = df.filter(F.col(predicate_col).isin(values))
    affected = [
        r[0]
        for r in hit.select(PARTITION_COL).distinct().collect()
        # bounded: at most one row per month in the table's lifetime
    ]
    if not affected:
        return {"partitions_rewritten": 0, "rows_erased": 0}
    rows_before = df.filter(F.col(PARTITION_COL).isin(affected)).count()
    import shutil

    for ym in affected:
        part_dir = os.path.join(path, f"{PARTITION_COL}={ym}")
        keep = (
            spark.read.parquet(part_dir)
            .filter(~F.col(predicate_col).isin(values))
            .sortWithinPartitions(*[k for k in sort_keys if k != PARTITION_COL])
        )
        # Staging dirs are '.'-prefixed AND '='-free so partition
        # inference can NEVER see them (empirically: a '_'-prefixed dir
        # whose name contains '=' IS still parsed as a partition dir and
        # raises CONFLICTING_PARTITION_COLUMN_NAMES; '.'-prefixed and
        # '='-free names are skipped). A crash between the renames below
        # leaves at most a hidden leftover to sweep, not a discoverable
        # ym=<v>__erase_old dir that would resurrect supposedly-erased
        # rows on the next read (ADVICE r4, medium; pinned by
        # test_crashed_swap_leftovers_are_invisible_to_reads).
        tmp = os.path.join(path, f".erase_tmp-{PARTITION_COL}-{ym}")
        keep.write.mode("overwrite").parquet(tmp)
        old = os.path.join(path, f".erase_old-{PARTITION_COL}-{ym}")
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(part_dir, old)
        os.rename(tmp, part_dir)
        shutil.rmtree(old)
    rows_after = (
        spark.read.parquet(path)
        .filter(F.col(PARTITION_COL).isin(affected))
        .count()
    )
    return {
        "partitions_rewritten": len(affected),
        "rows_erased": rows_before - rows_after,
    }


def update_mutation(
    spark: SparkSession,
    path: str,
    set_exprs: dict,
    where,
    sort_keys: tuple[str, ...],
) -> dict[str, int]:
    """``ALTER TABLE ... UPDATE col = expr WHERE cond`` — the in-place
    column-mutation sibling of :func:`erase_keys` (ClickHouse mutations
    docs; both rewrite affected parts, neither touches anything else).
    ``set_exprs`` maps column name -> new-value Column; rows matching
    ``where`` get the new values, all other rows (and all untouched
    partitions' files, byte-for-byte) are preserved.

    Scale shape identical to the DELETE mutation: a column-pruned pass
    finds the affected partition set (bounded collect — one row per
    partition in the table's lifetime), each affected partition is
    rewritten sorted through the crash-safe hidden-staging swap, and a
    WHERE that prunes on the partition key never opens the rest of the
    table. Returns {"partitions_rewritten", "rows_updated"}."""
    import shutil

    df = spark.read.parquet(path)
    affected = [
        r[0]
        for r in df.filter(where).select(PARTITION_COL).distinct().collect()
    ]
    if not affected:
        return {"partitions_rewritten": 0, "rows_updated": 0}
    rows_updated = df.filter(where).filter(
        F.col(PARTITION_COL).isin(affected)
    ).count()
    for ym in affected:
        part_dir = os.path.join(path, f"{PARTITION_COL}={ym}")
        # reading the partition dir directly drops the partition column;
        # re-attach it as a literal so `where` may reference it, and drop
        # it again before the write (the directory name carries it)
        rows = spark.read.parquet(part_dir).withColumn(
            PARTITION_COL, F.lit(ym)
        )
        for col, expr in set_exprs.items():
            rows = rows.withColumn(col, F.when(where, expr).otherwise(F.col(col)))
        rows = rows.drop(PARTITION_COL).sortWithinPartitions(
            *[k for k in sort_keys if k != PARTITION_COL]
        )
        tmp = os.path.join(path, f".update_tmp-{PARTITION_COL}-{ym}")
        rows.write.mode("overwrite").parquet(tmp)
        old = os.path.join(path, f".update_old-{PARTITION_COL}-{ym}")
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(part_dir, old)
        os.rename(tmp, part_dir)
        shutil.rmtree(old)
    return {
        "partitions_rewritten": len(affected),
        "rows_updated": rows_updated,
    }


def lightweight_delete(
    spark: SparkSession,
    path: str,
    mask_path: str,
    where,
    key_cols: tuple[str, ...],
) -> int:
    """ClickHouse LIGHTWEIGHT DELETE (``DELETE FROM ... WHERE``): mark
    rows deleted NOW, clean them up LATER — the instant-visibility /
    deferred-IO point of the feature (ClickHouse stores a ``_row_exists``
    mask inside the part; here the mask is a sidecar key table, which on
    a 100 TB table is O(deleted keys) bytes written versus the heavy
    DELETE mutation's partition rewrites). No table file is touched
    (mtime-pinned in tests); readers go through :func:`read_with_mask`;
    :func:`apply_mask_compact` is the background merge that makes the
    deletion physical. Returns the number of newly masked rows."""
    keys = (
        spark.read.parquet(path)
        .filter(where)
        .select(*key_cols)
        .dropDuplicates(list(key_cols))
    )
    n = keys.count()
    if n:
        keys.coalesce(1).write.mode("append").parquet(mask_path)
    return n


def read_with_mask(
    spark: SparkSession, path: str, mask_path: str, key_cols: tuple[str, ...]
) -> DataFrame:
    """Read a table minus its lightweight-deleted rows: one broadcast
    anti-join against the (deleted-keys-sized) mask sidecar — the
    ``_row_exists`` filter ClickHouse applies under every SELECT until
    the parts are rewritten."""
    df = spark.read.parquet(path)
    if not os.path.exists(mask_path):
        return df
    mask = spark.read.parquet(mask_path).dropDuplicates(list(key_cols))
    return df.join(F.broadcast(bounded(mask, "lightweight-delete mask, O(deleted keys), cleared by compaction")), list(key_cols), "left_anti")


def apply_mask_compact(
    spark: SparkSession,
    path: str,
    mask_path: str,
    sort_keys: tuple[str, ...],
) -> dict[str, int]:
    """Make lightweight deletions PHYSICAL — the background-merge half:
    rewrite only the partitions containing masked rows (same pruning and
    crash-safe swap as :func:`erase_keys`), then clear the mask. After
    this, a plain read equals the masked read and the deleted bytes are
    actually gone."""
    import shutil

    if not os.path.exists(mask_path):
        return {"partitions_rewritten": 0, "rows_erased": 0}
    df = spark.read.parquet(path)
    mask = spark.read.parquet(mask_path)
    key_cols = tuple(mask.columns)
    mask = mask.dropDuplicates(list(key_cols))
    hit = df.join(F.broadcast(bounded(mask, "lightweight-delete mask, O(deleted keys), cleared by compaction")), list(key_cols), "left_semi")
    affected = [
        r[0] for r in hit.select(PARTITION_COL).distinct().collect()
    ]
    rows_erased = 0
    for ym in affected:
        part_dir = os.path.join(path, f"{PARTITION_COL}={ym}")
        rows = spark.read.parquet(part_dir)
        keep = rows.join(F.broadcast(bounded(mask, "lightweight-delete mask, O(deleted keys), cleared by compaction")), list(key_cols), "left_anti")
        rows_erased += rows.count() - keep.count()
        keep = keep.sortWithinPartitions(
            *[k for k in sort_keys if k != PARTITION_COL]
        )
        tmp = os.path.join(path, f".lwd_tmp-{PARTITION_COL}-{ym}")
        keep.write.mode("overwrite").parquet(tmp)
        old = os.path.join(path, f".lwd_old-{PARTITION_COL}-{ym}")
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(part_dir, old)
        os.rename(tmp, part_dir)
        shutil.rmtree(old)
    shutil.rmtree(mask_path, ignore_errors=True)
    return {
        "partitions_rewritten": len(affected),
        "rows_erased": rows_erased,
    }


def upsert_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: tuple[str, ...],
    sort_keys: tuple[str, ...],
    ts_col: str = "timestamp",
) -> dict[str, int]:
    """Latest-wins upsert — the ReplacingMergeTree ingestion contract
    (and the idempotent-re-ingestion primitive: replaying a batch after a
    crash replaces rather than duplicates). Only the partitions the
    update batch touches are rewritten: existing rows whose key appears
    in the batch are dropped, the batch is unioned in, and the partition
    is rewritten sorted. Returns {"partitions_rewritten", "rows_upserted"}.

    At 100 TB this is the mutation shape a table format (Delta/Iceberg
    MERGE) implements with the same pruning; here the commit is the same
    atomic directory swap :func:`compact_table` uses."""
    import shutil

    up = with_partition_col(updates, ts_col)
    affected = [r[0] for r in up.select(PARTITION_COL).distinct().collect()]
    n_up = updates.count()
    for ym in affected:
        part_dir = os.path.join(path, f"{PARTITION_COL}={ym}")
        batch = up.filter(F.col(PARTITION_COL) == ym).drop(PARTITION_COL)
        if os.path.exists(part_dir):
            old_rows = spark.read.parquet(part_dir)
            keys = batch.select(*key_cols)
            kept = old_rows.join(keys, list(key_cols), "left_anti")
            merged = kept.unionByName(batch)
        else:
            merged = batch
        merged = merged.sortWithinPartitions(
            *[k for k in sort_keys if k != PARTITION_COL]
        )
        # Hidden ('.'-prefixed, '='-free) staging names — crash-safe
        # against partition inference picking up half-swapped dirs (see
        # erase_keys for the empirical visibility rules).
        tmp = os.path.join(path, f".upsert_tmp-{PARTITION_COL}-{ym}")
        merged.write.mode("overwrite").parquet(tmp)
        old = os.path.join(path, f".upsert_old-{PARTITION_COL}-{ym}")
        if os.path.exists(old):
            shutil.rmtree(old)
        if os.path.exists(part_dir):
            os.rename(part_dir, old)
        os.rename(tmp, part_dir)
        if os.path.exists(old):
            shutil.rmtree(old)
    return {"partitions_rewritten": len(affected), "rows_upserted": n_up}


def build_projection(
    spark: SparkSession,
    base_path: str,
    proj_path: str,
    partition_col: str,
    sort_keys: tuple[str, ...],
) -> None:
    """Materialize a PROJECTION of a table: the same rows in an alternate
    physical layout (different partition key + sort order) — ClickHouse's
    ``ALTER TABLE ... ADD PROJECTION`` + ``MATERIALIZE PROJECTION``,
    where a MergeTree table stores extra copies of its data inside each
    part, each sorted/keyed for a different query family. On the file
    layout here the projection is a sibling directory; at 100 TB it is
    maintained like any other sink (per-batch appends + compaction) and
    costs its own storage — the classic read-vs-storage trade
    projections exist for."""
    (
        spark.read.parquet(base_path)
        .repartition(F.col(partition_col))
        .sortWithinPartitions(*sort_keys)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(proj_path)
    )


def read_with_projection(
    spark: SparkSession,
    base_path: str,
    projections: dict[str, str],
    filter_cols: set[str],
) -> tuple[DataFrame, str]:
    """Projection ROUTING — the query-time half of ClickHouse
    projections (the optimizer auto-selects the projection whose
    primary key matches the query's predicates/grouping;
    ``optimize_use_projections``): given which columns the query
    filters on, serve the projection partitioned by one of them (its
    scan then lists only matching partition directories — the pruning
    the alternate layout exists for) and fall back to the base table
    otherwise. Returns (frame, chosen_path) so callers/tests can pin
    the routing decision."""
    for col, path in projections.items():
        if col in filter_cols and os.path.exists(path):
            return spark.read.parquet(path), path
    return spark.read.parquet(base_path), base_path


def summing_compact(
    spark: SparkSession,
    path: str,
    key_cols: tuple[str, ...],
    sum_cols: tuple[str, ...],
) -> dict[str, int]:
    """SummingMergeTree merge pass: within every partition, collapse all
    rows sharing the sorting key into one row whose ``sum_cols`` are
    summed — ClickHouse's merge-time pre-aggregation (a SummingMergeTree
    part replaces equal-key rows with their sums when parts merge;
    reads still GROUP BY because merging is eventual — after THIS full
    pass the table is fully merged, which tests pin as
    rows == distinct keys).

    Partition-parallel: each ym directory is one independent
    groupBy-rewrite (the aggregate state is bounded by that partition's
    distinct keys), committed with the same hidden-staging rename swap
    as :func:`upsert_partitioned` — at 100 TB, compaction of a month
    never touches any other month's files. Returns
    {"partitions_rewritten", "rows_before", "rows_after"}."""
    import shutil

    parts = [
        d
        for d in os.listdir(path)
        if d.startswith(f"{PARTITION_COL}=") and "=" in d
    ]
    before = after = 0
    for d in parts:
        part_dir = os.path.join(path, d)
        rows = spark.read.parquet(part_dir)
        before += rows.count()
        summed = (
            rows.groupBy(*key_cols)
            .agg(*[F.sum(c).alias(c) for c in sum_cols])
            .sortWithinPartitions(*key_cols)
        )
        tmp = os.path.join(path, f".summing_tmp-{d.replace('=', '-')}")
        summed.write.mode("overwrite").parquet(tmp)
        old = os.path.join(path, f".summing_old-{d.replace('=', '-')}")
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(part_dir, old)
        os.rename(tmp, part_dir)
        shutil.rmtree(old)
        after += spark.read.parquet(part_dir).count()
    return {
        "partitions_rewritten": len(parts),
        "rows_before": before,
        "rows_after": after,
    }


def read_table_final(
    spark: SparkSession,
    path: str,
    key_cols: tuple[str, ...],
    version_col: str,
) -> DataFrame:
    """``SELECT ... FINAL`` analog for tables ingested WITHOUT the upsert
    pass (plain at-least-once appends may hold several versions of a key):
    keep only each key's highest-``version_col`` row, ties broken by the
    full remaining column tuple for determinism. One window shuffle on the
    key — partition pruning still applies to any pushed ym predicate
    because the window runs after the scan filters."""
    from pyspark.sql.window import Window

    df = spark.read.parquet(path)
    tie_cols = [c for c in df.columns if c not in key_cols]
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(version_col).desc(),
        *[F.col(c).desc() for c in tie_cols if c != version_col],
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def collapsing_compact(
    spark: SparkSession,
    path: str,
    sign_col: str = "sign",
    partition_col: str = PARTITION_COL,
) -> dict[str, int]:
    """CollapsingMergeTree merge pass: within every partition, rows that
    are identical on every column except ``sign_col`` cancel pairwise —
    a state row (sign=+1) annihilates with the cancel row (sign=-1) a
    later insert wrote for it, and only net state survives (ClickHouse
    CollapsingMergeTree docs: the merge "collapses" matching sign pairs;
    the writer is responsible for making each cancel row copy the state
    row it retracts, which is exactly what makes group-by-all-columns
    the faithful merge here). Implemented as one groupBy per partition:
    net = SUM(sign) per full row tuple, rows with net == 0 vanish, a
    surviving tuple is re-emitted with sign = net (±1 for a correct
    writer; a duplicated insert would surface as |net| > 1, which is
    also ClickHouse's observable failure mode).

    Reads must still run the ``SUM(col * sign) ... HAVING SUM(sign) > 0``
    discipline afterwards (merges are eventual in ClickHouse; here one
    full pass collapses everything, which tests pin) — and cancellation
    only happens WITHIN a partition, ClickHouse's own caveat, so tables
    meant to collapse fully should partition by a stable function of the
    collapse key (the events_collapsing fixture buckets by user), not by
    arrival time. Partition-parallel, crash-safe rename swap, state per
    partition bounded by its distinct live tuples. Returns
    {"partitions_rewritten", "rows_before", "rows_after"}."""
    import shutil

    parts = [
        d for d in os.listdir(path) if d.startswith(f"{partition_col}=")
    ]
    before = after = 0
    for d in parts:
        part_dir = os.path.join(path, d)
        rows = spark.read.parquet(part_dir)
        before += rows.count()
        tuple_cols = [c for c in rows.columns if c != sign_col]
        collapsed = (
            rows.groupBy(*tuple_cols)
            .agg(F.sum(sign_col).cast("int").alias(sign_col))
            .filter(F.col(sign_col) != 0)
            .select(*rows.columns)
            .sortWithinPartitions(*tuple_cols)
        )
        tmp = os.path.join(path, f".collapse_tmp-{d.replace('=', '-')}")
        collapsed.write.mode("overwrite").parquet(tmp)
        old = os.path.join(path, f".collapse_old-{d.replace('=', '-')}")
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(part_dir, old)
        os.rename(tmp, part_dir)
        shutil.rmtree(old)
        after += spark.read.parquet(part_dir).count()
    return {
        "partitions_rewritten": len(parts),
        "rows_before": before,
        "rows_after": after,
    }


def ttl_rollup(
    spark: SparkSession,
    path: str,
    before_part: int,
    group_cols: tuple[str, ...],
    agg_exprs: dict,
    sort_keys: tuple[str, ...],
) -> dict[str, int]:
    """``TTL ... GROUP BY`` rollup — the third TTL flavor (ClickHouse
    table TTL with a GROUP BY clause; also the GraphiteMergeTree rollup
    model): partitions older than ``before_part`` are not DROPPED
    (expire_partitions) and not value-reset (column TTL) but DOWNSAMPLED
    IN PLACE — their rows are replaced by one aggregate row per
    ``group_cols`` tuple, with every other column produced by its entry
    in ``agg_exprs`` (aggregate Columns, e.g. ``F.sum(...)`` for
    additive measures, explicit deterministic defaults for identity
    columns — ClickHouse keeps "any" value for unlisted columns; an
    oracle-checkable engine pins them instead). Live partitions' files
    stay byte-untouched (mtime-pinned in tests).

    The 100-TB shape: aged data keeps QUERYABLE totals at a coarser
    grain while its bytes shrink by the group-reduction factor — the
    standard observability-store economics (keep raw for N days, rollups
    forever) — and the rewrite prunes to expired partitions exactly like
    the DELETE/UPDATE mutations sharing this machinery. Returns
    {"partitions_rolled", "rows_before", "rows_after"}."""
    import shutil

    before = after = 0
    rolled = []
    for d in sorted(os.listdir(path)):
        if not d.startswith(f"{PARTITION_COL}="):
            continue
        part = int(d.split("=", 1)[1])
        if part >= before_part:
            continue
        part_dir = os.path.join(path, d)
        rows = spark.read.parquet(part_dir)
        before += rows.count()
        order = [c for c in rows.columns]
        agg = (
            rows.groupBy(*group_cols)
            .agg(*[expr.alias(c) for c, expr in agg_exprs.items()])
            .select(*order)
            .sortWithinPartitions(*[k for k in sort_keys if k != PARTITION_COL])
        )
        tmp = os.path.join(path, f".rollup_tmp-{d.replace('=', '-')}")
        agg.write.mode("overwrite").parquet(tmp)
        old = os.path.join(path, f".rollup_old-{d.replace('=', '-')}")
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(part_dir, old)
        os.rename(tmp, part_dir)
        shutil.rmtree(old)
        after += spark.read.parquet(part_dir).count()
        rolled.append(part)
    return {
        "partitions_rolled": len(rolled),
        "rows_before": before,
        "rows_after": after,
    }


def merge_engine(
    spark: SparkSession, base_dir: str, pattern: str
) -> DataFrame:
    """``ENGINE = Merge(db, '<regex>')`` — a virtual table that unions
    every table in ``base_dir`` whose NAME matches ``pattern``, exposing
    which physical table each row came from as the ``_table`` virtual
    column (ClickHouse Merge-engine docs; the canonical use is reading a
    family of time-sharded tables — metrics_2024, metrics_2025 — as
    one). Columns are matched BY NAME across member tables with missing
    columns null-filled (``unionByName(allowMissingColumns=True)`` — the
    Merge engine's union-of-structures reading), so schema evolution
    between shards (a column added to newer shards) reads cleanly.

    Scale shape: this is pure plan composition — each member contributes
    its own parquet scan with its own pushed filters and partition
    pruning, and Catalyst pushes predicates through the union into every
    branch; a ``_table`` filter statically removes non-matching members
    here (pre-plan, since membership is resolved at call time). No data
    moves to build the view."""
    import re

    rx = re.compile(pattern)
    members = sorted(
        d
        for d in os.listdir(base_dir)
        if rx.search(d) and os.path.isdir(os.path.join(base_dir, d))
        and not d.startswith(".")
    )
    if not members:
        raise ValueError(f"merge_engine: no table in {base_dir!r} matches {pattern!r}")
    out = None
    for name in members:
        df = spark.read.parquet(os.path.join(base_dir, name)).withColumn(
            "_table", F.lit(name)
        )
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    return out


def optimize_deduplicate(
    spark: SparkSession,
    path: str,
    sort_keys: tuple[str, ...],
    partition_col: str = PARTITION_COL,
) -> dict[str, int]:
    """``OPTIMIZE TABLE ... FINAL DEDUPLICATE`` — ClickHouse's explicit
    full-row deduplication merge (drops rows that are byte-identical
    across EVERY column; the operational remedy after an at-least-once
    producer double-delivered whole inserts into a plain MergeTree —
    which has no key semantics to dedupe by, unlike the Replacing
    engine's version rules that upsert_partitioned/read_table_final
    mirror). Per-partition dropDuplicates rewrite with the crash-safe
    rename swap; dedup state is bounded by a partition's distinct rows,
    partitions never cross-talk — which is also ClickHouse's semantics
    (DEDUPLICATE works within the merged part). Returns
    {"partitions_rewritten", "rows_before", "rows_after"}."""
    import shutil

    parts = [
        d for d in os.listdir(path) if d.startswith(f"{partition_col}=")
    ]
    before = after = 0
    for d in parts:
        part_dir = os.path.join(path, d)
        rows = spark.read.parquet(part_dir)
        before += rows.count()
        deduped = rows.dropDuplicates().sortWithinPartitions(
            *[k for k in sort_keys if k != partition_col]
        )
        tmp = os.path.join(path, f".optdedup_tmp-{d.replace('=', '-')}")
        deduped.write.mode("overwrite").parquet(tmp)
        old = os.path.join(path, f".optdedup_old-{d.replace('=', '-')}")
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(part_dir, old)
        os.rename(tmp, part_dir)
        shutil.rmtree(old)
        after += spark.read.parquet(part_dir).count()
    return {
        "partitions_rewritten": len(parts),
        "rows_before": before,
        "rows_after": after,
    }


def erase_where(
    spark: SparkSession,
    path: str,
    where,
    sort_keys: tuple[str, ...],
    bloom_cols: tuple[str, ...] = (),
) -> dict[str, int]:
    """``ALTER TABLE ... DELETE WHERE <expr>`` with a GENERAL predicate —
    the expression sibling of :func:`erase_keys` (which takes a key
    list), needed when the erase condition is derived (a regexp over a
    routing key, a modulus over an embedded id) rather than an IN-set.
    Works on any partition layout, including nested ones like the
    per-stream raw table's ``stream=*/ym=*``: every LEAF partition
    directory is probed with a column-pruned count of matching rows and
    rewritten through the crash-safe rename swap ONLY if it holds any —
    untouched leaves are never rewritten (their files stay
    byte-identical; the probe reads just the predicate's columns).
    Partition columns are re-attached as literals parsed from the leaf's
    relative path, so ``where`` may reference them (and a predicate ON a
    partition column prunes the probe to metadata). Returns
    {"partitions_rewritten", "rows_erased"}."""
    import shutil

    leaves = []
    for dirpath, dirnames, filenames in os.walk(path):
        # skip hidden staging dirs AND `_`-prefixed sidecars: a detached
        # partition (`_detached/`, DETACH PARTITION) is not an active
        # part, and ClickHouse mutations rewrite only active parts — an
        # erase pass must ATTACH (or drop) detached parts explicitly,
        # exactly as on a real server. Mirrors the reader's visibility.
        if dirpath.rstrip("/") != path.rstrip("/") and os.path.basename(
            dirpath
        ).startswith((".", "_")):
            dirnames[:] = []
            continue
        if any(f.endswith(".parquet") for f in filenames):
            leaves.append(dirpath)
    rewritten = erased = 0
    for leaf in sorted(leaves):
        rel = os.path.relpath(leaf, path)
        part_vals = []
        if rel != ".":
            for seg in rel.split(os.sep):
                if "=" not in seg:
                    continue
                col, raw = seg.split("=", 1)
                val: object = int(raw) if raw.lstrip("-").isdigit() else raw
                part_vals.append((col, val))
        rows = spark.read.parquet(leaf)
        for col, val in part_vals:
            rows = rows.withColumn(col, F.lit(val))
        n = rows.filter(where).count()
        if n == 0:
            continue
        keep = (
            rows.filter(~where)
            .drop(*[c for c, _ in part_vals])
            .sortWithinPartitions(
                *[k for k in sort_keys if k not in {c for c, _ in part_vals}]
            )
        )
        tmp = os.path.join(
            os.path.dirname(leaf),
            f".erasew_tmp-{os.path.basename(leaf).replace('=', '-')}",
        )
        # mutations rebuild skip indexes on the parts they rewrite,
        # exactly like ClickHouse's
        keep.write.mode("overwrite").options(**bloom_options(bloom_cols)).parquet(tmp)
        old = os.path.join(
            os.path.dirname(leaf),
            f".erasew_old-{os.path.basename(leaf).replace('=', '-')}",
        )
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(leaf, old)
        os.rename(tmp, leaf)
        shutil.rmtree(old)
        rewritten += 1
        erased += n
    return {"partitions_rewritten": rewritten, "rows_erased": erased}


def read_with_default(
    spark: SparkSession, path: str, column: str, default
) -> DataFrame:
    """Read a table that had ``ALTER TABLE ... ADD COLUMN <column>
    DEFAULT <expr>`` applied but not (fully) MATERIALIZED: ClickHouse
    makes the new column visible INSTANTLY on old parts by computing the
    DEFAULT expression at read time, storing it physically only for
    parts written afterwards (or after MATERIALIZE COLUMN). Spark
    analog: a schema-merging scan (old files surface the column as
    null) with ``coalesce(stored, default)`` on top — whole-stage
    codegen, no rewrite, zero cost on files that already store it. If NO
    file stores the column yet (ALTER just ran), it is synthesized
    entirely from the expression."""
    df = spark.read.option("mergeSchema", "true").parquet(path)
    if column not in df.columns:
        return df.withColumn(column, default)
    return df.withColumn(column, F.coalesce(F.col(column), default))


def materialize_column(
    spark: SparkSession,
    path: str,
    column: str,
    default,
    sort_keys: tuple[str, ...],
    partition_col: str = PARTITION_COL,
) -> dict[str, int]:
    """``ALTER TABLE ... MATERIALIZE COLUMN`` — make the DEFAULT column
    physical for the old parts: rewrite ONLY partitions whose files do
    not yet store the column (probed from parquet footers — a metadata
    read, no data scanned), computing the expression once and storing
    it; partitions already carrying the column stay byte-identical
    (mtime-pinned in tests). After this, a plain read equals
    :func:`read_with_default` and the read-time compute cost is gone —
    the storage-for-CPU trade the command exists to make. Returns
    {"partitions_materialized", "rows_written"}."""
    import shutil

    done = rows_written = 0
    for d in sorted(os.listdir(path)):
        if not d.startswith(f"{partition_col}="):
            continue
        part_dir = os.path.join(path, d)
        if column in spark.read.parquet(part_dir).columns:
            continue
        rows = spark.read.parquet(part_dir).withColumn(column, default)
        n = rows.count()
        out = rows.sortWithinPartitions(
            *[k for k in sort_keys if k != partition_col]
        )
        tmp = os.path.join(path, f".matcol_tmp-{d.replace('=', '-')}")
        out.write.mode("overwrite").parquet(tmp)
        old = os.path.join(path, f".matcol_old-{d.replace('=', '-')}")
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(part_dir, old)
        os.rename(tmp, part_dir)
        shutil.rmtree(old)
        done += 1
        rows_written += n
    return {"partitions_materialized": done, "rows_written": rows_written}


def parts_report(
    spark: SparkSession,
    path: str,
    stat_col: str,
    partition_col: str = PARTITION_COL,
) -> DataFrame:
    """``system.parts`` — ClickHouse's table-introspection surface (per
    part: partition, rows, and the sparse-index min/max that drives
    granule skipping), served here from PARQUET FOOTERS ONLY: no data
    page is read. Per partition directory, every file's footer
    contributes its row count and its row-group min/max statistics for
    ``stat_col``; the report aggregates to one row per partition. This
    is the same metadata the scan planner uses for data skipping, so a
    report row pinning footer-min/max == true data min/max (the driver
    row's oracle recomputes them from the data) is direct evidence the
    layout's statistics are trustworthy — the foundation under every
    ORDER-BY-skipping claim in this module.

    Cost shape is the point: O(files) footer reads, driver-side, zero
    row IO — on a 100 TB table this is a metastore query (ClickHouse
    serves system.parts from part metadata the same way; a production
    deployment would serve it from Delta/Iceberg manifests). Returns
    (part, n_files, n_rows, min_<stat_col>, max_<stat_col>)."""
    import pyarrow.parquet as pq

    rows = []
    for d in sorted(os.listdir(path)):
        if not d.startswith(f"{partition_col}="):
            continue
        part = int(d.split("=", 1)[1])
        part_dir = os.path.join(path, d)
        n_files = n_rows = 0
        mn = mx = None
        for f in sorted(os.listdir(part_dir)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(part_dir, f)).metadata
            n_files += 1
            n_rows += md.num_rows
            idx = {
                md.schema.column(i).name: i for i in range(len(md.schema))
            }[stat_col]
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    continue
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
        rows.append((part, n_files, n_rows, mn, mx))
    return spark.createDataFrame(
        rows,
        f"part long, n_files long, n_rows long, "
        f"min_{stat_col} long, max_{stat_col} long",
    )


def freeze_table(path: str, backup_dir: str) -> dict[str, int]:
    """``ALTER TABLE ... FREEZE`` — ClickHouse's instant backup: create
    a snapshot of every part via HARDLINKS (the exact mechanism the
    server uses for its ``shadow/`` snapshots — immutable part files
    make hardlinks a consistent zero-copy backup; parquet part files
    here are equally immutable, mutations swap in NEW files and the old
    inodes live on under the snapshot). O(files) metadata operations,
    zero bytes copied, safe against every mutation in this module
    because they all rename-swap rather than rewrite in place. Returns
    {"files_linked", "bytes_referenced"}.

    Only ACTIVE parts are snapshotted: ``_``-prefixed sidecars
    (``_detached/`` from DETACH PARTITION, delete masks) are skipped
    exactly like the reader's visibility rule — ClickHouse FREEZE
    snapshots active parts only, and hardlinking detached parts in
    would make a later restore resurrect them (ADVICE r8)."""
    files = bytes_ref = 0
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        rel = os.path.relpath(dirpath, path)
        out = os.path.join(backup_dir, rel) if rel != "." else backup_dir
        os.makedirs(out, exist_ok=True)
        for f in filenames:
            if f.startswith(("_", ".")):
                continue
            src = os.path.join(dirpath, f)
            os.link(src, os.path.join(out, f))
            files += 1
            bytes_ref += os.stat(src).st_size
    return {"files_linked": files, "bytes_referenced": bytes_ref}


def restore_table(backup_dir: str, path: str) -> None:
    """Restore a frozen snapshot: swap the live table for the snapshot's
    file set (hardlink back — still zero-copy), using the same
    rename-aside discipline as every mutation here, so a crash leaves
    either the old or the restored table readable. ``_``-prefixed
    sidecars of the LIVE table (detached parts, delete masks) are
    carried through the swap — restoring active parts must not destroy
    them, the same rule compact_table follows."""
    import shutil

    staging = path.rstrip("/") + "__restore_tmp"
    if os.path.exists(staging):
        shutil.rmtree(staging)
    for dirpath, dirnames, filenames in os.walk(backup_dir):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        rel = os.path.relpath(dirpath, backup_dir)
        out = os.path.join(staging, rel) if rel != "." else staging
        os.makedirs(out, exist_ok=True)
        for f in filenames:
            os.link(os.path.join(dirpath, f), os.path.join(out, f))
    old = path.rstrip("/") + "__restore_old"
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(staging, path)
    if os.path.exists(old):
        for entry in os.listdir(old):
            if entry.startswith("_") and not os.path.exists(
                os.path.join(path, entry)
            ):
                os.rename(os.path.join(old, entry), os.path.join(path, entry))
        shutil.rmtree(old)


#: dirname active-partition dirs are moved under by DETACH PARTITION.
#: The leading underscore matters: Spark's file listing skips `_`- and
#: `.`-prefixed paths (the _SUCCESS/_metadata convention), so detached
#: parts are invisible to every reader of the table WITHOUT any reader
#: changes — the same property ClickHouse gets from its `detached/`
#: directory living outside the part-name namespace.
DETACHED_DIR = "_detached"


def detach_partition(path: str, col: str, value) -> str:
    """``ALTER TABLE ... DETACH PARTITION value`` (ClickHouse partition
    lifecycle; the reference's MergeTree tables expose it via
    ``PARTITION BY toYYYYMM`` — init.sql:17-19): move the partition's
    directory aside under ``_detached/``. ONE rename, zero bytes read
    or copied, O(1) metadata regardless of partition size — at 100 TB
    detaching a month is the same syscall as at 100 MB. The partition
    keeps its ``col=value`` Hive name so a later ATTACH is the reverse
    rename and partition-column inference still works. Returns the
    detached dir path."""
    part = f"{col}={value}"
    src = os.path.join(path, part)
    if not os.path.isdir(src):
        raise FileNotFoundError(f"no active partition {part} under {path}")
    dst = os.path.join(path, DETACHED_DIR, part)
    if os.path.exists(dst):
        raise FileExistsError(f"{part} already detached under {path}")
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.rename(src, dst)
    return dst


def attach_partition(path: str, col: str, value) -> str:
    """``ALTER TABLE ... ATTACH PARTITION value``: the reverse rename —
    the detached directory moves back into the table's active namespace
    and every reader sees it again on its next file listing. Zero-copy,
    crash-safe (rename is atomic on one filesystem: the partition is
    either detached or attached, never half of each)."""
    part = f"{col}={value}"
    src = os.path.join(path, DETACHED_DIR, part)
    if not os.path.isdir(src):
        raise FileNotFoundError(f"no detached partition {part} under {path}")
    dst = os.path.join(path, part)
    if os.path.exists(dst):
        raise FileExistsError(f"active partition {part} already exists")
    os.rename(src, dst)
    return dst


def move_partition_to_table(
    src_path: str, dest_path: str, col: str, value
) -> str:
    """``ALTER TABLE src MOVE PARTITION value TO TABLE dest``: the
    cross-table flavor — the active partition directory renames from
    one table's namespace into another's. Both tables must share the
    partitioning scheme (same ``col``), exactly ClickHouse's
    same-structure precondition; within one warehouse filesystem this
    is still a single rename, so archiving a month out of a hot table
    into a cold one moves no data bytes."""
    part = f"{col}={value}"
    src = os.path.join(src_path, part)
    if not os.path.isdir(src):
        raise FileNotFoundError(f"no active partition {part} under {src_path}")
    dst = os.path.join(dest_path, part)
    if os.path.exists(dst):
        raise FileExistsError(f"{part} already exists in {dest_path}")
    os.makedirs(dest_path, exist_ok=True)
    os.rename(src, dst)
    return dst


def exchange_tables(path_a: str, path_b: str) -> None:
    """``EXCHANGE TABLES a AND b`` — ClickHouse's atomic two-table swap,
    the publish step of the rebuild-aside pattern (recompute a table in
    a staging name, then swap it with the live name so readers flip
    between two complete states and never see a partial rebuild). Three
    renames on one filesystem; the moment of exchange is the single
    rename that moves the staging dir onto the live name."""
    if not os.path.isdir(path_a) or not os.path.isdir(path_b):
        raise FileNotFoundError(f"both tables must exist: {path_a}, {path_b}")
    tmp = path_a.rstrip("/") + "__xchg_tmp"
    if os.path.exists(tmp):
        raise FileExistsError(tmp)
    os.rename(path_a, tmp)
    os.rename(path_b, path_a)
    os.rename(tmp, path_b)


def detached_parts_report(
    spark: SparkSession, path: str, partition_col: str = PARTITION_COL
) -> DataFrame:
    """``system.detached_parts`` — the introspection surface for parts
    sitting in the detached namespace (after DETACH PARTITION, or parts
    set aside by recovery tooling): per detached partition, its file
    count, row count, and bytes, from parquet footers + stat() only.
    This is how an operator audits what a blanket ``ATTACH`` would bring
    back — and, since mutations skip detached parts by contract
    (:func:`erase_where`), what a GDPR sweep still needs to attach or
    drop. Empty result (same schema) when nothing is detached."""
    import pyarrow.parquet as pq

    rows = []
    det = os.path.join(path, DETACHED_DIR)
    if os.path.isdir(det):
        for d in sorted(os.listdir(det)):
            if not d.startswith(f"{partition_col}="):
                continue
            part = d.split("=", 1)[1]
            part_dir = os.path.join(det, d)
            n_files = n_rows = n_bytes = 0
            for f in sorted(os.listdir(part_dir)):
                if not f.endswith(".parquet"):
                    continue
                fp = os.path.join(part_dir, f)
                n_files += 1
                n_rows += pq.ParquetFile(fp).metadata.num_rows
                n_bytes += os.stat(fp).st_size
            rows.append((part, n_files, n_rows, n_bytes))
    return spark.createDataFrame(
        rows, "part string, n_files long, n_rows long, n_bytes long"
    )


# ---------------------------------------------------------------------------
# Token-bloom text skip index — ClickHouse ``tokenbf_v1`` analog
# ---------------------------------------------------------------------------

#: sidecar directory under a table root. The leading underscore keeps it
#: invisible to normal table reads (same visibility rule erase_where's
#: sidecars use), so the index never pollutes the data schema.
TOKEN_BLOOM_DIR = "_token_bloom"
#: bloom geometry: m bits / k hashes per FILE (a "part" here, mirroring
#: ClickHouse's per-granule tokenbf_v1 at part granularity). 4096 bits
#: holds ~400 distinct tokens at ~1% fp; text corpora with larger
#: per-file vocabularies raise m — the sidecar row stays a bounded
#: bitmap either way.
TOKEN_BLOOM_BITS = 4096
TOKEN_BLOOM_HASHES = 3
#: the tokenizer: lowercase alphanumeric runs. MUST be identical at
#: index build and at query, like ClickHouse's tokenbf_v1 tokenizer.
TOKEN_SPLIT = "[^a-z0-9]+"


def _token_bit(expr, k: int):
    """Bit position of hash k for a token expression — xxhash64 seeded
    by position-k literal, reduced mod m. Pure JVM expressions, so the
    index build never leaves codegen."""
    return F.pmod(
        F.xxhash64(F.lit(k), expr), F.lit(TOKEN_BLOOM_BITS)
    ).cast("int")


def build_token_bloom(spark: SparkSession, path: str, col: str) -> str:
    """Build (or rebuild) the per-file token-bloom sidecar for ``col``
    over every live part of the table at ``path`` — the ClickHouse
    ``INDEX ... TYPE tokenbf_v1`` analog. Equality blooms
    (:data:`BLOOM_KEYS`) cannot prune token searches: ``hasToken(text,
    'x')`` matches inside arbitrarily long values, so membership must be
    over the TOKEN vocabulary, not the column values.

    Shape at 100 TB: tokenize in-row (split + array_distinct — codegen),
    explode to (file, bit) pairs, distinct, and reduce to one bitmap row
    per file — the shuffle is bounded by files x m bits, independent of
    row count. Rebuild after part rewrites (compaction, mutations,
    erasure), exactly as ClickHouse rebuilds skip indexes on merge.
    Published ATOMICALLY (build under a hidden tmp dir + rename swap) so
    racing builders can never interleave writes into one sidecar dir
    (ADVICE r9).
    """
    df = spark.read.parquet(path).select(
        F.col("_metadata.file_path").alias("f"),
        F.col("_metadata.file_size").alias("fsize"),
        F.col(col).alias("v"),
    )
    toks = df.select(
        "f",
        F.explode(
            F.array_distinct(F.split(F.lower(F.col("v")), TOKEN_SPLIT))
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    bits = toks.select(
        "f",
        F.explode(
            F.array(
                *[_token_bit(F.col("tok"), k) for k in range(TOKEN_BLOOM_HASHES)]
            )
        ).alias("bit"),
    ).distinct()
    agg = bits.groupBy("f").agg(
        F.sort_array(F.collect_set("bit")).alias("bits")
    )
    # one row per LIVE file, even token-less ones (empty bitmap): the
    # freshness check at query time needs the sidecar's file set to be
    # a superset of the live files, not just the token-bearing ones.
    # fsize rides along so a part REWRITTEN UNDER THE SAME PATH (manual
    # moves — Spark's own writes use fresh UUID part names) still fails
    # the freshness check instead of being pruned with stale blooms.
    sidecar = (
        df.select("f", "fsize")
        .distinct()
        .join(agg, "f", "left")
        .select(
            "f",
            "fsize",
            F.coalesce("bits", F.array().cast("array<int>")).alias("bits"),
        )
    )
    return _publish_sidecar(sidecar, path, TOKEN_BLOOM_DIR, col)


def _publish_sidecar(sidecar: DataFrame, path: str, dirname: str, col: str) -> str:
    """Atomic sidecar publish: write to a hidden per-build tmp dir (the
    '.' prefix keeps table reads from seeing it), stamp the meta, then
    swap into place with renames. Two racing builders each stage their
    own dir; the loser's rename fails against the winner's publish and
    its litter is dropped — no builder ever writes into a live sidecar
    (same protocol as plans/materialize._published)."""
    import shutil
    import uuid

    tag = uuid.uuid4().hex[:8]
    tmp = os.path.join(path, f".{dirname}.build-{tag}")
    trash = os.path.join(path, f".{dirname}.old-{tag}")
    sidecar.coalesce(1).write.mode("overwrite").parquet(tmp)
    _write_index_meta(tmp, col)
    out = os.path.join(path, dirname)
    try:
        if os.path.isdir(out):
            os.rename(out, trash)
        os.rename(tmp, out)
    except OSError:
        # lost a publish race — the winner's sidecar (same inputs) stands
        shutil.rmtree(tmp, ignore_errors=True)
    finally:
        shutil.rmtree(trash, ignore_errors=True)
    return out



def _write_index_meta(side_dir: str, col: str) -> None:
    """Record which column a text-index sidecar covers (read back by
    :func:`rebuild_text_indexes`). Written AFTER the parquet overwrite so
    a crashed build leaves no meta and reads as absent, not stale."""
    import json

    with open(os.path.join(side_dir, "_index_meta.json"), "w", encoding="utf-8") as fh:
        json.dump({"col": col}, fh)


def _read_index_meta(side_dir: str) -> str | None:
    import json

    meta = os.path.join(side_dir, "_index_meta.json")
    if not os.path.exists(meta):
        return None
    with open(meta, encoding="utf-8") as fh:
        return json.load(fh)["col"]


def _live_files(spark: SparkSession, path: str) -> set[str]:
    """The table's current data files — a footer/listing-only job,
    bounded by part count."""
    return {
        r[0]
        for r in spark.read.parquet(path)
        .select(F.col("_metadata.file_path"))
        .distinct()
        .collect()
    }


def _live_file_sizes(spark: SparkSession, path: str) -> dict[str, int]:
    """(file_path -> size) for every live part — the freshness identity
    the sidecars are checked against: path AND size, so a rewrite under
    a reused path is detected (ADVICE r9)."""
    return {
        r[0]: r[1]
        for r in spark.read.parquet(path)
        .select(F.col("_metadata.file_path"), F.col("_metadata.file_size"))
        .distinct()
        .collect()
    }


def _sidecar_is_fresh(side: DataFrame, live: dict[str, int]) -> bool:
    """True iff the sidecar covers every live (path, size) pair. Sidecars
    from before the fsize column (schema v1) read as stale and get
    rebuilt by the search's heal pass."""
    if "fsize" not in side.columns:
        return False
    indexed = {(r[0], r[1]) for r in side.select("f", "fsize").collect()}
    return set(live.items()) <= indexed


def rebuild_text_indexes(spark: SparkSession, path: str) -> list[str]:
    """Rebuild every text-index sidecar present on the table — called by
    :func:`compact_table` after a part rewrite, the way ClickHouse merges
    rebuild secondary indexes. Returns the rebuilt sidecar paths."""
    rebuilt = []
    for d, builder in (
        (TOKEN_BLOOM_DIR, build_token_bloom),
        (NGRAM_BLOOM_DIR, build_ngram_bloom),
    ):
        col = _read_index_meta(os.path.join(path, d))
        if col is not None:
            rebuilt.append(builder(spark, path, col))
    return rebuilt


def search_token_pruned(
    spark: SparkSession, path: str, col: str, token: str, heal: bool = True
) -> tuple[DataFrame, dict[str, int]]:
    """``hasToken(col, token)`` served through the token-bloom sidecar:
    files whose bloom lacks any of the token's k bits are never opened.
    Returns (matching rows, {"files_total", "files_candidate"}).

    False positives only ADD candidate files (the exact token filter
    re-checks every row); false negatives are impossible because build
    and query share the tokenizer and hash family. The collects are
    geometry-bounded: k bit positions (one 1-row job) and the candidate
    FILE list (part count, never rows).

    Safety fallbacks (each reported in the returned dict):

    * ``wrong_col`` — the sidecar's meta names a DIFFERENT column than
      the one searched; pruning with another column's blooms would drop
      matching rows, so the search full-scans instead (ADVICE r9).
    * ``untokenizable`` — ``token`` is not a single ``[a-z0-9]+`` run
      after lowercasing (empty string, separators, multi-token): the
      build's tokenizer never indexes such values, but the exact
      re-check CAN match them (regex split yields empty boundary
      tokens), so pruning would be unsound — full scan (ADVICE r9).
    * ``stale`` — a live (path, size) pair the sidecar has never seen:
      with ``heal=True`` (default) the index is REBUILT atomically and
      the search proceeds pruned, so an appended-to table resumes
      skipping instead of silently full-scanning forever; ``heal=False``
      keeps the read-only fallback (ADVICE r9).
    """
    token_l = token.lower()
    side_dir = os.path.join(path, TOKEN_BLOOM_DIR)
    has_token = F.array_contains(
        F.split(F.lower(F.col(col)), TOKEN_SPLIT), token_l
    )
    live = _live_file_sizes(spark, path)

    meta_col = _read_index_meta(side_dir)
    if meta_col is not None and meta_col != col:
        report = _full_scan_report(live, wrong_col=True)
        return spark.read.parquet(path).filter(has_token), report
    if not re.fullmatch("[a-z0-9]+", token_l):
        report = _full_scan_report(live, untokenizable=True)
        return spark.read.parquet(path).filter(has_token), report

    side, stale = _load_sidecar(
        spark, path, side_dir, live, heal, lambda: build_token_bloom(spark, path, col)
    )
    if side is None:  # stale/missing and could not heal — correctness first
        return (
            spark.read.parquet(path).filter(has_token),
            _full_scan_report(live, stale=True),
        )

    target = (
        spark.range(1)
        .select(
            F.array(
                *[_token_bit(F.lit(token_l), k) for k in range(TOKEN_BLOOM_HASHES)]
            ).alias("bits")
        )
        .head()[0]
    )
    pred = None
    for b in target:
        c = F.array_contains("bits", int(b))
        pred = c if pred is None else (pred & c)
    # sidecar entries for deleted files are dropped by the live
    # intersection so the read never opens a vanished path
    cand = [
        r[0] for r in side.filter(pred).select("f").collect() if r[0] in live
    ]
    report = {
        "files_total": len(live),
        "files_candidate": len(cand),
        "stale": stale,
        "healed": stale,
    }
    if cand:
        df = spark.read.option("basePath", path).parquet(*cand)
    else:
        df = spark.read.parquet(path).limit(0)
    return df.filter(has_token), report


def _full_scan_report(live: dict[str, int], **flags) -> dict:
    return {
        "files_total": len(live),
        "files_candidate": len(live),
        "stale": flags.pop("stale", False),
        **flags,
    }


def _load_sidecar(spark, path, side_dir, live, heal, rebuild):
    """Load a text-index sidecar for pruning, healing when allowed.

    Returns (sidecar_df, was_stale) — or (None, True) when the sidecar
    is stale/missing and cannot be healed, in which case the caller must
    full-scan. Tolerates every degraded state a read API must survive
    (code review r10): a MISSING sidecar dir (crashed publish mid-swap,
    or never built) reads as stale rather than raising; a FAILED heal
    rebuild (read-only storage, permissions) degrades to the full-scan
    fallback instead of propagating — the search is a read API and must
    never fail because an optimization could not be maintained."""

    def _read():
        try:
            return spark.read.parquet(side_dir)
        except Exception:  # missing/partial dir — treat as no sidecar
            return None

    side = _read()
    if side is not None and _sidecar_is_fresh(side, live):
        return side, False
    if not heal:
        return None, True
    try:
        rebuild()
    except Exception:  # e.g. read-only table dir — optimization only
        return None, True
    side = _read()
    if side is None or not _sidecar_is_fresh(side, live):
        return None, True  # lost a race with a concurrent writer — scan
    return side, True


# ---------------------------------------------------------------------------
# N-gram-bloom text skip index — ClickHouse ``ngrambf_v1`` analog
# ---------------------------------------------------------------------------

#: the substring sibling of the token index: character 3-grams of the
#: lowercased value. Serves ``LIKE '%substr%'`` — a predicate the token
#: bloom cannot prune (a substring may cross token boundaries). Larger
#: bitmap than the token index: char-3-gram vocabularies are denser.
NGRAM_BLOOM_DIR = "_ngram_bloom"
NGRAM_BLOOM_BITS = 16384
NGRAM_BLOOM_HASHES = 3
NGRAM_N = 3


def _ngram_bit(expr, k: int):
    return F.pmod(
        F.xxhash64(F.lit(1000 + k), expr), F.lit(NGRAM_BLOOM_BITS)
    ).cast("int")


def _ngrams_of(col):
    """All character 3-grams of lower(col) — in-row JVM array math."""
    v = F.lower(col)
    return F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.length(v) - F.lit(NGRAM_N - 1), F.lit(0))
            ),
            lambda i: v.substr(i, F.lit(NGRAM_N)),
        )
    )


def build_ngram_bloom(spark: SparkSession, path: str, col: str) -> str:
    """Per-file char-3-gram bloom sidecar — ``INDEX ... TYPE
    ngrambf_v1`` (ClickHouse's substring-search skip index). Same
    build shape as :func:`build_token_bloom`: in-row gram extraction,
    (file, bit)-bounded shuffle, one bitmap row per part; rebuild after
    part rewrites."""
    df = spark.read.parquet(path).select(
        F.col("_metadata.file_path").alias("f"),
        F.col("_metadata.file_size").alias("fsize"),
        F.col(col).alias("v"),
    )
    grams = df.select("f", F.explode(_ngrams_of(F.col("v"))).alias("g")).filter(
        F.length("g") == NGRAM_N
    )
    bits = grams.select(
        "f",
        F.explode(
            F.array(*[_ngram_bit(F.col("g"), k) for k in range(NGRAM_BLOOM_HASHES)])
        ).alias("bit"),
    ).distinct()
    agg = bits.groupBy("f").agg(
        F.sort_array(F.collect_set("bit")).alias("bits")
    )
    sidecar = (
        df.select("f", "fsize")
        .distinct()
        .join(agg, "f", "left")
        .select(
            "f",
            "fsize",
            F.coalesce("bits", F.array().cast("array<int>")).alias("bits"),
        )
    )
    return _publish_sidecar(sidecar, path, NGRAM_BLOOM_DIR, col)


def search_like_pruned(
    spark: SparkSession, path: str, col: str, needle: str, heal: bool = True
) -> tuple[DataFrame, dict[str, int]]:
    """``lower(col) LIKE '%needle%'`` through the n-gram sidecar: a
    candidate file must contain EVERY 3-gram of the needle. Needles
    shorter than 3 chars cannot prune (no full gram) and fall back to
    the full scan. Same safety argument as the token index: false
    positives re-checked row-exactly, false negatives impossible. The
    ``wrong_col`` and ``stale``/heal fallbacks mirror
    :func:`search_token_pruned` (ADVICE r9)."""
    needle_l = needle.lower()
    match = F.lower(F.col(col)).contains(needle_l)
    live = _live_file_sizes(spark, path)
    side_dir = os.path.join(path, NGRAM_BLOOM_DIR)

    meta_col = _read_index_meta(side_dir)
    if meta_col is not None and meta_col != col:
        report = _full_scan_report(live, wrong_col=True)
        return spark.read.parquet(path).filter(match), report

    grams = [needle_l[i : i + NGRAM_N] for i in range(len(needle_l) - NGRAM_N + 1)]
    if not grams:
        # sub-gram needle: no full 3-gram exists, so the index cannot
        # prune anything — full-scan directly, and in particular never
        # pay a heal rebuild for a search it cannot help (code review r10)
        report = _full_scan_report(live, sub_gram=True)
        return spark.read.parquet(path).filter(match), report

    side, stale = _load_sidecar(
        spark, path, side_dir, live, heal, lambda: build_ngram_bloom(spark, path, col)
    )
    if side is None:  # stale/missing and could not heal — correctness first
        return (
            spark.read.parquet(path).filter(match),
            _full_scan_report(live, stale=True),
        )

    target = (
        spark.range(1)
        .select(
            F.flatten(
                F.array(
                    *[
                        F.array(
                            *[
                                _ngram_bit(F.lit(g), k)
                                for k in range(NGRAM_BLOOM_HASHES)
                            ]
                        )
                        for g in grams
                    ]
                )
            ).alias("bits")
        )
        .head()[0]
    )
    pred = None
    for b in sorted(set(target)):
        c = F.array_contains("bits", int(b))
        pred = c if pred is None else (pred & c)
    cand = [r[0] for r in side.filter(pred).select("f").collect() if r[0] in live]
    report = {
        "files_total": len(live),
        "files_candidate": len(cand),
        "stale": stale,
        "healed": stale,
    }
    if cand:
        df = spark.read.option("basePath", path).parquet(*cand)
    else:
        df = spark.read.parquet(path).limit(0)
    return df.filter(match), report
