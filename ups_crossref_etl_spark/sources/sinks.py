"""Table writers (K8/K9 + lake layout policy).

Layout decisions for 100 TB (SURVEY.md §4 partition-pruning row):

- ``obras`` / ``vista_analisis`` partitioned by ``Anio``: the dashboard's
  year-range filter (A6 + docs §2.4) becomes partition pruning — a 4-year
  window touches 4 directories regardless of table size.
- ``write_lake`` does not bucket. ``write_bucketed`` writes a fact table
  (``obra_autor_afiliacion``, ``events``) as a managed table bucketed by
  its join key, which co-locates the J1 enrichment join and the A1
  group-back without a shuffle; the Engine does not call it.
- Everything snappy parquet; writes are atomic per job (no WAL needed —
  the reference's per-page commit :708 maps to one write job per batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """K8 full-replace / append write with optional hive-style partitioning."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: joins/aggs on ``bucket_cols`` skip the
    shuffle entirely when both sides share the bucketing."""
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name, format="parquet")


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K9: catalog CSV export (header, UTF-8; coalesced to one file like
    the reference's single-file to_csv :389-398 — only sane for small
    dimension tables)."""
    df.coalesce(1).write.mode(mode).option("header", True).csv(path)


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    num_shards: int = 64,
    seed: str = "shard",
    mode: str = "overwrite",
) -> None:
    """Training-data export: shard the corpus into ``num_shards`` parquet
    files a dataloader can consume (`shard=NNN/part-*.parquet`).

    Shard assignment is the deterministic ``sampling.hash_bucket`` of the
    document key — a pure function of (seed, key), so the same doc lands
    in the same shard on every run, engine, and cluster size (resumable
    exports, reproducible training order), and shards are uniformly sized
    without measuring anything. One hash-partition shuffle aligns rows to
    their shard; rows are sorted by key within each shard so file contents
    are byte-deterministic. The pseudo-random hash order also acts as the
    corpus-level example shuffle training wants — adjacent source docs
    land in different shards."""
    from pyspark.sql import functions as F

    from ..operators.sampling import hash_bucket

    sharded = df.withColumn(
        "shard", hash_bucket(F.col(key_col), seed, num_shards)
    )
    (
        sharded.repartition(num_shards, F.col("shard"))
        .sortWithinPartitions("shard", key_col)
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )


def write_lake(
    spark: SparkSession, tables: dict[str, DataFrame], root: str
) -> None:
    """Persist the full bibliometric table set with the layout policy."""
    for name, df in tables.items():
        pb = ["Anio"] if name in ("obras", "vista_analisis") else None
        write_table(df, f"{root}/{name}", partition_by=pb)


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    min_files: int = 2,
) -> dict:
    """Lake maintenance: rewrite a parquet directory into
    ``ceil(bytes / target_file_mb)`` files — the small-files compaction
    every streaming/incremental sink eventually needs (a 100 TB table fed
    by per-micro-batch appends accumulates millions of KB-sized files;
    open/footer overhead then dominates scans and floods the driver's
    file index).

    Strategy: read, ``repartition(n)`` (round-robin — uniform output
    sizes), write to a sibling ``<path>.__compact__`` directory, VERIFY
    the rewrite (row-count equality source vs compacted copy) while the
    original is still untouched, then swap via two renames. Only after
    the compacted copy is live at ``path`` is the original removed — a
    crash at any point leaves at least one complete copy on disk
    (``<path>.__old__`` if it dies inside the swap window; recovery is
    renaming it back). A verification mismatch aborts with the original
    in place and the bad copy deleted.

    Hive-partitioned directories (``col=value`` subdirs) are preserved:
    the partition column names are recovered from the directory layout
    and the rewrite uses ``partitionBy`` with the same columns, so the
    table keeps its pruning layout and partition columns are not
    flattened into data files. ``n_out`` then applies per partition via
    ``repartition(n, <partition cols>)`` so each partition directory is
    compacted without mixing partitions in one task.

    No-op (returns ``skipped=True``) when the directory already has
    fewer than ``min_files`` files.

    Returns stats: files/bytes before and after.
    """
    import math
    import os
    import shutil

    from pyspark.sql import functions as F

    def _stats(p: str) -> tuple[int, int]:
        n = b = 0
        for root, _dirs, files in os.walk(p):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    b += os.path.getsize(os.path.join(root, f))
        return n, b

    def _partition_cols(p: str) -> list[str]:
        # Hive layout: each nesting level is `col=value` dirs; recover the
        # column names by walking one branch down.
        cols: list[str] = []
        cur = p
        while True:
            subs = [
                d
                for d in os.listdir(cur)
                if "=" in d and os.path.isdir(os.path.join(cur, d))
            ]
            if not subs:
                return cols
            cols.append(subs[0].split("=", 1)[0])
            cur = os.path.join(cur, subs[0])

    files_before, bytes_before = _stats(path)
    if files_before < min_files:
        return {
            "skipped": True,
            "files_before": files_before,
            "bytes_before": bytes_before,
        }
    part_cols = _partition_cols(path)
    n_out = max(1, math.ceil(bytes_before / (target_file_mb * 1024 * 1024)))
    tmp = path.rstrip("/") + ".__compact__"
    old = path.rstrip("/") + ".__old__"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    src = spark.read.parquet(path)
    src_count = src.count()
    if part_cols:
        (
            src.repartition(n_out, *[F.col(c) for c in part_cols])
            .write.mode("overwrite")
            .partitionBy(*part_cols)
            .parquet(tmp)
        )
    else:
        src.repartition(n_out).write.mode("overwrite").parquet(tmp)
    tmp_count = spark.read.parquet(tmp).count()
    if tmp_count != src_count:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compact_small_files: rewrite of {path} produced {tmp_count} "
            f"rows, expected {src_count}; original left untouched"
        )
    os.rename(path, old)
    os.rename(tmp, path)
    # The compacted copy is verified AND live; only now drop the original.
    shutil.rmtree(old)
    files_after, bytes_after = _stats(path)
    return {
        "skipped": False,
        "files_before": files_before,
        "bytes_before": bytes_before,
        "files_after": files_after,
        "bytes_after": bytes_after,
        "partition_cols": part_cols,
        "rows": src_count,
    }


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_col: str,
    num_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """1-D clustered write: ``repartitionByRange`` on ``cluster_col`` +
    sort within partitions, so each output file owns a disjoint value
    range and its parquet min/max footer statistics actually PRUNE — a
    range predicate then skips whole files/row-groups at scan time (the
    single-column special case of the z-order layout in
    ``operators/layout.py``; use z-order when two columns filter
    together, clustering when one dominates). Without the clustered
    layout every file spans the full value range and min/max skipping
    does nothing."""
    (
        df.repartitionByRange(num_files, cluster_col)
        .sortWithinPartitions(cluster_col)
        .write.mode(mode)
        .parquet(path)
    )


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    num_shards: int = 64,
    seed: str = "shard",
    mode: str = "overwrite",
) -> None:
    """``write_training_shards``'s JSON-Lines twin — the interchange
    format most LLM dataloaders and curation tools consume directly
    (one JSON object per line, ``shard=NNN/part-*.txt``). Identical
    deterministic hash-shard assignment and within-shard key ordering,
    so exports are resumable and byte-reproducible; each line is
    ``to_json`` over the full row struct (field order = column order).
    Text encoding costs ~2-4x parquet bytes — this sink is for
    interchange at the pipeline edge, parquet shards for storage."""
    from pyspark.sql import functions as F

    from ..operators.sampling import hash_bucket

    cols = [c for c in df.columns]
    sharded = df.withColumn(
        "shard", hash_bucket(F.col(key_col), seed, num_shards)
    )
    (
        sharded.repartition(num_shards, F.col("shard"))
        .sortWithinPartitions("shard", key_col)
        .select(
            "shard",
            F.to_json(F.struct(*[F.col(c) for c in cols])).alias("value"),
        )
        .write.mode(mode)
        .partitionBy("shard")
        .text(path)
    )
