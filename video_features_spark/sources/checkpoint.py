"""Per-partition checkpoint/lineage manifests + resume-by-anti-join.

Spark-native replacement for the reference's skip-if-done protocol
(``/root/reference/models/_base/base_extractor.py:95-127``: outputs exist AND
load without error → skip; re-check before overwrite at ``:73-76``) and its
racy multi-worker coordination (shared FS + shuffled inputs, ``README.md:70-84``,
which admits collisions "rewrite previously extracted features").

Design
------
- Work is bucketed into ``num_parts`` deterministic partitions by key hash
  (``__part = pmod(xxhash64(keys), num_parts)``) — the resume granule.
- Data lands under ``<base>/data`` partitioned by ``__part`` with DYNAMIC
  partition overwrite: re-running a partition replaces exactly that partition →
  idempotent under crash-and-retry, no cross-run races.
- The manifest (``<base>/_manifest``, or the ``_manifest.ptr``-named
  generation dir once a compaction has run) appends one row per completed
  partition: job/snapshot id, partition id, key range, row count, content
  checksum (sum of per-row xxhash64 — order-independent,
  partitioning-independent).
  A partition whose data wrote but whose manifest row didn't (crash between
  the two) is simply recomputed and overwritten — safe, never corrupt.
- Resume = filter the input's partition ids against the manifest's completed
  ids (``resume_state`` reads them in one action): only missing partitions
  are written. Catalyst pushes that filter through projections, joins, unions
  and windows, but NOT through a Python map node (``mapInArrow`` /
  ``mapInPandas``): the filter ``checkpointed_write`` adds stops above it, and
  the Python stage still runs for every row. A caller with a Python stage
  must apply ``part_id`` to the stage's INPUT itself (``plans.run`` filters
  both scans before decode/embed), computed over the key type the written
  output carries.
- ``verify_manifest`` recounts + re-checksums the data and reports drift —
  the "loads without error" half of the reference's check, done with
  aggregates instead of re-reading into the model.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

PART_COL = "__part"


def _data_path(base: str) -> str:
    return os.path.join(base, "data")


def _manifest_path(base: str) -> str:
    return os.path.join(base, "_manifest")


def _manifest_ptr_path(base: str) -> str:
    return os.path.join(base, "_manifest.ptr")


def _gen_dir(base: str, gen: int) -> str:
    return os.path.join(base, f"_manifest.g{gen}")


def _current_generation(base: str) -> "int | None":
    """The compaction generation the pointer file names, or None while the
    base is still on the legacy ``_manifest`` layout (pre-first-compaction)."""
    try:
        with open(_manifest_ptr_path(base)) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def _resolve_manifest_dir(base: str) -> str:
    """Where the live manifest lives: the pointer's generation dir once a
    compaction has run, else the legacy append dir. The pointer is flipped
    only AFTER its generation dir is fully written, so the resolved dir is
    always complete — readers racing a compaction see either the old or the
    new generation, never a partial one."""
    gen = _current_generation(base)
    return _manifest_path(base) if gen is None else _gen_dir(base, gen)


def part_id(key_cols: Sequence[str | Column], num_parts: int) -> Column:
    """Deterministic partition id from the entity key — same key always lands
    in the same part regardless of cluster size or input order. The hash
    depends on the key's TYPE (an int and a long of equal value hash apart)."""
    return F.pmod(F.xxhash64(*key_cols), F.lit(num_parts)).cast("int")


def with_partition_id(df: DataFrame, key_cols: Sequence[str], num_parts: int) -> DataFrame:
    return df.withColumn(PART_COL, part_id(key_cols, num_parts))


def _content_checksum(cols: Sequence[str]):
    """Order-independent content hash: sum of per-row xxhash64 over all output
    columns, accumulated in decimal(38,0) (an int64 sum overflows ANSI mode).
    Any lost/duplicated/altered row changes it."""
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("checksum")


def load_manifest(spark: SparkSession, base_path: str) -> DataFrame | None:
    path = _resolve_manifest_dir(base_path)
    legacy_old = _manifest_path(base_path) + ".__compact_old"
    if path == _manifest_path(base_path) and not os.path.exists(path) and os.path.exists(legacy_old):
        # legacy (pre-pointer) base whose rename-based compaction crashed
        # between its two renames — restore before reading, or resume would
        # recompute EVERY partition. Restore rename ONLY: leftover cleanup
        # belongs to compact_manifest (single-writer context) — a reader
        # must never delete an in-flight compactor's tmp dir.
        os.rename(legacy_old, path)
    try:
        return spark.read.parquet(path)
    except Exception:  # noqa: BLE001 - first run: no manifest yet
        return None


def resume_state(spark: SparkSession, base_path: str, snapshot_id: str) -> tuple[frozenset, int]:
    """(part ids ``snapshot_id`` has committed, the next ``manifest_seq``),
    read in one action; (empty, 0) when the base has no manifest yet. The
    write sequence is monotone: verify_manifest trusts only the LATEST row per
    partition, so re-writing a base with a new snapshot never leaves stale
    rows that report false drift."""
    manifest = load_manifest(spark, base_path)
    if manifest is None:
        return frozenset(), 0
    row = manifest.agg(
        F.collect_set(F.when(F.col("snapshot_id") == snapshot_id, F.col(PART_COL))).alias("done"),
        F.max("manifest_seq").alias("seq"),
    ).first()
    return frozenset(row["done"]), (row["seq"] or 0) + 1


def checkpointed_write(
    df: DataFrame,
    base_path: str,
    key_cols: Sequence[str],
    num_parts: int = 64,
    snapshot_id: str = "snapshot-0",
) -> dict:
    """Compute + write only the partitions the manifest doesn't mark complete.

    Returns {"parts_total", "parts_skipped", "parts_written", "rows_written"}.
    Call again after any failure: completed partitions are not recomputed.
    """
    spark = df.sparkSession
    keyed = with_partition_id(df, key_cols, num_parts)
    done, seq = resume_state(spark, base_path, snapshot_id)
    todo = keyed.filter(~F.col(PART_COL).isin(*done)) if done else keyed
    out_cols = [c for c in keyed.columns if c != PART_COL]

    stats = {"parts_total": num_parts, "parts_skipped": len(done)}
    # dynamic partition overwrite ONLY for this write — restore the session's
    # prior setting afterwards (a shared session must not be mutated for good)
    prior = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # materialize once: write data, then derive manifest rows from what landed.
        # Repartition ON THE PART ID first: a narrow input (e.g. a single-split
        # scan) would otherwise write all ``num_parts`` partition dirs from one
        # task, serially; hash-distributing by the part id gives ~num_parts
        # parallel writers and exactly one file per partition dir (guide §6
        # output sizing — same rows land in the same dirs either way).
        (
            todo.repartition(num_parts, F.col(PART_COL))
            .write.mode("overwrite")
            .partitionBy(PART_COL)
            .parquet(_data_path(base_path))
        )
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prior)
    written = spark.read.parquet(_data_path(base_path))
    new_parts = written.filter(~F.col(PART_COL).isin(*done)) if done else written
    manifest_rows = (
        new_parts.groupBy(PART_COL)
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            _content_checksum(out_cols),
            F.min(key_cols[0]).cast("string").alias("key_min"),
            F.max(key_cols[0]).cast("string").alias("key_max"),
        )
        .withColumn("snapshot_id", F.lit(snapshot_id))
        .withColumn("manifest_seq", F.lit(seq))
        # cached: the append below and the stats aggregate would otherwise
        # each re-scan + re-checksum the data partitions (one extra full
        # read of the base per write call)
        .cache()
    )
    try:
        manifest_rows.write.mode("append").parquet(_resolve_manifest_dir(base_path))

        done_now = manifest_rows.agg(
            F.count(F.lit(1)).alias("p"), F.sum("row_count").alias("r")
        ).first()
    finally:
        manifest_rows.unpersist()
    stats["parts_written"] = done_now["p"] or 0
    stats["rows_written"] = done_now["r"] or 0
    return stats


def read_checkpointed(spark: SparkSession, base_path: str) -> DataFrame:
    return spark.read.parquet(_data_path(base_path)).drop(PART_COL)


def compact_manifest(spark: SparkSession, base_path: str) -> dict:
    """Rewrite the append-only manifest down to the LATEST row per partition
    (max ``manifest_seq`` — earlier rows describe overwritten data). The
    manifest grows by one row per partition per (re)run; resume and verify
    filter it every time, so long-lived bases compact periodically to keep
    those reads O(partitions).

    Swap protocol — GENERATION POINTER, no directory rename (object-store
    safe: S3/GCS renames are copy+delete, not atomic): the compacted rows are
    written to a fresh ``_manifest.g<N+1>`` dir, then a one-line pointer file
    ``_manifest.ptr`` is atomically replaced to name the new generation
    (``os.replace`` of a file on POSIX; a single small-object PUT on an
    object store — both atomic at the granularity that matters). Readers
    resolve the pointer first, so at every instant they see a COMPLETE
    manifest: the old generation before the flip, the new one after. A crash
    before the flip leaves an orphan generation dir (overwritten by the next
    compaction); a crash after the flip leaves the superseded dir (removed by
    the next compaction). Only this function deletes anything — readers
    self-heal by renames alone, so a racing ``load_manifest`` can never
    destroy an in-flight compaction's work.

    Appends continue to land in the resolved current dir; run compaction
    while no writer is appending (same single-compactor discipline as
    before — the pointer protocol removes the reader/compactor race, not the
    writer/compactor one).

    Returns {"rows_before", "rows_after", "generation"}."""
    import shutil

    from pyspark.sql import Window

    # legacy bases: heal a crashed rename-based compaction and clear stale
    # leftovers (ownership: only the compactor deletes)
    legacy = _manifest_path(base_path)
    legacy_tmp, legacy_old = legacy + ".__compact_tmp", legacy + ".__compact_old"
    if not os.path.exists(legacy) and os.path.exists(legacy_old):
        os.rename(legacy_old, legacy)
    for leftover in (legacy_tmp, legacy_old):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)

    manifest = load_manifest(spark, base_path)
    if manifest is None:
        raise FileNotFoundError(f"no manifest under {base_path}")
    gen = _current_generation(base_path)
    cur_dir = _resolve_manifest_dir(base_path)
    next_gen = 0 if gen is None else gen + 1

    before = manifest.count()
    latest = Window.partitionBy(PART_COL).orderBy(F.desc("manifest_seq"))
    compacted = (
        manifest.withColumn("__rn", F.row_number().over(latest))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    new_dir = _gen_dir(base_path, next_gen)
    # mode=overwrite also absorbs an orphan dir of the same generation left
    # by a compaction that crashed before its pointer flip
    compacted.write.mode("overwrite").parquet(new_dir)
    after = spark.read.parquet(new_dir).count()
    _flip_pointer(base_path, next_gen)
    # GRACE-PERIOD cleanup: the JUST-superseded manifest (cur_dir) survives
    # until the NEXT compaction — a reader that resolved the pointer an
    # instant before the flip may still be reading it. Only strictly-older
    # generations (and the legacy dir once a generation supersedes it) are
    # removed now; best-effort — failures leave garbage, never corruption
    # (readers follow the pointer).
    keep = {os.path.basename(new_dir), os.path.basename(cur_dir)}
    for d in os.listdir(base_path):
        if d.startswith("_manifest.g") and d not in keep:
            shutil.rmtree(os.path.join(base_path, d), ignore_errors=True)
    if cur_dir != legacy and os.path.exists(legacy):
        shutil.rmtree(legacy, ignore_errors=True)
    return {"rows_before": before, "rows_after": after, "generation": next_gen}


def _flip_pointer(base_path: str, gen: int) -> None:
    """Atomically point readers at generation ``gen``: write-temp + replace
    (one file, one atomic primitive — the object-store analog is a single
    small-object PUT of ``_manifest.ptr``)."""
    ptr = _manifest_ptr_path(base_path)
    tmp = ptr + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(gen))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, ptr)


def verify_manifest(spark: SparkSession, base_path: str) -> DataFrame:
    """Recount + re-checksum every data partition against its LATEST manifest
    row (max manifest_seq — earlier rows describe overwritten data); returns
    the partitions that disagree (empty DataFrame == healthy)."""
    from pyspark.sql import Window

    manifest = load_manifest(spark, base_path)
    if manifest is None:
        raise FileNotFoundError(f"no manifest under {base_path}")
    latest = Window.partitionBy(PART_COL).orderBy(F.desc("manifest_seq"))
    manifest = (
        manifest.withColumn("__rn", F.row_number().over(latest))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    data = spark.read.parquet(_data_path(base_path))
    out_cols = [c for c in data.columns if c != PART_COL]
    actual = data.groupBy(PART_COL).agg(
        F.count(F.lit(1)).alias("actual_rows"), _content_checksum(out_cols).alias("actual_checksum")
    )
    return (
        manifest.join(actual, PART_COL, "full")
        .filter(
            (F.col("row_count") != F.col("actual_rows"))
            | (F.col("checksum") != F.col("actual_checksum"))
            | F.col("row_count").isNull()
            | F.col("actual_rows").isNull()
        )
    )
