"""Partitioned table sinks (S10/S11) with idempotent reload.

The reference makes reloads idempotent by DELETE-by-DATETIME before
reload (HlxTools.py:372-394). Spark-native: **dynamic partition
overwrite** — ``INSERT OVERWRITE`` touches only the partitions present
in the incoming batch, transactionally per partition directory. The
partition column is a formatted DATETIME (one directory per period),
which also gives partition pruning on every by-time scan (S7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

PARTITION_COL = "DT_PART"
# Sub-partition keyed by streaming micro-batch id: a replayed batch
# dynamic-overwrites exactly the (DT_PART, BATCH_PART) leaves it wrote
# before, making an append-style stream sink effectively exactly-once.
BATCH_COL = "BATCH_PART"
_PART_FMT = "yyyyMMddHHmm"


def with_partition_col(df: DataFrame, datetime_col: str = "DATETIME") -> DataFrame:
    return df.withColumn(
        PARTITION_COL, F.date_format(F.col(datetime_col), _PART_FMT)
    )


def partition_value(ts_literal: str) -> Column:
    return F.date_format(F.lit(ts_literal).cast("timestamp"), _PART_FMT)


def append_batch_keyed(
    df: DataFrame, path: str, batch_id: int,
    extra_partition_cols: list[str] | None = None,
) -> None:
    """Append a micro-batch under ``BATCH_PART=<id>`` with dynamic
    partition overwrite — a replayed batch rewrites exactly its own
    leaves, making an append-style stream sink effectively
    exactly-once (see ``read_batch_keyed``). Shared by every streaming
    intake."""
    (
        df.withColumn(BATCH_COL, F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BATCH_COL, *(extra_partition_cols or []))
        .parquet(path)
    )


def read_batch_keyed(
    spark: SparkSession, path: str, ddl: str, before_batch: int | None = None
) -> DataFrame:
    """Every leaf of a batch-keyed store with ``BATCH_PART <
    before_batch`` (all leaves when None), or an empty ``ddl`` frame
    when the store has no leaf yet (a stream's first batch).

    Replay contract: a stream writes its sinks before it commits the
    batch's source offsets, so a crash between the two replays batch b
    against a store that already holds b's own leaf. Reading only
    leaves below b gives the replay its original predecessor state,
    and ``append_batch_keyed`` rewrites b's leaf in place — together
    they make every batch-keyed intake exactly-once. BATCH_PART is a
    partition column, so the filter prunes at planning time.

    Only a missing path reads as empty. Any OTHER read failure
    (corrupt footer, permissions, transient FS error) must propagate:
    treating it as an empty store would let the batch dedup or merge
    against nothing and silently admit duplicates of (or forget)
    everything already ingested."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "UNABLE_TO_INFER_SCHEMA" in str(e):
            from ..session import local_frame

            return local_frame(spark, [], ddl)
        raise
    if before_batch is not None:
        df = df.filter(F.col(BATCH_COL) < before_batch)
    return df


def read_newest_snapshot(
    spark: SparkSession, path: str, ddl: str, before_batch: int | None = None
) -> DataFrame:
    """``ddl``'s columns of the newest leaf with ``BATCH_PART <
    before_batch`` in a snapshot-per-batch store (empty when none).

    Mergeable state (Bloom words, CMS counters, Misra-Gries summaries)
    is stored as one full snapshot per batch: batch b folds its
    increment into this leaf and writes the result as its own leaf.
    It must be the newest leaf BELOW b, not simply the newest: a
    replayed b would otherwise fold into its own snapshot and count
    itself twice (see ``read_batch_keyed`` for the replay contract).
    ``before_batch=None`` reads the latest snapshot, for serving."""
    from ..session import local_frame

    empty = local_frame(spark, [], ddl)
    prev = read_batch_keyed(spark, path, ddl, before_batch)
    if BATCH_COL not in prev.columns:  # no store yet
        return empty
    latest = prev.agg(F.max(BATCH_COL)).head()[0]
    if latest is None:
        return empty
    return prev.filter(F.col(BATCH_COL) == latest).select(*empty.columns)


def check_prune_keep(keep: int) -> None:
    """Reject ``keep == 1`` before a snapshot stream starts (see
    ``prune_snapshots``)."""
    if keep == 1:
        raise ValueError(
            "prune_keep=1 would delete the predecessor snapshot a replayed "
            "batch folds into; keep at least 2 (or <= 0 to never prune)"
        )


def prune_snapshots(path: str, batch_id: int, keep: int) -> None:
    """After batch ``batch_id`` wrote its snapshot, delete all but the
    newest ``keep`` leaves under ``path``; ``keep <= 0`` never prunes.

    The prune runs before the batch's offset commit, so a replay of
    b needs b-1's leaf to still exist: ``keep`` must be at least 2
    (callers reject 1 up front with ``check_prune_keep``). Leaves at
    or above ``batch_id`` are never deleted, whatever the gaps in
    batch ids."""
    from ..llm_ops.storefs import StoreFS

    fs = StoreFS(path)
    if keep <= 0 or not fs.is_dir(path):
        return
    ids = sorted(
        int(d.split("=", 1)[1])
        for d in fs.list_dirs(path)
        if d.startswith(f"{BATCH_COL}=")
    )
    for old in ids[:-keep]:
        if old < batch_id:
            fs.delete(f"{path}/{BATCH_COL}={old}")


def write_fact(
    df: DataFrame,
    path: str,
    datetime_col: str = "DATETIME",
    fmt: str = "parquet",
) -> None:
    """Idempotent partitioned write: only the DATETIME partitions in
    ``df`` are replaced (requires
    spark.sql.sources.partitionOverwriteMode=dynamic — set by
    chill_spark.session.get_spark)."""
    (
        with_partition_col(df, datetime_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(PARTITION_COL)
        .format(fmt)
        .save(path)
    )


def read_fact(
    spark: SparkSession,
    path: str,
    datetimes: list[str] | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    """Fact scan with partition pruning by DATETIME (S7 — the
    reference's per-datetime SELECT loop, HlxTools.py:396-450, becomes
    one pruned scan). The filter targets the partition column so
    pruning happens at planning time (PartitionFilters, zero data read
    for excluded periods)."""
    from datetime import datetime as _dt

    df = spark.read.format(fmt).load(path)
    if datetimes:
        keys = []
        for d in datetimes:
            ts = d if isinstance(d, _dt) else _dt.fromisoformat(str(d))
            keys.append(ts.strftime("%Y%m%d%H%M"))
        df = df.filter(F.col(PARTITION_COL).isin(keys))
    return df.drop(PARTITION_COL, BATCH_COL)


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    datetime_col: str = "DATETIME",
    broadcast_keys: bool = True,
    assert_unique_keys: bool = True,
    evolve_schema: bool = False,
) -> dict[str, int]:
    """Keyed merge (SCD-1 upsert) into a ``DT_PART``-partitioned
    parquet fact without a table format: rows in ``updates`` replace
    existing rows with the same ``(keys, DATETIME)`` identity, new
    keys append, and untouched rows — crucially, untouched PARTITIONS
    — are never rewritten.

    Shape: touched partition values are collected from the updates
    (driver-small, bounded by touched periods), the target is read
    with a planning-time partition filter on exactly those values,
    survivors = existing rows anti-joined against the update keys,
    and survivors + updates are written back with dynamic partition
    overwrite. A crash before the write commits leaves the target
    untouched (parquet commit protocol); a re-run is idempotent. At
    100 TB the cost tracks |touched partitions|, never table size.

    ``broadcast_keys=True`` broadcasts the update key set into the
    anti-join (right for typical small upserts); pass False for bulk
    merges and AQE picks the strategy. Row identity must include the
    partition period: a key whose DATETIME moved between partitions
    leaves its old-partition row in place (delete it explicitly or
    reload that period) — same grain rule as the reference's
    per-period reload loop (HlxTools.py:396-450), refined from
    "rewrite the whole period" to "rewrite only the period's rows".

    Requires the flat ``DT_PART`` layout; a stream-maintained
    ``BATCH_PART`` tree must be compacted first (mixed trees would
    read doubled rows).

    ``evolve_schema=True`` merges by name with missing columns
    null-filled (new counters appear in new feeds; survivors get NULL
    for them, updates get NULL for columns they dropped). Only the
    touched partitions carry the widened schema on disk afterwards —
    read the table with ``mergeSchema`` (or backfill the old periods)
    until every partition has been rewritten; read_fact's explicit
    one-file schema inference would otherwise hide the new column for
    un-rewritten periods."""
    upd = with_partition_col(updates, datetime_col)
    if assert_unique_keys:
        # two update rows with one identity make last-wins
        # nondeterministic under shuffle — fail fast (one tiny agg
        # over the updates; disable for pre-deduplicated bulk feeds)
        ident = [*keys, datetime_col]
        dup = (
            upd.groupBy(*ident).count().filter(F.col("count") > 1).limit(1)
        ).count()
        if dup:
            raise ValueError(
                f"updates carry duplicate ({', '.join(ident)}) "
                "identities — resolve them first (min_by/max_by a "
                "version column) or pass assert_unique_keys=False"
            )
    touched = [
        r[0] for r in upd.select(PARTITION_COL).distinct().collect()
    ]
    if not touched:
        return {"partitions": 0, "rows_written": 0}
    from ..llm_ops.storefs import StoreFS

    if StoreFS(path, spark).is_dir(path):
        # a read error past this point (transient IO, corrupt footer)
        # must PROPAGATE: mistaking it for "first write" would rewrite
        # the touched partitions with updates only, silently dropping
        # every surviving row in them
        existing = spark.read.parquet(path)
    else:
        existing = None  # genuine first write: nothing to merge against
    if existing is not None and BATCH_COL in existing.columns:
        raise ValueError(
            f"{path} is a batch-keyed (BATCH_PART) tree — compact it "
            "to the flat layout before keyed merges, or rows double "
            "on read"
        )
    merged = _merged_frame(
        existing, upd, keys, datetime_col, touched, broadcast_keys,
        evolve_schema=evolve_schema,
    )
    merged.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(PARTITION_COL).parquet(path)
    n = (
        spark.read.parquet(path)
        .filter(F.col(PARTITION_COL).isin(touched))
        .count()
    )
    return {"partitions": len(touched), "rows_written": n}


def _merged_frame(
    existing: DataFrame | None,
    upd: DataFrame,
    keys: list[str],
    datetime_col: str,
    touched: list[str],
    broadcast_keys: bool,
    evolve_schema: bool = False,
) -> DataFrame:
    """The merge algebra, separated from the write so its physical
    plan can be gated: scoped read = planning-time partition filter
    on the touched values; survivors = anti-join against the
    (optionally broadcast) update key set."""
    if existing is None:
        return upd
    ident = [*keys, datetime_col]
    scoped = existing.filter(F.col(PARTITION_COL).isin(touched))
    upd_keys = upd.select(*ident).distinct()
    if broadcast_keys:
        upd_keys = F.broadcast(upd_keys)
    survivors = scoped.join(upd_keys, ident, "left_anti")
    return survivors.unionByName(upd, allowMissingColumns=evolve_schema)


def read_fact_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    datetimes: list | None = None,
    properties: dict[str, str] | None = None,
    datetime_col: str = "DATETIME",
) -> DataFrame:
    """Fact scan from a live JDBC database — the reference reconciles
    expected data against the actual Oracle table with one SELECT per
    DATETIME (HlxTools.py:396-450, query at :423-429). Spark-native:
    one JDBC relation with a ``DATETIME IN (...)`` predicate the JDBC
    source pushes down to the remote database (PushedFilters in the
    scan), so the DB ships only the requested periods — never a full
    table copy. Large period sets are chunked into an OR of
    <=900-literal IN lists (Oracle rejects a single IN list over 1000
    elements, ORA-01795; Or-of-In is still pushable and legal
    everywhere). Pass ``properties`` for driver/credentials (e.g.
    {"driver": "oracle.jdbc.OracleDriver", "user": ...})."""
    from datetime import datetime as _dt
    from functools import reduce

    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .options(**(properties or {}))
    )
    df = reader.load()
    if datetimes:
        ts = [
            d if isinstance(d, _dt) else _dt.fromisoformat(str(d))
            for d in datetimes
        ]
        # python datetimes become timestamp literals -> the In filters
        # are eligible for JDBC pushdown (Column args would not be)
        chunks = [ts[i:i + 900] for i in range(0, len(ts), 900)]
        df = df.filter(
            reduce(
                lambda a, b: a | b,
                [F.col(datetime_col).isin(c) for c in chunks],
            )
        )
    return df


def compact_partitions(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partitions: list[str] | None = None,
    atomic_rename: bool | None = None,
) -> dict[str, int]:
    """Small-file compaction for a DT_PART-partitioned fact table.

    Streaming appends (one file per micro-batch per partition) and
    fine-grained partition overwrites accumulate small files; at scale
    a 100k-file partition turns every scan into driver-side listing
    pain and per-file open overhead. For each partition (or the given
    subset) whose file count exceeds what ``target_file_bytes`` would
    produce, rewrite it with dynamic partition overwrite in
    ceil(bytes/target) files via repartition.

    Returns {partition_key: files_after} for rewritten partitions.
    One partition at a time keeps the overwrite atomic per period —
    the same idempotency contract as write_fact (S10).

    Streamed facts nest a BATCH_PART level under each period (the
    replay-idempotence key); compaction counts those files too and
    collapses a period's batch subdirs into ONE leaf, ``BATCH_PART=-1``
    (-1 never collides with a real micro-batch id). Keeping the level
    — rather than flattening — preserves a uniform partition depth
    across the table, so partially-compacted tables stay readable
    (partition discovery rejects mixed flat/nested layouts with
    CONFLICTING_PARTITION_COLUMN_NAMES). Run it only on *sealed*
    periods (no in-flight stream writing them): after the collapse a
    replay of an old micro-batch would land beside the compacted leaf
    instead of overwriting its original one — the standard
    compact-behind-the-watermark discipline.

    All directory operations route through the Hadoop FileSystem API
    (llm_ops.storefs), so the table may live on any Hadoop-readable
    filesystem — local paths, ``file://``, ``hdfs://``, ``s3a://`` —
    which is where a 100 TB fact actually lives. The nested-layout
    swap uses the shared two-protocol machinery (storefs.swap_dir):
    rename-aside on atomic-rename filesystems, marker-staged on
    object stores; interrupted swaps from a previous crashed run are
    healed on entry. Swap scaffolding is dot-prefixed so Spark's
    partition discovery never sees it.
    """
    import math

    from ..llm_ops.storefs import (
        StoreFS,
        heal_swap,
        rename_is_atomic,
        swap_dir,
    )

    if atomic_rename is None:
        atomic_rename = rename_is_atomic(path)
    fs = StoreFS(path, spark)
    rewritten: dict[str, int] = {}
    base = path.rstrip("/")

    def _paths(key: str) -> tuple[str, str, str, str]:
        # hidden (dot-prefixed) scaffolding: these sit NEXT to real
        # DT_PART=... directories, and partition discovery must skip
        # them while a swap is staged or after a crash
        return (
            f"{base}/{PARTITION_COL}={key}",
            f"{base}/.compact_tmp_{key}",
            f"{base}/.compact_old_{key}",
            f"{base}/.compact_commit_{key}",
        )

    # heal interrupted swaps from a crashed previous run FIRST — a key
    # renamed aside (or deleted under a committed marker) has no live
    # DT_PART dir, so it must be recovered from the scaffolding names.
    # list_children, not list_dirs: the commit MARKER is a file, and a
    # crash after the rename but before the marker delete leaves only
    # it — a dangling marker a later crashed run would misread as
    # mid-rename state
    healed = set()
    for d in fs.list_children(base):
        for prefix in (".compact_tmp_", ".compact_old_", ".compact_commit_"):
            if d.startswith(prefix):
                key = d[len(prefix):]
                if key not in healed:
                    heal_swap(fs, *_paths(key))
                    healed.add(key)

    parts = sorted(
        d.split("=", 1)[1]
        for d in fs.list_dirs(base)
        if d.startswith(f"{PARTITION_COL}=")
    )
    if partitions:
        parts = [p for p in parts if p in partitions]
    for key in parts:
        pdir, tmp, aside, marker = _paths(key)
        nested = any(
            d.startswith(f"{BATCH_COL}=") for d in fs.list_dirs(pdir)
        )
        files = fs.list_files(pdir, ".parquet")
        total = sum(sz for _, sz in files)
        want = max(1, math.ceil(total / target_file_bytes))
        if len(files) <= want:
            continue
        if nested:
            # read -> stage under a temp dir (a nested table can't use
            # dynamic overwrite here: data in the collapsed leaf alone
            # would leave the original batch leaves in place) -> swap
            # the period dir in via the crash-safe protocol
            fs.delete(tmp)
            (
                spark.read.parquet(pdir)
                .drop(BATCH_COL)
                .repartition(want)
                .write.mode("overwrite")
                .parquet(f"{tmp}/{BATCH_COL}=-1")
            )
            swap_dir(fs, pdir, tmp, aside, marker, atomic=atomic_rename)
        else:
            (
                spark.read.parquet(pdir)
                .repartition(want)
                .withColumn(PARTITION_COL, F.lit(key))
                .write.mode("overwrite")
                .partitionBy(PARTITION_COL)
                .parquet(base)
            )
        rewritten[key] = want
    return rewritten


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Cluster-by write: range-repartition on ``cluster_cols`` then
    sort within partitions before writing.

    Each output file then covers a narrow, near-disjoint range of the
    cluster key, so parquet column statistics (file + row-group
    min/max) let selective scans skip most files entirely — the poor
    man's Z-order, and the single biggest read-amplification lever for
    a 100 TB fact table queried by time/key ranges. Row groups inside
    each file are sorted too, so even partially-overlapping files
    prune at row-group granularity.

    ``n_files`` caps output files (defaults to the session shuffle
    partitioning); range partitioning samples the key distribution, so
    skew in the cluster key yields balanced files regardless.
    """
    cols = [F.col(c) for c in cluster_cols]
    if n_files is None:
        n_files = partitions_for(df)
    part = df.repartitionByRange(n_files, *cols)
    (
        part.sortWithinPartitions(*cols)
        .write.mode(mode)
        .format(fmt)
        .save(path)
    )


def zorder_key(
    df: DataFrame,
    cols: list[str],
    bits: int = 6,
) -> Column:
    """Z-order (Morton) key over 2+ numeric/temporal columns: each
    column is bucketed into 2^bits equi-depth buckets (boundaries from
    one approxQuantile pass, so skew cannot unbalance the curve), and
    the bucket bits are interleaved into one sortable long — a pure
    Column expression.

    Sorting by this key clusters the data so that per-file min/max
    ranges stay narrow on EVERY participating column, where a plain
    sort only helps its leading column. The multi-dimensional
    data-skipping lever for fact tables queried by several dimensions.
    """
    # bits=6 -> 64 buckets/column: the bucketing compiles to a chain
    # of (2^bits - 1) WHENs per column, kept small enough to stay
    # inside whole-stage codegen's method-size limit
    n_buckets = 1 << bits
    buckets = []
    for c in cols:
        col = F.col(c).cast("double")
        qs = df.select(col.alias("x")).approxQuantile(
            "x", [i / n_buckets for i in range(1, n_buckets)], 0.001
        )
        # strictly increasing boundaries (duplicate quantiles collapse)
        bounds, prev = [], None
        for q in qs:
            if prev is None or q > prev:
                bounds.append(q)
                prev = q
        b = F.lit(0)
        for boundary in bounds:
            b = b + F.when(col > boundary, 1).otherwise(0)
        buckets.append(b.cast("long"))
    key = F.lit(0).cast("long")
    for bit in range(bits):
        for ci, b in enumerate(buckets):
            key = key.bitwiseOR(
                F.shiftleft(
                    F.shiftright(b, bit).bitwiseAND(F.lit(1)),
                    bit * len(buckets) + ci,
                )
            )
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits: int = 6,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write clustered along a Z-order curve over ``cols`` — see
    ``zorder_key``. Range-repartition + sort on the key, then drop it."""
    key = zorder_key(df, cols, bits)
    (
        df.withColumn("__z", key)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .format(fmt)
        .save(path)
    )


def estimated_plan_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the optimized plan (file sizes for
    scans, propagated through projections/filters). Cheap — no job."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def partitions_for(
    df: DataFrame, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """How many output files/partitions a write of ``df`` should use so
    files land near ``target_file_bytes`` — the sizing knob that keeps
    a 100 TB table from becoming either a million tiny files or a
    handful of unsplittable monsters. Derived from plan statistics
    (estimate; compact_partitions trues it up post-hoc)."""
    import math

    return max(1, math.ceil(estimated_plan_bytes(df) / target_file_bytes))


def merge_scd2(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    eff_col: str = "eff_ts",
    batch_id: int = 0,
) -> dict[str, int]:
    """SCD-2 (full-history) keyed merge without a table format: every
    key's attribute history is kept as validity intervals. Layout is
    the classic two-zone dimension store —

    - ``<path>/current/``: exactly one open row per key
      (``eff_end`` NULL, ``is_current`` true), rewritten atomically
      via the shared marker-staged swap protocol;
    - ``<path>/history/BATCH_PART=<id>/``: closed rows (``eff_end`` =
      the superseding update's effective time), appended batch-keyed
      so a replayed batch dynamic-overwrites its own leaf.

    Merge semantics per key (after resolving in-batch conflicts to
    the greatest ``(eff, payload)`` — intermediate same-batch versions
    collapse, the standard CDC-compaction rule):

    - new key -> open a current row at ``eff``;
    - changed payload (any non-key column differs, null-safe) ->
      close the open row at ``eff`` and open a new one;
    - identical payload -> no-op (idempotent redelivery, whatever
      its ``eff``);
    - stale update (different payload, ``eff`` <= the open row's
      ``eff_start``) -> skipped and counted, never applied out of
      order.

    Replay safety: history is written BEFORE the current swap, so a
    crash between the two replays into the same history leaf
    (dynamic overwrite, byte-identical) and then completes the swap;
    a replay after full success finds identical payloads and
    no-ops. At 100 TB the current zone is dimension-sized (one row
    per key) and the per-batch cost tracks the update set — the fact
    tables never participate.

    Returns {"inserted", "closed", "unchanged", "stale",
    "current_rows"}."""
    from ..llm_ops.storefs import StoreFS, rename_is_atomic, swap_dir

    payload_cols = [
        c for c in updates.columns if c not in (*keys, eff_col)
    ]
    # in-batch conflict resolution: greatest (eff, payload) wins
    latest = (
        updates.groupBy(*keys)
        .agg(
            F.max(
                F.struct(F.col(eff_col).alias("__eff"), *payload_cols)
            ).alias("__u")
        )
        .select(*keys, "__u.*")
    )
    cur_dir = f"{path}/current"
    fs = StoreFS(path, spark)
    if fs.is_dir(cur_dir):
        # a read error here must PROPAGATE — treating it as "first
        # write" would erase every key's open row (same contract as
        # merge_upsert)
        cur = spark.read.parquet(cur_dir)
    else:
        cur = None

    out_cols = [*keys, *payload_cols, "eff_start", "eff_end", "is_current"]
    if cur is None:
        current_new = latest.select(
            *keys, *payload_cols,
            F.col("__eff").alias("eff_start"),
            F.lit(None).cast("timestamp").alias("eff_end"),
            F.lit(True).alias("is_current"),
        )
        closed = current_new.filter(F.lit(False)).select(
            *keys, *payload_cols, "eff_start",
            F.col("eff_end"), F.lit(False).alias("is_current"),
        )
        n_ins = current_new.count()
        stats = {"inserted": n_ins, "closed": 0, "unchanged": 0,
                 "stale": 0, "current_rows": n_ins}
    else:
        # hidden join aliases: a payload column literally named "c" or
        # "u" must not collide with the dataframe aliases
        u = latest.alias("__upd")
        c = cur.alias("__curz")
        j = c.join(u, keys, "full_outer")
        same = None
        for pc in payload_cols:
            eq = F.col(f"__curz.{pc}").eqNullSafe(F.col(f"__upd.{pc}"))
            same = eq if same is None else (same & eq)
        has_c = F.col("__curz.eff_start").isNotNull()
        has_u = F.col("__upd.__eff").isNotNull()
        # identical payload counts as an unchanged redelivery even at
        # equal/earlier eff (the replay case); stale is reserved for
        # genuinely out-of-order DIFFERENT payloads
        stale = (
            has_c & has_u & ~same
            & (F.col("__upd.__eff") <= F.col("__curz.eff_start"))
        )
        changed = has_c & has_u & ~same & ~stale
        j = j.select(
            *[F.coalesce(F.col(f"__curz.{k}"), F.col(f"__upd.{k}")).alias(k)
              for k in keys],
            *[F.col(f"__curz.{pc}").alias(f"__c_{pc}")
              for pc in payload_cols],
            *[F.col(f"__upd.{pc}").alias(f"__u_{pc}")
              for pc in payload_cols],
            F.col("__curz.eff_start").alias("__c_start"),
            F.col("__upd.__eff").alias("__eff"),
            has_c.alias("__has_c"), has_u.alias("__has_u"),
            stale.alias("__stale"), changed.alias("__changed"),
        ).localCheckpoint(eager=True)  # one materialization feeds
        # history, current, and all four counters; also freezes the
        # read of current/ BEFORE its directory is swapped below
        closed = j.filter(F.col("__changed")).select(
            *keys,
            *[F.col(f"__c_{pc}").alias(pc) for pc in payload_cols],
            F.col("__c_start").alias("eff_start"),
            F.col("__eff").alias("eff_end"),
            F.lit(False).alias("is_current"),
        )
        kept = j.filter(
            F.col("__has_c") & ~F.col("__changed")
        ).select(
            *keys,
            *[F.col(f"__c_{pc}").alias(pc) for pc in payload_cols],
            F.col("__c_start").alias("eff_start"),
            F.lit(None).cast("timestamp").alias("eff_end"),
            F.lit(True).alias("is_current"),
        )
        opened = j.filter(
            F.col("__changed") | (~F.col("__has_c") & F.col("__has_u"))
        ).select(
            *keys,
            *[F.col(f"__u_{pc}").alias(pc) for pc in payload_cols],
            F.col("__eff").alias("eff_start"),
            F.lit(None).cast("timestamp").alias("eff_end"),
            F.lit(True).alias("is_current"),
        )
        current_new = kept.unionByName(opened)
        agg = j.agg(
            F.sum((~F.col("__has_c") & F.col("__has_u")).cast("int")).alias("i"),
            F.sum(F.col("__changed").cast("int")).alias("cl"),
            F.sum((F.col("__has_c") & F.col("__has_u") & ~F.col("__changed")
                   & ~F.col("__stale")).cast("int")).alias("un"),
            F.sum(F.col("__stale").cast("int")).alias("st"),
        ).collect()[0]
        stats = {"inserted": agg["i"] or 0, "closed": agg["cl"] or 0,
                 "unchanged": agg["un"] or 0, "stale": agg["st"] or 0}

    # history FIRST (replay-idempotent dynamic overwrite), then the
    # current swap — see docstring for the crash-window argument
    append_batch_keyed(closed.select(*out_cols), f"{path}/history", batch_id)
    tmp, aside = f"{path}/.cur_tmp", f"{path}/.cur_aside"
    marker = f"{path}/.cur_swap.json"
    for stale_dir in (tmp, aside):
        if fs.is_dir(stale_dir):
            fs.delete(stale_dir)
    current_new.select(*out_cols).write.mode("overwrite").parquet(tmp)
    if cur is None:
        fs.rename(tmp, cur_dir)
    else:
        swap_dir(fs, cur_dir, tmp, aside, marker,
                 atomic=rename_is_atomic(path))
    if "current_rows" not in stats:
        stats["current_rows"] = spark.read.parquet(cur_dir).count()
    return stats


def scd2_as_of(spark: SparkSession, path: str, ts) -> DataFrame:
    """Point-in-time reconstruction of a ``merge_scd2`` dimension: the
    attribute row valid for each key at ``ts`` — current rows with
    ``eff_start <= ts``, plus history rows whose validity interval
    covers ``ts`` (``eff_start <= ts < eff_end``). Keys first seen
    after ``ts`` are absent, exactly as they were then.

    One pruned read per zone and a union — no join: the zones
    partition the intervals by construction (an open row and a closed
    row of the same key can both match only if their intervals
    overlap, which the merge never produces). This is the dimension
    side of an as-of fact join (operators/asof.py) when history
    granularity matters."""
    t = F.lit(ts).cast("timestamp")
    cur = spark.read.parquet(f"{path}/current").filter(
        F.col("eff_start") <= t
    )
    from ..llm_ops.storefs import StoreFS

    hist_dir = f"{path}/history"
    if StoreFS(path, spark).is_dir(hist_dir):
        hist = (
            spark.read.parquet(hist_dir)
            .drop(BATCH_COL)
            .filter((F.col("eff_start") <= t) & (t < F.col("eff_end")))
        )
        return cur.unionByName(hist)
    return cur


def small_file_report(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Compaction advisor: per-partition file count / bytes / average
    file size and whether ``compact_partitions`` would rewrite it
    (more files than ``target_file_bytes`` calls for). Listing rides
    the Hadoop FileSystem API (works on any store); the result is
    PARTITION-count-sized — run it from a scheduler to pick sealed
    periods worth compacting instead of blindly rewriting the table."""
    import math as _math

    from ..llm_ops.storefs import StoreFS

    fs = StoreFS(path, spark)
    rows = []
    for part in sorted(fs.list_dirs(path)):
        if "=" not in part:
            continue
        pdir = f"{path}/{part}"
        files = fs.list_files(pdir, suffix=".parquet")
        # streamed facts nest BATCH_PART leaves under the period
        for sub in fs.list_dirs(pdir):
            if sub.startswith(f"{BATCH_COL}="):
                files += fs.list_files(f"{pdir}/{sub}", suffix=".parquet")
        n = len(files)
        total = sum(sz for _, sz in files)
        want = max(1, _math.ceil(total / target_file_bytes))
        rows.append((
            part.split("=", 1)[1], n, total,
            total // n if n else 0, n > want,
        ))
    from ..session import local_frame

    return local_frame(
        spark,
        rows,
        "partition string, n_files int, total_bytes bigint, "
        "avg_file_bytes bigint, needs_compaction boolean",
    )
