"""Incremental exact-substring dedup against a persisted gram index.

``llm_ops.substring`` finds duplicated >= L-token spans with a full
corpus pass. At 100 TB you cannot re-fingerprint history every time a
crawl batch lands; this module persists the DISTINCT gram
fingerprints of the accepted corpus (the materialized "suffix index"
layer — one 60-bit BIGINT per distinct gram) and answers, for a new
batch only:

  which spans of the NEW documents duplicate the historical corpus,
  or repeat inside the new batch itself?

Semantics are **history-wins** (first-arrival keeps, like the
exact-dedup intake): any new occurrence of a gram already in the
store is a duplicate; for grams new to this batch, the batch-local
minimum (id, off) keeps. That is exactly the batch
``duplicate_spans`` over (history UNION new) with the keeper order
(in_history DESC, id, off), restricted to new ids — the replay the
oracle of ``queries.q_substring_dedup_incremental`` runs.

Scale shapes:

- probe: new-batch gram offsets (one array projection) equi-join the
  store on the fingerprint. With ``bucket_partitions=N`` the store is
  hash-partitioned by ``BKT_PART = pmod(fp, N)`` and the probe reads
  ONLY the partitions the batch touches — a planning-time
  PartitionFilters prune, never a full-store scan.
- append: the batch's distinct fps land under their own
  ``BATCH_PART`` leaf (idempotent dynamic overwrite under replay —
  the same exactly-once convention as every other streamed store);
  re-appended fps are resolved by DISTINCT at read time and folded by
  compaction.
- the store never holds positions or text: membership is enough,
  because history-wins makes every historical occurrence a keeper.

``forget``: a gram fingerprint is shared evidence, not per-document
data — removing a document's rows from the corpus does not license
removing its grams from the index (other documents may carry them).
A compliance forget therefore REBUILDS the store from the surviving
corpus (``write_substring_store`` over the post-forget table); the
store is derived state, cheap to rebuild relative to the corpus scan
the forget already pays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..operators.writers import BATCH_COL, read_batch_keyed
from .storefs import (
    StoreFS,
    note_store_participation,
    read_store_json,
    write_store_json,
)
from .substring import gram_offsets

#: hash-partition column for planning-time probe pruning
BKT_PART_COL = "BKT_PART"
# empty-store shape of ``<root>/grams`` (read_batch_keyed)
_GRAMS_DDL = f"fp bigint, {BATCH_COL} int, {BKT_PART_COL} int"


def _bkt_expr(n: int):
    return F.pmod(F.col("fp"), F.lit(n)).cast("int")


def write_substring_store(
    df: DataFrame,
    text_col: str,
    id_col: str,
    root: str,
    L: int = 8,
    bucket_partitions: int | None = None,
) -> None:
    """Materialize the distinct-gram index of the accepted corpus
    under a ``BATCH_PART=-1`` leaf (the bootstrap batch — identical
    layout to what appends add, so partition discovery never sees a
    mixed tree).

    Rebuilds (forget, re-bootstrap) go through the same tmp/swap
    protocol as ``compact_substring_store`` — the replacement leaf is
    fully written under ``grams__compacting`` and committed by
    ``swap_dir``, so a crash mid-rebuild leaves either the old index
    or the new one, never a meta-stamped store that silently reads as
    empty history (r8 ADVICE). Sharing the exact tmp/aside/marker
    names means either function's ``heal_swap`` repairs a crash of
    the other."""
    from .storefs import heal_swap, rename_is_atomic, swap_dir

    spark = df.sparkSession
    fs = StoreFS(root, spark)
    live = f"{root}/grams"
    tmp = f"{root}/grams__compacting"
    aside = f"{root}/grams__old"
    marker = f"{root}/grams__COMMIT"
    heal_swap(fs, live=live, tmp=tmp, aside=aside, marker=marker)
    fps = gram_offsets(df, text_col, id_col, L).select("fp").distinct()
    leaf = f"{tmp}/{BATCH_COL}=-1"
    if bucket_partitions:
        (
            fps.withColumn(BKT_PART_COL, _bkt_expr(bucket_partitions))
            .write.mode("overwrite")
            .partitionBy(BKT_PART_COL)
            .parquet(leaf)
        )
    else:
        fps.write.mode("overwrite").parquet(leaf)
    if fs.is_dir(live):
        swap_dir(
            fs, live=live, tmp=tmp, aside=aside, marker=marker,
            atomic=rename_is_atomic(root),
        )
    else:
        fs.rename(tmp, live)  # first build: nothing to swap out
    write_store_json(
        root,
        {"L": L, "bucket_partitions": bucket_partitions},
        spark=spark,
    )


def init_substring_store(
    spark: SparkSession,
    root: str,
    L: int = 8,
    bucket_partitions: int | None = None,
) -> dict:
    """Stamp an EMPTY store (meta only, no leaves) — the streaming
    maintainer's bootstrap: batch 0 probes an empty history and its
    append creates the first leaf. Idempotent when the meta already
    matches; a mismatched L/bucketing fails loud (grams fingerprinted
    at a different L can never match)."""
    meta = read_store_json(root, spark=spark)
    want = {"L": L, "bucket_partitions": bucket_partitions}
    if meta is not None:
        got = {k: meta.get(k) for k in want}
        if got != want:
            raise ValueError(
                f"substring store at {root} is stamped {got}, "
                f"asked for {want} — rebuild instead of re-init"
            )
        return meta
    write_store_json(root, want, spark=spark)
    return want


def check_substring_meta(root: str, spark: SparkSession) -> dict:
    meta = read_store_json(root, spark=spark)
    if meta is None or "L" not in meta:
        raise ValueError(
            f"substring store at {root} has no _meta.json — not a "
            "substring store (or a partial write); rebuild it"
        )
    note_store_participation(root, "grams")
    return meta


def read_substring_fps(
    spark: SparkSession, root: str, before_batch: int | None = None
) -> DataFrame:
    """Distinct historical fingerprints (folds replayed appends)."""
    return (
        read_batch_keyed(spark, f"{root}/grams", _GRAMS_DDL, before_batch)
        .select("fp").distinct()
    )


def substring_store_append(
    new_docs: DataFrame,
    text_col: str,
    id_col: str,
    root: str,
    batch_id: int | None = None,
    grams: DataFrame | None = None,
) -> int:
    """Admit a batch's grams into history under its own BATCH_PART
    leaf. Idempotent per batch_id (dynamic overwrite rewrites exactly
    that leaf on replay). Appends the batch's DISTINCT fps without
    anti-joining history — duplicates across leaves are resolved by
    the DISTINCT read and folded by ``compact_substring_store``, so
    the append stays one map pass + one tiny shuffle. ``grams``
    short-circuits the gram projection when the caller already
    computed it.

    Id namespaces: a stream passes its checkpoint-issued batch_id
    (>= 0); manual/CLI appends (batch_id=None) are auto-numbered
    DOWNWARD from the bootstrap leaf (-2, -3, ...). The two ranges
    are disjoint by construction, so a store can serve both a CLI
    append and a stream: the stream's dynamic overwrite can never
    delete a manual leaf, and its replay-safety prune
    (``BATCH_COL < current``) always keeps manual leaves visible as
    history (r8 ADVICE — previously manual ids continued the stream's
    numbering and could collide with or be hidden by it)."""
    spark = new_docs.sparkSession
    meta = check_substring_meta(root, spark)
    L = int(meta["L"])
    nbkt = meta.get("bucket_partitions")
    if batch_id is None:
        fs = StoreFS(root, spark)
        manual = [
            b for name in fs.list_dirs(f"{root}/grams")
            if name.startswith(f"{BATCH_COL}=")
            and (b := int(name.split("=", 1)[1])) < -1
        ]
        batch_id = (min(manual) - 1) if manual else -2
    if grams is None:
        grams = gram_offsets(new_docs, text_col, id_col, L)
    fps = (
        grams
        .select("fp").distinct()
        .withColumn(BATCH_COL, F.lit(int(batch_id)))
    )
    part_cols = [BATCH_COL] + ([BKT_PART_COL] if nbkt else [])
    if nbkt:
        fps = fps.withColumn(BKT_PART_COL, _bkt_expr(int(nbkt)))
    (
        fps.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*part_cols)
        .parquet(f"{root}/grams")
    )
    return int(batch_id)


def incremental_duplicate_spans(
    spark: SparkSession,
    root: str,
    new_docs: DataFrame,
    text_col: str,
    id_col: str,
    before_batch: int | None = None,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Maximal duplicated spans of the NEW documents under
    history-wins keeper semantics: (id, span_start, span_end,
    span_tokens), span_end exclusive.

    One pass over the new batch: gram offsets -> left join the store
    fps (probe pruned to the touched BKT_PART partitions when the
    store is bucketed) -> batch-local keeper election for
    store-missed grams (``substring.local_keeper_dups``) ->
    gaps-and-islands merge (``substring.merge_spans``) — the same
    building blocks as the batch path, so the two can never silently
    diverge. The historical corpus is never re-read beyond its
    fingerprint set. ``grams`` short-circuits the gram projection
    when the caller (the streaming intake) already computed it."""
    from .substring import local_keeper_dups, merge_spans

    meta = check_substring_meta(root, spark)
    L = int(meta["L"])
    nbkt = meta.get("bucket_partitions")
    g = (
        grams
        if grams is not None
        else gram_offsets(new_docs, text_col, id_col, L)
    )
    # NOTE (r11 optimization round): persisting ``g`` across the
    # touched-bucket collect and the probe's two union branches was
    # measured SLOWER here — the projection is corpus/batch-wide and
    # wide (id, off, fp per token offset), so materializing it costs
    # more than the extra fused map passes it saves (the touched
    # collect is a map-side partial aggregate down to <= n_buckets
    # values). The suite-sized attribution update keeps its persist;
    # this path deliberately recomputes.
    hist = read_batch_keyed(
        spark, f"{root}/grams", _GRAMS_DDL, before_batch
    )
    if nbkt:
        touched = sorted(
            r["b"]
            for r in g.select(_bkt_expr(int(nbkt)).alias("b"))
            .distinct().collect()
        )
        hist = hist.filter(F.col(BKT_PART_COL).isin(touched))
    hist = hist.select("fp").distinct().withColumn("__hist", F.lit(True))
    probed = g.join(hist, "fp", "left")
    # store hits: EVERY new occurrence duplicates a historical keeper
    hits = probed.filter(F.col("__hist").isNotNull()).select(id_col, "off")
    # store misses: batch-local first occurrence keeps
    local = local_keeper_dups(
        probed.filter(F.col("__hist").isNull()).select(id_col, "off", "fp"),
        id_col,
    )
    return merge_spans(hits.unionByName(local), id_col, L)


def store_overlap_spans(
    spark: SparkSession,
    root: str,
    docs: DataFrame,
    text_col: str,
    id_col: str,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Maximal spans of ``docs`` whose >= L-token grams exist in the
    PERSISTED gram index — the serving shape of
    ``substring.benchmark_overlap_spans`` for suites too large to
    re-fingerprint per probe: build the store ONCE over the benchmark
    (``write_substring_store``), then each training batch pays one
    offset projection + the BKT_PART-pruned probe join + the islands
    merge. No keeper election and no batch-local dedup: the store is
    frozen evidence, every hit is a contaminated offset. Returns
    (id, span_start, span_end, span_tokens)."""
    from .substring import merge_spans

    meta = check_substring_meta(root, spark)
    L = int(meta["L"])
    nbkt = meta.get("bucket_partitions")
    g = (
        grams
        if grams is not None
        else gram_offsets(docs, text_col, id_col, L)
    )
    # no persist of ``g`` — see incremental_duplicate_spans' note
    hist = read_batch_keyed(spark, f"{root}/grams", _GRAMS_DDL)
    if nbkt:
        touched = sorted(
            r["b"]
            for r in g.select(_bkt_expr(int(nbkt)).alias("b"))
            .distinct().collect()
        )
        hist = hist.filter(F.col(BKT_PART_COL).isin(touched))
    hits = (
        g.join(hist.select("fp").distinct(), "fp")
        .select(id_col, "off")
    )
    return merge_spans(hits, id_col, L)


def substring_store_stats(
    spark: SparkSession, root: str, with_distinct: bool = True
) -> dict:
    """Staleness/health accounting for the gram index, the substring
    sibling of ``pq_store_footprint``: per-leaf fingerprint counts
    from one count scan (no payload columns read). ``appended
    fraction`` here measures LEAF bloat, not quality decay (frozen
    grams never degrade — membership is exact), so its action is
    "compact when X", not "rebuild when X":

    ``{"fps_distinct", "fps_rows", "rows_bootstrap", "rows_appended",
       "appended_fraction", "n_append_batches"}``

    fps_rows counts duplicate registrations across leaves (the bytes
    every probe scans); compaction folds them to fps_distinct.

    ``with_distinct=False`` skips the fps_distinct count (reports
    None) — that one is a full-store distinct shuffle, fine for a CLI
    health sweep but NOT for a per-micro-batch epoch report; the
    leaf counts alone are a zero-payload-column scan."""
    check_substring_meta(root, spark)
    per = {
        int(r[BATCH_COL]): int(r["n"])
        for r in read_batch_keyed(spark, f"{root}/grams", _GRAMS_DDL)
        .groupBy(BATCH_COL).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # bootstrap is exactly leaf -1; stream appends number upward from
    # 0, manual appends downward from -2 — both are compactable bloat
    boot = per.get(-1, 0)
    total = sum(per.values())
    appended = total - boot
    return {
        "fps_distinct": (
            read_substring_fps(spark, root).count() if with_distinct
            else None
        ),
        "fps_rows": total,
        "rows_bootstrap": boot,
        "rows_appended": appended,
        "appended_fraction": round(appended / total, 6) if total else 0.0,
        "n_append_batches": sum(1 for b in per if b != -1),
    }


def substring_store_compact_decision(
    spark: SparkSession,
    root: str,
    max_appended_fraction: float = 0.5,
    max_append_batches: int = 64,
) -> dict:
    """Turn ``substring_store_stats`` into an actionable verdict, the
    gram-index sibling of ``pq_store_rebuild_decision``. Frozen grams
    never decay (membership is exact), so the action here is COMPACT,
    not rebuild: appended leaves bloat every probe (duplicate fp rows
    scanned + per-leaf file listing). Reasons name the exact
    threshold crossed, so the decision is auditable. Cheap by
    construction (per-epoch-safe): leaf counts only, no full-store
    distinct."""
    stats = substring_store_stats(spark, root, with_distinct=False)
    reasons: list[str] = []
    if stats["appended_fraction"] > max_appended_fraction:
        reasons.append(
            f"appended_fraction {stats['appended_fraction']} > "
            f"{max_appended_fraction}"
        )
    if stats["n_append_batches"] > max_append_batches:
        reasons.append(
            f"n_append_batches {stats['n_append_batches']} > "
            f"{max_append_batches}"
        )
    return {**stats, "compact": bool(reasons), "reasons": reasons}


def substring_store_forget(
    df_surviving: DataFrame,
    text_col: str,
    id_col: str,
    root: str,
) -> dict:
    """Right-to-be-forgotten for the gram index = REBUILD from the
    surviving corpus. A gram fingerprint is shared evidence — other
    documents may carry the same gram, so deleting a subject's fps
    would break dedup for everyone else, and keeping them all leaks
    nothing (a bare 60-bit hash of an 8-token window is not subject
    data once no surviving document contains it... but the
    conservative contract is: the index derives ONLY from surviving
    rows). The store records its own L/bucketing, so the rebuild
    cannot drift geometry. Cost is one corpus pass — the same scan
    the forget already paid on the corpus itself."""
    spark = df_surviving.sparkSession
    meta = check_substring_meta(root, spark)
    write_substring_store(
        df_surviving, text_col, id_col, root,
        L=int(meta["L"]),
        bucket_partitions=meta.get("bucket_partitions"),
    )
    return {
        "action": "rebuilt",
        "fps_distinct": read_substring_fps(spark, root).count(),
    }


def compact_substring_store(spark: SparkSession, root: str) -> dict:
    """Fold all batch leaves into a fresh ``BATCH_PART=-1`` bootstrap
    leaf (distinct fps), via the shared swap/heal protocol so a crash
    mid-compaction never strands a half store."""
    from .storefs import heal_swap, rename_is_atomic, swap_dir

    meta = check_substring_meta(root, spark)
    nbkt = meta.get("bucket_partitions")
    fs = StoreFS(root, spark)
    live = f"{root}/grams"
    tmp = f"{root}/grams__compacting"
    aside = f"{root}/grams__old"
    marker = f"{root}/grams__COMMIT"
    heal_swap(fs, live=live, tmp=tmp, aside=aside, marker=marker)
    fps = read_substring_fps(spark, root)
    leaf = f"{tmp}/{BATCH_COL}=-1"
    if nbkt:
        (
            fps.withColumn(BKT_PART_COL, _bkt_expr(int(nbkt)))
            .write.mode("overwrite")
            .partitionBy(BKT_PART_COL)
            .parquet(leaf)
        )
    else:
        fps.write.mode("overwrite").parquet(leaf)
    swap_dir(
        fs, live=live, tmp=tmp, aside=aside, marker=marker,
        atomic=rename_is_atomic(root),
    )
    return {"grams": live}
