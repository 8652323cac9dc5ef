"""Continuously-deduplicating corpus intake.

The streaming face of ``llm_ops.incremental_dedup``: JSONL documents
land in a watched directory; each micro-batch is sketched, bucket-
joined against the persisted sketch store (everything ingested so
far), Jaccard-verified, and only the survivors are appended — to the
corpus AND to the store, so the next batch dedups against them too.

Exactly-once posture matches run_stream: survivors and both store
tables are keyed by micro-batch id (``BATCH_PART=<id>`` dynamic
partition overwrite), so a replayed batch rewrites its own leaves.
The one cross-batch subtlety: a replayed batch re-dedups against a
store that already contains its own survivors — harmless because
``incremental_candidates`` explicitly guards the self-pair (same id
on both sides would otherwise verify at Jaccard 1.0 and doom the
doc), so the replay reproduces the original survivor set and
overwrites the same leaves with the same rows.

At 100 TB the store is the corpus-sized sketch layer; per batch the
work is sketch(new) + one bucket shuffle touching only the store rows
in buckets the batch hits (bucket-partition the store for pruning)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..llm_ops.dedup import banded_signatures, shingle_sets
from ..llm_ops.incremental_dedup import incremental_minhash_dups
from ..operators.writers import (
    BATCH_COL,
    append_batch_keyed,
    read_batch_keyed,
)
from ..sources.jsonl import read_jsonl_stream, split_corrupt
from .stream import start_foreach_batch

_SETS_SCHEMA = "id BIGINT, sh ARRAY<BIGINT>"
_BANDED_SCHEMA = "id BIGINT, band INT, bucket STRING"


def _ensure_sketch_meta(
    root: str, num_hashes: int, bands: int, shingle_k: int
) -> None:
    """Stores this stream bootstraps itself (no prior write_sketch_store)
    need a ``_meta.json`` too, or the parameter-mismatch fail-fast in
    check_sketch_meta silently no-ops for later consumers.

    Only a store with NO existing data gets stamped: a pre-meta store
    that already holds sketches was built with unknown parameters, and
    recording this stream's would be false provenance — a later
    consumer matching the wrong stamp would pass the check and get
    silent zero recall. Routed through storefs so a remote store root
    bootstraps identically."""
    from ..llm_ops.storefs import StoreFS, read_store_json, write_store_json

    if read_store_json(root) is not None:
        return
    fs = StoreFS(root)
    if fs.is_dir(f"{root}/sets") or fs.is_dir(f"{root}/banded"):
        return  # legacy store, unknown provenance — leave meta absent
    write_store_json(
        root,
        {"num_hashes": num_hashes, "bands": bands,
         "shingle_k": shingle_k, "portable": False},
    )


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence check (works for any configured FS, no job)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def _doomed_new_ids(dups: DataFrame, new: DataFrame, id_col: str) -> DataFrame:
    """Which NEW docs die, given verified duplicate pairs (id_a < id_b).
    Stored docs are never retroactively removed (append-only corpus
    contract), so a new doc dies when it duplicates ANY stored doc —
    regardless of id order; ids need not be monotonic across batches
    (hash/uuid ids). For in-batch pairs the larger id dies."""
    mark_a = F.broadcast(
        new.select(F.col(id_col).alias("id_a"), F.lit(True).alias("__a_new"))
    )
    mark_b = F.broadcast(
        new.select(F.col(id_col).alias("id_b"), F.lit(True).alias("__b_new"))
    )
    tagged = (
        dups.select("id_a", "id_b")
        .join(mark_a, "id_a", "left")
        .join(mark_b, "id_b", "left")
        .withColumn("a_new", F.coalesce("__a_new", F.lit(False)))
        .withColumn("b_new", F.coalesce("__b_new", F.lit(False)))
    )
    return (
        tagged.select(
            F.when(F.col("a_new") & F.col("b_new"), F.col("id_b"))
            .when(F.col("a_new"), F.col("id_a"))
            .when(F.col("b_new"), F.col("id_b"))
            .alias(id_col)
        )
        .filter(F.col(id_col).isNotNull())
        .distinct()
    )


def run_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    out_dir: str,
    store_root: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    available_now: bool = False,
    trigger_seconds: int = 5,
    quarantine_dir: str | None = None,
    portable: bool = False,
    health_every: int | None = 8,
    max_appended_fraction: float = 0.5,
    max_append_batches: int = 64,
) -> StreamingQuery:
    """Watch ``input_dir`` for JSONL docs; append only near-dup
    survivors to ``out_dir``; maintain the sketch store under
    ``store_root`` (``sets/`` + ``banded/``). Corrupt lines go to
    ``quarantine_dir`` (default: ``<out_dir>/_quarantine``) — the
    same reject-channel contract as every other intake. ``portable``
    switches the sketch hash family to the md5-based engine-portable
    one so a SQL oracle can replay the stream (queries.q_dedup_stream). For oversize
    LSH-bucket skip diagnostics run ``minhash_bucket_stats`` over an
    increment offline; an in-stream Observation is unsafe here (its
    ``get`` can block the micro-batch thread when AQE's empty-relation
    propagation drops the metrics node).

    Every ``health_every``-th appended batch (default 8 — strided so the
    decision scan's leaf listing is amortized, r10 ADVICE, yet small
    enough that worst-case verdict lag 7 stays within the freshness
    gate's max_lag=8 default — the two MUST stay coupled, pinned by
    tests/test_store_health.py) also
    drops a
    ``sketch_store_compact_decision`` verdict into the store's
    ``_health/`` journal (batch-keyed, replay-overwrites-itself) —
    the same in-band "compact now" signal the gram-index and PQ
    maintainers emit; ``health_every=None`` disables it."""
    if quarantine_dir is None:
        quarantine_dir = f"{out_dir}/_quarantine"

    from ..llm_ops.incremental_dedup import (
        BUCKET_PART_COL,
        bucket_part_expr,
        check_sketch_meta,
        read_sketch_meta,
    )

    check_sketch_meta(store_root, num_hashes, bands, shingle_k)
    _ensure_sketch_meta(store_root, num_hashes, bands, shingle_k)
    meta = read_sketch_meta(store_root) or {}
    # a bucket-partitioned store (write_sketch_store bucket_partitions=N)
    # must be appended to in the same layout, and lets the per-batch
    # store scan prune untouched BKT_PART directories at planning time
    bkt_n = meta.get("bucket_partitions")

    src = read_jsonl_stream(spark, input_dir, schema)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        new, bad = split_corrupt(batch_df)
        append_batch_keyed(bad, quarantine_dir, batch_id)
        new = new.persist()
        new_sets = new_banded = None
        try:
            if not new.head(1):
                return
            old_sets = read_batch_keyed(
                spark, f"{store_root}/sets", _SETS_SCHEMA
            ).drop(BATCH_COL)
            old_banded = read_batch_keyed(
                spark, f"{store_root}/banded", _BANDED_SCHEMA
            ).drop(BATCH_COL)
            # shingle ONCE; sketches and candidates reuse these frames
            new_sets = shingle_sets(
                new, text_col, id_col, shingle_k, portable=portable
            ).persist()
            new_banded = banded_signatures(
                new, text_col, id_col, num_hashes, bands, shingle_k,
                sets_df=new_sets, portable=portable,
            ).persist()
            dups = incremental_minhash_dups(
                new, old_sets, old_banded, text_col, id_col,
                threshold=threshold, num_hashes=num_hashes, bands=bands,
                shingle_k=shingle_k, sets_df=new_sets, banded_df=new_banded,
                bucket_partitions=bkt_n, portable=portable,
            )
            doomed = _doomed_new_ids(dups, new, id_col)
            survivors = new.join(doomed, id_col, "left_anti")
            append_batch_keyed(survivors, out_dir, batch_id)
            leaf = f"{out_dir}/{BATCH_COL}={batch_id}"
            if not _path_exists(spark, leaf):
                # every new doc was a duplicate: the partitioned write
                # of an empty frame creates no leaf, so there's nothing
                # to re-read and nothing to append to the store.
                return
            # derive the store writes from the survivors JUST WRITTEN
            # to disk, not from the survivors plan: that plan reads the
            # store (via the dup join), and on a replayed batch the
            # store write below dynamic-overwrites the very leaf the
            # plan would re-read if a cached partition were evicted —
            # a read-then-overwrite cycle (FAILED_READ_FILE). The
            # on-disk leaf is stable input.
            surv_ids = spark.read.parquet(leaf).select(
                F.col(id_col).alias("id")
            )
            append_batch_keyed(
                new_sets.join(surv_ids, "id", "left_semi"),
                f"{store_root}/sets", batch_id,
            )
            banded_out = new_banded.join(surv_ids, "id", "left_semi")
            if bkt_n:
                banded_out = banded_out.withColumn(
                    BUCKET_PART_COL, bucket_part_expr(bkt_n)
                )
            append_batch_keyed(
                banded_out, f"{store_root}/banded", batch_id,
                extra_partition_cols=[BUCKET_PART_COL] if bkt_n else None,
            )
            if health_every and batch_id % health_every == 0:
                from ..llm_ops.incremental_dedup import (
                    sketch_store_compact_decision,
                )
                from ..llm_ops.storefs import write_health_event

                write_health_event(
                    store_root, batch_id,
                    sketch_store_compact_decision(
                        spark, store_root,
                        max_appended_fraction=max_appended_fraction,
                        max_append_batches=max_append_batches,
                    ),
                    spark=spark,
                )
        finally:
            # unpersist in finally: a transient mid-batch failure is
            # retried by Structured Streaming, and leaked cached RDDs
            # would accumulate per attempt for the stream's lifetime
            for cached in (new_sets, new_banded):
                if cached is not None:
                    cached.unpersist()
            new.unpersist()

    return start_foreach_batch(
        src, handle, checkpoint_dir, available_now, trigger_seconds
    )


def _ensure_embedding_meta(
    root: str, planes: int, bands: int, seed: int, dim: int
) -> None:
    """First-batch bootstrap of an embedding store's _meta.json (dim is
    only known once data arrives). Same no-false-provenance rule as the
    text stream: never stamp a store that already holds data."""
    from ..llm_ops.storefs import StoreFS, read_store_json, write_store_json

    if read_store_json(root) is not None:
        return
    fs = StoreFS(root)
    if fs.is_dir(f"{root}/vectors") or fs.is_dir(f"{root}/banded"):
        return
    write_store_json(
        root, {"planes": planes, "bands": bands, "seed": seed, "dim": dim}
    )


def run_embedding_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    out_dir: str,
    store_root: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    planes: int = 6,
    bands: int = 8,
    seed: int = 42,
    available_now: bool = False,
    trigger_seconds: int = 5,
    quarantine_dir: str | None = None,
    health_every: int | None = 8,
    max_appended_fraction: float = 0.5,
    max_append_batches: int = 64,
) -> StreamingQuery:
    """Continuously-deduplicating EMBEDDING intake — the vector twin of
    run_dedup_stream: JSONL rows carrying an embedding array land in a
    watched directory; each micro-batch is bucketed (one Arrow
    matmul), joined against the persisted hyperplane store, cosine-
    verified, and only survivors append — to the corpus AND the store
    (vectors + banded), batch-keyed for exactly-once replay. Same
    survivorship, all-duplicate-batch, meta-provenance and (via
    ``health_every``) in-band ``_health/`` compact-verdict semantics
    as the text stream."""
    if quarantine_dir is None:
        quarantine_dir = f"{out_dir}/_quarantine"

    from ..llm_ops.incremental_embedding import (
        _infer_dim,
        banded_embedding_buckets,
        check_embedding_meta,
        incremental_embedding_dups,
    )

    check_embedding_meta(store_root, planes, bands, seed)
    _VEC_SCHEMA = "id BIGINT, v ARRAY<DOUBLE>"
    _EB_SCHEMA = "id BIGINT, band INT, bucket BIGINT"

    src = read_jsonl_stream(spark, input_dir, schema)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        parsed, bad = split_corrupt(batch_df)
        parsed = parsed.persist()
        new = None
        new_banded = None
        try:
            # batch hygiene: a vector row the sketch can't handle is a
            # REJECT, not a crash and not a silent survivor —
            #  - null/empty embeddings (valid JSON, so the corrupt
            #    channel missed them) can't be deduplicated at all;
            #  - minority wrong-dim rows (mid-feed model drift) would
            #    get null buckets, survive unverified, and poison the
            #    store's dimension.
            # A WHOLESALE dimension change still fails fast below via
            # the meta check (the batch mode itself shifts). ONE
            # quarantine write per batch: a second batch-keyed write
            # would dynamic-overwrite the first leaf.
            dim = _infer_dim(parsed, vec_col)
            usable = (
                F.coalesce(
                    F.col(vec_col).isNotNull() & (F.size(vec_col) == dim),
                    F.lit(False),
                )
                if dim
                else F.lit(False)
            )
            rejects = parsed.filter(~usable).select(
                F.to_json(F.struct("*")).alias("rejected_line")
            )
            append_batch_keyed(
                bad.unionByName(rejects), quarantine_dir, batch_id
            )
            if not dim:
                return
            new = parsed.filter(usable).persist()
            if not new.head(1):
                return
            _ensure_embedding_meta(store_root, planes, bands, seed, dim)
            check_embedding_meta(store_root, planes, bands, seed, dim=dim)
            old_vecs = read_batch_keyed(
                spark, f"{store_root}/vectors", _VEC_SCHEMA
            ).drop(BATCH_COL)
            old_banded = read_batch_keyed(
                spark, f"{store_root}/banded", _EB_SCHEMA
            ).drop(BATCH_COL)
            new_banded = banded_embedding_buckets(
                new, vec_col, id_col, planes, bands, seed, dim=dim
            ).persist()
            dups = incremental_embedding_dups(
                new, old_vecs, old_banded, vec_col, id_col,
                threshold=threshold, planes=planes, bands=bands, seed=seed,
                banded_df=new_banded, dim=dim,
            )
            doomed = _doomed_new_ids(dups, new, id_col)
            survivors = new.join(doomed, id_col, "left_anti")
            append_batch_keyed(survivors, out_dir, batch_id)
            leaf = f"{out_dir}/{BATCH_COL}={batch_id}"
            if not _path_exists(spark, leaf):
                return  # all-duplicate batch: nothing to append
            surv_ids = spark.read.parquet(leaf).select(
                F.col(id_col).alias("id")
            )
            new_vecs = new.select(
                F.col(id_col).alias("id"),
                F.col(vec_col).cast("array<double>").alias("v"),
            )
            append_batch_keyed(
                new_vecs.join(surv_ids, "id", "left_semi"),
                f"{store_root}/vectors", batch_id,
            )
            append_batch_keyed(
                new_banded.join(surv_ids, "id", "left_semi"),
                f"{store_root}/banded", batch_id,
            )
            if health_every and batch_id % health_every == 0:
                from ..llm_ops.incremental_embedding import (
                    embedding_store_compact_decision,
                )
                from ..llm_ops.storefs import write_health_event

                write_health_event(
                    store_root, batch_id,
                    embedding_store_compact_decision(
                        spark, store_root,
                        max_appended_fraction=max_appended_fraction,
                        max_append_batches=max_append_batches,
                    ),
                    spark=spark,
                )
        finally:
            for cached in (new_banded, new):
                if cached is not None:
                    cached.unpersist()
            parsed.unpersist()

    return start_foreach_batch(
        src, handle, checkpoint_dir, available_now, trigger_seconds
    )
