"""Streaming PQ-index maintainer: a continuously-encoded ANN index.

The streaming face of ``llm_ops.pq_store``: vector rows (JSONL) land
in a watched directory; each micro-batch is encoded with the STORED
codebooks — one map-only pass, the codebooks are frozen at build time
by the PQ serving contract — and appended to the store's codes table
under its own ``BATCH_PART`` leaf via dynamic partition overwrite, so
a replayed micro-batch rewrites exactly its own leaf (effectively
exactly-once, the shared intake posture). Because encoding is a pure
deterministic function of (vector, frozen books), the stream-built
codes table is BIT-IDENTICAL to batch-encoding the concatenated feed
— which is what queries.q_ann_pq_stream hash-checks against the
DuckDB replay.

Batch hygiene mirrors the embedding intake: null / wrong-dim vectors
(valid JSON, so the corrupt channel missed them) are quarantined, not
crashed on and never silently encoded — a wrong-dim row would slice
short subvectors and produce null codes that poison every ADC scan.
A WHOLESALE dimension change (new embedding model) fails fast against
the store meta instead of mixing code families.

At scale the per-batch cost is one executor-side encode of the batch
(m argmins/row against the broadcast codebook row) + one batch-sized
parquet append — never store-sized. Compaction / replay resolution /
serving are the batch store's (``compact_pq_store`` under the sealed-
store contract, ``pq_store_topk``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..llm_ops.pq_store import (
    CELL_COL,
    _encode_with_books,
    check_pq_meta,
    read_pq_books,
)
from ..operators.writers import append_batch_keyed
from ..sources.jsonl import read_jsonl_stream, split_corrupt
from .stream import start_foreach_batch


def run_pq_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    store_root: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    available_now: bool = False,
    trigger_seconds: int = 5,
    quarantine_dir: str | None = None,
    health_every: int | None = 8,
    max_appended_fraction: float = 0.25,
) -> StreamingQuery:
    """Watch ``input_dir`` for JSONL vector rows and keep the PQ store
    at ``store_root`` continuously encoded. The store must already be
    built (``write_pq_store``) — codebooks are train-once by contract,
    so they are loaded ONCE at stream start (model-sized collect) and
    ride every micro-batch as broadcast data; drift is a rebuild, not
    a stream concern.

    The stream is the component that CAUSES staleness (every admitted
    batch encodes under the frozen build-time books), so it also
    reports it in-band: every ``health_every``-th appended batch
    (default 8 — strided so the leaf listing is amortized, r10
    ADVICE, yet worst-case verdict lag 7 stays within the freshness
    gate's max_lag=8 default; coupling pinned by
    tests/test_store_health.py), the
    footprint side of ``pq_store_rebuild_decision`` (leaf counts
    only — no recall canary, the corpus isn't on the stream) lands in
    the store's ``_health/`` journal, batch-keyed so replays
    overwrite their own event. A 100 TB operator watches the journal
    for ``rebuild: true`` instead of running a side-channel CLI
    sweep; ``health_every=None`` disables it."""
    if quarantine_dir is None:
        quarantine_dir = f"{store_root}/_quarantine"
    meta = check_pq_meta(store_root, spark)
    books, coarse, _ = read_pq_books(spark, store_root, meta)
    dim = int(meta["dim"])
    id_col = meta.get("id_col", "vec_id")

    src = read_jsonl_stream(spark, input_dir, schema)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        parsed, bad = split_corrupt(batch_df)
        parsed = parsed.persist()
        try:
            usable = F.coalesce(
                F.col(vec_col).isNotNull() & (F.size(vec_col) == dim),
                F.lit(False),
            )
            rejects = parsed.filter(~usable).select(
                F.to_json(F.struct("*")).alias("rejected_line")
            )
            # ONE quarantine write per batch (a second batch-keyed
            # write would dynamic-overwrite the first leaf)
            append_batch_keyed(bad.unionByName(rejects), quarantine_dir,
                               batch_id)
            new = parsed.filter(usable)
            if not new.head(1):
                # wholesale dimension change = a different embedding
                # model: every row carries a non-null vector of the
                # wrong width. Fail LOUD (rebuild the store) instead
                # of quietly quarantining the feed forever. Batches
                # that are empty or all-null just return.
                drifted = parsed.filter(
                    F.col(vec_col).isNotNull() & (F.size(vec_col) != dim)
                )
                if drifted.head(1):
                    raise ValueError(
                        f"pq stream batch {batch_id}: every usable row "
                        f"was rejected against store dim={dim} — "
                        "embedding model drift? Rebuild the store "
                        "(write_pq_store)."
                    )
                return
            codes = _encode_with_books(new, books, coarse, vec_col, id_col)
            append_batch_keyed(
                codes, f"{store_root}/codes", batch_id,
                extra_partition_cols=(
                    [CELL_COL] if coarse is not None else None
                ),
            )
            if health_every and batch_id % health_every == 0:
                from ..llm_ops.pq_store import pq_store_rebuild_decision
                from ..llm_ops.storefs import write_health_event

                write_health_event(
                    store_root, batch_id,
                    pq_store_rebuild_decision(
                        spark, store_root,
                        max_appended_fraction=max_appended_fraction,
                    ),
                    spark=spark,
                )
        finally:
            parsed.unpersist()

    return start_foreach_batch(
        src, handle, checkpoint_dir, available_now, trigger_seconds
    )
