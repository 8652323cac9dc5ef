"""Continuously span-deduplicating intake: the streaming closure of
the exact-substring pass.

JSONL documents land in a watched directory; each micro-batch is
span-checked against the persisted gram index of EVERYTHING seen
before it (plus batch-local history-wins keepers), the duplicated
spans are removed from the admitted text, and the batch's ORIGINAL
grams are registered so later batches dedup against all content
seen — which makes the store after N batches bit-identical to a
batch build over the concatenated feed (the compaction invariant),
and the admitted corpus equal to replaying the whole feed through
the (arrival, id, off) keeper order.

Exactly-once posture: the store probe is pruned to BATCH_PART <
current batch (a replayed batch dedups against its original
predecessor state, never its own half-written append), and both the
corpus sink and the gram append are batch-keyed dynamic overwrites.

Routing: corrupt lines quarantine; NULL-text rows pass through
unchanged (nothing to span-check, and the rewrite would render NULL
as ''); non-null text with a NULL id cannot play keeper election —
quarantined as JSON lines, mirroring the exact-dedup intake.

Per-batch cost at 100 TB/day: one gram projection over the batch, a
probe join pruned to the touched BKT_PART partitions, the
gaps-and-islands merge on the batch's own doc ids, and one
batch-sized leaf append. History is never re-fingerprinted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..llm_ops.incremental_substring import (
    incremental_duplicate_spans,
    init_substring_store,
    substring_store_append,
)
from ..llm_ops.substring import apply_span_removal, gram_offsets
from ..operators.writers import append_batch_keyed
from ..sources.jsonl import read_jsonl_stream, split_corrupt
from .stream import start_foreach_batch


def run_substring_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    out_dir: str,
    store_root: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    L: int = 8,
    bucket_partitions: int | None = None,
    available_now: bool = False,
    trigger_seconds: int = 5,
    quarantine_dir: str | None = None,
    health_every: int | None = 8,
    max_appended_fraction: float = 0.5,
    max_append_batches: int = 64,
) -> StreamingQuery:
    """Watch ``input_dir`` for JSONL docs; append span-cleaned docs
    (original columns, ``text_col`` rewritten) to ``out_dir``;
    maintain the gram index at ``store_root``. The store may be
    pre-built (``write_substring_store`` over an accepted corpus —
    its bootstrap leaf is BATCH_PART=-1, visible to every batch) or
    absent, in which case it is stamped empty here.

    Every ``health_every``-th appended batch (default 8 — strided so the
    decision scan's leaf listing is amortized, r10 ADVICE, yet small
    enough that worst-case verdict lag 7 stays within the freshness
    gate's max_lag=8 default — the two MUST stay coupled, pinned by
    tests/test_store_health.py) also
    drops a
    ``substring_store_compact_decision`` verdict into the store's
    ``_health/`` journal (batch-keyed, replay-overwrites-itself) —
    the in-band "compact now" signal, since the stream is what grows
    the leaf count. ``health_every=None`` disables it."""
    if quarantine_dir is None:
        quarantine_dir = f"{out_dir}/_quarantine"
    meta = init_substring_store(spark, store_root, L, bucket_partitions)

    src = read_jsonl_stream(spark, input_dir, schema)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        new, bad = split_corrupt(batch_df)
        # ONE quarantine write per batch: corrupt lines plus NULL-id
        # rows together — a second append_batch_keyed to the same dir
        # would dynamic-overwrite (i.e. DELETE) the first one's leaf.
        # NULL-id rows reject regardless of text NULL-ness (scanning
        # only text-non-null rows would admit NULL-id+NULL-text rows).
        rejects = bad.unionByName(
            new.filter(F.col(id_col).isNull()).select(
                F.to_json(F.struct("*")).alias("rejected_line")
            )
        )
        append_batch_keyed(rejects, quarantine_dir, batch_id)
        keyed = new.filter(F.col(id_col).isNotNull())
        null_text = keyed.filter(F.col(text_col).isNull())
        docs = keyed.filter(F.col(text_col).isNotNull())
        if not keyed.head(1):
            return
        # fingerprint the batch ONCE; the probe and the register
        # actions share the persisted frame instead of re-tokenizing
        grams = gram_offsets(
            docs, text_col, id_col, int(meta["L"])
        ).persist()
        try:
            spans = incremental_duplicate_spans(
                spark, store_root, docs, text_col, id_col,
                before_batch=batch_id, grams=grams,
            )
            cleaned = apply_span_removal(docs, spans, text_col, id_col)
            admitted = (
                docs.drop(text_col)
                .join(cleaned, id_col)
                .withColumnRenamed("cleaned", text_col)
                .unionByName(null_text, allowMissingColumns=False)
            )
            append_batch_keyed(admitted, out_dir, batch_id)
            # register the batch's ORIGINAL grams (all content seen)
            # so the store stays equal to a batch build over the
            # whole feed; idempotent per batch_id (dynamic overwrite
            # of its own leaf)
            substring_store_append(
                docs, text_col, id_col, store_root, batch_id=batch_id,
                grams=grams,
            )
            if health_every and batch_id % health_every == 0:
                from ..llm_ops.incremental_substring import (
                    substring_store_compact_decision,
                )
                from ..llm_ops.storefs import write_health_event

                write_health_event(
                    store_root, batch_id,
                    substring_store_compact_decision(
                        spark, store_root,
                        max_appended_fraction=max_appended_fraction,
                        max_append_batches=max_append_batches,
                    ),
                    spark=spark,
                )
        finally:
            grams.unpersist()

    return start_foreach_batch(
        src, handle, checkpoint_dir, available_now, trigger_seconds
    )
