"""Continuously-maintained contamination attribution: the streaming
closure of ``llm_ops/attribution.py``.

JSONL crawl documents land in a watched directory; each micro-batch
is fingerprinted ONCE, probed against the FROZEN benchmark index
(``write_attribution_store`` over the eval suites, built once), and
folded into the running per-benchmark counters — so "which eval is
burned" (``attribution_report``) is a read of benchmark-sized state
at any moment, never a corpus re-fingerprint.

This stream is a MONITOR, not an intake: it admits nothing and
rewrites nothing; its only product is the counter/hit state. Corrupt
lines and NULL-id rows quarantine with the same single-write-per-batch
convention as every other intake; NULL-text rows carry no grams and
contribute nothing. Replayed micro-batches dynamic-overwrite their own
batch-keyed leaves in both ``counters/`` and ``hits/`` — exactly-once
by construction (the hits anti-join excludes the replaying batch's own
leaf, see ``attribution_update``).

Per-batch cost at 100 TB/day: one gram projection over the batch, the
BKT_PART-pruned probe join, two suite-bounded writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..llm_ops.attribution import attribution_update, check_attribution_meta
from ..llm_ops.substring import gram_offsets
from ..operators.writers import append_batch_keyed
from ..sources.jsonl import read_jsonl_stream, split_corrupt
from .stream import start_foreach_batch


def run_attribution_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    store_root: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = False,
    trigger_seconds: int = 5,
    quarantine_dir: str | None = None,
    health_every: int | None = 8,
) -> StreamingQuery:
    """Watch ``input_dir`` for JSONL crawl docs; fold each micro-batch
    into the attribution store at ``store_root`` (which must already
    exist — the benchmark is frozen evidence, validated once at
    stream start)."""
    if quarantine_dir is None:
        quarantine_dir = f"{store_root}/_quarantine"
    _store_L = int(check_attribution_meta(store_root, spark)["L"])

    src = read_jsonl_stream(spark, input_dir, schema)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        new, bad = split_corrupt(batch_df)
        rejects = bad.unionByName(
            new.filter(F.col(id_col).isNull()).select(
                F.to_json(F.struct("*")).alias("rejected_line")
            )
        )
        append_batch_keyed(rejects, quarantine_dir, batch_id)
        docs = new.filter(
            F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
        )
        if not docs.head(1):
            return
        # fingerprint the batch ONCE; the touched-bucket collect and
        # the probe join share the persisted frame (same pattern as
        # the scrub/dedup intakes)
        grams = gram_offsets(docs, text_col, id_col, _store_L).persist()
        try:
            attribution_update(
                spark, store_root, docs, text_col, id_col,
                batch_id=batch_id, grams=grams,
            )
            # heartbeat for the Store Health gate: every
            # health_every-th batch (strided per r10 ADVICE, coupled to
            # the freshness gate's max_lag default) journals the
            # counters-leaf frontier so journal_freshness can measure
            # lag without a data scan; there is no compact decision —
            # the hits anti-join keeps state suite-bounded by design
            if health_every and batch_id % health_every == 0:
                from ..llm_ops.storefs import StoreFS, write_health_event
                from ..operators.writers import BATCH_COL

                fs = StoreFS(store_root, spark)
                n_appends = sum(
                    1 for name in fs.list_dirs(f"{store_root}/counters")
                    if name.startswith(f"{BATCH_COL}=")
                )
                write_health_event(
                    store_root, batch_id,
                    {"n_append_batches": n_appends}, spark=spark,
                )
        finally:
            grams.unpersist()

    return start_foreach_batch(
        src, handle, checkpoint_dir, available_now, trigger_seconds
    )
