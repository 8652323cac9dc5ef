"""Continuously decontaminating intake: the streaming closure of the
span-level scrub (llm_ops/substring.py benchmark_overlap_spans).

JSONL documents land in a watched directory; each micro-batch is
probed against a FROZEN benchmark gram index
(``write_substring_store`` over the eval suites, built once) and every
benchmark-overlapping span is removed from the admitted text — the
scrub-don't-drop counterpart of the Bloom decontamination stream,
which routes whole flagged documents aside.

Unlike the dedup intake (``substring_stream``), the store here is
pure MODEL data: nothing registers, no batch leaves, no replay
pruning — which makes every batch stateless by construction, so
stream == batch trivially and a replayed micro-batch rewrites its own
batch-keyed output leaf with identical content.

Routing mirrors the decontamination stream: corrupt lines and NULL-id
rows quarantine (one write per batch — a second batch-keyed append
would dynamic-overwrite the first), NULL-text rows pass through
unchanged (nothing to scrub, and the rewrite would render NULL as '').

Per-batch cost at 100 TB/day: one gram projection over the batch, the
BKT_PART-pruned probe join against the benchmark index, the islands
merge on the batch's own doc ids, and the array-filter rewrite —
the benchmark is never re-fingerprinted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..llm_ops.incremental_substring import (
    check_substring_meta,
    gram_offsets,
    store_overlap_spans,
)
from ..llm_ops.substring import apply_span_removal
from ..operators.writers import append_batch_keyed
from ..sources.jsonl import read_jsonl_stream, split_corrupt
from .stream import start_foreach_batch


def run_scrub_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    out_dir: str,
    store_root: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = False,
    trigger_seconds: int = 5,
    quarantine_dir: str | None = None,
) -> StreamingQuery:
    """Watch ``input_dir`` for JSONL docs; append span-scrubbed docs
    (original columns, ``text_col`` rewritten) to ``out_dir``. The
    benchmark gram index at ``store_root`` must already exist — it is
    frozen evidence, validated once at stream start."""
    if quarantine_dir is None:
        quarantine_dir = f"{out_dir}/_quarantine"
    _store_L = int(check_substring_meta(store_root, spark)["L"])

    src = read_jsonl_stream(spark, input_dir, schema)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        new, bad = split_corrupt(batch_df)
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
        # fingerprint the batch ONCE; the touched-bucket collect and
        # the probe join share the persisted frame instead of
        # re-tokenizing (same pattern as the dedup intake)
        grams = gram_offsets(docs, text_col, id_col, _store_L).persist()
        try:
            spans = store_overlap_spans(
                spark, store_root, docs, text_col, id_col, grams=grams
            )
            cleaned = apply_span_removal(docs, spans, text_col, id_col)
            admitted = (
                docs.drop(text_col)
                .join(cleaned, id_col)
                .withColumnRenamed("cleaned", text_col)
                .unionByName(null_text, allowMissingColumns=False)
            )
            append_batch_keyed(admitted, out_dir, batch_id)
        finally:
            grams.unpersist()

    return start_foreach_batch(
        src, handle, checkpoint_dir, available_now, trigger_seconds
    )
