"""Streaming quality-filter intake: classifier-gated ingestion.

The streaming face of ``llm_ops.classifier``: JSONL documents land in
a watched directory; each micro-batch is scored with the broadcast
fixed-point weight table and split three ways —

- kept docs append to the corpus (batch-keyed, replay-idempotent);
- rejected docs append to a ``_rejected`` channel WITH their score
  (the audit trail quality filtering must keep: silently dropping
  data is how corpora rot);
- corrupt lines go to the standard ``_quarantine`` reject channel.

Scores are integer-sum based (see classifier module), so a replayed
batch reproduces identical keep/reject decisions and rewrites its own
leaves byte-identically. Per batch the work is one explode + broadcast
join + per-doc sum — the weight table is model-sized, the corpus
never joins wide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..llm_ops.classifier import score_documents
from ..operators.writers import append_batch_keyed
from ..sources.jsonl import read_jsonl_stream, split_corrupt
from .stream import start_foreach_batch


def run_classify_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    out_dir: str,
    weights: DataFrame,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    bias: float = 0.0,
    weight_scale: int = 1000,
    available_now: bool = False,
    trigger_seconds: int = 5,
) -> StreamingQuery:
    """Watch ``input_dir`` for JSONL docs; keep docs scoring >=
    ``threshold`` under ``out_dir``, rejected docs (with score) under
    ``<out_dir>/_rejected``, corrupt lines under
    ``<out_dir>/_quarantine``."""
    src = read_jsonl_stream(spark, input_dir, schema)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        new, bad = split_corrupt(batch_df)
        append_batch_keyed(bad, f"{out_dir}/_quarantine", batch_id)
        scored = score_documents(
            new, id_col, text_col, weights,
            bias=bias, threshold=threshold, weight_scale=weight_scale,
        ).select(id_col, "score", "kept")
        labeled = new.join(scored, id_col)
        append_batch_keyed(
            labeled.filter(F.col("kept")).drop("kept", "score"),
            out_dir, batch_id,
        )
        append_batch_keyed(
            labeled.filter(~F.col("kept")).drop("kept"),
            f"{out_dir}/_rejected", batch_id,
        )

    return start_foreach_batch(
        src, handle, checkpoint_dir, available_now, trigger_seconds
    )
