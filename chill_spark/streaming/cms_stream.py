"""Streaming Count-Min sketch: a continuously-maintained frequency
sketch over an unbounded token stream.

The streaming face of ``llm_ops.cms``: JSONL documents land in a
watched directory; each micro-batch is tokenized, CMS-bucketed (one
depth*width-bounded aggregate), and ADDED into a persisted
(row, bucket, cnt) counter table. CMS counters are plain integer sums
— exactly mergeable with no error growth from merging (unlike MG's
subtractive merges), so the stream's final sketch is BIT-IDENTICAL to
the batch sketch of the concatenated feed, and any point-frequency
query answered from it carries the standard one-shot CMS guarantee
(est >= true; est <= true + eps*N w.p. 1-delta).

Replay and pruning follow the shared snapshot-per-batch store
(``operators.writers.read_newest_snapshot``); snapshots are
model-sized (<= depth*width rows) regardless of stream volume.

At 100 TB/day the per-batch work is one map pass + one
depth*width-bounded shuffle + a model-sized snapshot merge — never
corpus-sized state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..llm_ops.cms import build_count_min
from ..operators.writers import (
    append_batch_keyed,
    check_prune_keep,
    prune_snapshots,
    read_newest_snapshot,
)
from ..sources.jsonl import read_jsonl_stream, split_corrupt
from .stream import start_foreach_batch

_SKETCH_DDL = "row int, bucket bigint, cnt bigint"


def run_cms_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    store_root: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 1024,
    text_col: str = "text",
    available_now: bool = False,
    trigger_seconds: int = 5,
    quarantine_dir: str | None = None,
    prune_keep: int = 8,
) -> StreamingQuery:
    """Watch ``input_dir`` for JSONL docs and maintain the CMS counter
    table under ``store_root/sketch``. Corrupt lines go to the
    quarantine reject channel — the same contract as every intake."""
    check_prune_keep(prune_keep)
    if quarantine_dir is None:
        quarantine_dir = f"{store_root}/_quarantine"
    sketch_dir = f"{store_root}/sketch"
    src = read_jsonl_stream(spark, input_dir, schema)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        from ..llm_ops.text import normalize_text

        new, bad = split_corrupt(batch_df)
        append_batch_keyed(bad, quarantine_dir, batch_id)
        toks = new.select(
            F.explode(F.split(normalize_text(text_col), " ")).alias("tok")
        )
        batch_sketch = build_count_min(toks, "tok", depth, width)
        prev = read_newest_snapshot(spark, sketch_dir, _SKETCH_DDL, batch_id)
        merged = (
            batch_sketch.unionByName(prev)
            .groupBy("row", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
        append_batch_keyed(merged, sketch_dir, batch_id)
        prune_snapshots(sketch_dir, batch_id, prune_keep)

    return start_foreach_batch(
        src, handle, checkpoint_dir, available_now, trigger_seconds
    )


def cms_stream_estimate(
    spark: SparkSession,
    store_root: str,
    queries: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-frequency estimates for ``queries`` rows from the latest
    snapshot — identical semantics to ``llm_ops.cms.cms_estimate``
    over the batch-equivalent sketch (integer counter sums are exactly
    mergeable, so stream == batch bit-for-bit)."""
    from ..llm_ops.cms import cms_estimate

    sketch = read_newest_snapshot(spark, f"{store_root}/sketch", _SKETCH_DDL)
    return cms_estimate(sketch, queries, col, depth, width)
