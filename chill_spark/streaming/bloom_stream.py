"""Streaming Bloom filter: a continuously-maintained membership gate
over an unbounded document stream.

The streaming face of ``llm_ops.bloom``: JSONL documents land in a
watched directory; each micro-batch's keys are hashed into a
word-bounded bit table (ONE bit_or groupBy) and OR-merged into a
persisted snapshot. Bitwise OR is associative, commutative AND
idempotent, so the streamed filter is BIT-IDENTICAL to the batch
filter of the concatenated feed. Replay and pruning follow the shared
snapshot-per-batch store (``operators.writers.read_newest_snapshot``).

At 100 TB/day the per-batch work is one map pass + one word-bounded
shuffle + a word-bounded snapshot merge; the probe side
(``bloom_stream_words`` + ``llm_ops.bloom.with_bloom_contains``)
stays the map-only broadcast lookup regardless of how much history
the stream has absorbed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..llm_ops.bloom import bloom_build, bloom_merge, bloom_words
from ..operators.writers import (
    append_batch_keyed,
    check_prune_keep,
    prune_snapshots,
    read_newest_snapshot,
)
from ..sources.jsonl import read_jsonl_stream, split_corrupt
from .stream import start_foreach_batch

WORDS_DDL = "word bigint, bits bigint"


def run_bloom_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    store_root: str,
    checkpoint_dir: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    key_col: str = "text",
    available_now: bool = False,
    trigger_seconds: int = 5,
    quarantine_dir: str | None = None,
    prune_keep: int = 8,
) -> StreamingQuery:
    """Watch ``input_dir`` for JSONL docs and maintain the Bloom word
    table under ``store_root/words``. Corrupt lines go to the
    quarantine reject channel — the same contract as every intake."""
    check_prune_keep(prune_keep)
    if quarantine_dir is None:
        quarantine_dir = f"{store_root}/_quarantine"
    words_dir = f"{store_root}/words"
    src = read_jsonl_stream(spark, input_dir, schema)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        new, bad = split_corrupt(batch_df)
        append_batch_keyed(bad, quarantine_dir, batch_id)
        merged = bloom_merge(
            bloom_build(new, key_col, num_bits, num_hashes),
            read_newest_snapshot(spark, words_dir, WORDS_DDL, batch_id),
        )
        append_batch_keyed(merged, words_dir, batch_id)
        prune_snapshots(words_dir, batch_id, prune_keep)

    return start_foreach_batch(
        src, handle, checkpoint_dir, available_now, trigger_seconds
    )


def bloom_stream_words(
    spark: SparkSession, store_root: str, num_bits: int
) -> list[int]:
    """The latest snapshot densified to the driver-held word array the
    probe broadcasts — identical to ``bloom_words(bloom_build(...))``
    over the batch-equivalent corpus (OR-mergeability is exact)."""
    return bloom_words(
        read_newest_snapshot(spark, f"{store_root}/words", WORDS_DDL),
        num_bits,
    )
