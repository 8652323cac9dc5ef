"""Continuously-deduplicating EXACT intake, Bloom-gated.

The exact sibling of the MinHash intake (dedup_stream.py): JSONL
documents land in a watched directory; each micro-batch keeps only
FIRST OCCURRENCES of a content fingerprint (md5 of normalized text)
across the whole stream history, appends the survivors to the corpus
sink, and registers their fingerprints in a persisted store.

The Bloom filter sits where it belongs in production — IN FRONT of
the store join. Each batch probes the previous batch's filter
snapshot map-side:

  might_contain = FALSE   PROOF the fingerprint was never ingested —
                          the row skips the fingerprint-store join
                          entirely. On a fresh-crawl stream this is
                          the overwhelming majority, so the expensive
                          exact check runs on a sliver of the batch.
  might_contain = TRUE    possible member (false positives at the
                          designed rate) — routed to the exact
                          anti-join against the store; a false
                          positive costs one extra join row, never a
                          lost document.

Replay follows the shared batch-keyed store
(``operators.writers.read_batch_keyed`` / ``read_newest_snapshot``).

At 100 TB/day the per-batch cost is one fingerprint map pass, a
word-bounded filter probe, an anti-join whose LEFT side is only the
gate's possible-members, and model-sized store appends.

Store maintenance: the Bloom snapshots self-prune (``prune_keep``);
the per-batch ``fps`` leaves compact with the shared swap protocol —
``incremental_dedup.compact_sketch_store(spark, store_root,
sides=("fps",))`` under the sealed-store contract (no stream writing)
— and the ``BATCH_PART=-1`` compacted leaf stays visible to the
batch-pruned reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..llm_ops.bloom import (
    bloom_build,
    bloom_merge,
    bloom_words,
    with_bloom_contains,
)
from ..llm_ops.text import doc_fingerprint
from ..operators.writers import (
    append_batch_keyed,
    check_prune_keep,
    prune_snapshots,
    read_batch_keyed,
    read_newest_snapshot,
)
from ..sources.jsonl import read_jsonl_stream, split_corrupt
from .bloom_stream import WORDS_DDL
from .stream import start_foreach_batch

_FP_COL = "__fp"


def run_exact_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    out_dir: str,
    store_root: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    available_now: bool = False,
    trigger_seconds: int = 5,
    quarantine_dir: str | None = None,
    prune_keep: int = 8,
) -> StreamingQuery:
    """Watch ``input_dir`` for JSONL docs; append only first-occurrence
    survivors to ``out_dir``; maintain the fingerprint store
    (``store_root/fps``) and its Bloom gate (``store_root/bloom``).
    Corrupt lines go to the quarantine reject channel. Rows with a
    NULL ``text_col`` have no content to compare — they pass through
    as survivors and register nothing (exact dedup of nothing is a
    no-op, and a NULL never enters the filter by construction). Rows
    with a non-null text but NULL ``id_col`` cannot play
    first-occurrence-wins (no identity to pick a deterministic
    winner); they are quarantined as JSON lines rather than silently
    dropped by the semi-join."""
    check_prune_keep(prune_keep)
    if quarantine_dir is None:
        quarantine_dir = f"{out_dir}/_quarantine"
    fps_dir = f"{store_root}/fps"
    bloom_dir = f"{store_root}/bloom/words"

    src = read_jsonl_stream(spark, input_dir, schema)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        new, bad = split_corrupt(batch_df)
        if not new.head(1):
            append_batch_keyed(bad, quarantine_dir, batch_id)
            return
        fpd = new.withColumn(_FP_COL, doc_fingerprint(text_col))
        nulls = fpd.filter(F.col(_FP_COL).isNull())
        fpd = fpd.filter(F.col(_FP_COL).isNotNull())
        # NULL-id rows can't play first-occurrence-wins (min() skips
        # NULLs and the [fp, id] semi-join never matches them) — route
        # them to the reject channel instead of silently losing them.
        # ONE quarantine write per batch, corrupt lines included: a
        # second append_batch_keyed to the same dir would
        # dynamic-overwrite (i.e. DELETE) the first one's leaf.
        no_id = fpd.filter(F.col(id_col).isNull())
        append_batch_keyed(
            bad.unionByName(
                no_id.drop(_FP_COL).select(
                    F.to_json(F.struct("*")).alias("rejected_line")
                )
            ),
            quarantine_dir, batch_id,
        )
        fpd = fpd.filter(F.col(id_col).isNotNull())
        # in-batch first occurrence: min id per fingerprint (a partial
        # agg + semi join — no window, no skew on the id)
        firsts = fpd.groupBy(_FP_COL).agg(F.min(id_col).alias(id_col))
        lead = fpd.join(firsts, [_FP_COL, id_col], "left_semi")
        # Bloom gate against the PREVIOUS snapshot: FALSE is a proof
        # of absence, so those rows never touch the store join. Read
        # once: the same snapshot is the base of this batch's merge.
        prev_words = read_newest_snapshot(
            spark, bloom_dir, WORDS_DDL, batch_id
        )
        gated = with_bloom_contains(
            lead, _FP_COL, bloom_words(prev_words, num_bits), num_bits,
            num_hashes, out_col="__mc",
        )
        proven_new = gated.filter(~F.col("__mc")).drop("__mc")
        possible = gated.filter(F.col("__mc")).drop("__mc")
        old_fps = read_batch_keyed(
            spark, fps_dir, f"{_FP_COL} string", batch_id
        ).select(_FP_COL)
        absent = possible.join(old_fps, _FP_COL, "left_anti")
        survivors = proven_new.unionByName(absent).unionByName(nulls)
        append_batch_keyed(survivors.drop(_FP_COL), out_dir, batch_id)
        # register survivors' fingerprints; derive from the plan's
        # inputs (store reads are batch-pruned to < batch_id, so the
        # appends below can't invalidate what was read)
        surv_fps = proven_new.select(_FP_COL).unionByName(
            absent.select(_FP_COL)
        )
        append_batch_keyed(surv_fps, fps_dir, batch_id)
        merged = bloom_merge(
            bloom_build(surv_fps, _FP_COL, num_bits, num_hashes), prev_words
        )
        append_batch_keyed(merged, bloom_dir, batch_id)
        prune_snapshots(bloom_dir, batch_id, prune_keep)

    return start_foreach_batch(
        src, handle, checkpoint_dir, available_now, trigger_seconds
    )
