"""Streaming heavy hitters: a continuously-maintained Misra-Gries
summary over an unbounded token stream.

The streaming face of ``llm_ops.heavy``: JSONL documents land in a
watched directory; each micro-batch is tokenized, summarized per
partition (bounded MG state, one pass), and merged into a persisted
(tok, lb) summary of at most ``m = ceil(1/theta)`` counters plus the
running item count N. Mergeable-summaries guarantee (Agarwal et al.,
PODS 2012): however the per-partition/per-batch merges are treed, the
final summary's undercount is <= N/(m+1), so every token with true
frequency >= theta*N is present — ``heavy_candidates`` can never
false-negative. Exact counts, when needed, come from one batch
recount over the corpus (``llm_ops.heavy.heavy_hitters``).

Replay and pruning follow the shared snapshot-per-batch store
(``operators.writers.read_newest_snapshot``); snapshots are
model-sized (m counters), so a short history costs kilobytes.

At 100 TB/day the per-batch work is one map pass over the batch
(bounded state per task) + a distributed tree-merge down to one
m-bounded summary (the driver collects <= m+1 rows, model-sized
regardless of task count) — never a corpus-sized shuffle, never
unbounded state.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..llm_ops.heavy import _mg_merge, mg_merge_summaries, mg_summaries
from ..operators.writers import (
    append_batch_keyed,
    check_prune_keep,
    prune_snapshots,
    read_newest_snapshot,
)
from ..sources.jsonl import read_jsonl_stream, split_corrupt
from .stream import start_foreach_batch

_SUMMARY_DDL = "tok string, lb bigint"


def _read_summary(
    spark: SparkSession, path: str, before_batch: int | None = None
) -> tuple[dict[str, int], int]:
    """(counters, N) of the newest summary snapshot below
    ``before_batch``; the NULL-token row carries N."""
    rows = read_newest_snapshot(
        spark, path, _SUMMARY_DDL, before_batch
    ).collect()  # <= m+1 rows
    counters = {r["tok"]: r["lb"] for r in rows if r["tok"] is not None}
    n = sum(r["lb"] for r in rows if r["tok"] is None)
    return counters, n


def run_heavy_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    store_root: str,
    checkpoint_dir: str,
    theta: float = 0.001,
    text_col: str = "text",
    available_now: bool = False,
    trigger_seconds: int = 5,
    quarantine_dir: str | None = None,
    prune_keep: int = 8,
) -> StreamingQuery:
    """Watch ``input_dir`` for JSONL docs and maintain the MG summary
    under ``store_root/summary``. Corrupt lines go to the quarantine
    reject channel, same contract as every other intake. ``prune_keep``
    snapshots are retained for replay / time-travel; older leaves are
    deleted after a successful write."""
    if not 0 < theta <= 1:
        raise ValueError(f"theta must be in (0, 1], got {theta}")
    check_prune_keep(prune_keep)
    m = math.ceil(1.0 / theta)
    if quarantine_dir is None:
        quarantine_dir = f"{store_root}/_quarantine"
    summary_dir = f"{store_root}/summary"
    src = read_jsonl_stream(spark, input_dir, schema)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        from ..llm_ops.text import normalize_text

        new, bad = split_corrupt(batch_df)
        append_batch_keyed(bad, quarantine_dir, batch_id)
        toks = new.select(
            F.explode(F.split(normalize_text(text_col), " ")).alias("tok")
        )
        # distributed pass: bounded MG state per task, then a
        # distributed tree-merge down to ONE m-bounded summary — the
        # driver collect is <= m+1 rows regardless of task count
        # (pre-r6 it was tasks * m rows, cluster-bounded not
        # model-bounded)
        parts = mg_merge_summaries(mg_summaries(toks, "tok", m), m).collect()
        counters, n_prev = _read_summary(spark, summary_dir, batch_id)
        n_batch = 0
        batch_counts: dict[str, int] = {}
        for r in parts:
            if r["tok"] is None:
                n_batch += r["lb"]
            else:
                batch_counts[r["tok"]] = (
                    batch_counts.get(r["tok"], 0) + r["lb"]
                )
        import pandas as pd

        _mg_merge(counters, pd.Series(batch_counts, dtype="int64"), m)
        from ..session import local_frame

        out = local_frame(spark,
            [(t, int(c)) for t, c in counters.items()]
            + [(None, n_prev + n_batch)],
            _SUMMARY_DDL,
        )
        append_batch_keyed(out, summary_dir, batch_id)
        prune_snapshots(summary_dir, batch_id, prune_keep)

    return start_foreach_batch(
        src, handle, checkpoint_dir, available_now, trigger_seconds
    )


def heavy_candidates(
    spark: SparkSession, store_root: str, theta: float
) -> DataFrame:
    """The sound candidate set from the latest snapshot: every token
    whose TRUE count could reach ceil(theta * N), i.e. lb +
    floor(N/(m+1)) >= threshold (lb undercounts by at most N/(m+1)).
    No false negatives by the mergeable-summaries bound; confirm
    exactly with one ``llm_ops.heavy.heavy_hitters`` recount pass over
    the corpus. Returns (tok, lb, n_total, guaranteed) where
    ``guaranteed`` marks tokens already provably heavy (lb alone
    clears the threshold)."""
    if not 0 < theta <= 1:
        raise ValueError(f"theta must be in (0, 1], got {theta}")
    m = math.ceil(1.0 / theta)
    counters, n = _read_summary(spark, f"{store_root}/summary")
    threshold = math.ceil(theta * n)
    slack = n // (m + 1)
    rows = [
        (t, int(c), int(n), c >= threshold)
        for t, c in counters.items()
        if c + slack >= threshold
    ]
    from ..session import local_frame

    return local_frame(spark,
        rows, "tok string, lb bigint, n_total bigint, guaranteed boolean"
    )
