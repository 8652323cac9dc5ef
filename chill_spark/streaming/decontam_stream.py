"""Streaming benchmark-decontamination gate.

JSONL documents land in a watched directory; each micro-batch's
documents are screened against a PERSISTED Bloom filter of the
benchmark's n-grams (built once with ``llm_ops.bloom
write_bloom_store`` — benchmarks are fixed corpora, so the filter is
static model data): documents sharing NO gram with the benchmark
(every probe FALSE — a proof, Bloom filters have no false negatives)
flow to the training corpus; documents with any possible hit are
routed to the flagged channel with their hit accounting for the
exact-confirm pass downstream. The gate is map-only per batch — the
word array broadcasts once at stream start and each gram costs
``num_hashes`` element_at/AND lookups; nothing benchmark-sized or
corpus-sized shuffles.

Stateless by construction (the verdict depends only on the row and
the frozen filter), so stream == batch trivially and replayed batches
rewrite their own output leaves (batch-keyed dynamic overwrite).
Routing: corrupt lines quarantine; NULL-text rows carry no grams and
admit (nothing to be contaminated by).

A refreshed benchmark means a NEW filter: restart the stream against
the rebuilt store (the filter loads once — deliberately; per-batch
re-reads would make admitted/flagged depend on racing store writes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..llm_ops.bloom import read_bloom_store, with_bloom_contains
from ..llm_ops.text import normalize_text
from ..operators.writers import append_batch_keyed
from ..sources.jsonl import read_jsonl_stream, split_corrupt
from .stream import start_foreach_batch


def doc_gram_flags(
    df: DataFrame,
    text_col: str,
    id_col: str,
    words: list[int],
    num_bits: int,
    num_hashes: int,
    n: int = 3,
) -> DataFrame:
    """(id, n_grams, bloom_hits, flagged) per non-null-text document:
    distinct n-grams (anchored two-projection pattern), map-only
    filter probe, per-doc aggregate. Documents shorter than n tokens
    contribute their whole text as one gram (the shingle
    convention)."""
    from ..session import spread_if_narrow

    df = spread_if_narrow(df)  # gram transform+explode: fan out first
    with_t = df.select(
        id_col, F.split(normalize_text(text_col), " ").alias("__t")
    )
    t = F.col("__t")
    starts = F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0)))
    grams = with_t.select(
        id_col,
        F.explode(
            F.array_distinct(
                F.transform(
                    starts, lambda i: F.concat_ws(" ", F.slice(t, i + 1, n))
                )
            )
        ).alias("g"),
    )
    probed = with_bloom_contains(
        grams, "g", words, num_bits, num_hashes, out_col="__hit"
    )
    return probed.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.when(F.col("__hit"), 1).otherwise(0))
        .cast("long")
        .alias("bloom_hits"),
        F.bool_or("__hit").alias("flagged"),
    )


def run_decontam_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    out_dir: str,
    bloom_root: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    available_now: bool = False,
    trigger_seconds: int = 5,
    flagged_dir: str | None = None,
    quarantine_dir: str | None = None,
) -> StreamingQuery:
    """Watch ``input_dir`` for JSONL docs; append proven-clean docs to
    ``out_dir`` and possible-contaminated ones (with gram/hit counts)
    to ``flagged_dir`` (default ``out_dir/_flagged``). The benchmark
    filter at ``bloom_root`` must pre-exist (``bloom --build`` /
    ``write_bloom_store`` over the benchmark's distinct grams)."""
    if quarantine_dir is None:
        quarantine_dir = f"{out_dir}/_quarantine"
    if flagged_dir is None:
        flagged_dir = f"{out_dir}/_flagged"
    words, meta = read_bloom_store(spark, bloom_root)
    num_bits, num_hashes = int(meta["num_bits"]), int(meta["num_hashes"])
    if "grams_n" in meta and int(meta["grams_n"]) != n:
        # probing a filter built at a different gram length finds a
        # DISJOINT key space: every doc would pass as proven-clean
        raise ValueError(
            f"decontam stream asked for n={n} but the filter at "
            f"{bloom_root} was built over {meta['grams_n']}-grams — "
            "rebuild the filter or match --n"
        )

    src = read_jsonl_stream(spark, input_dir, schema)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        new, bad = split_corrupt(batch_df)
        # NULL-id rows can't ride the per-doc verdict join — reject
        # them regardless of text NULL-ness; ONE quarantine write per
        # batch (a second append_batch_keyed would dynamic-overwrite
        # the first)
        append_batch_keyed(
            bad.unionByName(
                new.filter(F.col(id_col).isNull()).select(
                    F.to_json(F.struct("*")).alias("rejected_line")
                )
            ),
            quarantine_dir, batch_id,
        )
        keyed = new.filter(F.col(id_col).isNotNull())
        null_text = keyed.filter(F.col(text_col).isNull())
        docs = keyed.filter(F.col(text_col).isNotNull())
        if not keyed.head(1):
            return
        verdicts = doc_gram_flags(
            docs, text_col, id_col, words, num_bits, num_hashes, n
        )
        joined = docs.join(verdicts, id_col)
        clean = (
            joined.filter(~F.col("flagged"))
            .drop("n_grams", "bloom_hits", "flagged")
            .unionByName(null_text)
        )
        flagged = joined.filter(F.col("flagged")).drop("flagged")
        append_batch_keyed(clean, out_dir, batch_id)
        append_batch_keyed(flagged, flagged_dir, batch_id)

    return start_foreach_batch(
        src, handle, checkpoint_dir, available_now, trigger_seconds
    )
