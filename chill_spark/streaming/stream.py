"""Structured-Streaming path (S12) — the same compiled plan over a
file-watch source.

The reference's system under test is a continuously-polling ingestion
pipeline: a `connect` daemon watches a directory every
``CYCLE_INTERVAL=5`` s, loads matched files, deletes them after
processing, and the DB loader flushes every ``BatchEvery`` seconds
(HlxTools.py:40,88,93,237-238). Spark-native equivalents:

- directory poll          -> ``spark.readStream`` file source
- 5 s cycle               -> ``trigger(processingTime='5 seconds')``
- BatchEvery flush        -> the same trigger on the sink
- Delete-after-processing -> ``cleanSource=delete`` (or ``archive``)
- completion detection    -> ``StreamingQuery.processAllAvailable``
- error/reject channel    -> PERMISSIVE parse + corrupt-record column
  routed to a quarantine sink (S13; the reference greps loader logs,
  HlxTools.py:315-350)

The derivation plan is the *batch* ``pipeline.transform`` applied per
micro-batch via ``foreachBatch`` — one compiled plan, two run modes.

Jobs whose pre-parse config needs a whole-file pre-pass
(``valid_lines`` slice, ``ignore_lines``, tag fields — the reference's
streamed files can carry header preprocessing, HlxTools.py:51-140 +
Partrans.py:98-157) ride a ``binaryFile`` file-watch source instead of
the native CSV one: each micro-batch is a static ``(path, content)``
frame, so the SAME per-file preprocessor as the batch path
(``sources.csv_source.preprocess_files`` / ``extract_tags_from_files``)
runs inside ``foreachBatch``. Every JobSpec the batch path accepts,
the stream path accepts. The CSV fast path (vectorized parse +
corrupt-record quarantine) is kept for jobs that don't need the
pre-pass; the pre-pass path parses per-file in pandas, where a
malformed row fails the file, not a quarantine row — identical to the
batch preprocessed scan.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StringType, StructField, StructType

from ..catalog.model import Catalog
from ..config.model import JobSpec
from ..operators.writers import BATCH_COL, PARTITION_COL, with_partition_col

CORRUPT_COL = "_corrupt_record"


def needs_file_prepass(job: JobSpec) -> bool:
    """True when the job's pre-parse config needs whole-file access
    (line slice / exact-line drop / tag header lines) — the native
    streaming CSV reader parses rows, never files."""
    return (
        job.valid_lines is not None
        or bool(job.ignore_lines)
        or any(f.source == "tag" for f in job.fields)
    )


def stream_binary_source(
    spark: SparkSession,
    job: JobSpec,
    max_files_per_trigger: int | None = None,
    clean_source: str | None = None,
    archive_dir: str | None = None,
    max_file_age: str | None = None,
) -> DataFrame:
    """File-watch whole-file stream for pre-pass jobs: each row is one
    file's ``(path, content)``. Same source options (cleanSource /
    maxFilesPerTrigger / maxFileAge) as the CSV fast path — they're
    file-source options, not format options."""
    # streaming sources require an explicit schema; binaryFile's is
    # fixed by the format
    reader = spark.readStream.format("binaryFile").schema(
        "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY"
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if max_file_age:
        reader = reader.option("maxFileAge", max_file_age)
    if clean_source:
        reader = reader.option("cleanSource", clean_source)
        if clean_source == "archive" and archive_dir:
            reader = reader.option("sourceArchiveDir", archive_dir)
    return reader.load(f"{job.input_dir}/{job.input_mask}").select(
        "path", "content"
    )


def stream_csv_source(
    spark: SparkSession,
    job: JobSpec,
    columns: list[str],
    max_files_per_trigger: int | None = None,
    clean_source: str | None = None,
    archive_dir: str | None = None,
    max_file_age: str | None = None,
) -> DataFrame:
    """File-watch CSV stream: all-string schema (the DSL is
    stringly-typed) + corrupt-record capture + ``_file`` identity.

    ``clean_source``: 'delete' reproduces the reference's
    IN_SOURCE_FILE_FINISH_POLICY="Delete" (HlxTools.py:93); 'archive'
    moves to ``archive_dir``. ``max_file_age`` mirrors the NEWEST:1m
    aging filter (HlxTools.py:98).
    """
    if needs_file_prepass(job):
        raise ValueError(
            "this job needs the per-file pre-pass (valid_lines/"
            "ignore_lines/tag) — route it through stream_binary_source "
            "(run_stream does this automatically)"
        )
    schema = StructType(
        [StructField(c, StringType(), True) for c in columns]
        + [StructField(CORRUPT_COL, StringType(), True)]
    )
    reader = (
        spark.readStream.format("csv")
        .schema(schema)
        .option("header", "true")
        .option("sep", job.delimiter)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        # The schema is applied positionally; with the default
        # enforceSchema=true a header whose column order differs from
        # ``columns`` silently mis-assigns values. false validates the
        # header against the schema and fails the query instead
        # (CORRUPT_COL is exempt from the check).
        .option("enforceSchema", "false")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if max_file_age:
        reader = reader.option("maxFileAge", max_file_age)
    if clean_source:
        reader = reader.option("cleanSource", clean_source)
        if clean_source == "archive" and archive_dir:
            reader = reader.option("sourceArchiveDir", archive_dir)
    df = reader.load(f"{job.input_dir}/{job.input_mask}")
    return df.withColumn(
        "_file", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """S13 error channel: (clean rows, rejected rows). A row is
    rejected when the permissive CSV parser captured its raw text in
    the corrupt-record column."""
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        "_file", F.col(CORRUPT_COL).alias("rejected_line")
    )
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    return good, bad


def start_foreach_batch(
    src: DataFrame,
    handle: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    available_now: bool,
    trigger_seconds: int,
) -> StreamingQuery:
    """Start ``handle(batch_df, batch_id)`` as the ``foreachBatch``
    sink of ``src`` — the one launcher every file-watch intake shares.
    Source progress is checkpointed under ``checkpoint_dir``;
    ``available_now`` drains the files present at start and stops,
    otherwise the query polls every ``trigger_seconds`` (the
    reference's CYCLE_INTERVAL)."""
    writer = src.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def run_stream(
    spark: SparkSession,
    job: JobSpec,
    catalog: Catalog,
    out_dir: str,
    checkpoint_dir: str,
    columns: list[str],
    views: dict[str, DataFrame] | None = None,
    trigger_seconds: int = 5,
    available_now: bool = False,
    quarantine_dir: str | None = None,
    ladder_root: str | None = None,
    ladder_levels: list[str] | None = None,
    **source_opts,
) -> StreamingQuery:
    """The full streaming ETL: file-watch source -> per-micro-batch
    derivation (the batch ``transform`` plan) -> append to partitioned
    fact tables; rejects to a quarantine sink.

    Source progress is checkpointed (each file processed exactly once
    across restarts). The fact sink is made idempotent under
    micro-batch replay by keying each batch's rows to their own
    partition leaves: writes go to ``DT_PART=<period>/BATCH_PART=<id>``
    with dynamic partition overwrite, so a crash *between* the sink
    write and the checkpoint commit replays the batch into exactly the
    leaves it wrote before (same batch_id + same source files = same
    rows) instead of appending duplicates — foreachBatch's standard
    batch-id-keyed exactly-once recipe, expressed as partitions.
    The quarantine sink uses the same batch-keyed overwrite.

    With ``ladder_root`` set, each micro-batch also repairs the rollup
    ladder incrementally (operators.incremental): only the ladder
    windows touched by the batch are re-aggregated from the base table
    (pruned scan) and partition-overwritten. Because the base itself is
    now replay-idempotent, the recomputed ladder windows are too.
    """
    from ..operators.incremental import maintain_ladder_increment
    from ..pipeline import transform  # late import: avoid cycle
    from ..sources.csv_source import (
        extract_tags_from_files,
        preprocess_files,
        tag_columns,
    )

    prepass = needs_file_prepass(job)
    src = (
        stream_binary_source(spark, job, **source_opts)
        if prepass
        else stream_csv_source(spark, job, columns, **source_opts)
    )
    tag_names = sorted(
        {f.tag for f in job.fields if f.source == "tag" and f.tag}
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # caches are released in finally: Structured Streaming RETRIES
        # a failed micro-batch, and a cache leaked per attempt
        # accumulates for the stream's lifetime (same rule as the
        # dedup streams)
        res = None
        try:
            tags_df = None
            if prepass:
                # micro-batch = (path, content) files; run the batch
                # preprocessor on exactly these files. Cache: the
                # frame feeds the row parse and (with tags) the tag
                # scan.
                batch_df.cache()
                good = preprocess_files(batch_df, job, columns)
                if tag_names:
                    tags_df = tag_columns(
                        extract_tags_from_files(batch_df, tag_names),
                        tag_names,
                    )
                bad = None  # per-file parse: a bad row fails its file
            else:
                good, bad = split_quarantine(batch_df)
            if quarantine_dir is not None and bad is not None:
                (
                    bad.withColumn("batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch_id")
                    .parquet(quarantine_dir)
                )
            res = transform(
                spark, job, catalog, views=views, raw=good, tags_df=tags_df
            )
            for table in catalog.tables.values():
                df = res.tables[table.name]
                path = f"{out_dir}/{table.name}_{table.base_granularity}"
                (
                    with_partition_col(df)
                    .withColumn(BATCH_COL, F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy(PARTITION_COL, BATCH_COL)
                    .parquet(path)
                )
                if ladder_root is not None:
                    dts = [
                        r["DATETIME"]
                        for r in df.select("DATETIME").distinct().collect()
                    ]
                    maintain_ladder_increment(
                        spark, path, ladder_root, table, dts,
                        levels=ladder_levels,
                    )
        finally:
            if res is not None:
                res.release()  # transform's preprocessed-frame cache
            if prepass:
                batch_df.unpersist()

    return start_foreach_batch(
        src, handle, checkpoint_dir, available_now, trigger_seconds
    )


def streaming_rollup(
    stream_df: DataFrame,
    keys: list[str],
    counters: list[str],
    interval: str,
    watermark: str = "10 minutes",
    datetime_col: str = "DATETIME",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked windowed rollup (the streaming A1): late rows
    inside the watermark still land in their window; beyond it they're
    dropped and the batch ladder repair picks them up. Append output
    mode emits each window once, when the watermark passes it.
    ``slide`` < ``interval`` yields sliding (hopping) windows — each
    row feeds interval/slide overlapping windows, state tracked per
    window exactly as for tumbling."""
    win = (
        F.window(F.col(datetime_col), interval, slide)
        if slide
        else F.window(F.col(datetime_col), interval)
    )
    agg = (
        stream_df.withWatermark(datetime_col, watermark)
        .groupBy(win.alias("w"), *keys)
        .agg(*[F.sum(F.col(c)).alias(c) for c in counters])
    )
    return agg.select(
        F.col("w.start").alias(datetime_col), *keys, *counters
    )


def run_upsert_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    target: str,
    keys: list[str],
    checkpoint_dir: str,
    datetime_col: str = "DATETIME",
    version_col: str | None = None,
    keep_version_col: bool = False,
    available_now: bool = False,
    trigger_seconds: int = 5,
    broadcast_keys: bool = True,
    evolve_schema: bool = False,
    fmt: str = "parquet",
    quarantine_dir: str | None = None,
) -> StreamingQuery:
    """CDC-style SCD-1 maintenance: watch ``input_dir`` for parquet
    update files and keyed-merge each micro-batch into the
    ``DT_PART``-partitioned fact at ``target`` via
    ``operators.writers.merge_upsert`` — updated identities replaced,
    new keys appended, untouched partitions never rewritten.

    The reference's change path reloads a whole period to change any
    row in it (HlxTools.py:372-450); this is that loop as a continuous
    stream, refined to row-grain merges. Exactly-once shape: source
    progress is checkpointed (each file consumed once across
    restarts), and the merge itself is replay-idempotent — re-merging
    an already-applied batch anti-joins away the identical identities
    and rewrites the same rows. Later batches win on conflicting
    identities (stream order = arrival order, the SCD-1 contract).

    Within one micro-batch, conflicting updates for the same
    ``(keys, datetime_col)`` identity are resolved by ``version_col``
    when given: greatest version wins, and version TIES fall back to
    the greatest full payload row (max over
    ``struct(version_col, *payload)`` — the struct's lexicographic
    field order makes the survivor a pure function of the batch's
    rows, never of shuffle order). Without a version column the
    merge's duplicate-identity check fails the batch fast rather
    than letting shuffle order pick a survivor. The version column is
    transport metadata and is dropped after resolution unless
    ``keep_version_col`` (keeping it requires the target to carry the
    column too — the merge unions by name).

    ``fmt='jsonl'`` reads newline-JSON update files (the common CDC
    transport) with the intake-standard corrupt-record contract: bad
    lines go batch-keyed to ``quarantine_dir`` (default
    ``<target>/_quarantine`` — underscore-prefixed, so fact partition
    discovery ignores it), never silently dropped."""
    if fmt == "jsonl":
        from ..sources.jsonl import read_jsonl_stream, split_corrupt

        src = read_jsonl_stream(spark, input_dir, schema)
        if quarantine_dir is None:
            quarantine_dir = f"{target}/_quarantine"
    elif fmt == "parquet":
        src = spark.readStream.schema(schema).parquet(input_dir)
    else:
        raise ValueError(f"unsupported update format {fmt!r}")

    from ..operators.writers import append_batch_keyed, merge_upsert

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        upd = batch_df
        if fmt == "jsonl":
            upd, bad = split_corrupt(batch_df)
            append_batch_keyed(bad, quarantine_dir, batch_id)
        if version_col is not None:
            ident = [*keys, datetime_col]
            payload = [c for c in upd.columns if c not in ident]
            # version leads the struct so it dominates the max; the
            # remaining payload fields break version ties
            # deterministically (max_by alone is nondeterministic on
            # ties — whichever row the shuffle delivers last wins)
            ordered = [version_col] + [c for c in payload if c != version_col]
            upd = (
                upd.groupBy(*ident)
                .agg(F.max(F.struct(*ordered)).alias("_p"))
                .select(*ident, "_p.*")
            )
            if not keep_version_col:
                upd = upd.drop(version_col)
        merge_upsert(
            spark, target, upd, keys=keys, datetime_col=datetime_col,
            broadcast_keys=broadcast_keys,
            assert_unique_keys=version_col is None,
            evolve_schema=evolve_schema,
        )

    return start_foreach_batch(
        src, handle, checkpoint_dir, available_now, trigger_seconds
    )


def drain(query: StreamingQuery, stop: bool = True) -> None:
    """Completion detection: block until every available input file is
    processed (the reference polls the watched dir + work dirs empty,
    HlxTools.py:278-313)."""
    query.processAllAvailable()
    if stop:
        query.stop()
        query.awaitTermination()


class MetricsListener:
    """Per-micro-batch loader metrics via StreamingQueryListener — the
    Spark-native form of the reference's loader-log scraping
    (parse_dbl_error_files counts loaded/rejected rows from BCP logs,
    HlxTools.py:315-350). Collects (batch_id, numInputRows,
    inputRowsPerSecond, durationMs) per progress event; pair with the
    quarantine sink's rejected counts for the full load report."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def attach(self, spark) -> "MetricsListener":
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                outer.progress.append(
                    {
                        "query_id": str(p.id),
                        "batch_id": p.batchId,
                        "num_input_rows": p.numInputRows,
                        "input_rows_per_second": p.inputRowsPerSecond,
                        "duration_ms": dict(p.durationMs),
                    }
                )

            def onQueryTerminated(self, event):
                pass

            def onQueryIdle(self, event):
                pass

        self._listener = _L()
        spark.streams.addListener(self._listener)
        return self

    def detach(self, spark) -> None:
        spark.streams.removeListener(self._listener)

    def total_input_rows(self, query_id: str | None = None) -> int:
        return sum(
            p["num_input_rows"]
            for p in self.progress
            if query_id is None or p["query_id"] == query_id
        )
