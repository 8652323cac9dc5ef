"""End-to-end batch ETL pipeline (the Spark shape of Partrans.parse_data,
SURVEY §3.2).

    scan (preprocessed csv) -> tag side-table broadcast join
    -> derive OM_GROUP + DSL fields -> route per target table
    -> project raw->db columns -> conform to catalog schema
    -> idempotent partitioned write

One distributed pass per target table over a cached preprocessed
frame; scalar per-file fields are column functions so nothing is
computed driver-side. Returns per-table DataFrames plus run metrics
(skipped columns, unmatched rows, distinct DATETIMEs — A3), all
observed by the writes themselves.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .catalog.model import Catalog
from .config.model import JobSpec
from .operators.derive import apply_fields
from .operators.project import conform_to_schema
from .operators.writers import write_fact
from .sources.csv_source import (
    extract_tags_from_files,
    infer_columns,
    preprocess_files,
    tag_columns,
)


@dataclass
class RunResult:
    tables: dict[str, DataFrame] = field(default_factory=dict)
    # A3 bookkeeping: distinct DATETIMEs per written table, collected
    # by the write's Observation (None last if any DATETIME was null)
    datetimes: dict[str, list] = field(default_factory=dict)
    derive_errors: list[str] = field(default_factory=list)
    written: dict[str, str] = field(default_factory=dict)  # table -> path
    # Run metrics — the reference silently drops unmatched files
    # (Partrans.py:248-252) and missing raw columns (:295-303); we keep
    # those semantics but surface counters (SURVEY §7.4 risk register).
    # skipped_columns: plan-time, per table. rows/null_datetime: runtime
    # via df.observe (piggybacks on the write action, zero extra jobs).
    # unmatched_rows: rows whose routing key matched no table, summed
    # by an Observation on routing_df that the first write fires.
    skipped_columns: dict[str, list[str]] = field(default_factory=dict)
    metrics: dict[str, dict] = field(default_factory=dict)
    unmatched_rows: int | None = None
    # pre-routing-filter frame of the first routed table (OM_GROUP
    # derived over all rows, cached upstream); in run_batch it carries
    # the unmatched-row Observation
    routing_df: DataFrame | None = None
    # the cached preprocessed frame transform() created. Callers that
    # run transform repeatedly in one session (run_stream: once per
    # micro-batch) MUST unpersist it after consuming the result
    # tables, or one cached frame leaks per call for the session
    # lifetime (the heaviest frame in the job at that).
    cached_raw: DataFrame | None = None

    def release(self) -> None:
        """Drop the cache transform() owns; call after the result
        tables are fully materialized (written/collected)."""
        if self.cached_raw is not None:
            self.cached_raw.unpersist()
            self.cached_raw = None


def transform(
    spark: SparkSession,
    job: JobSpec,
    catalog: Catalog,
    views: dict[str, DataFrame] | None = None,
    raw: DataFrame | None = None,
    tags_df: DataFrame | None = None,
) -> RunResult:
    """Compile and run the derivation plan; no writes.

    ``tags_df``: pre-pivoted tag side table (one row per ``_file``,
    one column per tag). Callers that already hold the file contents
    pass it so tags come from exactly those files — the streaming
    pre-pass does; re-scanning ``input_dir`` here would read files
    outside the micro-batch (or already-deleted ones)."""
    return _transform(spark, job, catalog, views, raw, tags_df)


def _transform(
    spark: SparkSession,
    job: JobSpec,
    catalog: Catalog,
    views: dict[str, DataFrame] | None = None,
    raw: DataFrame | None = None,
    tags_df: DataFrame | None = None,
    unmatched: Observation | None = None,
) -> RunResult:
    """``transform``; ``unmatched``, when given, observes the routing
    frame's rows whose routing key names no table."""
    path = f"{job.input_dir}/{job.input_mask}"
    tag_names = sorted({f.tag for f in job.fields if f.source == "tag" and f.tag})
    if raw is None or (tag_names and tags_df is None):
        # listed once; the scan and the tag pass share the listing
        files = spark.read.format("binaryFile").load(path)
    if raw is None:
        # column superset = every raw name the catalog declares; files
        # carry a subset each (routing mixes layouts) -> absent columns
        # come back null and conform_to_schema handles the rest
        raw_cols: list[str] = []
        for t in catalog.tables.values():
            for spec in t.stored_columns:
                if spec.raw_name and spec.raw_name not in raw_cols:
                    raw_cols.append(spec.raw_name)
        raw = preprocess_files(files, job, raw_cols or infer_columns(spark, path, job))

    # tag side table (P4): tiny, broadcast-joined on _file
    if tag_names:
        tags = (
            tags_df
            if tags_df is not None
            else tag_columns(extract_tags_from_files(files, tag_names), tag_names)
        )
        raw = raw.join(F.broadcast(tags), "_file", "left")
    tag_cols = {t: F.col(t) for t in tag_names}

    raw = raw.cache()  # routed once per table below

    res = RunResult()
    res.cached_raw = raw
    groups = [t.counter_group for t in catalog.tables.values()]
    for table in catalog.tables.values():
        fields = job.fields_for(table.name)
        derived = apply_fields(
            raw,
            fields,
            views=views,
            filename_col=F.col("_file"),
            tag_cols=tag_cols,
        )
        res.derive_errors.extend(derived.errors)
        df = derived.df
        if job.om_group_field and job.om_group_field in df.columns:
            if res.routing_df is None:
                # OM_GROUP over ALL rows, pre-filter
                if unmatched is not None:
                    key = F.col(job.om_group_field)
                    df = df.observe(unmatched, F.sum(
                        F.when(~key.isin(groups) | key.isNull(), 1).otherwise(0)
                    ).alias("unmatched"))
                res.routing_df = df
            df = df.filter(
                F.col(job.om_group_field) == F.lit(table.counter_group)
            )
        # P1 passthrough rename (missing raw columns skipped silently —
        # but counted, see RunResult.skipped_columns)
        present = set(df.columns)
        skipped: list[str] = []
        for spec in table.stored_columns:
            if spec.raw_name and spec.raw_name in present and spec.db_name not in present:
                df = df.withColumnRenamed(spec.raw_name, spec.db_name)
            elif spec.raw_name and spec.raw_name not in present and spec.db_name not in present:
                skipped.append(spec.raw_name)
        res.skipped_columns[table.name] = skipped
        df = conform_to_schema(df, table)
        res.tables[table.name] = df
    return res


def run_batch(
    spark: SparkSession,
    job: JobSpec,
    catalog: Catalog,
    out_dir: str,
    views: dict[str, DataFrame] | None = None,
) -> RunResult:
    """transform + idempotent partitioned write + A3 bookkeeping +
    run metrics. Every metric — rows, null DATETIMEs, per-counter
    non-null counts and the distinct DATETIMEs per table, and the
    unmatched-row sum — is an Observation that the writes fire, so
    run_batch starts no Spark job besides its writes."""
    unmatched = Observation("chill_unmatched")
    res = _transform(spark, job, catalog, views, unmatched=unmatched)
    observations: dict[str, Observation] = {}
    counter_cols: dict[str, list[str]] = {}
    for table in catalog.tables.values():
        df = res.tables[table.name]
        obs = Observation(f"chill_{table.name}")
        counters = [
            c.db_name for c in table.counters if c.db_name in df.columns
        ]
        counter_cols[table.name] = counters
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(
                F.when(F.col("DATETIME").isNull(), 1).otherwise(0)
            ).alias("null_datetime"),
            # per-counter non-null counts: a 0 here means the raw
            # column was absent from every routed file (the reference's
            # silent per-file skip, Partrans.py:295-303) or the source
            # truly sent no values — either way worth surfacing
            *[
                F.sum(F.when(F.col(c).isNotNull(), 1).otherwise(0)).alias(f"nn_{c}")
                for c in counters
            ],
            F.collect_set("DATETIME").alias("datetimes"),
        )
        observations[table.name] = obs
        path = f"{out_dir}/{table.name}_{table.base_granularity}"
        write_fact(df, path)
        res.written[table.name] = path
    for name, obs in observations.items():
        m = dict(obs.get)
        nn = {c: m.pop(f"nn_{c}") for c in counter_cols[name]}
        res.datetimes[name] = sorted(m.pop("datetimes")) + (
            [None] if m["null_datetime"] else []
        )
        m["skipped_columns"] = res.skipped_columns.get(name, [])
        m["all_null_columns"] = [
            c for c, v in nn.items() if m["rows"] > 0 and v == 0
        ]
        res.metrics[name] = m
    if job.om_group_field and res.routing_df is not None:
        res.unmatched_rows = unmatched.get["unmatched"] or 0
    # every result table is written and every metric collected — the
    # preprocessed cache has served its purpose
    res.release()
    return res
