"""SparkSession factory tuned for the engine.

Defaults target local[N] testing but every knob is chosen for
cluster-scale behavior: AQE on (runtime re-plan, skew-join splitting,
shuffle-partition coalescing), Arrow for the pandas-UDF paths,
dynamic partition overwrite for idempotent per-DATETIME reloads
(the Spark-native replacement for the reference's delete-then-reload,
HlxTools.py:372-394).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # Runtime re-planning: coalesce post-shuffle partitions, split skewed
    # join partitions, convert SMJ->broadcast when a side turns out small.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas_udf / applyInPandas / mapInPandas paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Idempotent partition reload: INSERT OVERWRITE only touches the
    # partitions present in the incoming data.
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Parquet scans: vectorized reader + pushdown are on by default;
    # keep timestamps stable across engines.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.session.timeZone": "UTC",
    # Quieter, deterministic local runs.
    "spark.ui.enabled": "false",
    "spark.sql.shuffle.partitions": "32",
}


def get_spark(
    app_name: str = "chill_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores when
    unset). On a real cluster, pass ``master=None`` and submit with
    spark-submit — the defaults here are master-agnostic.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema):
    """Driver-local rows -> DataFrame through the Arrow path.

    ``createDataFrame(list)`` builds a PICKLED Python RDD sliced to
    defaultParallelism: every downstream action pays one Python-runner
    handshake per slice, and a ``coalesce(1)`` (the model-table write
    shape) serializes all of them through one task — measured ~6-8 s
    for a 64-row codebook frame on local[32], per ACTION. Routing the
    same rows through pandas + Arrow yields a JVM local relation:
    ~0.1 s, no Python workers at execution, identical values for the
    flat types model tables carry (ints, floats, strings, bools,
    float arrays). Falls back to the plain path for anything pandas/
    Arrow can't carry exactly: nested struct rows, and any column an
    integral field declares that contains a NULL (pandas would coerce
    int64+None to float64 — precision loss above 2^53 and NaN->null
    drift). ``Row`` inputs are consumed POSITIONALLY (``tuple(r)``):
    field order must already match the schema."""
    import pandas as pd
    from pyspark.sql.types import IntegralType, StructType

    st = None
    if isinstance(schema, str):
        try:
            st = StructType.fromDDL(schema)
        except Exception:
            # not a DDL struct string (e.g. a bare type) — let the
            # plain path interpret it
            return spark.createDataFrame(rows, schema)
    elif isinstance(schema, StructType):
        st = schema

    rows = list(rows)
    try:
        # inside the try: a schema that is neither DDL, StructType nor
        # an iterable of names (e.g. a bare DataType) falls back too
        names = st.fieldNames() if st is not None else list(schema)
        int_cols = (
            {
                i for i, f in enumerate(st.fields)
                if isinstance(f.dataType, IntegralType)
            }
            if st is not None
            else set()
        )
        tuples = [tuple(r) for r in rows]
        if any(t[i] is None for t in tuples for i in int_cols):
            return spark.createDataFrame(rows, schema)
        if st is None and tuples:
            # name-only schema: types come from inference — a column
            # mixing ints and NULLs must not ride through pandas
            # (int64+None -> float64 -> DoubleType drift)
            for i in range(len(names)):
                vals = [t[i] for t in tuples]
                if any(v is None for v in vals) and any(
                    isinstance(v, int) and not isinstance(v, bool)
                    for v in vals
                ):
                    return spark.createDataFrame(rows, schema)
        pdf = (
            pd.DataFrame(tuples, columns=names)
            if rows
            else pd.DataFrame({n: [] for n in names})
        )
        return spark.createDataFrame(pdf, schema)
    except Exception:
        return spark.createDataFrame(rows, schema)


def spread(df, parts: int | None = None):
    """Rebalance a narrow scan across executors BEFORE a CPU-heavy
    per-row expansion (gram explode, shingle hashing, Lloyd
    assignment, Misra-Gries summaries).

    At 100 TB scan parallelism comes for free from file splits
    (``spark.sql.files.maxPartitionBytes``), but a SINGLE-ROW-GROUP
    parquet file — the test fixture's shape, and a real hazard with
    small dimension/config tables or badly-written upstream files —
    cannot split, so the whole map stage serializes onto one task
    while 31 cores idle. The cure is one round-robin shuffle of the
    RAW rows: corpus-bounded and pre-expansion, i.e. 10-100x smaller
    than the grams/shingles it unlocks parallelism for. Only worth it
    ahead of expansion-heavy work — a plain aggregate over a narrow
    scan should NOT pay this (its scan cost ~= the repartition's)."""
    parts = parts or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(parts)


def spread_if_narrow(df, parts: int | None = None):
    """``spread`` gated on the frame's PLANNED partition count:
    repartition only when the scan would run on fewer tasks than the
    session's parallelism — the unsplittable-input hazard ``spread``
    documents (single-row-group parquet serializes every downstream
    map stage onto one task while the other cores idle).

    At 100 TB a corpus scan already yields thousands of file splits,
    the gate sees partitions >= parallelism, and NO exchange is added
    — unlike an unconditional ``spread`` this never pays a full-data
    round-robin shuffle on inputs that are already wide. Locally (or
    on a badly-compacted upstream table) the single-split scan fans
    out once, before the expansion-heavy work (gram fingerprinting,
    shingling, Arrow kernels) multiplies it. Results are unaffected:
    every consumer is partitioning-agnostic (keyed aggregations,
    windows ordered within keys, deterministic hashes).

    The partition count comes from the pre-AQE physical plan (a
    planning-only ``df.rdd`` conversion, no job) — call this on scans
    or near-scan frames, not on deep mid-plan lineages, to keep that
    conversion cheap."""
    sc = df.sparkSession.sparkContext
    parts = parts or sc.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    return df.repartition(parts) if n < parts else df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Register the driver's parquet tables as temp views; return dict of DFs.

    ``events.parquet`` has shipped as both TIMESTAMP(NANOS) and
    TIMESTAMP(MICROS) across testdata generations; ``normalize_event_ts``
    handles either so oracle hashes line up with DuckDB.
    """
    names = names or [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    out = {}
    for n in names:
        out[n] = _read_table(spark, sf_dir, n)
        out[n].createOrReplaceTempView(n)
    return out


def _read_table(spark: SparkSession, sf_dir: str, name: str):
    from pyspark.sql import functions as F

    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        return normalize_event_ts(df)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def normalize_event_ts(df):
    """Normalize events.ts to session-TZ TIMESTAMP regardless of how the
    parquet file encodes it: TIMESTAMP(NANOS) surfaces as long under the
    nanosAsLong conf (convert with exact ns->us truncation, matching
    DuckDB), TIMESTAMP(MICROS) surfaces as timestamp/timestamp_ntz
    (plain cast — values identical under the UTC session TZ)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))
