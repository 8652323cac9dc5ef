"""Streaming path (S12/S13): file-watch source -> per-batch derivation
-> partitioned append; quarantine channel; watermarked rollup;
streaming result == batch result over the same files."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from chill_spark.catalog import Catalog, ColumnSpec, TableSpec
from chill_spark.config import FieldSpec, JobSpec
from chill_spark.streaming import (
    drain,
    run_stream,
    split_quarantine,
    stream_csv_source,
    streaming_rollup,
)

TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")

FILES = {
    "A20240101.0000_cells.csv": (
        "site,calls_raw,drops_raw\n"
        "s1,100,3\n"
        "s2,200,5\n"
    ),
    "A20240101.0015_cells.csv": (
        "site,calls_raw,drops_raw\n"
        "s1,110,4\n"
        "s3,50,1\n"
    ),
}


def make_catalog() -> Catalog:
    cat = Catalog()
    cat.add(
        TableSpec(
            name="CELL_STATS",
            counter_group="OM_CELL",
            base_granularity="15M",
            key_fields=["SITE"],
            columns=[
                ColumnSpec("SITE", raw_name="site", dtype="string", kind="KEY"),
                ColumnSpec("CALLS", raw_name="calls_raw", dtype="double"),
                ColumnSpec("DROPS", raw_name="drops_raw", dtype="double"),
            ],
        )
    )
    return cat


def make_job(input_dir: str) -> JobSpec:
    return JobSpec(
        input_dir=input_dir,
        input_mask="*.csv",
        fields=[
            FieldSpec(name="OM_GROUP", source="constant", value="OM_CELL"),
            FieldSpec(
                name="DATETIME",
                source="column",
                function=(
                    "datetime.strptime(arg1[1:14], '%Y%m%d.%H%M')"
                    ".strftime('%Y-%m-%d %H:%M:%S')"
                ),
                inputs=["_file"],
            ),
        ],
    )


@pytest.fixture()
def stream_dirs():
    base = os.path.join(TMP, "stream_test")
    shutil.rmtree(base, ignore_errors=True)
    dirs = {k: os.path.join(base, k) for k in ["in", "out", "ckpt", "quarantine"]}
    for d in dirs.values():
        os.makedirs(d)
    for name, body in FILES.items():
        with open(os.path.join(dirs["in"], name), "w") as f:
            f.write(body)
    yield dirs
    shutil.rmtree(base, ignore_errors=True)


COLUMNS = ["site", "calls_raw", "drops_raw"]


def test_stream_matches_batch(spark, stream_dirs):
    job = make_job(stream_dirs["in"])
    cat = make_catalog()
    q = run_stream(
        spark, job, cat,
        out_dir=stream_dirs["out"],
        checkpoint_dir=stream_dirs["ckpt"],
        columns=COLUMNS,
        available_now=True,
    )
    drain(q)

    out = spark.read.parquet(f"{stream_dirs['out']}/CELL_STATS_15M")
    rows = {
        (r["SITE"], str(r["DATETIME"]), r["CALLS"], r["DROPS"])
        for r in out.collect()
    }
    assert rows == {
        ("s1", "2024-01-01 00:00:00", 100.0, 3.0),
        ("s2", "2024-01-01 00:00:00", 200.0, 5.0),
        ("s1", "2024-01-01 00:15:00", 110.0, 4.0),
        ("s3", "2024-01-01 00:15:00", 50.0, 1.0),
    }
    # partitioned by DATETIME period -> two partition dirs
    parts = [
        p for p in os.listdir(f"{stream_dirs['out']}/CELL_STATS_15M")
        if p.startswith("DT_PART=")
    ]
    assert len(parts) == 2


def test_stream_restart_skips_processed_files(spark, stream_dirs):
    """Checkpoint = each file exactly once across restarts; new files
    picked up after restart."""
    job = make_job(stream_dirs["in"])
    cat = make_catalog()
    kw = dict(
        out_dir=stream_dirs["out"], checkpoint_dir=stream_dirs["ckpt"],
        columns=COLUMNS, available_now=True,
    )
    drain(run_stream(spark, job, cat, **kw))
    n1 = spark.read.parquet(f"{stream_dirs['out']}/CELL_STATS_15M").count()

    # restart with no new files -> no new rows
    drain(run_stream(spark, job, cat, **kw))
    assert spark.read.parquet(f"{stream_dirs['out']}/CELL_STATS_15M").count() == n1

    # drop one new file -> only its rows appended
    with open(os.path.join(stream_dirs["in"], "A20240101.0030_cells.csv"), "w") as f:
        f.write("site,calls_raw,drops_raw\ns9,10,0\n")
    drain(run_stream(spark, job, cat, **kw))
    out = spark.read.parquet(f"{stream_dirs['out']}/CELL_STATS_15M")
    assert out.count() == n1 + 1
    assert out.filter(F.col("SITE") == "s9").count() == 1


def test_quarantine_channel(spark, stream_dirs):
    """Malformed rows land in the quarantine sink, not the fact table."""
    with open(os.path.join(stream_dirs["in"], "A20240101.0030_bad.csv"), "w") as f:
        f.write('site,calls_raw,drops_raw\n"unclosed,1\n')
    job = make_job(stream_dirs["in"])
    cat = make_catalog()
    q = run_stream(
        spark, job, cat,
        out_dir=stream_dirs["out"],
        checkpoint_dir=stream_dirs["ckpt"],
        columns=COLUMNS,
        available_now=True,
        quarantine_dir=stream_dirs["quarantine"],
    )
    drain(q)
    bad = spark.read.parquet(stream_dirs["quarantine"])
    assert bad.count() == 1
    assert bad.first()["_file"] == "A20240101.0030_bad.csv"
    good = spark.read.parquet(f"{stream_dirs['out']}/CELL_STATS_15M")
    assert good.filter(F.col("SITE").isNull()).count() == 0


def test_split_quarantine_static(spark):
    df = spark.createDataFrame(
        [("f1", "a", None), ("f1", None, "raw,line")],
        ["_file", "site", "_corrupt_record"],
    )
    good, bad = split_quarantine(df)
    assert good.count() == 1 and "_corrupt_record" not in good.columns
    assert bad.collect()[0]["rejected_line"] == "raw,line"


def test_streaming_rollup_watermark(spark, stream_dirs):
    """Windowed streaming agg: in-order rows all emit on drain; the
    15M windows match the batch rollup of the same rows."""
    in_dir = os.path.join(stream_dirs["in"], "rollup_src")
    os.makedirs(in_dir)
    with open(os.path.join(in_dir, "r1.csv"), "w") as f:
        f.write(
            "DATETIME,SITE,CALLS\n"
            "2024-01-01 00:01:00,s1,10\n"
            "2024-01-01 00:07:00,s1,5\n"
            "2024-01-01 00:16:00,s1,7\n"
            "2024-01-01 01:00:00,s1,1\n"  # advances watermark past both
        )
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([
        StructField("DATETIME", StringType()),
        StructField("SITE", StringType()),
        StructField("CALLS", StringType()),
    ])
    src = (
        spark.readStream.format("csv").schema(schema)
        .option("header", "true").load(f"{in_dir}/*.csv")
        .select(
            F.col("DATETIME").cast("timestamp").alias("DATETIME"),
            "SITE",
            F.col("CALLS").cast("double").alias("CALLS"),
        )
    )
    agg = streaming_rollup(src, ["SITE"], ["CALLS"], "15 minutes", watermark="10 minutes")
    out_dir = os.path.join(stream_dirs["out"], "rollup")
    ckpt = os.path.join(stream_dirs["ckpt"], "rollup")
    q = (
        agg.writeStream.outputMode("append").format("parquet")
        .option("path", out_dir).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    drain(q)
    got = {
        (str(r["DATETIME"]), r["SITE"], r["CALLS"])
        for r in spark.read.parquet(out_dir).collect()
    }
    # the 01:00 row's window hasn't closed (watermark), the first two have
    assert ("2024-01-01 00:00:00", "s1", 15.0) in got
    assert ("2024-01-01 00:15:00", "s1", 7.0) in got


def test_stream_csv_source_rejects_prepass_jobs(spark, stream_dirs):
    """The CSV fast path can't do whole-file preprocessing — run_stream
    routes such jobs to the binaryFile source; calling the CSV source
    directly with one is a hard error, not silent mis-parsing."""
    job = make_job(stream_dirs["in"])
    job.fields.append(
        FieldSpec(name="VENDOR", source="tag", tag="#V=", function="tag")
    )
    with pytest.raises(ValueError, match="pre-pass"):
        stream_csv_source(spark, job, COLUMNS)


def test_stream_prepass_matches_batch(spark, stream_dirs):
    """Streaming parity for valid_lines/ignore_lines/tag jobs (r3
    verdict): the binaryFile file-watch source hands each micro-batch
    to the SAME per-file preprocessor as the batch scan, so a
    tagged + sliced + junk-line fixture streams to exactly the batch
    result — including tag-derived columns joined from only the
    micro-batch's own files."""
    import test_pipeline_e2e as e2e

    from chill_spark.pipeline import transform

    base = os.path.dirname(stream_dirs["out"])
    ind = os.path.join(base, "pp_in")
    os.makedirs(ind, exist_ok=True)
    for name, body in e2e.FILES.items():
        with open(os.path.join(ind, name), "w") as f:
            f.write(body)
    job = e2e.make_job(ind)
    cat = e2e.make_catalog()
    columns = ["site", "calls_raw", "drops_raw", "node", "cpu_raw"]
    out = os.path.join(base, "pp_out")
    drain(run_stream(
        spark, job, cat,
        out_dir=out,
        checkpoint_dir=os.path.join(base, "pp_ckpt"),
        columns=columns,
        available_now=True,
    ))
    batch = transform(spark, job, cat)

    def canon(df, cols):
        return {
            tuple(str(r[c]) for c in cols)
            for r in df.select(*cols).collect()
        }

    cell_cols = ["SITE", "DATETIME", "VENDOR", "CALLS", "DROPS"]
    got = canon(spark.read.parquet(f"{out}/CELL_STATS_15M"), cell_cols)
    want = canon(batch.tables["CELL_STATS"], cell_cols)
    assert got == want and len(got) == 4
    node_cols = ["NODE", "DATETIME", "CPU"]
    got = canon(spark.read.parquet(f"{out}/NODE_STATS_15M"), node_cols)
    want = canon(batch.tables["NODE_STATS"], node_cols)
    assert got == want and len(got) == 2


def test_stateful_sessionize_stream(spark, stream_dirs):
    """applyInPandasWithState sessionizer: sessions close on >30min
    gaps, extend across micro-batches (maxFilesPerTrigger=1)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from chill_spark.streaming import sessionize_stream

    in_dir = os.path.join(stream_dirs["in"], "sess_src")
    os.makedirs(in_dir)
    # batch 1: u1 two close events; u2 one event
    with open(os.path.join(in_dir, "b1.csv"), "w") as f:
        f.write(
            "user_id,ts\n"
            "1,2024-01-01 00:00:00\n"
            "1,2024-01-01 00:10:00\n"
            "2,2024-01-01 00:00:00\n"
        )
    # batch 2: u1 continues the session (10 min later), then a >30min
    # gap closes it; u2's gap closes session immediately
    with open(os.path.join(in_dir, "b2.csv"), "w") as f:
        f.write(
            "user_id,ts\n"
            "1,2024-01-01 00:20:00\n"
            "1,2024-01-01 02:00:00\n"
            "2,2024-01-01 03:00:00\n"
        )

    schema = StructType([
        StructField("user_id", LongType()),
        StructField("ts", StringType()),
    ])
    src = (
        spark.readStream.format("csv").schema(schema)
        .option("header", "true").option("maxFilesPerTrigger", "1")
        .load(f"{in_dir}/*.csv")
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    )
    sessions = sessionize_stream(src, gap_seconds=1800, timeout="none")
    out_dir = os.path.join(stream_dirs["out"], "sessions")
    ckpt = os.path.join(stream_dirs["ckpt"], "sessions")
    q = (
        sessions.writeStream.outputMode("append").format("parquet")
        .option("path", out_dir).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(180), "stream did not self-terminate"
    got = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in spark.read.parquet(out_dir).collect()
    }
    # u1's first session spans batches 1+2 (00:00..00:20, 3 events),
    # closed by the 02:00 event; u2's session (00:00) closed by 03:00
    assert (1, "2024-01-01 00:00:00", "2024-01-01 00:20:00", 3) in got
    assert (2, "2024-01-01 00:00:00", "2024-01-01 00:00:00", 1) in got


def test_stream_stream_join(spark, stream_dirs):
    """Watermarked stream-stream inner join: impressions joined to
    clicks within a 30-min event-time window — the streaming form of
    the range join."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    imp_dir = os.path.join(stream_dirs["in"], "imp")
    clk_dir = os.path.join(stream_dirs["in"], "clk")
    os.makedirs(imp_dir); os.makedirs(clk_dir)
    with open(os.path.join(imp_dir, "i1.csv"), "w") as f:
        f.write(
            "ad_id,ts\n"
            "1,2024-01-01 00:00:00\n"
            "2,2024-01-01 00:05:00\n"
            "3,2024-01-01 05:00:00\n"  # advances watermark
        )
    with open(os.path.join(clk_dir, "c1.csv"), "w") as f:
        f.write(
            "ad_id,ts\n"
            "1,2024-01-01 00:10:00\n"   # within 30 min of imp 1 -> joins
            "2,2024-01-01 02:00:00\n"   # too late -> no join
            "3,2024-01-01 05:01:00\n"
        )

    schema = StructType([
        StructField("ad_id", LongType()), StructField("ts", StringType()),
    ])

    def src(d, prefix):
        return (
            spark.readStream.format("csv").schema(schema)
            .option("header", "true").load(f"{d}/*.csv")
            .select(
                F.col("ad_id"),
                F.col("ts").cast("timestamp").alias(f"{prefix}_ts"),
            )
        )

    imps = src(imp_dir, "imp").withWatermark("imp_ts", "10 minutes")
    clks = src(clk_dir, "clk").withWatermark("clk_ts", "10 minutes")
    joined = imps.join(
        clks,
        (imps["ad_id"] == clks["ad_id"])
        & (F.col("clk_ts") >= F.col("imp_ts"))
        & (F.col("clk_ts") <= F.col("imp_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select(imps["ad_id"], "imp_ts", "clk_ts")

    out_dir = os.path.join(stream_dirs["out"], "ssj")
    ckpt = os.path.join(stream_dirs["ckpt"], "ssj")
    q = (
        joined.writeStream.outputMode("append").format("parquet")
        .option("path", out_dir).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    drain(q)
    got = {(r["ad_id"], str(r["clk_ts"])) for r in spark.read.parquet(out_dir).collect()}
    assert (1, "2024-01-01 00:10:00") in got
    assert all(ad != 2 for ad, _ in got)  # late click never joins


def test_streaming_sliding_window(spark, stream_dirs):
    """Sliding 30m/15m windows in append mode: each row lands in 2
    overlapping windows; emitted results match the batch hopping agg
    over the same rows."""
    in_dir = os.path.join(stream_dirs["in"], "slide_src")
    os.makedirs(in_dir)
    with open(os.path.join(in_dir, "s1.csv"), "w") as f:
        f.write(
            "DATETIME,SITE,CALLS\n"
            "2024-01-01 00:05:00,s1,10\n"
            "2024-01-01 00:20:00,s1,5\n"
            "2024-01-01 02:00:00,s1,1\n"  # advances watermark
        )
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([
        StructField("DATETIME", StringType()),
        StructField("SITE", StringType()),
        StructField("CALLS", StringType()),
    ])

    def load(reader):
        return reader.format("csv").schema(schema).option("header", "true") \
            .load(f"{in_dir}/*.csv").select(
                F.col("DATETIME").cast("timestamp").alias("DATETIME"),
                "SITE",
                F.col("CALLS").cast("double").alias("CALLS"),
            )

    agg = streaming_rollup(
        load(spark.readStream), ["SITE"], ["CALLS"],
        "30 minutes", watermark="10 minutes", slide="15 minutes",
    )
    out_dir = os.path.join(stream_dirs["out"], "slide")
    ckpt = os.path.join(stream_dirs["ckpt"], "slide")
    q = (
        agg.writeStream.outputMode("append").format("parquet")
        .option("path", out_dir).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    drain(q)
    got = {
        (str(r["DATETIME"]), r["CALLS"])
        for r in spark.read.parquet(out_dir).collect()
    }
    # row@00:05 -> windows 23:45 & 00:00; row@00:20 -> 00:00 & 00:15
    assert ("2023-12-31 23:45:00", 10.0) in got
    assert ("2024-01-01 00:00:00", 15.0) in got
    assert ("2024-01-01 00:15:00", 5.0) in got


def test_streaming_dedup_within_watermark(spark, stream_dirs):
    """At-least-once replay tolerance: duplicate event ids inside the
    watermark are dropped by state, not by a batch-side distinct."""
    in_dir = os.path.join(stream_dirs["in"], "dedup_src")
    os.makedirs(in_dir)
    with open(os.path.join(in_dir, "d1.csv"), "w") as f:
        f.write(
            "EVENT_ID,DATETIME,CALLS\n"
            "e1,2024-01-01 00:01:00,10\n"
            "e1,2024-01-01 00:01:00,10\n"   # replay inside same file
            "e2,2024-01-01 00:02:00,5\n"
        )
    with open(os.path.join(in_dir, "d2.csv"), "w") as f:
        f.write(
            "EVENT_ID,DATETIME,CALLS\n"
            "e2,2024-01-01 00:02:00,5\n"    # replay across files
            "e3,2024-01-01 00:03:00,7\n"
        )
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([
        StructField("EVENT_ID", StringType()),
        StructField("DATETIME", StringType()),
        StructField("CALLS", StringType()),
    ])
    src = (
        spark.readStream.format("csv").schema(schema)
        .option("header", "true").option("maxFilesPerTrigger", "1")
        .load(f"{in_dir}/*.csv")
        .select(
            "EVENT_ID",
            F.col("DATETIME").cast("timestamp").alias("DATETIME"),
            F.col("CALLS").cast("double").alias("CALLS"),
        )
        .withWatermark("DATETIME", "1 hour")
        .dropDuplicatesWithinWatermark(["EVENT_ID"])
    )
    out_dir = os.path.join(stream_dirs["out"], "dedup")
    ckpt = os.path.join(stream_dirs["ckpt"], "dedup")
    q = (
        src.writeStream.outputMode("append").format("parquet")
        .option("path", out_dir).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    drain(q)
    got = sorted(
        (r["EVENT_ID"], r["CALLS"])
        for r in spark.read.parquet(out_dir).collect()
    )
    assert got == [("e1", 10.0), ("e2", 5.0), ("e3", 7.0)]


def test_incremental_ladder_maintenance(spark, stream_dirs):
    """Per-micro-batch ladder repair: after streaming, each ladder level
    equals a full batch recompute from the base table; a late-arriving
    file repairs only its touched windows and the equality still holds."""
    from chill_spark.operators.incremental import maintain_ladder_increment  # noqa: F401
    from chill_spark.operators.rollup import rollup
    from chill_spark.operators.writers import PARTITION_COL

    job = make_job(stream_dirs["in"])
    cat = make_catalog()
    ladder_root = os.path.join(os.path.dirname(stream_dirs["out"]), "ladder")

    def run_once():
        q = run_stream(
            spark, job, cat,
            out_dir=stream_dirs["out"],
            checkpoint_dir=stream_dirs["ckpt"],
            columns=COLUMNS,
            available_now=True,
            ladder_root=ladder_root,
            ladder_levels=["HR", "DY"],
        )
        drain(q)

    def assert_ladder_matches_batch():
        base = spark.read.parquet(f"{stream_dirs['out']}/CELL_STATS_15M").drop(PARTITION_COL)
        table = cat.tables["CELL_STATS"]
        for g in ["HR", "DY"]:
            got = {
                (r["SITE"], str(r["DATETIME"]), r["CALLS"], r["DROPS"])
                for r in spark.read.parquet(f"{ladder_root}/CELL_STATS_{g}")
                .drop(PARTITION_COL).collect()
            }
            want = {
                (r["SITE"], str(r["DATETIME"]), r["CALLS"], r["DROPS"])
                for r in rollup(base, table.key_fields,
                                [c.db_name for c in table.counters], g).collect()
            }
            assert got == want, (g, got, want)

    run_once()
    assert_ladder_matches_batch()
    hr_dirs = set(os.listdir(f"{ladder_root}/CELL_STATS_HR"))
    assert any(d.startswith(PARTITION_COL + "=") for d in hr_dirs)

    # late file lands in a NEW hour -> only that window is added/repaired
    with open(os.path.join(stream_dirs["in"], "A20240101.0100_cells.csv"), "w") as f:
        f.write("site,calls_raw,drops_raw\ns1,70,2\n")
    run_once()
    assert_ladder_matches_batch()
    hr_dirs_after = set(os.listdir(f"{ladder_root}/CELL_STATS_HR"))
    assert len([d for d in hr_dirs_after if d.startswith(PARTITION_COL + "=")]) == 2


def test_truncate_py_mirrors_spark_semantics():
    """Driver-side truncation matches Spark date_trunc/window alignment:
    epoch-grid floors, Monday weeks, calendar month/year rollover."""
    from datetime import datetime

    from chill_spark.operators.incremental import base_periods, truncate_py, window_end

    dt = datetime(2024, 1, 7, 13, 47, 31)  # a Sunday
    assert truncate_py(dt, "15M") == datetime(2024, 1, 7, 13, 45)
    assert truncate_py(dt, "HH") == datetime(2024, 1, 7, 13, 30)
    assert truncate_py(dt, "HR") == datetime(2024, 1, 7, 13)
    assert truncate_py(dt, "DY") == datetime(2024, 1, 7)
    assert truncate_py(dt, "WK") == datetime(2024, 1, 1)  # Monday
    assert truncate_py(dt, "MO") == datetime(2024, 1, 1)
    assert truncate_py(dt, "YR") == datetime(2024, 1, 1)
    assert window_end(datetime(2024, 12, 1), "MO") == datetime(2025, 1, 1)
    assert window_end(datetime(2024, 1, 1), "WK") == datetime(2024, 1, 8)
    ps = base_periods(datetime(2024, 1, 7, 13), datetime(2024, 1, 7, 14), "15M")
    assert ps == [datetime(2024, 1, 7, 13, m) for m in (0, 15, 30, 45)]


def test_stateful_sessionize_stream_v2(spark, stream_dirs):
    """transformWithStateInPandas (stateful v2) sessionizer agrees with
    the v1 path: sessions close on >30min gaps across micro-batches.
    The v2 state-server protocol needs protobuf at runtime — skip where
    it isn't installed (the operator itself is import-clean)."""
    pytest.importorskip("google.protobuf")
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from chill_spark.streaming.stateful import sessionize_stream_v2

    in_dir = os.path.join(stream_dirs["in"], "sess2_src")
    os.makedirs(in_dir)
    with open(os.path.join(in_dir, "b1.csv"), "w") as f:
        f.write(
            "user_id,ts\n"
            "1,2024-01-01 00:00:00\n"
            "1,2024-01-01 00:10:00\n"
            "2,2024-01-01 00:00:00\n"
        )
    with open(os.path.join(in_dir, "b2.csv"), "w") as f:
        f.write(
            "user_id,ts\n"
            "1,2024-01-01 00:20:00\n"
            "1,2024-01-01 02:00:00\n"
            "2,2024-01-01 03:00:00\n"
        )

    schema = StructType([
        StructField("user_id", LongType()),
        StructField("ts", StringType()),
    ])
    src = (
        spark.readStream.format("csv").schema(schema)
        .option("header", "true").option("maxFilesPerTrigger", "1")
        .load(f"{in_dir}/*.csv")
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    )
    sessions = sessionize_stream_v2(src, gap_seconds=1800)
    out_dir = os.path.join(stream_dirs["out"], "sessions_v2")
    ckpt = os.path.join(stream_dirs["ckpt"], "sessions_v2")
    q = (
        sessions.writeStream.outputMode("append").format("parquet")
        .option("path", out_dir).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(180), "stream did not self-terminate"
    got = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert (1, "2024-01-01 00:00:00", "2024-01-01 00:20:00", 3) in got
    assert (2, "2024-01-01 00:00:00", "2024-01-01 00:00:00", 1) in got


def test_metrics_listener_counts_input_rows(spark, stream_dirs):
    """StreamingQueryListener metrics: total input rows across
    micro-batches equals the rows in the source files (S13 loader
    metrics, the Spark form of the reference's BCP-log scraping)."""
    from chill_spark.streaming.stream import MetricsListener

    job = make_job(stream_dirs["in"])
    cat = make_catalog()
    ml = MetricsListener().attach(spark)
    try:
        q = run_stream(
            spark, job, cat,
            out_dir=stream_dirs["out"],
            checkpoint_dir=stream_dirs["ckpt"],
            columns=COLUMNS,
            available_now=True,
            max_files_per_trigger=1,
        )
        drain(q)
        # listener events are async; wait for both batch progress events
        import time
        qid = str(q.id)
        for _ in range(40):
            if ml.total_input_rows(qid) >= 4:
                break
            time.sleep(0.25)
        assert ml.total_input_rows(qid) == 4  # 2 files x 2 rows
        batches = [p for p in ml.progress if p["query_id"] == qid and p["num_input_rows"] > 0]
        assert len(batches) == 2  # maxFilesPerTrigger=1
        assert all("triggerExecution" in p["duration_ms"] for p in batches)
    finally:
        ml.detach(spark)


def test_streaming_jsonl_quality_intake(spark, stream_dirs):
    """Corpus intake: JSONL stream -> Gopher quality filter -> parquet.
    The same map-only filter plan as batch, run per micro-batch; bad
    lines surface via the corrupt-record column instead of poisoning
    the batch."""
    import json

    from chill_spark.llm_ops.text import gopher_quality_flags
    from chill_spark.sources.jsonl import CORRUPT_COL, read_jsonl_stream

    in_dir = os.path.join(stream_dirs["in"], "jsonl_src")
    os.makedirs(in_dir)
    good = (
        "the quick brown fox jumps over the lazy dog and then it runs away "
        "to a very distant place where it was seen by many people that day " * 3
    )
    with open(os.path.join(in_dir, "b1.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": good}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": "tiny"}) + "\n")
        f.write("{broken json\n")

    src = read_jsonl_stream(spark, in_dir, "doc_id bigint, text string")
    flags = gopher_quality_flags("text")
    kept = (
        src.filter(F.col(CORRUPT_COL).isNull())
        .filter(flags["keep"])
        .select("doc_id", "text")
    )
    out_dir = os.path.join(stream_dirs["out"], "jsonl_kept")
    ckpt = os.path.join(stream_dirs["ckpt"], "jsonl_kept")
    q = (
        kept.writeStream.outputMode("append").format("parquet")
        .option("path", out_dir).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    rows = spark.read.parquet(out_dir).collect()
    assert [r["doc_id"] for r in rows] == [1]


def test_stream_with_lookup_enrichment(spark, stream_dirs):
    """The DSL lookup (broadcast dim join + coalesce default) runs
    per micro-batch exactly as in batch — streaming enrichment against
    a static dimension snapshot."""
    cat = make_catalog()
    cat.tables["CELL_STATS"].columns.append(
        ColumnSpec("REGION", dtype="string", kind="KEY")
    )
    job = make_job(stream_dirs["in"])
    job.fields.append(
        FieldSpec(
            name="REGION", source="lookup", inputs=["site"],
            function="view[view['cell_id'] == arg1]['region'].values[0]",
            view="cells", default="UNK",
        )
    )
    views = {
        "cells": spark.createDataFrame(
            [("s1", "EAST"), ("s2", "WEST")], ["cell_id", "region"]
        )
    }
    q = run_stream(
        spark, job, cat,
        out_dir=stream_dirs["out"],
        checkpoint_dir=stream_dirs["ckpt"],
        columns=COLUMNS,
        views=views,
        available_now=True,
    )
    drain(q)
    out = spark.read.parquet(f"{stream_dirs['out']}/CELL_STATS_15M")
    got = {(r["SITE"], r["REGION"]) for r in out.collect()}
    assert got == {("s1", "EAST"), ("s2", "WEST"), ("s3", "UNK")}


def test_validate_ladder_detects_drift(spark, stream_dirs):
    """Ladder audit: consistent ladder -> zero bad rows; a corrupted
    level value -> counted."""
    from chill_spark.operators.incremental import validate_ladder
    from chill_spark.operators.writers import PARTITION_COL

    job = make_job(stream_dirs["in"])
    cat = make_catalog()
    ladder_root = os.path.join(os.path.dirname(stream_dirs["out"]), "ladder_v")
    q = run_stream(
        spark, job, cat,
        out_dir=stream_dirs["out"],
        checkpoint_dir=stream_dirs["ckpt"],
        columns=COLUMNS,
        available_now=True,
        ladder_root=ladder_root,
        ladder_levels=["HR"],
    )
    drain(q)
    table = cat.tables["CELL_STATS"]
    base = f"{stream_dirs['out']}/CELL_STATS_15M"
    assert validate_ladder(spark, base, ladder_root, table, ["HR"]) == {"HR": 0}

    # corrupt one stored HR value
    hr = f"{ladder_root}/CELL_STATS_HR"
    df = spark.read.parquet(hr).drop(PARTITION_COL)
    bad = df.withColumn(
        "CALLS",
        F.when(F.col("SITE") == "s1", F.col("CALLS") + 1).otherwise(F.col("CALLS")),
    )
    from chill_spark.operators.writers import write_fact
    write_fact(bad, hr)
    assert validate_ladder(spark, base, ladder_root, table, ["HR"]) == {"HR": 1}


def test_stateful_sessionize_event_time_flush(spark, stream_dirs):
    """timeout='event': an open session flushes when the WATERMARK
    passes session_end + gap — no wall clock involved, so replays
    produce identical sessions. A later batch whose events advance the
    watermark far enough closes u2's idle session without u2 sending
    any more events."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from chill_spark.streaming import sessionize_stream

    in_dir = os.path.join(stream_dirs["in"], "sess_evt")
    os.makedirs(in_dir)
    with open(os.path.join(in_dir, "b1.csv"), "w") as f:
        f.write("user_id,ts\n2,2024-01-01 00:00:00\n")
    with open(os.path.join(in_dir, "b2.csv"), "w") as f:
        # u1 events push the watermark to ~05:50 (06:00 - 10m delay),
        # far past u2's 00:00 + 30m gap
        f.write("user_id,ts\n1,2024-01-01 06:00:00\n")

    schema = StructType([
        StructField("user_id", LongType()),
        StructField("ts", StringType()),
    ])
    src = (
        spark.readStream.format("csv").schema(schema)
        .option("header", "true").option("maxFilesPerTrigger", "1")
        .load(f"{in_dir}/*.csv")
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
        .withWatermark("ts", "10 minutes")
    )
    sessions = sessionize_stream(src, gap_seconds=1800, timeout="event")
    out_dir = os.path.join(stream_dirs["out"], "sessions_evt")
    ckpt = os.path.join(stream_dirs["ckpt"], "sessions_evt")
    q = (
        sessions.writeStream.outputMode("append").format("parquet")
        .option("path", out_dir).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(180), "stream did not self-terminate"
    got = {
        (r["user_id"], str(r["session_start"]), r["n_events"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert (2, "2024-01-01 00:00:00", 1) in got  # flushed by watermark


def test_batch_keyed_base_write_is_replay_idempotent(spark, stream_dirs):
    """A replayed micro-batch (same batch_id, same rows) overwrites its
    own partition leaves instead of appending duplicates; a different
    batch lands alongside (ADVICE r1: the base sink was append-mode,
    so replay duplicated base rows and the ladder re-aggregated them)."""
    from chill_spark.operators.writers import BATCH_COL, PARTITION_COL, with_partition_col

    path = os.path.join(stream_dirs["out"], "idem_base")
    df = spark.createDataFrame(
        [("s1", "2024-01-01 00:00:00", 1.0)], ["SITE", "DATETIME", "CALLS"]
    ).withColumn("DATETIME", F.col("DATETIME").cast("timestamp"))

    def write(batch_id):
        (
            with_partition_col(df)
            .withColumn(BATCH_COL, F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(PARTITION_COL, BATCH_COL)
            .parquet(path)
        )

    write(0)
    write(0)  # replay: same leaves overwritten
    assert spark.read.parquet(path).count() == 1
    write(1)  # genuinely new batch appends its own leaf
    assert spark.read.parquet(path).count() == 2
    from chill_spark.operators.writers import read_fact

    got = read_fact(spark, path)
    assert sorted(got.columns) == ["CALLS", "DATETIME", "SITE"]


def test_compaction_collapses_batch_leaves(spark, stream_dirs):
    """compact_partitions on a streamed (batch-keyed) fact: counts the
    nested BATCH_PART files, collapses them into flat period files,
    and preserves every row."""
    from chill_spark.operators.writers import (
        BATCH_COL, PARTITION_COL, compact_partitions, read_fact,
        with_partition_col,
    )

    path = os.path.join(stream_dirs["out"], "compact_base")
    for batch_id in range(3):
        df = spark.createDataFrame(
            [(f"s{batch_id}", "2024-01-01 00:00:00", float(batch_id))],
            ["SITE", "DATETIME", "CALLS"],
        ).withColumn("DATETIME", F.col("DATETIME").cast("timestamp"))
        (
            with_partition_col(df)
            .withColumn(BATCH_COL, F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(PARTITION_COL, BATCH_COL)
            .parquet(path)
        )
    # second period with a single small leaf: below the compaction
    # threshold, so it keeps its original batch leaf — the table must
    # stay readable with one period compacted and one not
    df2 = spark.createDataFrame(
        [("s9", "2024-01-01 00:15:00", 9.0)], ["SITE", "DATETIME", "CALLS"]
    ).withColumn("DATETIME", F.col("DATETIME").cast("timestamp"))
    (
        with_partition_col(df2)
        .withColumn(BATCH_COL, F.lit(7))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(PARTITION_COL, BATCH_COL)
        .parquet(path)
    )
    before = {tuple(r) for r in read_fact(spark, path).collect()}
    assert len(before) == 4
    done = compact_partitions(spark, path, target_file_bytes=10**9)
    assert done == {"202401010000": 1}
    # collapsed into the single BATCH_PART=-1 leaf (uniform depth)
    pdir = os.path.join(path, f"{PARTITION_COL}=202401010000")
    leaves = [d for d in os.listdir(pdir) if d.startswith(BATCH_COL)]
    assert leaves == [f"{BATCH_COL}=-1"]
    # partially-compacted table still reads end-to-end (r2 review
    # finding: flattening one period made discovery fail with
    # CONFLICTING_PARTITION_COLUMN_NAMES)
    assert {tuple(r) for r in read_fact(spark, path).collect()} == before


def test_dedup_stream_dedups_across_batches(spark, stream_dirs):
    """Continuously-deduplicating corpus intake: batch 2's near-dup of
    a batch-1 doc is dropped against the persisted sketch store, while
    genuinely new docs survive; the store grows with survivors only."""
    import json

    from chill_spark.streaming import drain
    from chill_spark.streaming.dedup_stream import run_dedup_stream

    base = os.path.dirname(stream_dirs["out"])
    ind = os.path.join(base, "dd_in"); os.makedirs(ind, exist_ok=True)
    out = os.path.join(base, "dd_out")
    store = os.path.join(base, "dd_store")
    ckpt = os.path.join(base, "dd_ckpt")

    long_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    long_b = "one two three four five six seven eight nine ten eleven " * 4
    with open(os.path.join(ind, "w1.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": long_a}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": long_b}) + "\n")

    kw = dict(
        schema="doc_id BIGINT, text STRING", out_dir=out,
        store_root=store, checkpoint_dir=ckpt,
        threshold=0.5, num_hashes=16, bands=8, available_now=True,
    )
    drain(run_dedup_stream(spark, ind, **kw))
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1, 2}

    # wave 2: near-dup of doc 1 (a few tokens dropped) + a new doc
    near_a = " ".join(long_a.split()[:-3])
    with open(os.path.join(ind, "w2.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 10, "text": near_a}) + "\n")
        f.write(json.dumps({"doc_id": 11, "text": "completely different fresh content here today"}) + "\n")
    drain(run_dedup_stream(spark, ind, **kw))

    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {1, 2, 11}, got
    # store holds sketches for survivors only
    ids = {r["id"] for r in spark.read.parquet(os.path.join(store, "sets")).collect()}
    assert ids == {1, 2, 11}
    banded = spark.read.parquet(os.path.join(store, "banded"))
    assert {r["id"] for r in banded.select("id").distinct().collect()} == {1, 2, 11}


def test_dedup_stream_replay_after_lost_commit(spark, stream_dirs):
    """Genuine micro-batch replay: drop the last checkpoint commit so
    Structured Streaming re-runs the batch against a store that
    already holds its survivors. The replay must neither doom its own
    docs (the r2 self-pair bug) nor duplicate them — the batch-keyed
    leaves are simply rewritten."""
    import json

    from chill_spark.streaming import drain
    from chill_spark.streaming.dedup_stream import run_dedup_stream

    base = os.path.dirname(stream_dirs["out"])
    ind = os.path.join(base, "rp_in"); os.makedirs(ind, exist_ok=True)
    out = os.path.join(base, "rp_out")
    store = os.path.join(base, "rp_store")
    ckpt = os.path.join(base, "rp_ckpt")
    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    with open(os.path.join(ind, "w1.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": body}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": "other content entirely here"}) + "\n")

    kw = dict(
        schema="doc_id BIGINT, text STRING", out_dir=out,
        store_root=store, checkpoint_dir=ckpt,
        threshold=0.5, num_hashes=16, bands=8, available_now=True,
    )
    drain(run_dedup_stream(spark, ind, **kw))
    want = {(r["doc_id"], r["text"]) for r in spark.read.parquet(out).collect()}
    assert {i for i, _ in want} == {1, 2}

    # lose the commit record -> the next run REPLAYS batch 0
    commits = os.path.join(ckpt, "commits")
    nums = [f for f in os.listdir(commits) if f.isdigit()]
    newest = max(nums, key=int)
    os.remove(os.path.join(commits, newest))
    crc = os.path.join(commits, f".{newest}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    drain(run_dedup_stream(spark, ind, **kw))

    got = sorted(
        (r["doc_id"], r["text"]) for r in spark.read.parquet(out).collect()
    )
    # sorted LISTS, not sets: appended duplicates must fail, not
    # collapse away (r2 review)
    assert got == sorted(want)
    ids = sorted(
        r["id"] for r in spark.read.parquet(os.path.join(store, "sets")).collect()
    )
    assert ids == [1, 2]


def test_dedup_stream_all_duplicate_batch(spark, stream_dirs):
    """A micro-batch where EVERY new doc is a near-dup of the stored
    corpus produces zero survivors: the batch must complete (r2 advice:
    the empty partitioned write creates no BATCH_PART leaf, and the
    immediate re-read used to raise PATH_NOT_FOUND and kill the query),
    append nothing, and leave the store untouched for the next batch."""
    import json

    from chill_spark.streaming import drain
    from chill_spark.streaming.dedup_stream import run_dedup_stream

    base = os.path.dirname(stream_dirs["out"])
    ind = os.path.join(base, "ad_in"); os.makedirs(ind, exist_ok=True)
    out = os.path.join(base, "ad_out")
    store = os.path.join(base, "ad_store")
    ckpt = os.path.join(base, "ad_ckpt")
    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    with open(os.path.join(ind, "w1.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": body}) + "\n")

    kw = dict(
        schema="doc_id BIGINT, text STRING", out_dir=out,
        store_root=store, checkpoint_dir=ckpt,
        threshold=0.5, num_hashes=16, bands=8, available_now=True,
    )
    drain(run_dedup_stream(spark, ind, **kw))

    # wave 2: ONLY near-dups of doc 1 — zero survivors
    near = " ".join(body.split()[:-2])
    with open(os.path.join(ind, "w2.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 10, "text": near}) + "\n")
        f.write(json.dumps({"doc_id": 11, "text": body}) + "\n")
    drain(run_dedup_stream(spark, ind, **kw))

    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1}
    ids = {r["id"] for r in spark.read.parquet(os.path.join(store, "sets")).collect()}
    assert ids == {1}

    # wave 3: the stream is still alive for genuinely new content
    with open(os.path.join(ind, "w3.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 20, "text": "entirely fresh words appear in this one"}) + "\n")
    drain(run_dedup_stream(spark, ind, **kw))
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1, 20}


def test_dedup_stream_nonmonotonic_ids(spark, stream_dirs):
    """Ids are NOT monotonic across batches (hash/uuid ids): a new doc
    whose stored duplicate has a LARGER id must still be doomed —
    append-only corpus means the stored side always wins (r2 advice:
    min-id survivorship let the new doc through and permanently
    admitted the pair)."""
    import json

    from chill_spark.streaming import drain
    from chill_spark.streaming.dedup_stream import run_dedup_stream

    base = os.path.dirname(stream_dirs["out"])
    ind = os.path.join(base, "nm_in"); os.makedirs(ind, exist_ok=True)
    out = os.path.join(base, "nm_out")
    store = os.path.join(base, "nm_store")
    ckpt = os.path.join(base, "nm_ckpt")
    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    # stored doc gets the LARGE id
    with open(os.path.join(ind, "w1.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 1000, "text": body}) + "\n")

    kw = dict(
        schema="doc_id BIGINT, text STRING", out_dir=out,
        store_root=store, checkpoint_dir=ckpt,
        threshold=0.5, num_hashes=16, bands=8, available_now=True,
    )
    drain(run_dedup_stream(spark, ind, **kw))

    # new near-dup arrives with a SMALLER id + one fresh doc
    near = " ".join(body.split()[:-2])
    with open(os.path.join(ind, "w2.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 5, "text": near}) + "\n")
        f.write(json.dumps({"doc_id": 6, "text": "brand new material with its own words"}) + "\n")
    drain(run_dedup_stream(spark, ind, **kw))

    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {1000, 6}, got
    ids = {r["id"] for r in spark.read.parquet(os.path.join(store, "sets")).collect()}
    assert ids == {1000, 6}


def test_dedup_stream_bootstraps_meta(spark, stream_dirs):
    """A stream-created store gets a _meta.json on setup, so a later
    consumer with mismatched sketch parameters fails fast instead of
    silently finding zero candidates (r2 advice)."""
    import json

    import pytest

    from chill_spark.llm_ops.incremental_dedup import check_sketch_meta
    from chill_spark.streaming import drain
    from chill_spark.streaming.dedup_stream import run_dedup_stream

    base = os.path.dirname(stream_dirs["out"])
    ind = os.path.join(base, "mt_in"); os.makedirs(ind, exist_ok=True)
    store = os.path.join(base, "mt_store")
    with open(os.path.join(ind, "w1.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "hello world of streams"}) + "\n")
    drain(run_dedup_stream(
        spark, ind, schema="doc_id BIGINT, text STRING",
        out_dir=os.path.join(base, "mt_out"), store_root=store,
        checkpoint_dir=os.path.join(base, "mt_ckpt"),
        num_hashes=16, bands=8, available_now=True,
    ))
    assert os.path.exists(os.path.join(store, "_meta.json"))
    check_sketch_meta(store, 16, 8, 5)  # matching params: fine
    with pytest.raises(ValueError, match="zero dedup recall"):
        check_sketch_meta(store, 32, 8, 5)


def test_compact_sketch_store_collapses_leaves(spark, stream_dirs):
    """After N micro-batches the store has one BATCH_PART leaf per
    batch per side (small-file pathology at 10^4 batches).
    compact_sketch_store collapses each side to a single BATCH_PART=-1
    leaf, dedup results are unchanged, and the stream keeps appending
    on top of the compacted store."""
    import json

    from chill_spark.llm_ops.incremental_dedup import compact_sketch_store
    from chill_spark.streaming import drain
    from chill_spark.streaming.dedup_stream import run_dedup_stream

    base = os.path.dirname(stream_dirs["out"])
    ind = os.path.join(base, "cp_in"); os.makedirs(ind, exist_ok=True)
    out = os.path.join(base, "cp_out")
    store = os.path.join(base, "cp_store")
    ckpt = os.path.join(base, "cp_ckpt")
    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    kw = dict(
        schema="doc_id BIGINT, text STRING", out_dir=out,
        store_root=store, checkpoint_dir=ckpt,
        threshold=0.5, num_hashes=16, bands=8, available_now=True,
    )
    with open(os.path.join(ind, "w1.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": body}) + "\n")
    drain(run_dedup_stream(spark, ind, **kw))
    with open(os.path.join(ind, "w2.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 2, "text": "some different second wave content"}) + "\n")
    drain(run_dedup_stream(spark, ind, **kw))

    def leaves(side):
        return sorted(
            d for d in os.listdir(os.path.join(store, side))
            if d.startswith("BATCH_PART=")
        )

    assert len(leaves("sets")) >= 2 and len(leaves("banded")) >= 2
    before = {r["id"] for r in spark.read.parquet(os.path.join(store, "sets")).collect()}

    done = compact_sketch_store(spark, store)
    assert set(done) == {"sets", "banded"}
    assert leaves("sets") == ["BATCH_PART=-1"]
    assert leaves("banded") == ["BATCH_PART=-1"]
    after = {r["id"] for r in spark.read.parquet(os.path.join(store, "sets")).collect()}
    assert after == before == {1, 2}

    # wave 3 against the compacted store: near-dup of doc 1 dies, a
    # fresh doc survives and appends beside the compacted leaf
    near = " ".join(body.split()[:-2])
    with open(os.path.join(ind, "w3.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 30, "text": near}) + "\n")
        f.write(json.dumps({"doc_id": 31, "text": "wave three entirely novel material"}) + "\n")
    drain(run_dedup_stream(spark, ind, **kw))
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {1, 2, 31}, got
    ids = {r["id"] for r in spark.read.parquet(os.path.join(store, "sets")).collect()}
    assert ids == {1, 2, 31}


def test_dedup_stream_bucket_partitioned_store(spark, stream_dirs):
    """A stream maintaining a BKT_PART-partitioned store appends in
    the same layout (mixed flat/partitioned trees would break
    discovery) and still dedups correctly across batches."""
    import json

    from chill_spark.llm_ops.incremental_dedup import (
        BUCKET_PART_COL,
        write_sketch_store,
    )
    from chill_spark.streaming import drain
    from chill_spark.streaming.dedup_stream import run_dedup_stream

    base = os.path.dirname(stream_dirs["out"])
    ind = os.path.join(base, "bp_in"); os.makedirs(ind, exist_ok=True)
    out = os.path.join(base, "bp_out")
    store = os.path.join(base, "bp_store")
    ckpt = os.path.join(base, "bp_ckpt")
    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    seed = spark.createDataFrame([(1, body)], ["doc_id", "text"])
    write_sketch_store(
        seed, "text", "doc_id", store, num_hashes=16, bands=8,
        bucket_partitions=16,
    )

    near = " ".join(body.split()[:-2])
    with open(os.path.join(ind, "w1.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 10, "text": near}) + "\n")
        f.write(json.dumps({"doc_id": 11, "text": "novel content for the partitioned store"}) + "\n")
    drain(run_dedup_stream(
        spark, ind, schema="doc_id BIGINT, text STRING", out_dir=out,
        store_root=store, checkpoint_dir=ckpt,
        threshold=0.5, num_hashes=16, bands=8, available_now=True,
    ))
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {11}
    banded = spark.read.parquet(os.path.join(store, "banded"))
    assert BUCKET_PART_COL in banded.columns
    assert {r["id"] for r in banded.select("id").distinct().collect()} == {1, 11}
    # the appended batch leaf nests BKT_PART dirs like the bootstrap
    leaf = [
        d for d in os.listdir(os.path.join(store, "banded"))
        if d.startswith("BATCH_PART=") and not d.endswith("=-1")
    ]
    assert leaf
    sub = os.listdir(os.path.join(store, "banded", leaf[0]))
    assert any(d.startswith(BUCKET_PART_COL) for d in sub), sub


def test_compact_sketch_store_heals_interrupted_swap(spark, stream_dirs):
    """Crash windows of the swap protocol are recoverable (r3 review):
    a store left with the side renamed aside (died between rename-out
    and rename-in) is restored and recompacted; stale temp/aside dirs
    are cleared."""
    import shutil

    from chill_spark.llm_ops.incremental_dedup import (
        compact_sketch_store,
        write_sketch_store,
    )

    base = os.path.dirname(stream_dirs["out"])
    store = os.path.join(base, "heal_store")
    docs = spark.createDataFrame(
        [(i, f"document number {i} with plenty of words inside") for i in range(5)],
        ["doc_id", "text"],
    )
    write_sketch_store(docs, "text", "doc_id", store, num_hashes=16, bands=8)
    want = {r["id"] for r in spark.read.parquet(os.path.join(store, "sets")).collect()}

    # simulate dying between rename(src, aside) and rename(tmp, src):
    # sets/ is gone, sets__old holds the data, sets__compacting is stale
    os.rename(os.path.join(store, "sets"), os.path.join(store, "sets__old"))
    os.makedirs(os.path.join(store, "sets__compacting", "BATCH_PART=-1"))

    done = compact_sketch_store(spark, store)
    assert set(done) == {"sets", "banded"}
    assert not os.path.exists(os.path.join(store, "sets__old"))
    assert not os.path.exists(os.path.join(store, "sets__compacting"))
    got = {r["id"] for r in spark.read.parquet(os.path.join(store, "sets")).collect()}
    assert got == want

    # an empty (but accessible) root is an error, not silent success;
    # remote roots now route through the Hadoop FS API — see
    # test_store_lifecycle_on_hadoop_fs_root
    import pytest

    with pytest.raises(ValueError, match="no sketch store"):
        compact_sketch_store(spark, os.path.join(base, "nonexistent_store"))


def test_compact_staged_protocol_for_nonatomic_rename(spark, stream_dirs):
    """Object-store compaction path (rename = COPY+DELETE, not
    atomic): the aside swap would let a crash strand objects across
    two directories and the old heal deleted the only copy of the
    stragglers (r4 review). The staged protocol (tmp -> COMMIT marker
    -> delete live -> rename in -> drop marker) must compact
    correctly, roll forward from the committed stage, clear a stale
    post-rename marker, and REFUSE (data intact) when caught truly
    mid-rename."""
    import json as _json

    import pytest

    from chill_spark.llm_ops.incremental_dedup import (
        compact_sketch_store,
        write_sketch_store,
    )

    base = os.path.dirname(stream_dirs["out"])
    store = os.path.join(base, "staged_store")
    docs = spark.createDataFrame(
        [(i, f"staged protocol document number {i} with many words")
         for i in range(6)],
        ["doc_id", "text"],
    )
    write_sketch_store(docs, "text", "doc_id", store, num_hashes=16, bands=8)
    want = {r["id"] for r in spark.read.parquet(os.path.join(store, "sets")).collect()}

    # plain staged compaction works end-to-end
    done = compact_sketch_store(spark, store, atomic_rename=False)
    assert set(done) == {"sets", "banded"}
    got = {r["id"] for r in spark.read.parquet(os.path.join(store, "sets")).collect()}
    assert got == want
    assert not os.path.exists(os.path.join(store, "sets__COMMIT"))

    # crash window: marker stage=committed, live side partially
    # deleted, tmp holds the complete copy -> heal rolls forward
    os.rename(os.path.join(store, "sets"), os.path.join(store, "sets__compacting"))
    with open(os.path.join(store, "sets__COMMIT"), "w") as f:
        f.write(_json.dumps({"stage": "committed"}))
    done = compact_sketch_store(spark, store, atomic_rename=False)
    got = {r["id"] for r in spark.read.parquet(os.path.join(store, "sets")).collect()}
    assert got == want

    # crash window: stage=renaming with BOTH dirs present -> refuse,
    # nothing deleted
    os.makedirs(os.path.join(store, "sets__compacting", "BATCH_PART=-1"))
    with open(os.path.join(store, "sets__COMMIT"), "w") as f:
        f.write(_json.dumps({"stage": "renaming"}))
    with pytest.raises(RuntimeError, match="mid-rename"):
        compact_sketch_store(spark, store, atomic_rename=False)
    assert os.path.isdir(os.path.join(store, "sets"))
    assert os.path.isdir(os.path.join(store, "sets__compacting"))

    # crash window: stage=renaming but the rename completed (tmp gone)
    # -> only the marker is stale
    shutil.rmtree(os.path.join(store, "sets__compacting"))
    done = compact_sketch_store(spark, store, atomic_rename=False)
    got = {r["id"] for r in spark.read.parquet(os.path.join(store, "sets")).collect()}
    assert got == want
    assert not os.path.exists(os.path.join(store, "sets__COMMIT"))


def test_store_lifecycle_on_hadoop_fs_root(spark, stream_dirs):
    """The whole store lifecycle — overwrite cleanup, meta I/O,
    append-mode meta check, compaction swap + crash heal — runs
    through the Hadoop FileSystem API (storefs), exercised here via a
    ``file://``-scheme root: the exact code path a hdfs:// or s3a://
    store takes, with no os/shutil local shortcuts (r3 verdict: a
    100 TB store lives on object storage)."""
    import pytest

    from chill_spark.llm_ops.incremental_dedup import (
        check_sketch_meta,
        compact_sketch_store,
        read_sketch_meta,
        write_sketch_store,
    )
    from chill_spark.llm_ops.incremental_embedding import (
        compact_embedding_store,
        write_embedding_store,
    )

    base = os.path.dirname(stream_dirs["out"])
    local = os.path.join(base, "hfs_store")
    store = f"file://{local}"
    docs = spark.createDataFrame(
        [(i, f"document number {i} with plenty of words inside here")
         for i in range(6)],
        ["doc_id", "text"],
    )
    write_sketch_store(docs, "text", "doc_id", store, num_hashes=16, bands=8)
    # meta landed (readable through the same API), params enforced
    assert read_sketch_meta(store)["num_hashes"] == 16
    with pytest.raises(ValueError, match="zero dedup recall"):
        check_sketch_meta(store, 32, 8, 5)
    # append a second wave -> extra files; overwrite must clear ALL
    more = spark.createDataFrame(
        [(10 + i, f"second wave text body number {i} here") for i in range(3)],
        ["doc_id", "text"],
    )
    write_sketch_store(more, "text", "doc_id", store, num_hashes=16,
                       bands=8, mode="append")
    ids = {r["id"] for r in spark.read.parquet(f"{store}/sets").collect()}
    assert ids == set(range(6)) | {10, 11, 12}
    # simulate a crash mid-swap on the REMOTE layout, then compact
    os.rename(os.path.join(local, "sets"), os.path.join(local, "sets__old"))
    done = compact_sketch_store(spark, store)
    assert set(done) == {"sets", "banded"}
    assert not os.path.exists(os.path.join(local, "sets__old"))
    got = {r["id"] for r in spark.read.parquet(f"{store}/sets").collect()}
    assert got == ids
    # one leaf per side after compaction
    leaves = [d for d in os.listdir(os.path.join(local, "sets"))
              if d.startswith("BATCH_PART=")]
    assert leaves == ["BATCH_PART=-1"]
    # overwrite clears the compacted tree completely (the r3-advice
    # hazard: os/shutil cleanup was a no-op on remote roots, leaving
    # stale leaves under restamped meta)
    write_sketch_store(docs, "text", "doc_id", store, num_hashes=32, bands=8)
    assert read_sketch_meta(store)["num_hashes"] == 32
    got = {r["id"] for r in spark.read.parquet(f"{store}/sets").collect()}
    assert got == set(range(6))

    # embedding store twin on the same scheme
    emb_local = os.path.join(base, "hfs_emb_store")
    emb = f"file://{emb_local}"
    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, 0.25]) for i in range(5)],
        ["vec_id", "embedding"],
    )
    write_embedding_store(vecs, "embedding", "vec_id", emb)
    done = compact_embedding_store(spark, emb)
    assert set(done) == {"vectors", "banded"}
    got = {r["id"] for r in spark.read.parquet(f"{emb}/vectors").collect()}
    assert got == set(range(5))


def test_sketch_meta_pins_bucket_partitions(spark, stream_dirs):
    """Pruning a hash-partitioned store with the wrong N would read the
    wrong partition directories (silent dropped duplicates) — the meta
    check rejects it when asked (r3 review)."""
    import pytest

    from chill_spark.llm_ops.incremental_dedup import (
        check_sketch_meta,
        store_bucket_partitions,
        write_sketch_store,
    )

    base = os.path.dirname(stream_dirs["out"])
    store = os.path.join(base, "pin_store")
    docs = spark.createDataFrame(
        [(1, "hello world of partitioned sketch stores")], ["doc_id", "text"]
    )
    write_sketch_store(
        docs, "text", "doc_id", store, num_hashes=16, bands=8,
        bucket_partitions=32,
    )
    assert store_bucket_partitions(store) == 32
    check_sketch_meta(store, 16, 8, 5)  # layout not pinned: ok
    check_sketch_meta(store, 16, 8, 5, bucket_partitions=32)
    with pytest.raises(ValueError, match="wrong partition"):
        check_sketch_meta(store, 16, 8, 5, bucket_partitions=16)


def test_embedding_dedup_stream_across_batches(spark, stream_dirs):
    """Continuously-deduplicating embedding intake: batch 2's
    near-duplicate vector of a batch-1 doc is dropped against the
    persisted hyperplane store; genuinely new vectors survive; an
    all-duplicate batch is a no-op; the store grows with survivors
    only."""
    import json

    from chill_spark.llm_ops.incremental_embedding import (
        check_embedding_meta,
    )
    from chill_spark.streaming import drain
    from chill_spark.streaming.dedup_stream import run_embedding_dedup_stream

    base = os.path.dirname(stream_dirs["out"])
    ind = os.path.join(base, "ev_in"); os.makedirs(ind, exist_ok=True)
    out = os.path.join(base, "ev_out")
    store = os.path.join(base, "ev_store")
    ckpt = os.path.join(base, "ev_ckpt")

    import numpy as np

    rng = np.random.RandomState(5)
    v1 = [float(x) for x in rng.normal(size=16)]
    v2 = [float(x) for x in rng.normal(size=16)]
    with open(os.path.join(ind, "w1.jsonl"), "w") as f:
        f.write(json.dumps({"vec_id": 1, "embedding": v1}) + "\n")
        f.write(json.dumps({"vec_id": 2, "embedding": v2}) + "\n")

    kw = dict(
        schema="vec_id BIGINT, embedding ARRAY<DOUBLE>", out_dir=out,
        store_root=store, checkpoint_dir=ckpt,
        threshold=0.9, planes=4, bands=6, available_now=True,
    )
    drain(run_embedding_dedup_stream(spark, ind, **kw))
    assert {r["vec_id"] for r in spark.read.parquet(out).collect()} == {1, 2}
    check_embedding_meta(store, 4, 6, 42, dim=16)  # meta bootstrapped

    # wave 2: near-dup of 1 (smaller id — stored side must win) + new
    near = [float(x + 0.01) for x in v1]
    v3 = [float(x) for x in rng.normal(size=16)]
    with open(os.path.join(ind, "w2.jsonl"), "w") as f:
        f.write(json.dumps({"vec_id": 0, "embedding": near}) + "\n")
        f.write(json.dumps({"vec_id": 30, "embedding": v3}) + "\n")
    drain(run_embedding_dedup_stream(spark, ind, **kw))
    assert {r["vec_id"] for r in spark.read.parquet(out).collect()} == {1, 2, 30}

    # wave 3: ALL duplicates -> no survivors, stream stays alive
    with open(os.path.join(ind, "w3.jsonl"), "w") as f:
        f.write(json.dumps({"vec_id": 40, "embedding": v2}) + "\n")
    drain(run_embedding_dedup_stream(spark, ind, **kw))
    got = {r["vec_id"] for r in spark.read.parquet(out).collect()}
    assert got == {1, 2, 30}
    ids = {r["id"] for r in spark.read.parquet(os.path.join(store, "vectors")).collect()}
    assert ids == {1, 2, 30}

    # wave 4: still ingesting after the all-dup batch
    v5 = [float(x) for x in rng.normal(size=16)]
    with open(os.path.join(ind, "w4.jsonl"), "w") as f:
        f.write(json.dumps({"vec_id": 50, "embedding": v5}) + "\n")
    drain(run_embedding_dedup_stream(spark, ind, **kw))
    assert {r["vec_id"] for r in spark.read.parquet(out).collect()} == {1, 2, 30, 50}


def test_embedding_dedup_stream_rejects_dim_drift(spark, stream_dirs):
    """An increment whose vectors changed dimension (embedding model
    swap) must fail fast, not silently admit every duplicate."""
    import json

    import pytest

    from chill_spark.streaming import drain
    from chill_spark.streaming.dedup_stream import run_embedding_dedup_stream

    base = os.path.dirname(stream_dirs["out"])
    ind = os.path.join(base, "dd2_in"); os.makedirs(ind, exist_ok=True)
    kw = dict(
        schema="vec_id BIGINT, embedding ARRAY<DOUBLE>",
        out_dir=os.path.join(base, "dd2_out"),
        store_root=os.path.join(base, "dd2_store"),
        checkpoint_dir=os.path.join(base, "dd2_ckpt"),
        threshold=0.9, planes=4, bands=6, available_now=True,
    )
    with open(os.path.join(ind, "w1.jsonl"), "w") as f:
        f.write(json.dumps({"vec_id": 1, "embedding": [1.0] * 8}) + "\n")
    drain(run_embedding_dedup_stream(spark, ind, **kw))
    with open(os.path.join(ind, "w2.jsonl"), "w") as f:
        f.write(json.dumps({"vec_id": 2, "embedding": [1.0] * 16}) + "\n")
    with pytest.raises(Exception, match="dim|zero dedup recall"):
        drain(run_embedding_dedup_stream(spark, ind, **kw))


def test_embedding_dedup_stream_quarantines_bad_vectors(spark, stream_dirs):
    """Null-embedding and minority wrong-dim rows are routed to the
    reject channel in the SAME batch-keyed write as corrupt lines (a
    second write would dynamic-overwrite the first leaf); the valid
    rows of the batch still flow."""
    import json

    from chill_spark.streaming import drain
    from chill_spark.streaming.dedup_stream import run_embedding_dedup_stream

    base = os.path.dirname(stream_dirs["out"])
    ind = os.path.join(base, "qb_in"); os.makedirs(ind, exist_ok=True)
    out = os.path.join(base, "qb_out")
    with open(os.path.join(ind, "w1.jsonl"), "w") as f:
        f.write(json.dumps({"vec_id": 1, "embedding": [1.0, 0.0, 0.0, 0.5]}) + "\n")
        f.write(json.dumps({"vec_id": 2, "embedding": None}) + "\n")
        f.write(json.dumps({"vec_id": 3, "embedding": [1.0, 2.0]}) + "\n")
        f.write("{not json at all\n")
        f.write(json.dumps({"vec_id": 4, "embedding": [0.0, 1.0, 0.0, 0.5]}) + "\n")
    drain(run_embedding_dedup_stream(
        spark, ind, schema="vec_id BIGINT, embedding ARRAY<DOUBLE>",
        out_dir=out, store_root=os.path.join(base, "qb_store"),
        checkpoint_dir=os.path.join(base, "qb_ckpt"),
        threshold=0.95, planes=3, bands=4, available_now=True,
    ))
    assert {r["vec_id"] for r in spark.read.parquet(out).collect()} == {1, 4}
    q = spark.read.parquet(os.path.join(out, "_quarantine")).collect()
    lines = [r["rejected_line"] for r in q]
    assert len(lines) == 3  # corrupt + null-embedding + wrong-dim
    assert any("not json" in (l or "") for l in lines)
    assert any('"vec_id":2' in (l or "") or '"vec_id": 2' in (l or "") for l in lines)
    assert any('"vec_id":3' in (l or "") or '"vec_id": 3' in (l or "") for l in lines)


def test_compact_embedding_store(spark, stream_dirs):
    """The embedding store's per-batch leaves compact to one leaf per
    side, and the stream keeps deduplicating on top."""
    import json

    import numpy as np

    from chill_spark.llm_ops.incremental_embedding import (
        compact_embedding_store,
    )
    from chill_spark.streaming import drain
    from chill_spark.streaming.dedup_stream import run_embedding_dedup_stream

    base = os.path.dirname(stream_dirs["out"])
    ind = os.path.join(base, "ce_in"); os.makedirs(ind, exist_ok=True)
    out = os.path.join(base, "ce_out")
    store = os.path.join(base, "ce_store")
    rng = np.random.RandomState(21)
    v1 = [float(x) for x in rng.normal(size=12)]
    v2 = [float(x) for x in rng.normal(size=12)]
    kw = dict(
        schema="vec_id BIGINT, embedding ARRAY<DOUBLE>", out_dir=out,
        store_root=store, checkpoint_dir=os.path.join(base, "ce_ckpt"),
        threshold=0.95, planes=4, bands=6, available_now=True,
    )
    with open(os.path.join(ind, "w1.jsonl"), "w") as f:
        f.write(json.dumps({"vec_id": 1, "embedding": v1}) + "\n")
    drain(run_embedding_dedup_stream(spark, ind, **kw))
    with open(os.path.join(ind, "w2.jsonl"), "w") as f:
        f.write(json.dumps({"vec_id": 2, "embedding": v2}) + "\n")
    drain(run_embedding_dedup_stream(spark, ind, **kw))

    def leaves(side):
        return sorted(
            d for d in os.listdir(os.path.join(store, side))
            if d.startswith("BATCH_PART=")
        )

    assert len(leaves("vectors")) >= 2
    done = compact_embedding_store(spark, store)
    assert set(done) == {"vectors", "banded"}
    assert leaves("vectors") == ["BATCH_PART=-1"]
    assert leaves("banded") == ["BATCH_PART=-1"]

    near = [float(x + 0.004) for x in v1]
    v3 = [float(x) for x in rng.normal(size=12)]
    with open(os.path.join(ind, "w3.jsonl"), "w") as f:
        f.write(json.dumps({"vec_id": 30, "embedding": near}) + "\n")
        f.write(json.dumps({"vec_id": 31, "embedding": v3}) + "\n")
    drain(run_embedding_dedup_stream(spark, ind, **kw))
    assert {r["vec_id"] for r in spark.read.parquet(out).collect()} == {1, 2, 31}


def test_compact_detects_wrong_sides(spark, stream_dirs):
    """Requesting the text layout against an embedding store (they
    share a 'banded' side) must raise, not half-compact and report
    success (r3 review)."""
    import numpy as np
    import pytest

    from chill_spark.llm_ops.incremental_dedup import compact_sketch_store
    from chill_spark.llm_ops.incremental_embedding import (
        write_embedding_store,
    )

    base = os.path.dirname(stream_dirs["out"])
    store = os.path.join(base, "wk_store")
    rng = np.random.RandomState(2)
    df = spark.createDataFrame(
        [(1, [float(x) for x in rng.normal(size=8)])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    write_embedding_store(df, "embedding", "vec_id", store, planes=3, bands=4)
    with pytest.raises(ValueError, match="wrong store kind"):
        compact_sketch_store(spark, store)  # text sides vs emb store

    # empty/all-null corpora must not brick the store with dim=0 meta
    bad = spark.createDataFrame([], "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    with pytest.raises(ValueError, match="no usable vectors"):
        write_embedding_store(
            bad, "embedding", "vec_id", os.path.join(base, "wk2"),
        )


def test_compact_heals_first_side_swap_crash(spark, stream_dirs):
    """Crash EXACTLY between rename(src, aside) and rename(tmp, src)
    while compacting the FIRST side (the r3 review's stale-aside bug
    left that state unhealable and a rerun deleted the data): the
    rerun must restore the side and recompact losslessly."""
    from chill_spark.llm_ops.incremental_dedup import (
        compact_sketch_store,
        write_sketch_store,
    )

    base = os.path.dirname(stream_dirs["out"])
    store = os.path.join(base, "fs_store")
    docs = spark.createDataFrame(
        [(i, f"first side swap corpus doc {i} with several words") for i in range(6)],
        ["doc_id", "text"],
    )
    write_sketch_store(docs, "text", "doc_id", store, num_hashes=16, bands=8)
    want = {r["id"] for r in spark.read.parquet(os.path.join(store, "sets")).collect()}

    # simulate the mid-swap crash on the FIRST side: sets renamed
    # aside, compacted copy present, sets/ gone, banded untouched
    os.rename(os.path.join(store, "sets"), os.path.join(store, "sets__old"))
    os.makedirs(os.path.join(store, "sets__compacting", "BATCH_PART=-1"))

    done = compact_sketch_store(spark, store)
    assert set(done) == {"sets", "banded"}
    got = {r["id"] for r in spark.read.parquet(os.path.join(store, "sets")).collect()}
    assert got == want
    for leftover in ("sets__old", "sets__compacting", "banded__old"):
        assert not os.path.exists(os.path.join(store, leftover))



def test_doomed_new_ids_properties(spark):
    """Invariants of the shared survivorship rule (both intake
    streams): only NEW docs are ever doomed; a new doc paired with any
    stored doc dies regardless of id order; for new-new pairs exactly
    the larger id dies; docs in no pair survive."""
    from chill_spark.streaming.dedup_stream import _doomed_new_ids

    new_ids = [5, 10, 40, 100, 7]
    new = spark.createDataFrame([(i,) for i in new_ids], ["doc_id"])
    pairs = spark.createDataFrame(
        [
            (5, 900),    # new(5) vs stored(900): new dies (a-side)
            (3, 10),     # stored(3) vs new(10): new dies (b-side)
            (40, 100),   # new-new: larger (100) dies
            (1, 2),      # stored-stored (shouldn't occur): no doom
        ],
        ["id_a", "id_b"],
    )
    doomed = {r["doc_id"] for r in _doomed_new_ids(pairs, new, "doc_id").collect()}
    assert doomed == {5, 10, 100}
    assert doomed <= set(new_ids)        # never dooms a stored id
    # 7 appears in no pair and survives implicitly (not doomed)
    assert 7 not in doomed and 40 not in doomed


def _mk_batchkeyed_fact(spark, path, n_batches=3):
    from chill_spark.operators.writers import (
        BATCH_COL, PARTITION_COL, with_partition_col,
    )

    for batch_id in range(n_batches):
        df = spark.createDataFrame(
            [(f"s{batch_id}", "2024-01-01 00:00:00", float(batch_id)),
             (f"t{batch_id}", "2024-01-01 00:15:00", float(batch_id))],
            ["SITE", "DATETIME", "CALLS"],
        ).withColumn("DATETIME", F.col("DATETIME").cast("timestamp"))
        (
            with_partition_col(df)
            .withColumn(BATCH_COL, F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(PARTITION_COL, BATCH_COL)
            .parquet(path)
        )


def test_compact_partitions_on_hadoop_fs_root(spark, stream_dirs):
    """Fact compaction with a scheme'd (file://) root: listing, file
    sizing, the temp write, and the swap all route through the Hadoop
    FileSystem API — the path shape a 100 TB fact actually has
    (hdfs://, s3a://). Previously os/shutil-bound, which made any
    remote fact uncompactable."""
    from chill_spark.operators.writers import compact_partitions, read_fact

    local = os.path.join(stream_dirs["out"], "fs_fact")
    _mk_batchkeyed_fact(spark, local)
    root = "file://" + local
    before = {tuple(r) for r in read_fact(spark, root).collect()}
    done = compact_partitions(spark, root, target_file_bytes=10**9)
    assert done == {"202401010000": 1, "202401010015": 1}
    after = {tuple(r) for r in read_fact(spark, root).collect()}
    assert after == before
    # idempotent: already at target file count
    assert compact_partitions(spark, root, target_file_bytes=10**9) == {}


def test_compact_partitions_heals_interrupted_swap(spark, stream_dirs):
    """Crash-window recovery for the fact-partition swap, both
    protocols. The scaffolding names are dot-prefixed, so a table with
    a staged (crashed) swap still READS correctly before the heal —
    partition discovery must never see the temp/aside dirs."""
    import json as _json

    import pytest

    from chill_spark.operators.writers import (
        PARTITION_COL, compact_partitions, read_fact,
    )

    local = os.path.join(stream_dirs["out"], "heal_fact")
    _mk_batchkeyed_fact(spark, local)
    want = {tuple(r) for r in read_fact(spark, local).collect()}
    key = "202401010000"
    pdir = os.path.join(local, f"{PARTITION_COL}={key}")
    aside = os.path.join(local, f".compact_old_{key}")

    # atomic-protocol crash: died between rename-aside and rename-in
    os.rename(pdir, aside)
    assert {tuple(r) for r in read_fact(spark, local).collect()} != want
    done = compact_partitions(spark, local, target_file_bytes=10**9)
    assert done.get(key) == 1  # healed, then compacted
    assert {tuple(r) for r in read_fact(spark, local).collect()} == want

    # staged-protocol crash: marker stage=committed, live deleted,
    # tmp holds the complete copy -> heal rolls forward
    tmp = os.path.join(local, f".compact_tmp_{key}")
    os.rename(pdir, tmp)
    with open(os.path.join(local, f".compact_commit_{key}"), "w") as f:
        f.write(_json.dumps({"stage": "committed"}))
    compact_partitions(spark, local, target_file_bytes=10**9)
    assert {tuple(r) for r in read_fact(spark, local).collect()} == want

    # staged-protocol crash AFTER the rename, BEFORE the marker
    # delete: only the dangling marker file remains — the heal scan
    # must see it (it is a file, not a directory) and clear it, or a
    # later crashed run would misread the stale stage as mid-rename
    marker = os.path.join(local, f".compact_commit_{key}")
    with open(marker, "w") as f:
        f.write(_json.dumps({"stage": "renaming"}))
    compact_partitions(spark, local, target_file_bytes=10**9)
    assert not os.path.exists(marker)
    assert {tuple(r) for r in read_fact(spark, local).collect()} == want

    # staged-protocol true mid-rename (both dirs present under
    # stage=renaming) -> refuse with everything intact
    os.makedirs(os.path.join(tmp, "BATCH_PART=-1"))
    with open(os.path.join(local, f".compact_commit_{key}"), "w") as f:
        f.write(_json.dumps({"stage": "renaming"}))
    with pytest.raises(RuntimeError, match="mid-rename"):
        compact_partitions(spark, local, target_file_bytes=10**9)
    assert os.path.isdir(pdir) and os.path.isdir(tmp)


def test_heal_swap_reentry_after_rollforward_crash(spark, stream_dirs):
    """Heal must itself be idempotent (the r4 advisor's high finding):
    if a heal's committed-stage roll-forward crashes AFTER
    rename(tmp, live) but BEFORE the marker delete, the on-disk state
    is marker=committed + live present + tmp absent — live is the
    ONLY copy. A re-entered heal must just drop the stale marker; the
    old unconditional delete(live)+rename(tmp) destroyed the data and
    then failed on the rename."""
    import json as _json

    import pytest

    from chill_spark.llm_ops.storefs import StoreFS, heal_swap

    base = os.path.dirname(stream_dirs["out"])
    root = os.path.join(base, "reentry_store")
    live = os.path.join(root, "live")
    tmp = os.path.join(root, ".live__tmp")
    aside = os.path.join(root, ".live__old")
    marker = os.path.join(root, ".live__commit")
    os.makedirs(live)
    with open(os.path.join(live, "data.txt"), "w") as f:
        f.write("the only copy")
    with open(marker, "w") as f:
        f.write(_json.dumps({"stage": "committed"}))

    fs = StoreFS(root, spark)
    heal_swap(fs, live, tmp, aside, marker)
    assert not os.path.exists(marker)
    with open(os.path.join(live, "data.txt")) as f:
        assert f.read() == "the only copy"

    # healing the healed state again is a no-op
    heal_swap(fs, live, tmp, aside, marker)
    assert os.path.isdir(live)

    # committed marker with NEITHER directory = genuinely lost; the
    # heal must say so rather than silently "succeeding"
    with open(marker, "w") as f:
        f.write(_json.dumps({"stage": "committed"}))
    shutil.rmtree(live)
    with pytest.raises(RuntimeError, match="unrecoverable"):
        heal_swap(fs, live, tmp, aside, marker)


def test_upsert_stream_merges_cdc_batches(spark, stream_dirs):
    """CDC upsert stream: update files are keyed-merged into the fact
    as they arrive — in-batch identity conflicts resolve by version
    (greatest wins), later batches win across batches, untouched
    partitions stay untouched, and the checkpoint prevents a restart
    from reprocessing consumed files."""
    from chill_spark.streaming.stream import drain, run_upsert_stream
    from chill_spark.operators.writers import write_fact

    base = os.path.dirname(stream_dirs["out"])
    watch = os.path.join(base, "upsert_in")
    target = os.path.join(base, "upsert_fact")
    ckpt = os.path.join(base, "upsert_ckpt")
    os.makedirs(watch)

    fact = spark.createDataFrame(
        [("s1", "2024-01-01 00:00:00", 1.0),
         ("s2", "2024-01-01 00:00:00", 2.0),
         ("s1", "2024-01-01 01:00:00", 3.0)],
        ["SITE", "DATETIME", "CALLS"],
    ).withColumn("DATETIME", F.col("DATETIME").cast("timestamp"))
    write_fact(fact, target)

    schema = "SITE string, DATETIME timestamp, CALLS double, v bigint"

    def put(name, rows):
        df = spark.createDataFrame(
            rows, ["SITE", "DATETIME", "CALLS", "v"]
        ).withColumn("DATETIME", F.col("DATETIME").cast("timestamp"))
        df.coalesce(1).write.parquet(os.path.join(watch, name))

    # batch 1: conflicting versions for one identity + a new key
    put("b1", [("s1", "2024-01-01 00:00:00", 11.0, 1),
               ("s1", "2024-01-01 00:00:00", 12.0, 2),
               ("s3", "2024-01-01 00:00:00", 33.0, 1)])
    drain(run_upsert_stream(
        spark, watch + "/*", schema, target, keys=["SITE"],
        checkpoint_dir=ckpt, version_col="v", available_now=True,
    ))

    def snapshot():
        return {
            (r["SITE"], str(r["DATETIME"])): r["CALLS"]
            for r in spark.read.parquet(target).collect()
        }

    got = snapshot()
    assert got[("s1", "2024-01-01 00:00:00")] == 12.0  # v=2 won
    assert got[("s3", "2024-01-01 00:00:00")] == 33.0  # new key
    assert got[("s2", "2024-01-01 00:00:00")] == 2.0   # survivor
    assert got[("s1", "2024-01-01 01:00:00")] == 3.0   # untouched period

    # restart with a second file: only the new file is consumed
    # (checkpoint), and its update replaces the batch-1 value
    put("b2", [("s1", "2024-01-01 00:00:00", 99.0, 1)])
    drain(run_upsert_stream(
        spark, watch + "/*", schema, target, keys=["SITE"],
        checkpoint_dir=ckpt, version_col="v", available_now=True,
    ))
    got = snapshot()
    assert got[("s1", "2024-01-01 00:00:00")] == 99.0  # later batch wins
    assert got[("s3", "2024-01-01 00:00:00")] == 33.0
    assert len(got) == 4


def test_upsert_stream_version_tie_is_deterministic(spark, stream_dirs):
    """In-batch conflicts that TIE on the version column resolve to
    the greatest full payload row (max over struct(version, *payload))
    — a pure function of the batch's rows, never of shuffle order.
    The r4 advisor flagged the old max_by(payload, version) here:
    on ties it kept whichever row the shuffle delivered last."""
    from chill_spark.operators.writers import write_fact
    from chill_spark.streaming.stream import drain, run_upsert_stream

    base = os.path.dirname(stream_dirs["out"])
    watch = os.path.join(base, "tie_in")
    target = os.path.join(base, "tie_fact")
    os.makedirs(watch)
    fact = spark.createDataFrame(
        [("s1", "2024-01-01 00:00:00", 0.0)],
        ["SITE", "DATETIME", "CALLS"],
    ).withColumn("DATETIME", F.col("DATETIME").cast("timestamp"))
    write_fact(fact, target)
    # three updates, same identity, same version, distinct payloads —
    # shuffled across separate input partitions
    upd = spark.createDataFrame(
        [("s1", "2024-01-01 00:00:00", 7.0, 5),
         ("s1", "2024-01-01 00:00:00", 9.0, 5),
         ("s1", "2024-01-01 00:00:00", 3.0, 5)],
        ["SITE", "DATETIME", "CALLS", "v"],
    ).withColumn("DATETIME", F.col("DATETIME").cast("timestamp"))
    upd.repartition(3).write.parquet(os.path.join(watch, "u1"))
    drain(run_upsert_stream(
        spark, watch + "/*",
        "SITE string, DATETIME timestamp, CALLS double, v bigint",
        target, keys=["SITE"],
        checkpoint_dir=os.path.join(base, "tie_ckpt"),
        version_col="v", available_now=True,
    ))
    rows = {r["SITE"]: r["CALLS"] for r in spark.read.parquet(target).collect()}
    assert rows == {"s1": 9.0}  # greatest payload, not arrival order


def test_upsert_stream_jsonl_with_quarantine(spark, stream_dirs):
    """JSONL CDC updates: clean lines merge, corrupt lines land
    batch-keyed in the quarantine (underscore-prefixed inside the
    target, invisible to fact partition discovery) — never silently
    dropped."""
    from chill_spark.operators.writers import write_fact
    from chill_spark.streaming.stream import drain, run_upsert_stream

    base = os.path.dirname(stream_dirs["out"])
    watch = os.path.join(base, "uj_in")
    target = os.path.join(base, "uj_fact")
    os.makedirs(watch)
    fact = spark.createDataFrame(
        [("s1", "2024-01-01 00:00:00", 1.0)],
        ["SITE", "DATETIME", "CALLS"],
    ).withColumn("DATETIME", F.col("DATETIME").cast("timestamp"))
    write_fact(fact, target)
    with open(os.path.join(watch, "u1.jsonl"), "w") as f:
        f.write(
            '{"SITE": "s1", "DATETIME": "2024-01-01 00:00:00", "CALLS": 5.0}\n'
            "this is not json\n"
        )
    drain(run_upsert_stream(
        spark, watch + "/*.jsonl",
        "SITE string, DATETIME timestamp, CALLS double",
        target, keys=["SITE"],
        checkpoint_dir=os.path.join(base, "uj_ckpt"),
        available_now=True, fmt="jsonl",
    ))
    rows = {r["SITE"]: r["CALLS"] for r in spark.read.parquet(target).collect()}
    assert rows == {"s1": 5.0}
    q = spark.read.parquet(os.path.join(target, "_quarantine"))
    assert [r["rejected_line"] for r in q.collect()] == ["this is not json"]


def test_bloom_stream_matches_batch_filter(spark, stream_dirs):
    """Streaming Bloom intake: words OR-merged across two waves equal
    the batch filter of the whole feed bit-for-bit, corrupt lines
    quarantine, and a re-drained (replayed) feed leaves the words
    unchanged — OR idempotency makes replay a bitwise no-op."""
    import json

    from chill_spark.llm_ops.bloom import bloom_build, bloom_words
    from chill_spark.streaming import drain
    from chill_spark.streaming.bloom_stream import (
        bloom_stream_words,
        run_bloom_stream,
    )

    m, h = 1 << 12, 4
    base = os.path.dirname(stream_dirs["out"])
    ind = os.path.join(base, "bf_in"); os.makedirs(ind, exist_ok=True)
    store = os.path.join(base, "bf_store")
    ckpt = os.path.join(base, "bf_ckpt")

    with open(os.path.join(ind, "w1.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "alpha doc"}) + "\n")
        f.write("this is not json\n")
    kw = dict(
        schema="doc_id BIGINT, text STRING", store_root=store,
        checkpoint_dir=ckpt, num_bits=m, num_hashes=h,
        available_now=True,
    )
    drain(run_bloom_stream(spark, ind, **kw))
    with open(os.path.join(ind, "w2.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 2, "text": "beta doc"}) + "\n")
    drain(run_bloom_stream(spark, ind, **kw))

    streamed = bloom_stream_words(spark, store, m)
    batch = bloom_words(bloom_build(
        spark.createDataFrame([("alpha doc",), ("beta doc",)], "text string"),
        "text", m, h,
    ), m)
    assert streamed == batch
    q = spark.read.parquet(os.path.join(store, "_quarantine"))
    assert [r["rejected_line"] for r in q.collect()] == ["this is not json"]
    # idle re-drain (no new files): words must be unchanged
    drain(run_bloom_stream(spark, ind, **kw))
    assert bloom_stream_words(spark, store, m) == batch


def test_exact_dedup_stream_first_occurrence_and_gate(spark, stream_dirs):
    """Bloom-gated exact intake: first occurrence of a fingerprint
    wins across waves (normalization collapses case/whitespace), the
    duplicate is dropped, corrupt lines quarantine, NULL-text rows
    pass through, and a re-drain admits nothing new."""
    import json

    from chill_spark.streaming import drain
    from chill_spark.streaming.exact_dedup_stream import (
        run_exact_dedup_stream,
    )

    base = os.path.dirname(stream_dirs["out"])
    ind = os.path.join(base, "xd_in"); os.makedirs(ind, exist_ok=True)
    out = os.path.join(base, "xd_out")
    store = os.path.join(base, "xd_store")
    ckpt = os.path.join(base, "xd_ckpt")

    with open(os.path.join(ind, "w1.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "Alpha  Doc"}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": "beta doc"}) + "\n")
        f.write(json.dumps({"doc_id": 4, "text": "alpha doc"}) + "\n")
        f.write("not json at all\n")
    kw = dict(
        schema="doc_id BIGINT, text STRING", out_dir=out,
        store_root=store, checkpoint_dir=ckpt,
        num_bits=1 << 12, num_hashes=4, available_now=True,
    )
    drain(run_exact_dedup_stream(spark, ind, **kw))
    with open(os.path.join(ind, "w2.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 3, "text": "ALPHA   doc"}) + "\n")
        f.write(json.dumps({"doc_id": 5, "text": "gamma doc"}) + "\n")
        f.write(json.dumps({"doc_id": 6, "text": None}) + "\n")
    drain(run_exact_dedup_stream(spark, ind, **kw))

    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # 1 beats 4 in-batch ("alpha doc" fp) and 3 cross-wave; NULL text
    # (6) passes through; 2 and 5 are novel
    assert got == {1, 2, 5, 6}
    q = spark.read.parquet(os.path.join(out, "_quarantine"))
    assert [r["rejected_line"] for r in q.collect()] == ["not json at all"]
    # the registered fingerprints are exactly the 3 distinct contents
    fps = spark.read.parquet(os.path.join(store, "fps"))
    assert fps.select("__fp").distinct().count() == 3
    # idle re-drain: nothing new admitted, store unchanged
    drain(run_exact_dedup_stream(spark, ind, **kw))
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == got

    # fps-store compaction (sealed-store contract) reuses the shared
    # swap protocol; the batch-pruned reader still sees every
    # fingerprint afterwards, so a later wave keeps deduplicating
    from chill_spark.llm_ops.incremental_dedup import compact_sketch_store

    compact_sketch_store(spark, store, sides=("fps",))
    with open(os.path.join(ind, "w3.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 9, "text": "beta DOC"}) + "\n")
        f.write(json.dumps({"doc_id": 10, "text": "delta doc"}) + "\n")
    drain(run_exact_dedup_stream(spark, ind, **kw))
    got3 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got3 == got | {10}  # 9 still dedups against compacted fps


def test_cms_stream_matches_batch_sketch(spark, stream_dirs):
    """Streaming CMS: counters summed across two waves equal the
    batch sketch of the whole feed (integer merges are exact), and
    point estimates are exact in the sparse regime."""
    import json

    from chill_spark.llm_ops.cms import build_count_min
    from chill_spark.streaming import drain
    from chill_spark.streaming.cms_stream import (
        cms_stream_estimate,
        run_cms_stream,
    )

    base = os.path.dirname(stream_dirs["out"])
    ind = os.path.join(base, "cms_in"); os.makedirs(ind, exist_ok=True)
    store = os.path.join(base, "cms_store")
    ckpt = os.path.join(base, "cms_ckpt")

    with open(os.path.join(ind, "w1.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "the the cat"}) + "\n")
    kw = dict(
        schema="doc_id BIGINT, text STRING", store_root=store,
        checkpoint_dir=ckpt, depth=3, width=512, available_now=True,
    )
    drain(run_cms_stream(spark, ind, **kw))
    with open(os.path.join(ind, "w2.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 2, "text": "the dog"}) + "\n")
    drain(run_cms_stream(spark, ind, **kw))

    q = spark.createDataFrame([("the",), ("cat",), ("emu",)], "tok string")
    est = {r["tok"]: r["est"] for r in cms_stream_estimate(
        spark, store, q, "tok", depth=3, width=512
    ).collect()}
    assert est == {"the": 3, "cat": 1, "emu": 0}
    # stream sketch == batch sketch of the union, counter for counter
    toks = spark.createDataFrame(
        [(t,) for t in "the the cat the dog".split()], "tok string"
    )
    batch = {(r["row"], r["bucket"]): r["cnt"]
             for r in build_count_min(toks, "tok", 3, 512).collect()}
    latest_dir = os.path.join(store, "sketch")
    snap = spark.read.parquet(latest_dir)
    latest = snap.agg(F.max("BATCH_PART").alias("b")).collect()[0]["b"]
    streamed = {(r["row"], r["bucket"]): r["cnt"]
                for r in snap.filter(F.col("BATCH_PART") == latest)
                .select("row", "bucket", "cnt").collect()}
    assert streamed == batch


def test_heavy_stream_merges_batches_and_bounds_state(spark, stream_dirs):
    """Streaming MG summary: two waves of docs; the summary holds at
    most m counters + the sentinel, the running N covers both waves,
    and every truly-heavy token is a candidate (no false negatives);
    guaranteed rows are provably heavy from lower bounds alone."""
    import json

    from chill_spark.streaming import drain
    from chill_spark.streaming.heavy_stream import (
        heavy_candidates,
        run_heavy_stream,
    )

    base = os.path.dirname(stream_dirs["out"])
    ind = os.path.join(base, "hh_in"); os.makedirs(ind, exist_ok=True)
    store = os.path.join(base, "hh_store")
    ckpt = os.path.join(base, "hh_ckpt")

    with open(os.path.join(ind, "w1.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "the the the the cat"}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": "the dog and a bird"}) + "\n")
    kw = dict(
        schema="doc_id BIGINT, text STRING", store_root=store,
        checkpoint_dir=ckpt, theta=0.2, available_now=True,
    )
    drain(run_heavy_stream(spark, ind, **kw))
    with open(os.path.join(ind, "w2.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 3, "text": "the the zebra"}) + "\n")
    drain(run_heavy_stream(spark, ind, **kw))

    cands = {r["tok"]: r for r in heavy_candidates(spark, store, 0.2).collect()}
    # corpus: 13 tokens, 'the' x6 (46%) — must be present AND guaranteed
    assert "the" in cands
    assert cands["the"]["n_total"] == 13
    assert cands["the"]["lb"] >= 13 * 0.2 and cands["the"]["guaranteed"]
    # state stays bounded: m=5 counters + sentinel in the snapshot
    snap = spark.read.parquet(os.path.join(store, "summary"))
    latest = snap.agg(F.max("BATCH_PART").alias("b")).collect()[0]["b"]
    assert snap.filter(F.col("BATCH_PART") == latest).count() <= 6


def _heavy_replay_case(spark):
    from chill_spark.streaming.heavy_stream import (
        heavy_candidates,
        run_heavy_stream,
    )

    def state(store):
        return {(r["tok"], r["lb"], r["n_total"])
                for r in heavy_candidates(spark, store, 0.34).collect()}

    def ok(after):  # N of the one five-token doc
        return any(t == "x" and n == 5 for t, _, n in after)

    return run_heavy_stream, dict(theta=0.34), state, ok


def _cms_replay_case(spark):
    from chill_spark.streaming.cms_stream import (
        cms_stream_estimate,
        run_cms_stream,
    )

    def state(store):
        q = spark.createDataFrame([("x",), ("y",)], "tok string")
        return {(r["tok"], r["est"]) for r in cms_stream_estimate(
            spark, store, q, "tok", depth=2, width=64
        ).collect()}

    def ok(after):
        return after == {("x", 3), ("y", 1)}

    return run_cms_stream, dict(depth=2, width=64), state, ok


@pytest.mark.parametrize("case", [_heavy_replay_case, _cms_replay_case],
                         ids=["heavy", "cms"])
def test_sketch_stream_replay_does_not_double_count(spark, stream_dirs, case):
    """Drop the last commit so the batch replays: the snapshot-per-
    batch state must fold the replay into its ORIGINAL predecessor
    (the newest leaf BELOW the batch, not the newest leaf), leaving
    the counts unchanged. Misra-Gries tracks N; CMS adds counters, so
    folding into its own leaf would double every estimate."""
    import json

    from chill_spark.streaming import drain

    run, params, state, ok = case(spark)
    base = os.path.dirname(stream_dirs["out"])
    ind = os.path.join(base, "hr_in"); os.makedirs(ind, exist_ok=True)
    store = os.path.join(base, "hr_store")
    ckpt = os.path.join(base, "hr_ckpt")
    with open(os.path.join(ind, "w1.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "x x x y z"}) + "\n")
    kw = dict(
        schema="doc_id BIGINT, text STRING", store_root=store,
        checkpoint_dir=ckpt, available_now=True, **params,
    )
    drain(run(spark, ind, **kw))
    before = state(store)

    commits = os.path.join(ckpt, "commits")
    newest = max((f for f in os.listdir(commits) if f.isdigit()), key=int)
    os.remove(os.path.join(commits, newest))
    crc = os.path.join(commits, f".{newest}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    drain(run(spark, ind, **kw))

    after = state(store)
    assert after == before
    assert ok(after), after


def test_snapshot_streams_reject_prune_keep_one(spark, stream_dirs):
    """prune_keep=1 would delete batch b-1's snapshot before b's
    offset commit; a replay of b would then restart the sketch from b
    alone. The intake must refuse it before the query starts."""
    from chill_spark.streaming.cms_stream import run_cms_stream

    base = os.path.dirname(stream_dirs["out"])
    with pytest.raises(ValueError, match="prune_keep"):
        run_cms_stream(
            spark, os.path.join(base, "pk_in"), "doc_id BIGINT, text STRING",
            store_root=os.path.join(base, "pk_store"),
            checkpoint_dir=os.path.join(base, "pk_ckpt"),
            available_now=True, prune_keep=1,
        )
    assert spark.streams.active == []


def test_heavy_stream_prunes_old_snapshots_and_quarantines(spark, stream_dirs):
    import json

    from chill_spark.streaming import drain
    from chill_spark.streaming.heavy_stream import run_heavy_stream

    base = os.path.dirname(stream_dirs["out"])
    ind = os.path.join(base, "hp_in"); os.makedirs(ind, exist_ok=True)
    store = os.path.join(base, "hp_store")
    ckpt = os.path.join(base, "hp_ckpt")
    kw = dict(
        schema="doc_id BIGINT, text STRING", store_root=store,
        checkpoint_dir=ckpt, theta=0.5, available_now=True, prune_keep=2,
    )
    for i in range(4):
        with open(os.path.join(ind, f"w{i}.jsonl"), "w") as f:
            f.write(json.dumps({"doc_id": i, "text": f"tok{i} common"}) + "\n")
            if i == 2:
                f.write("{not json\n")
        drain(run_heavy_stream(spark, ind, **kw))
    snaps = [d for d in os.listdir(os.path.join(store, "summary"))
             if d.startswith("BATCH_PART=")]
    assert len(snaps) <= 2
    q = spark.read.parquet(os.path.join(store, "_quarantine"))
    assert q.count() == 1 and "not json" in q.collect()[0]["rejected_line"]


def test_classify_stream_splits_kept_rejected_quarantine(spark, stream_dirs):
    """Classifier-gated intake: two waves of docs with explicit
    weights; kept/rejected/corrupt land in their channels, and the
    rejected channel keeps scores for the audit trail."""
    import json

    from chill_spark.streaming import drain
    from chill_spark.streaming.classify_stream import run_classify_stream

    base = os.path.dirname(stream_dirs["out"])
    ind = os.path.join(base, "cf_in"); os.makedirs(ind, exist_ok=True)
    out = os.path.join(base, "cf_out")
    ckpt = os.path.join(base, "cf_ckpt")
    weights = spark.createDataFrame(
        [("good", 2000), ("bad", -2000)], "tok string, weight bigint"
    )
    with open(os.path.join(ind, "w1.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "good good stuff"}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": "bad bad junk"}) + "\n")
        f.write("{broken\n")
    kw = dict(
        schema="doc_id BIGINT, text STRING", out_dir=out, weights=weights,
        checkpoint_dir=ckpt, threshold=0.55, available_now=True,
    )
    drain(run_classify_stream(spark, ind, **kw))
    with open(os.path.join(ind, "w2.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 3, "text": "more good text"}) + "\n")
    drain(run_classify_stream(spark, ind, **kw))

    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 3}
    rej = {r["doc_id"]: r["score"]
           for r in spark.read.parquet(f"{out}/_rejected").collect()}
    assert set(rej) == {2} and rej[2] < 0.55
    q = spark.read.parquet(f"{out}/_quarantine")
    assert q.count() == 1


def test_classify_stream_routes_null_text_to_rejected(spark, stream_dirs):
    """ADVICE r5 (medium): a JSONL line missing the text field parses
    as non-corrupt with NULL text — it must land in _rejected (score
    NULL, audit trail intact), not vanish from every channel."""
    import json

    from chill_spark.streaming import drain
    from chill_spark.streaming.classify_stream import run_classify_stream

    base = os.path.dirname(stream_dirs["out"])
    ind = os.path.join(base, "cfn_in"); os.makedirs(ind, exist_ok=True)
    out = os.path.join(base, "cfn_out")
    ckpt = os.path.join(base, "cfn_ckpt")
    weights = spark.createDataFrame(
        [("good", 2000)], "tok string, weight bigint"
    )
    with open(os.path.join(ind, "w1.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "good good"}) + "\n")
        f.write(json.dumps({"doc_id": 2}) + "\n")  # no text field
    drain(run_classify_stream(
        spark, ind, schema="doc_id BIGINT, text STRING", out_dir=out,
        weights=weights, checkpoint_dir=ckpt, threshold=0.55,
        available_now=True,
    ))
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1}
    rej = {r["doc_id"]: r["score"]
           for r in spark.read.parquet(f"{out}/_rejected").collect()}
    assert set(rej) == {2} and rej[2] is None


def test_classify_stream_replay_is_idempotent(spark, stream_dirs):
    import json

    from chill_spark.streaming import drain
    from chill_spark.streaming.classify_stream import run_classify_stream

    base = os.path.dirname(stream_dirs["out"])
    ind = os.path.join(base, "cfr_in"); os.makedirs(ind, exist_ok=True)
    out = os.path.join(base, "cfr_out")
    ckpt = os.path.join(base, "cfr_ckpt")
    weights = spark.createDataFrame(
        [("good", 2000)], "tok string, weight bigint"
    )
    with open(os.path.join(ind, "w1.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "good stuff"}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": "meh meh meh meh"}) + "\n")
    kw = dict(
        schema="doc_id BIGINT, text STRING", out_dir=out, weights=weights,
        checkpoint_dir=ckpt, threshold=0.55, available_now=True,
    )
    drain(run_classify_stream(spark, ind, **kw))
    before = sorted(
        (r["doc_id"], r["text"]) for r in spark.read.parquet(out).collect()
    )
    commits = os.path.join(ckpt, "commits")
    newest = max((f for f in os.listdir(commits) if f.isdigit()), key=int)
    os.remove(os.path.join(commits, newest))
    crc = os.path.join(commits, f".{newest}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    drain(run_classify_stream(spark, ind, **kw))
    after = sorted(
        (r["doc_id"], r["text"]) for r in spark.read.parquet(out).collect()
    )
    assert after == before  # lists, not sets: duplicates must fail


def test_cli_exact_dedup_stream(spark, tmp_path, capsys):
    import json

    from chill_spark.cli import main

    ind = str(tmp_path / "in"); os.makedirs(ind)
    out = str(tmp_path / "out")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    with open(os.path.join(ind, "w.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "same text"}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": "SAME   text"}) + "\n")
    rc = main([
        "exact-dedup-stream", "--in", ind, "--out", out,
        "--store", store, "--checkpoint", ckpt,
        "--bits", "4096", "--hashes", "4", "--drain",
    ])
    assert rc == 0
    ids = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert ids == {1}  # 2 normalizes to the same fingerprint


def test_exact_dedup_stream_null_id_quarantined(spark, stream_dirs):
    """A row with non-null text but NULL id can't play
    first-occurrence-wins (min() skips NULLs; the [fp, id] semi-join
    never matches) — it must land in the reject channel, not vanish
    (the r7 ADVICE finding). NULL-text rows still pass through."""
    import json

    from chill_spark.streaming import drain
    from chill_spark.streaming.exact_dedup_stream import (
        run_exact_dedup_stream,
    )

    base = os.path.dirname(stream_dirs["out"])
    ind = os.path.join(base, "xdn_in"); os.makedirs(ind, exist_ok=True)
    out = os.path.join(base, "xdn_out")

    with open(os.path.join(ind, "w1.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "alpha doc"}) + "\n")
        f.write(json.dumps({"doc_id": None, "text": "orphan doc"}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": None}) + "\n")
        f.write("corrupt {line\n")
    drain(run_exact_dedup_stream(
        spark, ind, schema="doc_id BIGINT, text STRING", out_dir=out,
        store_root=os.path.join(base, "xdn_store"),
        checkpoint_dir=os.path.join(base, "xdn_ckpt"),
        num_bits=1 << 12, num_hashes=4, available_now=True,
    ))

    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {1, 2}  # survivor + NULL-text passthrough
    # corrupt line and NULL-id row land in the SAME batch: both must
    # survive in quarantine (one write — a second dynamic overwrite
    # of the leaf would delete the first reject set)
    rej = sorted(
        r["rejected_line"] for r in
        spark.read.parquet(os.path.join(out, "_quarantine")).collect()
    )
    assert len(rej) == 2 and rej[0] == "corrupt {line"
    assert json.loads(rej[1])["text"] == "orphan doc"


def test_dedup_streams_emit_health_journal(spark, stream_dirs):
    """Both sketch-store maintainers (text MinHash + embedding) report
    their leaf bloat in-band, same contract as the gram-index and PQ
    maintainers: a batch-keyed _health/ verdict per epoch, replay
    overwrites itself, counts from leaf scans only."""
    import json

    from chill_spark.llm_ops.storefs import read_health_events
    from chill_spark.streaming import drain
    from chill_spark.streaming.dedup_stream import (
        run_dedup_stream,
        run_embedding_dedup_stream,
    )

    base = os.path.dirname(stream_dirs["out"])
    ind = os.path.join(base, "hj_in"); os.makedirs(ind, exist_ok=True)
    store = os.path.join(base, "hj_store")
    kw = dict(
        schema="doc_id BIGINT, text STRING",
        out_dir=os.path.join(base, "hj_out"), store_root=store,
        checkpoint_dir=os.path.join(base, "hj_ckpt"),
        threshold=0.5, num_hashes=16, bands=8, available_now=True,
        max_appended_fraction=0.0,
    )
    long_a = "alpha beta gamma delta epsilon zeta eta theta iota " * 4
    with open(os.path.join(ind, "w1.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": long_a}) + "\n")
    drain(run_dedup_stream(spark, ind, **kw))
    events = read_health_events(store, spark=spark)
    assert len(events) == 1
    ev = events[-1]
    # stream-bootstrapped store: every row is appended bloat
    assert ev["rows_bootstrap"] == 0 and ev["rows_appended"] > 0
    assert ev["compact"] is True
    assert any("appended_fraction" in r for r in ev["reasons"])
    # replay-idempotent: a re-drain rewrites, never appends
    drain(run_dedup_stream(spark, ind, **kw))
    assert len(read_health_events(store, spark=spark)) == 1

    # the embedding twin
    eind = os.path.join(base, "hje_in"); os.makedirs(eind, exist_ok=True)
    estore = os.path.join(base, "hje_store")
    ekw = dict(
        schema="vec_id BIGINT, embedding ARRAY<DOUBLE>",
        out_dir=os.path.join(base, "hje_out"), store_root=estore,
        checkpoint_dir=os.path.join(base, "hje_ckpt"),
        threshold=0.9, planes=4, bands=4, available_now=True,
        max_appended_fraction=0.0,
    )
    with open(os.path.join(eind, "w1.jsonl"), "w") as f:
        f.write(json.dumps(
            {"vec_id": 1, "embedding": [1.0, 0.0, 0.0, 0.0]}) + "\n")
    drain(run_embedding_dedup_stream(spark, eind, **ekw))
    eev = read_health_events(estore, spark=spark)
    assert len(eev) == 1 and eev[-1]["compact"] is True
    assert eev[-1]["rows_appended"] == 1
