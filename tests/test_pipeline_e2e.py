"""End-to-end: counter CSV files (with tag lines + junk lines) ->
derive -> route -> partitioned write -> read back -> reconcile ->
JUnit XML (SURVEY §7.2 minimum slice, widened with tags/routing)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from chill_spark.catalog import Catalog, ColumnSpec, TableSpec
from chill_spark.config import FieldSpec, JobSpec
from chill_spark.operators.rollup import build_ladder, rollup
from chill_spark.operators.writers import read_fact
from chill_spark.pipeline import run_batch, transform
from chill_spark.reconcile import compare_tables
from chill_spark.report import TestReport, build_report

TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")


FILES = {
    # OM_CELL group -> CELL_STATS; tag line carries the vendor
    "A20240101.0000_site1.csv": (
        "#VENDOR=HUAWEI\n"
        "JUNK\n"
        "site,calls_raw,drops_raw\n"
        "s1,100,3\n"
        "s2,200,5\n"
    ),
    "A20240101.0015_site1.csv": (
        "#VENDOR=NOKIA\n"
        "JUNK\n"
        "site,calls_raw,drops_raw\n"
        "s1,110,4\n"
        "s3,50,1\n"
    ),
    # B-prefix -> OM_NODE group -> NODE_STATS
    "B20240101.0000_core.csv": (
        "#VENDOR=ERICSSON\n"
        "JUNK\n"
        "node,cpu_raw\n"
        "n1,55\n"
        "n2,70\n"
    ),
}


@pytest.fixture(scope="module")
def fixture_dir():
    d = os.path.join(TMP, "e2e_rd")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    for name, body in FILES.items():
        with open(os.path.join(d, name), "w") as f:
            f.write(body)
    yield d


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
                ColumnSpec("VENDOR", dtype="string", kind="KEY"),
                ColumnSpec("CALLS", raw_name="calls_raw", dtype="double"),
                ColumnSpec("DROPS", raw_name="drops_raw", dtype="double"),
                ColumnSpec("DROP_RATE", kind="KPI", formula="DROPS/CALLS"),
            ],
        )
    )
    cat.add(
        TableSpec(
            name="NODE_STATS",
            counter_group="OM_NODE",
            base_granularity="15M",
            key_fields=["NODE"],
            columns=[
                ColumnSpec("NODE", raw_name="node", dtype="string", kind="KEY"),
                ColumnSpec("CPU", raw_name="cpu_raw", dtype="double"),
            ],
        )
    )
    return cat


def make_job(fixture_dir: str) -> JobSpec:
    return JobSpec(
        input_dir=fixture_dir,
        input_mask="*.csv",
        valid_lines=(2, None),  # skip tag + junk lines before the csv header
        ignore_lines=["JUNK"],
        fields=[
            FieldSpec(
                name="OM_GROUP",
                source="filename",
                function="'OM_CELL' if arg1[0:1] == 'A' else 'OM_NODE'",
            ),
            FieldSpec(
                name="DATETIME",
                source="column",
                function=(
                    "datetime.strptime(arg1[1:14], '%Y%m%d.%H%M')"
                    ".strftime('%Y-%m-%d %H:%M:%S')"
                ),
                inputs=["_file"],
            ),
            FieldSpec(
                name="VENDOR",
                source="tag",
                tag="#VENDOR=",
                function="tag.split('=')[1]",
                counter_set="CELL_STATS",
            ),
        ],
    )


def test_transform_routes_and_derives(spark, fixture_dir):
    res = transform(spark, make_job(fixture_dir), make_catalog())
    assert res.derive_errors == []
    cell = res.tables["CELL_STATS"].orderBy("DATETIME", "SITE").collect()
    assert len(cell) == 4
    assert [r["SITE"] for r in cell] == ["s1", "s2", "s1", "s3"]
    assert cell[0]["VENDOR"] == "HUAWEI" and cell[2]["VENDOR"] == "NOKIA"
    assert cell[0]["CALLS"] == 100.0
    assert str(cell[2]["DATETIME"]) == "2024-01-01 00:15:00"
    node = res.tables["NODE_STATS"].collect()
    assert {r["NODE"] for r in node} == {"n1", "n2"}
    assert all(r["CPU"] in (55.0, 70.0) for r in node)


def test_write_readback_reconcile_clean(spark, fixture_dir):
    out = os.path.join(TMP, "e2e_out")
    shutil.rmtree(out, ignore_errors=True)
    cat = make_catalog()
    job = make_job(fixture_dir)
    res = run_batch(spark, job, cat, out)
    assert sorted(res.written) == ["CELL_STATS", "NODE_STATS"]
    assert len(res.datetimes["CELL_STATS"]) == 2  # A3 bookkeeping

    actual = read_fact(spark, res.written["CELL_STATS"])
    expected = res.tables["CELL_STATS"]
    rep = compare_tables(
        expected, actual, "CELL_STATS", keys=["SITE"], counters=["CALLS", "DROPS"]
    )
    assert rep.clean, rep

    # idempotency: re-run overwrites the same partitions, no duplication
    run_batch(spark, job, cat, out)
    again = read_fact(spark, res.written["CELL_STATS"])
    assert again.count() == 4


def test_reconcile_detects_and_reports(spark, fixture_dir):
    cat = make_catalog()
    res = transform(spark, make_job(fixture_dir), cat)
    expected = res.tables["CELL_STATS"].cache()

    # perturb: drop a row, change a value beyond round-3 tolerance,
    # drop a declared column
    actual = (
        expected.filter(F.col("SITE") != "s3")
        .withColumn(
            "CALLS",
            F.when(F.col("SITE") == "s2", F.col("CALLS") + 0.01).otherwise(
                F.col("CALLS")
            ),
        )
        .drop("DROPS")
    )
    dim = expected.sparkSession.createDataFrame([("s1",), ("s2",)], ["SITE"])
    rep = compare_tables(
        expected, actual, "CELL_STATS",
        keys=["SITE"], counters=["CALLS", "DROPS"], dim=dim,
    )
    assert not rep.clean
    assert rep.rd_num_records == 4 and rep.db_num_records == 3
    assert len(rep.missing_oracle_records) == 1  # s3 row
    assert rep.missing_columns == ["DROPS"]
    assert any(d[-3] == "CALLS" for d in rep.diffs)  # counter name col
    assert rep.missing_in_conf == []  # s3 filtered out of actual

    junit = build_report([rep])
    xml = junit.to_xml()
    assert "Number of records comparison" in xml
    back = TestReport.from_xml(xml)
    assert back.suite("Missing Columns").failures == 1
    assert not back.passed


def test_tolerance_respected(spark):
    """round(x,3) equality: 1.0004 vs 1.0001 equal; 1.001 vs 1.0001 not."""
    e = spark.createDataFrame(
        [("k1", "2024-01-01 00:00:00", 1.0004), ("k2", "2024-01-01 00:00:00", 1.001)],
        ["K", "DATETIME", "V"],
    )
    a = spark.createDataFrame(
        [("k1", "2024-01-01 00:00:00", 1.0001), ("k2", "2024-01-01 00:00:00", 1.0001)],
        ["K", "DATETIME", "V"],
    )
    rep = compare_tables(e, a, "T", keys=["K"], counters=["V"])
    assert len(rep.diffs) == 1 and rep.diffs[0][0] == "k2"


def test_rollup_ladder(spark, fixture_dir):
    cat = make_catalog()
    res = transform(spark, make_job(fixture_dir), cat)
    base = res.tables["CELL_STATS"]
    t = cat.tables["CELL_STATS"]
    hr = rollup(base, ["SITE"], ["CALLS", "DROPS"], "HR")
    got = {r["SITE"]: r["CALLS"] for r in hr.collect()}
    assert got == {"s1": 210.0, "s2": 200.0, "s3": 50.0}

    ladder = build_ladder(base, t, levels=["HR", "DY"])
    dy = ladder["DY"].collect()
    assert {r["SITE"]: r["CALLS"] for r in dy} == {"s1": 210.0, "s2": 200.0, "s3": 50.0}
    assert str(dy[0]["DATETIME"]) == "2024-01-01 00:00:00"


def test_count_ladder_counts_base_rows(spark):
    """A count counter rolls up from the base rows at every level:
    8 quarter-hour rows over 2 hours count 4 per hour and 8 per day,
    not the rows of the level below."""
    from datetime import datetime

    t = TableSpec(
        name="COUNTED", counter_group="OM_X", base_granularity="15M",
        key_fields=["SITE"],
        columns=[
            ColumnSpec("SITE", raw_name="site", dtype="string", kind="KEY"),
            ColumnSpec("C", raw_name="c", dtype="double"),
        ],
    )
    base = spark.createDataFrame(
        [("s1", datetime(2024, 1, 1, h, m), 1.0) for h in (0, 1) for m in (0, 15, 30, 45)],
        "SITE string, DATETIME timestamp, C double",
    )
    ladder = build_ladder(base, t, agg_map={"C": "count"})
    assert sorted(r["C"] for r in ladder["HR"].collect()) == [4, 4]
    assert [r["C"] for r in ladder["DY"].collect()] == [8]


def test_ladder_level_write_job_budget(spark, spark_jobs, fixture_dir, tmp_path):
    """Writing any ladder level is one rollup from the base: at most
    2 Spark jobs (its shuffle and its write), however deep the level."""
    from chill_spark.operators.writers import write_fact

    cat = make_catalog()
    res = run_batch(spark, make_job(fixture_dir), cat, str(tmp_path / "base"))
    t = cat.tables["CELL_STATS"]
    base = read_fact(spark, res.written["CELL_STATS"])
    ladder = build_ladder(base, t)
    assert list(ladder) == ["HH", "HR", "DY", "WK", "MO", "YR"]
    for level, df in ladder.items():
        _, jobs = spark_jobs.run(lambda: write_fact(df, str(tmp_path / level)))
        assert jobs <= 2, (level, jobs)
    yr = read_fact(spark, str(tmp_path / "YR")).collect()
    assert {r["SITE"]: r["CALLS"] for r in yr} == {"s1": 210.0, "s2": 200.0, "s3": 50.0}


def test_run_batch_starts_no_job_besides_its_writes(
    spark, spark_jobs, fixture_dir, tmp_path, monkeypatch
):
    """The A3 DATETIME lists and the unmatched-row count ride on the
    writes' Observations."""
    import chill_spark.pipeline as pipeline

    write_group = spark_jobs.new_name()
    write = pipeline.write_fact

    def grouped_write(df, path):
        with spark_jobs.group(write_group):
            write(df, path)

    monkeypatch.setattr(pipeline, "write_fact", grouped_write)
    res, jobs = spark_jobs.run(
        lambda: run_batch(spark, make_job(fixture_dir), make_catalog(), str(tmp_path))
    )
    assert jobs == 0
    assert spark_jobs.count(write_group) >= 2
    assert [str(d) for d in res.datetimes["CELL_STATS"]] == [
        "2024-01-01 00:00:00", "2024-01-01 00:15:00",
    ]
    assert res.unmatched_rows == 0


def test_python_datasource_matches_preprocessed_scan(spark, tmp_path):
    """The chill_csv Python Data Source (Spark 4 pluggable source)
    returns the same rows as scan_csv_preprocessed for the same
    pre-parse config (slice + ignore + _file identity)."""
    from chill_spark.config import JobSpec
    from chill_spark.sources.csv_source import scan_csv_preprocessed
    from chill_spark.sources.pyds import ChillCSVDataSource

    files = {
        "X1.csv": "junk line\nsite,calls\ns1,10\ns2,20\n#EOF\n",
        "X2.csv": "junk line\nsite,calls\ns3,30\n#EOF\n",
    }
    for name, body in files.items():
        (tmp_path / name).write_text(body)
    glob = f"{tmp_path}/*.csv"

    spark.dataSource.register(ChillCSVDataSource)
    via_ds = (
        spark.read.format("chill_csv")
        .option("path", glob)
        .option("valid_lines", "1:")
        .option("ignore_lines", "#EOF")
        .load()
    )
    assert via_ds.schema.fieldNames() == ["_file", "site", "calls"]

    job = JobSpec(
        input_dir=str(tmp_path), input_mask="*.csv",
        valid_lines=(1, None), ignore_lines=["#EOF"], fields=[],
    )
    via_helper = scan_csv_preprocessed(spark, glob, job)
    got = {tuple(r) for r in via_ds.collect()}
    want = {tuple(r) for r in via_helper.select("_file", "site", "calls").collect()}
    assert got == want == {
        ("X1.csv", "s1", "10"), ("X1.csv", "s2", "20"), ("X2.csv", "s3", "30"),
    }


def test_run_metrics_surface_silent_skips(spark, fixture_dir, tmp_path):
    """SURVEY §7.4: the reference drops unmatched files and missing raw
    columns silently; we keep the semantics but surface counters —
    observe()-based rows/null-DATETIME per table, plan-time skipped
    columns, and the unmatched-row count."""
    in_dir = tmp_path / "rd"
    in_dir.mkdir()
    for name, body in FILES.items():
        (in_dir / name).write_text(body)
    # a file whose routing key ('Z' prefix -> OM_NODE?) matches... no:
    # OM_GROUP expr maps non-'A' to OM_NODE, so craft an unmatched group
    (in_dir / "Z20240101.0000_junk.csv").write_text(
        "#VENDOR=NONE\nJUNK\nsite,calls_raw,drops_raw\nzz,1,1\n"
    )

    cat = make_catalog()
    # declare a counter whose raw column exists in no file
    cat.tables["CELL_STATS"].columns.append(
        ColumnSpec("GHOST", raw_name="ghost_raw", dtype="double")
    )
    job = make_job(str(in_dir))
    # route Z-files to a group no table owns
    job.fields[0].function = (
        "'OM_CELL' if arg1[0:1] == 'A' else "
        "('OM_NODE' if arg1[0:1] == 'B' else 'OM_NOWHERE')"
    )
    out = str(tmp_path / "out")
    res = run_batch(spark, job, cat, out)
    assert res.metrics["CELL_STATS"]["rows"] == 4
    assert res.metrics["CELL_STATS"]["null_datetime"] == 0
    # ghost_raw exists in no file: the scan materializes it as nulls,
    # so it surfaces as an all-null counter (GHOST after rename)
    assert res.metrics["CELL_STATS"]["all_null_columns"] == ["GHOST"]
    assert res.metrics["NODE_STATS"]["rows"] == 2
    assert res.metrics["NODE_STATS"]["all_null_columns"] == []
    assert res.unmatched_rows == 1  # the Z file's single row


def test_merge_upsert_rewrites_only_touched_partitions(spark):
    """Keyed SCD-1 merge into a DT_PART fact: updated identities are
    replaced, new keys append, new periods create partitions — and an
    untouched partition's files are NOT rewritten (the 100 TB
    contract: cost tracks touched periods, never table size)."""
    import glob

    from chill_spark.operators.writers import merge_upsert, write_fact

    out = os.path.join(TMP, "upsert_fact")
    shutil.rmtree(out, ignore_errors=True)
    base = spark.createDataFrame(
        [("s1", "2024-01-01 00:00:00", 10.0),
         ("s2", "2024-01-01 00:00:00", 20.0),
         ("s1", "2024-01-01 01:00:00", 30.0)],
        ["SITE", "DATETIME", "CALLS"],
    ).withColumn("DATETIME", F.col("DATETIME").cast("timestamp"))
    write_fact(base, out)
    untouched = sorted(glob.glob(os.path.join(out, "DT_PART=202401010100", "*.parquet")))
    assert untouched
    before_stat = [(f, os.path.getmtime(f)) for f in untouched]

    updates = spark.createDataFrame(
        [("s1", "2024-01-01 00:00:00", 11.0),   # replaces
         ("s3", "2024-01-01 00:00:00", 33.0),   # new key, same period
         ("s9", "2024-01-02 00:00:00", 99.0)],  # new period
        ["SITE", "DATETIME", "CALLS"],
    ).withColumn("DATETIME", F.col("DATETIME").cast("timestamp"))
    res = merge_upsert(spark, out, updates, keys=["SITE"])
    assert res["partitions"] == 2 and res["rows_written"] == 4

    got = {
        (r["SITE"], str(r["DATETIME"]), r["CALLS"])
        for r in spark.read.parquet(out).drop("DT_PART").collect()
    }
    assert got == {
        ("s1", "2024-01-01 00:00:00", 11.0),
        ("s2", "2024-01-01 00:00:00", 20.0),
        ("s3", "2024-01-01 00:00:00", 33.0),
        ("s1", "2024-01-01 01:00:00", 30.0),
        ("s9", "2024-01-02 00:00:00", 99.0),
    }
    after_stat = [(f, os.path.getmtime(f)) for f in sorted(
        glob.glob(os.path.join(out, "DT_PART=202401010100", "*.parquet"))
    )]
    assert after_stat == before_stat  # untouched period: same files

    # replay-idempotent: re-merging the already-applied updates (the
    # streaming crash-between-merge-and-checkpoint window) changes
    # nothing
    res2 = merge_upsert(spark, out, updates, keys=["SITE"])
    assert res2 == res
    assert {
        (r["SITE"], str(r["DATETIME"]), r["CALLS"])
        for r in spark.read.parquet(out).drop("DT_PART").collect()
    } == got

    # duplicate update identities are nondeterministic -> fail fast
    import pytest

    dup = spark.createDataFrame(
        [("s1", "2024-01-01 00:00:00", 1.0),
         ("s1", "2024-01-01 00:00:00", 2.0)],
        ["SITE", "DATETIME", "CALLS"],
    ).withColumn("DATETIME", F.col("DATETIME").cast("timestamp"))
    with pytest.raises(ValueError, match="duplicate"):
        merge_upsert(spark, out, dup, keys=["SITE"])

    # batch-keyed (streamed) trees must be compacted first
    streamed = os.path.join(TMP, "upsert_streamed")
    shutil.rmtree(streamed, ignore_errors=True)
    from chill_spark.operators.writers import BATCH_COL, with_partition_col

    (with_partition_col(base).withColumn(BATCH_COL, F.lit(0))
     .write.partitionBy("DT_PART", BATCH_COL).parquet(streamed))
    with pytest.raises(ValueError, match="compact"):
        merge_upsert(spark, streamed, updates, keys=["SITE"])


def test_merge_upsert_schema_evolution(spark):
    """evolve_schema=True: updates carrying a NEW column merge with
    survivors null-filled for it; without the flag the width mismatch
    raises instead of silently dropping the column. Un-rewritten
    partitions keep the old file schema — mergeSchema surfaces the
    union view."""
    import pytest

    from chill_spark.operators.writers import merge_upsert, write_fact

    out = os.path.join(TMP, "upsert_evolve")
    shutil.rmtree(out, ignore_errors=True)
    base = spark.createDataFrame(
        [("s1", "2024-01-01 00:00:00", 10.0),
         ("s2", "2024-01-01 00:00:00", 20.0),
         ("s3", "2024-01-01 01:00:00", 30.0)],
        ["SITE", "DATETIME", "CALLS"],
    ).withColumn("DATETIME", F.col("DATETIME").cast("timestamp"))
    write_fact(base, out)
    updates = spark.createDataFrame(
        [("s1", "2024-01-01 00:00:00", 11.0, 5.0)],
        ["SITE", "DATETIME", "CALLS", "DROPS"],
    ).withColumn("DATETIME", F.col("DATETIME").cast("timestamp"))

    with pytest.raises(Exception, match="DROPS"):
        merge_upsert(spark, out, updates, keys=["SITE"])

    res = merge_upsert(
        spark, out, updates, keys=["SITE"], evolve_schema=True
    )
    assert res == {"partitions": 1, "rows_written": 2}
    got = {
        (r["SITE"], r["CALLS"], r["DROPS"])
        for r in spark.read.option("mergeSchema", "true").parquet(out)
        .filter(F.col("DT_PART") == "202401010000").collect()
    }
    assert got == {("s1", 11.0, 5.0), ("s2", 20.0, None)}
    # the untouched period has no DROPS files but reads NULL under the
    # merged-schema view
    other = spark.read.option("mergeSchema", "true").parquet(out) \
        .filter(F.col("DT_PART") == "202401010100").collect()
    assert [r["DROPS"] for r in other] == [None]


def test_profile_exact_and_approx(spark):
    """profile(): exact stats are exact (incl. null accounting and
    native-typed min/max); approx=True keeps every stat identical
    except n_distinct, which must land within HLL tolerance (~5% at
    these cardinalities) without an Expand in the plan."""
    from chill_spark.operators.profile import profile

    df = spark.range(0, 1000).selectExpr(
        "id AS k",
        "CASE WHEN id % 10 = 0 THEN NULL ELSE CAST(id % 97 AS double) END AS v",
    )
    exact = {r["column"]: r for r in profile(df).collect()}
    assert exact["k"]["n_rows"] == 1000
    assert exact["k"]["n_distinct"] == 1000
    assert exact["k"]["min_val"] == "0" and exact["k"]["max_val"] == "999"
    assert exact["v"]["n_null"] == 100 and exact["v"]["n_nonnull"] == 900
    assert exact["v"]["n_distinct"] == 97
    assert exact["v"]["min_val"] == "0.0" and exact["v"]["max_val"] == "96.0"

    approx = {r["column"]: r for r in profile(df, approx=True).collect()}
    for c in ("k", "v"):
        for stat in ("n_rows", "n_nonnull", "n_null", "min_val", "max_val"):
            assert approx[c][stat] == exact[c][stat]
        assert abs(approx[c]["n_distinct"] - exact[c]["n_distinct"]) \
            <= 0.1 * exact[c]["n_distinct"]


def test_profile_diff_drift_report(spark):
    """profile_diff(): per-column stats side by side with null
    fractions and b/a ratios; zero-denominator ratios are NULL, not
    a crash; the join is column-name grain."""
    from chill_spark.operators.profile import profile_diff

    a = spark.range(0, 100).selectExpr(
        "id AS k", "CAST(NULL AS double) AS v"
    )
    b = spark.range(0, 150).selectExpr(
        "id % 50 AS k",
        "CASE WHEN id % 3 = 0 THEN NULL ELSE CAST(id AS double) END AS v",
    )
    d = {r["column"]: r for r in profile_diff(a, b).collect()}
    assert d["k"]["n_rows_a"] == 100 and d["k"]["n_rows_b"] == 150
    assert d["k"]["ndv_a"] == 100 and d["k"]["ndv_b"] == 50
    assert d["k"]["row_ratio"] == 1.5 and d["k"]["ndv_ratio"] == 0.5
    assert d["k"]["null_frac_a"] == 0.0
    # v: all-null on the a side -> ndv_a 0 -> ndv_ratio NULL
    assert d["v"]["ndv_a"] == 0 and d["v"]["ndv_ratio"] is None
    assert d["v"]["null_frac_a"] == 1.0
    assert d["v"]["null_frac_b"] == pytest.approx(50 / 150, abs=1e-6)
    assert d["v"]["min_a"] is None and d["v"]["min_b"] == "1.0"


def test_distinct_ladder_reaggregates_sketches(spark):
    """distinct_ladder(): every level's HLL estimate matches the
    exact distinct count at these cardinalities (sketches start in
    sparse/exact mode); the WK level is built from DY sketches, NOT
    the raw rows — pinned by giving the upper levels a base whose
    extra rows they could only see through re-scanning (they must
    not)."""
    from chill_spark.operators.rollup import (
        distinct_ladder, estimate_distinct,
    )

    rows = []
    for day in (1, 2, 3):  # Mon..Wed of the same ISO week
        for u in range(day * 10):
            rows.append((f"2024-01-0{day} 0{u % 10}:00:00", u))
    df = spark.createDataFrame(rows, ["DATETIME", "user_id"]).selectExpr(
        "CAST(DATETIME AS timestamp) AS DATETIME", "user_id"
    )
    ladder = distinct_ladder(df, [], "user_id", ["HR", "DY", "WK"])
    dy = {
        str(r["DATETIME"]): r["n_distinct_approx"]
        for r in estimate_distinct(ladder["DY"]).collect()
    }
    assert dy == {
        "2024-01-01 00:00:00": 10,
        "2024-01-02 00:00:00": 20,
        "2024-01-03 00:00:00": 30,
    }
    wk = estimate_distinct(ladder["WK"]).collect()
    assert len(wk) == 1 and wk[0]["n_distinct_approx"] == 30
    # level-from-previous, not from-base: the WK plan reads no table
    # scan beyond the DY frame's lineage — both share ONE base scan
    assert ladder["WK"].columns == ["DATETIME", "__hll"]


def test_histogram_ladder_reaggregates_and_bounds_error(spark):
    """histogram_ladder(): daily bins are the SUM of hourly bins (not
    a raw re-scan), and estimate_percentile's answer is within one
    bin width above the exact order statistic at every group."""
    from chill_spark.operators.rollup import (
        estimate_percentile, histogram_ladder,
    )

    rows = []
    for day in (1, 2):
        for i in range(100):
            rows.append((f"2024-01-0{day} {i % 24:02d}:30:00", float(i)))
    df = spark.createDataFrame(rows, ["DATETIME", "value"]).selectExpr(
        "CAST(DATETIME AS timestamp) AS DATETIME", "value"
    )
    ladder = histogram_ladder(df, [], "value", ["HR", "DY"], bin_width=8.0)
    dy = ladder["DY"]
    # daily bins cover 0..99 in width-8 bins: 13 bins, counts sum to 100
    got = {r["bin"]: r["bin_n"] for r in
           dy.filter(F.col("DATETIME") == "2024-01-01").collect()}
    assert sum(got.values()) == 100 and len(got) == 13
    assert got[0] == 8 and got[12] == 4  # [96..100) has 4 values
    # level-from-previous: DY carries only the histogram columns
    assert set(dy.columns) == {"DATETIME", "bin", "bin_n"}
    # p50 exact = value at rank 50 = 49.0 -> est must be in (49, 57]
    est = {str(r["DATETIME"]): r["pct_est"] for r in
           estimate_percentile(dy, [], 0.5, 8.0).collect()}
    for v in est.values():
        assert 49.0 < v <= 57.0
    # p99 near the top of the range
    est99 = {str(r["DATETIME"]): r["pct_est"] for r in
             estimate_percentile(dy, [], 0.99, 8.0).collect()}
    for v in est99.values():
        assert 98.0 < v <= 106.0


def _scd2_updates(spark, rows):
    return spark.createDataFrame(
        rows, "cust_id bigint, tier string, city string, eff_ts timestamp"
    )


def test_merge_scd2_lifecycle(spark, tmp_path):
    """SCD-2 two-zone merge: insert -> change (closes + reopens) ->
    identical redelivery no-op -> stale update skipped; history holds
    exactly the superseded intervals."""
    from datetime import datetime as dt

    from chill_spark.operators.writers import merge_scd2

    path = str(tmp_path / "dim")
    s1 = merge_scd2(
        spark, path,
        _scd2_updates(spark, [
            (1, "gold", "rome", dt(2024, 1, 1)),
            (2, "bronze", "oslo", dt(2024, 1, 1)),
        ]),
        keys=["cust_id"], batch_id=0,
    )
    assert s1 == {"inserted": 2, "closed": 0, "unchanged": 0,
                  "stale": 0, "current_rows": 2}

    # wave 2: tier change for 1, identical redelivery for 2, stale for 1
    s2 = merge_scd2(
        spark, path,
        _scd2_updates(spark, [
            (1, "platinum", "rome", dt(2024, 2, 1)),
            (2, "bronze", "oslo", dt(2024, 3, 1)),
        ]),
        keys=["cust_id"], batch_id=1,
    )
    assert s2["closed"] == 1 and s2["unchanged"] == 1
    assert s2["current_rows"] == 2
    s3 = merge_scd2(
        spark, path,
        _scd2_updates(spark, [(1, "silver", "rome", dt(2023, 12, 1))]),
        keys=["cust_id"], batch_id=2,
    )
    assert s3["stale"] == 1 and s3["closed"] == 0

    cur = {r["cust_id"]: r for r in spark.read.parquet(f"{path}/current").collect()}
    assert cur[1]["tier"] == "platinum" and cur[1]["is_current"]
    assert cur[1]["eff_start"] == dt(2024, 2, 1) and cur[1]["eff_end"] is None
    assert cur[2]["tier"] == "bronze"
    hist = spark.read.parquet(f"{path}/history")
    hrows = hist.collect()
    assert len(hrows) == 1
    h = hrows[0]
    assert (h["cust_id"], h["tier"]) == (1, "gold")
    assert h["eff_start"] == dt(2024, 1, 1) and h["eff_end"] == dt(2024, 2, 1)
    assert not h["is_current"]


def test_merge_scd2_in_batch_conflict_collapses(spark, tmp_path):
    from datetime import datetime as dt

    from chill_spark.operators.writers import merge_scd2

    path = str(tmp_path / "dim")
    merge_scd2(
        spark, path,
        _scd2_updates(spark, [
            (1, "gold", "rome", dt(2024, 1, 2)),
            (1, "silver", "rome", dt(2024, 1, 1)),  # earlier, collapses
        ]),
        keys=["cust_id"], batch_id=0,
    )
    cur = spark.read.parquet(f"{path}/current").collect()
    assert len(cur) == 1 and cur[0]["tier"] == "gold"
    assert cur[0]["eff_start"] == dt(2024, 1, 2)


def test_merge_scd2_replay_is_idempotent(spark, tmp_path):
    """Re-running a batch (same updates, same batch id) must leave
    current AND history byte-identical — no double closes, no
    duplicated history rows."""
    from datetime import datetime as dt

    from chill_spark.operators.writers import merge_scd2

    path = str(tmp_path / "dim")
    merge_scd2(
        spark, path,
        _scd2_updates(spark, [(1, "gold", "rome", dt(2024, 1, 1))]),
        keys=["cust_id"], batch_id=0,
    )
    upd2 = [(1, "platinum", "rome", dt(2024, 2, 1)),
            (3, "iron", "lima", dt(2024, 2, 1))]
    merge_scd2(spark, path, _scd2_updates(spark, upd2),
               keys=["cust_id"], batch_id=1)

    def snapshot():
        c = sorted(map(tuple, spark.read.parquet(f"{path}/current").collect()))
        h = sorted(map(tuple, spark.read.parquet(f"{path}/history").collect()))
        return c, h

    before = snapshot()
    s = merge_scd2(spark, path, _scd2_updates(spark, upd2),
                   keys=["cust_id"], batch_id=1)  # REPLAY
    assert snapshot() == before
    assert s["closed"] == 0 and s["unchanged"] == 2 and s["inserted"] == 0


def test_scd2_as_of_reconstructs_past_states(spark, tmp_path):
    from datetime import datetime as dt

    from chill_spark.operators.writers import merge_scd2, scd2_as_of

    path = str(tmp_path / "dim")
    merge_scd2(
        spark, path,
        _scd2_updates(spark, [(1, "gold", "rome", dt(2024, 1, 1))]),
        keys=["cust_id"], batch_id=0,
    )
    merge_scd2(
        spark, path,
        _scd2_updates(spark, [
            (1, "platinum", "rome", dt(2024, 3, 1)),
            (2, "bronze", "oslo", dt(2024, 3, 1)),
        ]),
        keys=["cust_id"], batch_id=1,
    )
    # before anything existed
    assert scd2_as_of(spark, path, dt(2023, 6, 1)).count() == 0
    # between the waves: only key 1, still gold
    mid = {r["cust_id"]: r["tier"]
           for r in scd2_as_of(spark, path, dt(2024, 2, 1)).collect()}
    assert mid == {1: "gold"}
    # after wave 2: both keys, key 1 platinum
    now = {r["cust_id"]: r["tier"]
           for r in scd2_as_of(spark, path, dt(2024, 6, 1)).collect()}
    assert now == {1: "platinum", 2: "bronze"}
    # exactly one row per key at every instant probed
    assert scd2_as_of(spark, path, dt(2024, 3, 1)).count() == 2


def test_merge_scd2_differential_vs_reference_model(spark, tmp_path):
    """Drive merge_scd2 with three pseudo-random CDC batches and check
    the store against an in-memory reference model, plus structural
    interval invariants: exactly one open row per key, history
    intervals are well-formed (start < end), and each key's intervals
    chain without overlap."""
    import hashlib
    from datetime import datetime as dt, timedelta

    from chill_spark.operators.writers import merge_scd2

    def h(s):  # deterministic pseudo-randomness, no RNG state
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    path = str(tmp_path / "dim")
    model = {}          # key -> (tier, city, eff_start)
    closed_model = []   # (key, tier, city, start, end)
    for b in range(3):
        base = dt(2024, 1, 1) + timedelta(days=7 * b)
        rows = []
        for k in range(8):
            if h(f"skip:{b}:{k}") % 3 == 0:
                continue
            tier = f"t{h(f'tier:{b}:{k}') % 3}"
            city = f"c{h(f'city:{b}:{k}') % 2}"
            rows.append((k, tier, city, base))
        merge_scd2(spark, path, _scd2_updates(spark, rows),
                   keys=["cust_id"], batch_id=b)
        for k, tier, city, eff in rows:
            if k not in model:
                model[k] = (tier, city, eff)
            else:
                ot, oc, os_ = model[k]
                if (tier, city) != (ot, oc) and eff > os_:
                    closed_model.append((k, ot, oc, os_, eff))
                    model[k] = (tier, city, eff)

    cur = {r["cust_id"]: (r["tier"], r["city"], r["eff_start"])
           for r in spark.read.parquet(f"{path}/current").collect()}
    assert cur == model
    hist = sorted(
        (r["cust_id"], r["tier"], r["city"], r["eff_start"], r["eff_end"])
        for r in spark.read.parquet(f"{path}/history").collect()
    )
    assert hist == sorted(closed_model)
    # structural invariants
    for k, _, _, s, e in hist:
        assert s < e
    by_key = {}
    for k, _, _, s, e in hist:
        by_key.setdefault(k, []).append((s, e))
    for k, ivals in by_key.items():
        ivals.sort()
        for (s1, e1), (s2, e2) in zip(ivals, ivals[1:]):
            assert e1 <= s2  # no overlap
        assert k in cur and ivals[-1][1] <= cur[k][2]  # chains into open row


def test_small_file_report_flags_fragmented_partition(spark, tmp_path):
    from chill_spark.operators.writers import (
        compact_partitions, small_file_report, write_fact,
    )

    path = str(tmp_path / "fact")
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", f"s{i}", float(i)) for i in range(100)]
        + [("2024-01-01 00:15:00", "s1", 1.0)],
        ["DATETIME", "SITE", "CALLS"],
    ).withColumn("DATETIME", F.col("DATETIME").cast("timestamp"))
    write_fact(df.repartition(20), path)
    rep = {r["partition"]: r for r in small_file_report(spark, path).collect()}
    frag = rep["202401010000"]
    assert frag["n_files"] > 1 and frag["needs_compaction"]
    assert rep["202401010015"]["n_files"] == 1
    assert not rep["202401010015"]["needs_compaction"]
    # after compaction the advisor goes quiet
    compact_partitions(spark, path)
    rep2 = {r["partition"]: r for r in small_file_report(spark, path).collect()}
    assert not any(r["needs_compaction"] for r in rep2.values())
    assert rep2["202401010000"]["n_files"] == 1
