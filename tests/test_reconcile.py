"""compare_tables' one-join reconcile: free-text counters, agreement
with the per-defect helpers, and its Spark job budget."""

from __future__ import annotations

from collections import Counter
from datetime import datetime

from pyspark.sql import functions as F

from chill_spark.operators.writers import read_fact, write_fact
from chill_spark.reconcile import (
    compare_tables,
    missing_rows,
    referential_violations,
    value_diff,
)

T0 = datetime(2024, 1, 1, 0, 0)
T1 = datetime(2024, 1, 1, 0, 15)
SCHEMA = "SITE string, DATETIME timestamp, C1 double, C2 double, DROPPED double"


def _status_pair(spark):
    e = spark.createDataFrame(
        [("s1", T0, 1.0, "OK"), ("s2", T0, 2.0, "OK")],
        "SITE string, DATETIME timestamp, C1 double, STATUS string",
    )
    a = spark.createDataFrame(
        [("s1", T0, 1.0, "OK"), ("s2", T0, 2.0, "BAD")],
        "SITE string, DATETIME timestamp, C1 double, STATUS string",
    )
    return e, a


def test_compare_tables_free_text_counter(spark):
    """A text counter compares as a string instead of failing the
    double cast under ANSI mode."""
    e, a = _status_pair(spark)
    rep = compare_tables(e, a, "T", keys=["SITE"], counters=["C1", "STATUS"])
    assert rep.diffs == [("s2", T0, "STATUS", "OK", "BAD")]
    assert rep.counts_match and not rep.clean


def test_value_diff_free_text_counter(spark):
    e, a = _status_pair(spark)
    got = value_diff(e, a, ["SITE", "DATETIME"], ["C1", "STATUS"]).collect()
    assert [tuple(r) for r in got] == [("s2", T0, "STATUS", "OK", "BAD")]


def _defect_pair(spark):
    """Duplicate keys on both sides, NULL keys on both sides, a NULL on
    one side only, a dropped column, and 5 missing, 4 extra and 6
    differing rows."""
    exp = [
        ("dup_e", T0, 1.0, 1.0, 0.0), ("dup_e", T0, 1.0, 1.0, 0.0),
        ("dup_a", T0, 2.0, 2.0, 0.0),
        (None, T0, 3.0, 3.0, 0.0),
        ("null_one_side", T0, None, 4.0, 0.0),
    ]
    exp += [(f"miss{i}", T1, 1.0, 1.0, 0.0) for i in range(5)]
    exp += [(f"diff{i}", T1, 1.0, 1.0, 0.0) for i in range(6)]
    act = [
        ("dup_e", T0, 1.0, 1.0), ("dup_a", T0, 2.0, 2.0), ("dup_a", T0, 2.0, 9.0),
        (None, T0, 3.0, 3.0),
        ("null_one_side", T0, 4.0, 4.0),
    ]
    act += [(f"extra{i}", T1, 1.0, 1.0) for i in range(4)]
    act += [(f"diff{i}", T1, 1.0, 2.0) for i in range(6)]
    e = spark.createDataFrame(exp, SCHEMA)
    a = spark.createDataFrame(act, "SITE string, DATETIME timestamp, C1 double, C2 double")
    return e, a


def _full_results(e, a, dim, keys, counters):
    """Every defect, from the per-defect helpers with no cap."""
    usable = [c for c in counters if c in a.columns]
    return {
        "missing_oracle_records": [
            tuple(r) for r in missing_rows(e, a, keys).select(*keys).collect()
        ],
        "missing_raw_data_records": [
            tuple(r) for r in missing_rows(a, e, keys).select(*keys).collect()
        ],
        "diffs": [tuple(r) for r in value_diff(e, a, keys, usable).collect()],
        "missing_in_conf": [
            tuple(r) for r in referential_violations(a, dim, ["SITE"]).collect()
        ],
    }


def test_compare_tables_matches_per_defect_helpers(spark):
    e, a = _defect_pair(spark)
    dim = spark.createDataFrame([("dup_e",), ("dup_a",), ("diff0",)], ["SITE"])
    counters = ["C1", "C2", "DROPPED"]
    full = _full_results(e, a, dim, ["SITE", "DATETIME"], counters)
    assert [len(v) for v in full.values()] == [6, 5, 8, 11]
    sample = 6
    rep = compare_tables(
        e, a, "T", keys=["SITE"], counters=counters, dim=dim, dim_keys=["SITE"],
        sample=sample,
    )
    assert (rep.rd_num_records, rep.db_num_records) == (16, 15)
    assert rep.missing_columns == ["DROPPED"]
    for name, want in full.items():
        got = getattr(rep, name)
        assert len(got) == min(len(want), sample), name
        assert not Counter(got) - Counter(want), name
        if len(want) <= sample:
            assert Counter(got) == Counter(want), name


def test_compare_tables_missing_key_returns_without_join(spark):
    """The key-column early return still reports counts and the
    referential check, and does not wait on an unfired Observation."""
    e, a = _defect_pair(spark)
    dim = spark.createDataFrame([("dup_e",)], ["SITE"])
    rep = compare_tables(
        e, a.drop("DATETIME"), "T", keys=["SITE"], counters=["C1"], dim=dim, sample=3,
    )
    assert rep.errors == ["key columns missing: ['DATETIME']"]
    assert (rep.rd_num_records, rep.db_num_records) == (16, 15)
    assert len(rep.missing_in_conf) == 3
    assert rep.missing_oracle_records == rep.diffs == []


def test_compare_tables_empty_side(spark, tmp_path):
    """A side that is empty at run time counts 0 rows."""
    e, a = _defect_pair(spark)
    write_fact(e, str(tmp_path / "fact"))
    empty = read_fact(spark, str(tmp_path / "fact")).filter(F.col("C1") > 100)
    rep = compare_tables(empty, a, "T", keys=["SITE"], counters=["C1", "C2"])
    assert (rep.rd_num_records, rep.db_num_records) == (0, 15)
    assert len(rep.missing_raw_data_records) == 15


def test_compare_tables_job_budget(spark, spark_jobs, tmp_path):
    """One clean table reconciles in a handful of Spark jobs."""
    e, _a = _defect_pair(spark)
    write_fact(e.filter(F.col("SITE").isNotNull()), str(tmp_path / "fact"))
    expected = read_fact(spark, str(tmp_path / "fact"))
    actual = read_fact(spark, str(tmp_path / "fact"))
    rep, jobs = spark_jobs.run(lambda: compare_tables(
        expected, actual, "T", keys=["SITE"], counters=["C1", "C2", "DROPPED"],
    ))
    assert rep.clean and rep.rd_num_records == 15
    assert jobs <= 10, jobs
