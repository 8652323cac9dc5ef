"""Seeded input generators for the Chill benchmark.

Every generator is a pure function of ``seed`` (plus sizes) and writes
only under the directory it is given. The program under test sees
nothing but the files written here; the returned ``*Truth`` objects
are what the generator knows, used only by the output checks.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from chill_spark.config.xlsx import write_xlsx

# --------------------------------------------------------------------------
# F1-style raw counter files + Chill sheet + HLD workbook
# --------------------------------------------------------------------------

UNKNOWN_GROUP = "UNKNOWN_GROUP"
UNROUTABLE_FRAC = 0.02  # rows whose OM_GROUP routes to no table
DIM_MISSING_FRAC = 0.05  # nodes absent from the lookup view -> default

# group -> (table, base granularity, collection tag, key column, key values,
#           [(db counter, raw counter, decimals)])
GROUPS = {
    "CELL_STATS": (
        "CELL_TRAFFIC", "15M", "CELLSTATS", "CELL_ID", "cell", [
            ("RRC_SUCC", "pmRrcConnEstabSucc", 0),
            ("RRC_ATT", "pmRrcConnEstabAtt", 0),
            ("DOWNTIME", "pmCellDowntimeAuto", 0),
            ("PRB_UTIL", "pmPrbUtilDl", 2),
        ],
    ),
    "NODE_STATS": (
        "NODE_HEALTH", "HR", "NODESTATS", "BOARD_ID", "board", [
            ("CPU_LOAD", "pmCpuLoad", 2),
            ("MEM_USED", "pmMemUsed", 0),
            ("TEMP", "pmBoardTemp", 1),
        ],
    ),
    "LINK_STATS": (
        "LINK_QUALITY", "HR", "LINKSTATS", "LINK_ID", "link", [
            ("RX_ERR", "pmRxErrors", 0),
            ("TX_BYTES", "pmTxBytes", 0),
        ],
    ),
}

# Filename: PM_<node:7>_<YYYYMMDD>_<HHMM>_<GROUP>.csv — NODE is arg1[3:10],
# the period stamp arg1[11:24] (fixed-width node names make both slices).
DT_TEMPLATE = (
    "datetime.strptime(arg1[11:24], '%Y%m%d_%H%M')"
    ".strftime('%Y-%m-%d %H:%M:%S')"
)
LOOKUP_TEMPLATE = "view[view['node'] == arg1]['enb_id'].values[0]"
# str.title has no native translation: the DSL compiles it to the tier-3
# (pandas UDF) fallback, so one field per run goes through Python.
TIER3_TEMPLATE = "arg1.title()"


def node_name(i: int) -> str:
    return f"enb{i:04d}"


@dataclass
class EtlTruth:
    """What the counter-file generator wrote, per target table."""

    rows: dict[str, int] = field(default_factory=dict)  # table -> routed rows
    sums: dict[str, dict[str, float]] = field(default_factory=dict)
    raw_rows: int = 0  # every body row, unroutable ones included
    unroutable_rows: int = 0


@dataclass
class EtlConfig:
    chill_xlsx: str
    hld_xlsx: str
    input_dir: str


def _chill_rows(input_dir: str, groups: list[str], node_sql: str) -> list[list]:
    rows: list[list] = [
        ["input_rd", input_dir],
        ["input_rd_mask", "*.csv"],
        ["delimiter", ","],
        ["valid_lines", "[1:]"],
        ["ignore_lines", "#IGNORE"],
        ["view"],
        ["nodes", node_sql],
        ["field"],
        ["OM_GROUP", "column", None, "OM_GROUP", None, "arg1.strip()"],
        ["NODE", "filename", None, None, None, "arg1[3:10]", None, None, "ALL"],
        ["DATETIME", "filename", None, None, None, DT_TEMPLATE, None, None, "ALL"],
        ["VENDOR", "constant", None, None, "ACME", None, None, None, "ALL"],
        ["ENODEB_ID", "lookup", None, "NODE", None, LOOKUP_TEMPLATE, "nodes",
         "-1", "ALL"],
        ["COLLECTION", "tag", "collection=", None, None, "tag[19:]", None,
         None, "ALL"],
    ]
    if "LINK_STATS" in groups:
        rows.append(["LINK_LABEL", "column", None, "LINK_ID", None,
                     TIER3_TEMPLATE, None, None, "LINK_QUALITY"])
    return rows


def _hld_sheets(groups: list[str]) -> dict[str, list[list]]:
    deco = [None, "-", "-", "-", "-", "-"]
    tables = [[None, "Table Name", "Counter Group in RD", "Base Granularity"],
              deco[:4], deco[:4]]
    cols = [[None, "Table Name", "Counter/KPI DB Name",
             "Raw Data Counter Name/OID", "TYPE", "Data Type", "Formula"],
            deco + [None], deco + [None]]
    for g in groups:
        table, gran, _coll, key_col, _kp, counters = GROUPS[g]
        tables.append([None, table, g, gran])
        cols += [
            [None, table, "OM_GROUP", "OM_GROUP", "KEY", "string"],
            [None, table, "NODE", None, "KEY", "string"],
            [None, table, "ENODEB_ID", None, "KEY", "string"],
            [None, table, "COLLECTION", None, "KEY", "string"],
            [None, table, key_col, key_col, "KEY", "string"],
        ]
        if g == "LINK_STATS":
            cols.append([None, table, "LINK_LABEL", None, "KEY", "string"])
        for db, raw, _dec in counters:
            cols.append([None, table, db, raw, "COUNTER", "double"])
        if g == "CELL_STATS":
            cols.append([None, table, "RRC_SR", None, "KPI", "double",
                         "RRC_SUCC/RRC_ATT"])
    return {"Tables": tables, "Key_Counters_Kpis": cols}


def _periods(start: datetime, hours: int, gran: str) -> list[datetime]:
    step = 15 if gran == "15M" else 60
    n = hours * 60 // step
    return [start + timedelta(minutes=step * i) for i in range(n)]


def _counter_file(
    rng: random.Random, g: str, node: str, ts: datetime, n_keys: int,
    truth: EtlTruth,
) -> str:
    table, _gran, coll, key_col, key_prefix, counters = GROUPS[g]
    header = ["OM_GROUP", "ENODEB_NAME", key_col, "DATETIME_RAW"]
    header += [raw for _db, raw, _dec in counters] + ["VENDOR_NOTE"]
    lines = [f"#HEADER collection={coll} version=1", "#IGNORE", ",".join(header)]
    sums = truth.sums.setdefault(table, {db: 0.0 for db, _r, _d in counters})
    for k in range(n_keys):
        unroutable = rng.random() < UNROUTABLE_FRAC
        vals = []
        for db, _raw, dec in counters:
            v = round(rng.uniform(0, 1000), dec) if dec else rng.randint(0, 1000)
            vals.append(v)
            if not unroutable:
                sums[db] += v
        grp = UNKNOWN_GROUP if unroutable else g
        if unroutable:
            truth.unroutable_rows += 1
        else:
            truth.rows[table] = truth.rows.get(table, 0) + 1
        truth.raw_rows += 1
        lines.append(",".join(
            [grp, node, f"{key_prefix}-{k:02d}", ts.strftime("%Y-%m-%d %H:%M:%S")]
            + [str(v) for v in vals] + ["ok"]
        ))
    return "\n".join(lines) + "\n"


def counter_file_name(g: str, node: str, ts: datetime) -> str:
    return f"PM_{node}_{ts.strftime('%Y%m%d_%H%M')}_{g}.csv"


def start_day(seed: int) -> datetime:
    return datetime(2026, 8, 1) + timedelta(days=seed % 28)


def write_etl_config(
    root: str, seed: int, input_dir: str, groups: list[str], n_nodes: int
) -> EtlConfig:
    """Chill sheet + HLD workbook (.xlsx) for the given counter groups,
    with a node -> eNodeB lookup view that misses ~5% of the nodes."""
    rng = random.Random(seed * 7919 + 1)
    present = [i for i in range(n_nodes) if rng.random() >= DIM_MISSING_FRAC]
    values = ", ".join(f"('{node_name(i)}', '{1000 + i}')" for i in present)
    node_sql = f"SELECT * FROM VALUES {values} AS t(node, enb_id)"
    os.makedirs(root, exist_ok=True)
    cfg = EtlConfig(
        chill_xlsx=os.path.join(root, "chill.xlsx"),
        hld_xlsx=os.path.join(root, "hld.xlsx"),
        input_dir=input_dir,
    )
    write_xlsx(cfg.chill_xlsx, {"Chill": _chill_rows(input_dir, groups, node_sql)})
    write_xlsx(cfg.hld_xlsx, _hld_sheets(groups))
    return cfg


def gen_counter_files(
    root: str, seed: int, *, n_nodes: int, hours: int, keys: dict[str, int]
) -> tuple[EtlConfig, EtlTruth]:
    """F1-style counter files for every group in ``keys``
    (group -> rows per file): one file per (group, node, base period)."""
    rng = random.Random(seed)
    input_dir = os.path.join(root, "in")
    os.makedirs(input_dir, exist_ok=True)
    truth = EtlTruth()
    start = start_day(seed)
    for g, n_keys in keys.items():
        gran = GROUPS[g][1]
        for i in range(n_nodes):
            for ts in _periods(start, hours, gran):
                node = node_name(i)
                body = _counter_file(rng, g, node, ts, n_keys, truth)
                with open(os.path.join(input_dir, counter_file_name(g, node, ts)), "w") as f:
                    f.write(body)
    cfg = write_etl_config(root, seed, input_dir, list(keys), n_nodes)
    return cfg, truth


@dataclass
class StreamPlan:
    """Counter files staged for the open-loop generator: ``periods[i]``
    is the list of staged paths it renames into ``watch_dir`` together."""

    cfg: EtlConfig
    watch_dir: str
    periods: list[list[str]]
    rows_per_file: int


def gen_stream_files(
    root: str, seed: int, *, nodes: int, n_periods: int, rows_per_file: int
) -> StreamPlan:
    """CELL_STATS files staged outside the watched directory, one
    quarter-hour period of ``nodes`` files per scheduled drop."""
    rng = random.Random(seed)
    staged = os.path.join(root, "staged")
    watch = os.path.join(root, "watch")
    os.makedirs(staged, exist_ok=True)
    os.makedirs(watch, exist_ok=True)
    truth = EtlTruth()
    periods = []
    start = start_day(seed)
    for p in range(n_periods):
        ts = start + timedelta(minutes=15 * p)
        batch = []
        for i in range(nodes):
            name = counter_file_name("CELL_STATS", node_name(i), ts)
            path = os.path.join(staged, name)
            with open(path, "w") as f:
                f.write(_counter_file(rng, "CELL_STATS", node_name(i), ts,
                                      rows_per_file, truth))
            batch.append(path)
        periods.append(batch)
    cfg = write_etl_config(root, seed, watch, ["CELL_STATS"], nodes)
    return StreamPlan(cfg, watch, periods, rows_per_file)


# --------------------------------------------------------------------------
# Expected / actual fact pair with seeded reconciliation defects
# --------------------------------------------------------------------------

RECON_COUNTERS = [f"C{i}" for i in range(1, 9)]
RECON_DROPPED = "C8"  # column the actual side lost
RECON_KEYS = ["SITE", "CELL"]


@dataclass
class ReconTruth:
    expected_path: str
    actual_path: str
    dim_path: str
    rows: int
    missing_in_actual: set  # full keys (SITE, CELL, DATETIME)
    extra_in_actual: set
    drift_above: set  # keys whose C1 moved by 0.01 (reported)
    string_diff: set  # keys whose STATUS differs
    dim_missing_sites: set
    dim_missing_rows: int  # actual rows whose SITE is absent from the dim

    @property
    def seeded(self) -> int:
        return (len(self.missing_in_actual) + len(self.extra_in_actual)
                + len(self.drift_above) + len(self.string_diff)
                + 1 + len(self.dim_missing_sites))


def gen_fact_pair(
    spark, root: str, seed: int, *, sites: int, cells: int, periods: int,
    defects: int,
) -> ReconTruth:
    """Write an expected/actual fact pair with ``write_fact`` (one
    DT_PART per 15-minute period). Counters are multiples of 0.01 so a
    1e-6 drift never crosses the round-3dp tolerance. Every defect
    count stays below compare_tables' 1,000-row sample cap. STATUS is a
    string column of numeric codes: value_diff casts each compared
    column to double, which raises on non-numeric text under ANSI mode."""
    from pyspark.sql import functions as F

    from chill_spark.operators.writers import write_fact

    rng = random.Random(seed)
    n = sites * cells * periods
    picks = rng.sample(range(n), 4 * defects)
    missing, drift_up, drift_low, sdiff = (
        set(picks[i * defects:(i + 1) * defects]) for i in range(4)
    )
    dim_missing_sites = set(rng.sample(range(sites), max(1, sites // 50)))
    start = start_day(seed)
    epoch = int((start - datetime(1970, 1, 1)).total_seconds())

    base = spark.range(0, n, 1, os.cpu_count() or 4)
    cid = F.col("id")
    site_i = (cid / (cells * periods)).cast("long")
    df = base.select(
        cid,
        F.format_string("s%05d", site_i).alias("SITE"),
        F.format_string("c%02d", ((cid / periods).cast("long") % cells)).alias("CELL"),
        F.timestamp_seconds(F.lit(epoch) + (cid % periods) * 900).alias("DATETIME"),
        *[
            (F.pmod(F.xxhash64(cid, F.lit(seed * 31 + k)), F.lit(100000)) / 100.0)
            .alias(c)
            for k, c in enumerate(RECON_COUNTERS)
        ],
        F.when(F.pmod(cid, F.lit(7)) == 0, "2").otherwise("0").alias("STATUS"),
    )
    expected = df
    lit_ids = lambda ids: F.col("id").isin(sorted(ids))  # noqa: E731
    actual = (
        df.filter(~lit_ids(missing))
        .withColumn("C1", F.when(lit_ids(drift_up), F.col("C1") + 0.01).otherwise(F.col("C1")))
        .withColumn("C2", F.when(lit_ids(drift_low), F.col("C2") + 1e-6).otherwise(F.col("C2")))
        .withColumn("STATUS", F.when(lit_ids(sdiff), "9").otherwise(F.col("STATUS")))
        .drop(RECON_DROPPED)
    )
    # rows only the actual side has: a period past the expected window
    extra = rng.sample(range(sites * cells), defects)
    extra_df = (
        spark.createDataFrame([(i,) for i in extra], "id long")
        .select(
            (F.col("id") + n).alias("id"),
            F.format_string("s%05d", (F.col("id") / cells).cast("long")).alias("SITE"),
            F.format_string("c%02d", F.col("id") % cells).alias("CELL"),
            F.timestamp_seconds(F.lit(epoch + periods * 900)).alias("DATETIME"),
            *[F.lit(1.0).alias(c) for c in RECON_COUNTERS if c != RECON_DROPPED],
            F.lit("0").alias("STATUS"),
        )
    )
    actual = actual.unionByName(extra_df)

    exp_path = os.path.join(root, "expected")
    act_path = os.path.join(root, "actual")
    dim_path = os.path.join(root, "dim")
    write_fact(expected.drop("id"), exp_path)
    write_fact(actual.drop("id"), act_path)
    spark.createDataFrame(
        [(f"s{s:05d}", f"region{s % 5}") for s in range(sites)
         if s not in dim_missing_sites],
        "SITE string, REGION string",
    ).write.mode("overwrite").parquet(dim_path)

    def key(i: int, period: int | None = None) -> tuple:
        s, c, p = i // (cells * periods), (i // periods) % cells, i % periods
        return (f"s{s:05d}", f"c{c:02d}",
                start + timedelta(minutes=15 * (p if period is None else period)))

    extra_keys = {(f"s{i // cells:05d}", f"c{i % cells:02d}",
                   start + timedelta(minutes=15 * periods)) for i in extra}
    dim_rows = cells * periods * len(dim_missing_sites) - sum(
        1 for i in missing if i // (cells * periods) in dim_missing_sites
    ) + sum(1 for i in extra if i // cells in dim_missing_sites)
    return ReconTruth(
        expected_path=exp_path, actual_path=act_path, dim_path=dim_path, rows=n,
        missing_in_actual={key(i) for i in missing},
        extra_in_actual=extra_keys,
        drift_above={key(i) for i in drift_up},
        string_diff={key(i) for i in sdiff},
        dim_missing_sites={f"s{s:05d}" for s in dim_missing_sites},
        dim_missing_rows=dim_rows,
    )


# --------------------------------------------------------------------------
# Document corpus + benchmark set for corpus prep
# --------------------------------------------------------------------------

SOURCES = ["web", "books", "news", "code"]


@dataclass
class CorpusTruth:
    docs_path: str
    bench_path: str
    n_docs: int
    dup_groups: list  # lists of doc ids sharing exactly the same text
    ids: set


def _word(rng: random.Random) -> str:
    syl = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "da", "zu", "ko"]
    return "".join(rng.choice(syl) for _ in range(rng.randint(2, 4)))


def gen_corpus(
    spark, root: str, seed: int, *, n_docs: int, dup_frac: float = 0.08,
    span_frac: float = 0.10, contam_frac: float = 0.02, n_bench: int = 40,
) -> CorpusTruth:
    """Documents with a set exact-duplicate fraction (copies of earlier
    docs), shared-span fraction (a 24-token boilerplate span pasted in)
    and benchmark contamination (a 20-token span of a benchmark doc)."""
    import pandas as pd

    rng = random.Random(seed)
    vocab = sorted({_word(rng) for _ in range(6000)})
    words = lambda k: [rng.choice(vocab) for _ in range(k)]  # noqa: E731
    bench = [" ".join(words(60)) for _ in range(n_bench)]
    boiler = [words(24) for _ in range(20)]
    texts: list[str] = []
    dup_of: dict[int, int] = {}
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < dup_frac:
            j = rng.randrange(i)
            j = dup_of.get(j, j)
            dup_of[i] = j
            texts.append(texts[j])
            continue
        toks = words(rng.randint(40, 160))
        if r < dup_frac + span_frac:
            at = rng.randrange(len(toks))
            toks[at:at] = rng.choice(boiler)
        elif r < dup_frac + span_frac + contam_frac:
            b = rng.choice(bench).split(" ")
            at = rng.randrange(len(toks))
            s = rng.randrange(len(b) - 20)
            toks[at:at] = b[s:s + 20]
        texts.append(" ".join(toks))
    groups: dict[int, list[int]] = {}
    for i, j in dup_of.items():
        groups.setdefault(j, [j]).append(i)
    pdf = pd.DataFrame({
        "doc_id": range(n_docs),
        "source": [SOURCES[i % len(SOURCES)] for i in range(n_docs)],
        "text": texts,
    })
    docs_path = os.path.join(root, "docs")
    bench_path = os.path.join(root, "bench")
    spark.createDataFrame(pdf).repartition(os.cpu_count() or 4).write.mode(
        "overwrite").parquet(docs_path)
    spark.createDataFrame(
        pd.DataFrame({"doc_id": range(n_bench), "text": bench})
    ).write.mode("overwrite").parquet(bench_path)
    return CorpusTruth(docs_path, bench_path, n_docs,
                       [sorted(v) for v in groups.values()], set(range(n_docs)))
