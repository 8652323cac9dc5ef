"""The four benchmark workloads, their output checks and layer probes.

Each workload drives chill_spark's public functions from outside, in
this driver process. ``setup`` writes the seeded inputs, ``warm`` runs
``warm_ops`` untimed ops, ``run`` measures ops for a number of seconds
and checks each op's output, and ``probe`` (traced runs only) forces
successive prefixes of the lazy layers to the noop sink to split their
self times.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import functions as F

import chill_spark.operators.incremental as incremental_mod
import chill_spark.pipeline as pipeline_mod
from chill_spark.config.excel import load_chill_xlsx, load_hld_xlsx
from chill_spark.operators.derive import apply_fields
from chill_spark.operators.rollup import build_ladder
from chill_spark.operators.writers import read_fact, write_fact
from chill_spark.reconcile import compare_tables
from chill_spark.reconcile.compare import missing_rows, referential_violations, value_diff
from chill_spark.reconcile.expectations import (
    check_expectations,
    expectations_report,
    in_range,
    not_null,
    ref_integrity,
    unique,
)
from chill_spark.report import build_report
from chill_spark.sources.csv_source import extract_tags, scan_csv_preprocessed, tag_columns
from chill_spark.sources.views import execute_views

import gen


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def raw_columns(cat) -> list[str]:
    """The raw-name superset the catalog declares (what transform scans)."""
    cols: list[str] = []
    for t in cat.tables.values():
        for spec in t.stored_columns:
            if spec.raw_name and spec.raw_name not in cols:
                cols.append(spec.raw_name)
    return cols


def sums_match(got: dict, want: dict) -> bool:
    return all(
        got.get(k) is not None and abs(got[k] - v) <= 1e-6 * max(1.0, abs(v))
        for k, v in want.items()
    )


@dataclass
class Measured:
    """One measured window: per-op latencies and the records they did."""

    lat: list[float] = field(default_factory=list)
    records: int = 0
    busy_s: float = 0.0  # seconds the window was doing ops
    attempted: int = 0
    failed: int = 0
    extra: dict = field(default_factory=dict)


class Workload:
    name = ""
    layers: tuple[str, ...] = ()  # layers this workload is the home of
    checks_per_op = True  # False: check() verifies a whole run instead
    warm_ops = 1

    def __init__(self, spark, root: str, seed: int) -> None:
        self.spark = spark
        self.root = root
        self.seed = seed
        self.tr = None  # Tracer in traced runs
        self.failures: list[str] = []

    def sp(self, layer: str, name: str = ""):
        return self.tr.maybe(layer, name) if self.tr is not None else nullcontext()

    def setup(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        for _ in range(self.warm_ops):
            self.op()
            self.check()

    def op(self) -> tuple[int, bool]:
        """One op: returns (records processed, output check passed)."""
        raise NotImplementedError

    def run(self, seconds: float, max_ops: int | None = None) -> Measured:
        """Closed loop, one client: the next op starts when the previous
        one and its check are done. Only op time counts toward the
        window; checks run outside it."""
        m = Measured()
        while m.attempted < max_ops if max_ops is not None else m.busy_s < seconds:
            m.attempted += 1
            t0 = time.perf_counter()
            try:
                with self.sp("op", self.name):
                    records, ok = self.op()
                dt = time.perf_counter() - t0
                ok = ok and self.check()
            except Exception as e:  # an op that raises is a failed op
                dt = time.perf_counter() - t0
                self.failures.append(f"{type(e).__name__}: {e}")
                records, ok = 0, False
            m.busy_s += dt
            m.lat.append(dt)
            m.records += records if ok else 0
            m.failed += 0 if ok else 1
        return m

    def check(self) -> bool:
        return True

    def probe(self) -> dict:
        return {}

    def close(self) -> None:
        pass


# --------------------------------------------------------------------------
# etl_verify
# --------------------------------------------------------------------------


class EtlVerify(Workload):
    """cmd_e2e-shaped verification run: xlsx config -> views ->
    run_batch -> ladder -> expected side -> reconcile -> JUnit."""

    name = "etl_verify"
    layers = ("config", "sources", "dsl", "pipeline", "operators.writers",
              "operators.rollup")
    NODES, HOURS = 6, 1
    KEYS = {"CELL_STATS": 200, "NODE_STATS": 100, "LINK_STATS": 40}

    def setup(self) -> None:
        self.cfg, self.truth = gen.gen_counter_files(
            self.root, self.seed, n_nodes=self.NODES, hours=self.HOURS,
            keys=self.KEYS,
        )
        self.out = os.path.join(self.root, "out")

    def op(self) -> tuple[int, bool]:
        spark = self.spark
        with self.sp("config", "load_xlsx"):
            job = load_chill_xlsx(self.cfg.chill_xlsx)
            cat = load_hld_xlsx(self.cfg.hld_xlsx)
        with self.sp("sources", "execute_views"):
            views = execute_views(spark, job.views)
        with self.sp("pipeline", "run_batch"):
            res = pipeline_mod.run_batch(spark, job, cat, self.out, views=views)
        with self.sp("operators.rollup", "ladder"):
            for t in cat.tables.values():
                base = read_fact(spark, res.written[t.name])
                for level, df in build_ladder(base, t).items():
                    write_fact(df, f"{self.out}/{t.name}_{level}")
        with self.sp("pipeline", "transform"):
            expected = pipeline_mod.transform(spark, job, cat, views=views)
        reports = []
        with self.sp("reconcile", "compare_tables"):
            for t in cat.tables.values():
                reports.append(compare_tables(
                    expected.tables[t.name], read_fact(spark, res.written[t.name]),
                    t.name, keys=t.key_fields,
                    counters=[c.db_name for c in t.counters],
                ))
        expected.release()
        with self.sp("report", "junit"):
            report = build_report(reports)
            xml = report.to_xml()
        for v in views.values():
            v.unpersist()
        self.last = (job, cat, res, report, xml)
        ok = report.passed and res.unmatched_rows == self.truth.unroutable_rows
        ok = ok and all(
            res.metrics[t]["rows"] == n for t, n in self.truth.rows.items()
        )
        if not ok:
            self.failures.append("reconcile not clean, or row counts differ")
        return self.truth.raw_rows, ok

    def check(self) -> bool:
        """DY ladder sums and base sums both equal the generator's."""
        _job, cat, res, _rep, _xml = self.last
        for t in cat.tables.values():
            counters = [c.db_name for c in t.counters]
            want = self.truth.sums[t.name]
            for path in (res.written[t.name], f"{self.out}/{t.name}_DY"):
                row = read_fact(self.spark, path).agg(
                    *[F.sum(c).alias(c) for c in counters]).first()
                if not sums_match(row.asDict(), want):
                    self.failures.append(f"sums differ at {path}")
                    return False
        return True

    def probe(self) -> dict:
        """Force successive prefixes: scan -> tags -> transform; the
        differences are the self times of sources, dsl and writers."""
        spark = self.spark
        job, cat, res, _rep, _xml = self.last
        path = f"{job.input_dir}/{job.input_mask}"
        tag_names = sorted({f.tag for f in job.fields if f.source == "tag" and f.tag})
        t0 = time.perf_counter()
        force(scan_csv_preprocessed(spark, path, job, columns=raw_columns(cat)))
        t1 = time.perf_counter()
        force(tag_columns(extract_tags(spark, path, tag_names), tag_names))
        t2 = time.perf_counter()
        views = execute_views(spark, job.views)
        tr = pipeline_mod.transform(spark, job, cat, views=views)
        for df in tr.tables.values():
            force(df)
        t3 = time.perf_counter()
        tr.release()
        for v in views.values():
            v.unpersist()
        scan, tag, derive = t1 - t0, t2 - t1, t3 - t2
        raw = scan_csv_preprocessed(spark, path, job, columns=raw_columns(cat))
        views = execute_views(spark, job.views, cache=False)
        tiers = {}
        for t in cat.tables.values():
            tiers.update(apply_fields(
                raw, job.fields_for(t.name), views=views, filename_col=F.col("_file"),
                tag_cols={n: F.lit("") for n in tag_names},
            ).tiers)
        files, nbytes = 0, 0
        for t in cat.tables.values():
            for d, _dirs, names in os.walk(res.written[t.name]):
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        nbytes += os.path.getsize(os.path.join(d, n))
        return {
            "sources.scan_s": scan,
            "sources.tags_s": tag,
            "sources.files": len(os.listdir(job.input_dir)),
            "sources.rows": sum(m["rows"] for m in res.metrics.values()) + res.unmatched_rows,
            "dsl.tier3_fields": sum(1 for v in tiers.values() if v == 3),
            "pipeline.unmatched_rows": res.unmatched_rows,
            "pipeline.derive_errors": len(res.derive_errors),
            "operators.writers.files_written": files,
            "operators.writers.bytes_written": nbytes,
            "_transform_forced_s": derive,
            "_derive_self_s": derive - scan - tag,
        }


# --------------------------------------------------------------------------
# reconcile_drift
# --------------------------------------------------------------------------


class ReconcileDrift(Workload):
    """Reconcile an already-loaded day: compare_tables (with dim) +
    check_expectations + build_report over a write_fact pair."""

    name = "reconcile_drift"
    layers = ("reconcile", "report")
    SITES, CELLS, PERIODS, DEFECTS = 20, 10, 96, 40

    def setup(self) -> None:
        self.truth = gen.gen_fact_pair(
            self.spark, self.root, self.seed, sites=self.SITES, cells=self.CELLS,
            periods=self.PERIODS, defects=self.DEFECTS,
        )
        self.counters = gen.RECON_COUNTERS + ["STATUS"]

    def frames(self):
        s, t = self.spark, self.truth
        return (read_fact(s, t.expected_path), read_fact(s, t.actual_path),
                s.read.parquet(t.dim_path))

    def op(self) -> tuple[int, bool]:
        expected, actual, dim = self.frames()
        with self.sp("reconcile", "compare_tables"):
            rep = compare_tables(
                expected, actual, "FACT_DAY", keys=gen.RECON_KEYS,
                counters=self.counters, dim=dim, dim_keys=["SITE"],
            )
        with self.sp("reconcile", "check_expectations"):
            results = check_expectations(actual, [
                not_null("SITE", "CELL", "DATETIME"),
                unique("SITE", "CELL", "DATETIME"),
                in_range("C1", 0, 1001),
                ref_integrity(["SITE"], dim),
            ])
        with self.sp("report", "junit"):
            report = build_report([rep])
            report.merge(expectations_report("FACT_DAY", results))
            report.to_xml()
        self.last = (rep, results, report)
        return self.truth.rows, True

    def detected(self) -> tuple[int, bool]:
        """(seeded defects reported, nothing else reported)."""
        t = self.truth
        rep, results, report = self.last
        diffs = {(r[0], r[1], r[2], r[3]) for r in rep.diffs}
        want_diffs = ({k + ("C1",) for k in t.drift_above}
                      | {k + ("STATUS",) for k in t.string_diff})
        conf = {r[0] for r in rep.missing_in_conf}
        found = (
            len(set(rep.missing_oracle_records) & t.missing_in_actual)
            + len(set(rep.missing_raw_data_records) & t.extra_in_actual)
            + len(diffs & want_diffs)
            + (rep.missing_columns == [gen.RECON_DROPPED])
            + len(conf & t.dim_missing_sites)
        )
        viol = {r.name.split("(")[0]: r.violations for r in results}
        exact = (
            set(rep.missing_oracle_records) == t.missing_in_actual
            and set(rep.missing_raw_data_records) == t.extra_in_actual
            and diffs == want_diffs
            and conf == t.dim_missing_sites
            and rep.counts_match
            and viol == {"not_null": 0, "unique": 0, "in_range": 0,
                         "ref": t.dim_missing_rows}
            and not report.passed
        )
        return found, exact

    def check(self) -> bool:
        found, exact = self.detected()
        if not (exact and found == self.truth.seeded):
            self.failures.append(f"reconcile found {found}/{self.truth.seeded}")
            return False
        return True

    def probe(self) -> dict:
        """Each public piece of compare_tables forced alone."""
        expected, actual, dim = self.frames()
        keys = gen.RECON_KEYS + ["DATETIME"]
        usable = [c for c in self.counters if c in actual.columns]
        t0 = time.perf_counter()
        expected.count()
        actual.count()
        t1 = time.perf_counter()
        force(missing_rows(expected, actual, keys))
        force(missing_rows(actual, expected, keys))
        t2 = time.perf_counter()
        force(value_diff(expected, actual, keys, usable))
        t3 = time.perf_counter()
        force(referential_violations(actual, dim, ["SITE"]))
        t4 = time.perf_counter()
        found, _exact = self.detected()
        return {
            "reconcile.counts_s": t1 - t0,
            "reconcile.missing_rows_s": t2 - t1,
            "reconcile.value_diff_s": t3 - t2,
            "reconcile.referential_s": t4 - t3,
            "reconcile.detected_ratio": found / self.truth.seeded,
        }


# --------------------------------------------------------------------------
# stream_intake
# --------------------------------------------------------------------------


class _Progress:
    """StreamingQueryListener collecting per-batch progress."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.events: list[dict] = []
        outer = self

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                outer.events.append({
                    "batch": p.batchId,
                    "start": datetime.strptime(
                        p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ"
                    ).replace(tzinfo=timezone.utc).timestamp(),
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = L()
        spark.streams.addListener(self.listener)


class StreamIntake(Workload):
    """Open-loop file-watch intake: one generator renames a period's
    files into the watched directory on a fixed schedule; an op is one
    file, timed from its scheduled drop to the commit of the
    micro-batch that read it."""

    name = "stream_intake"
    layers = ("operators.incremental", "streaming")
    checks_per_op = False
    NODES, ROWS = 4, 60  # files per period, rows per file
    PERIOD_S = 4.0  # about half the closed-loop capacity on a 4-core box
    LATENCY_LIMIT_S = 8.0
    LEVELS = ["HR", "DY"]

    def setup(self) -> None:
        self.plan = gen.gen_stream_files(
            self.root, self.seed, nodes=self.NODES, n_periods=64,
            rows_per_file=self.ROWS,
        )
        self.next_period = 0
        self.query = None

    def start(self) -> None:
        from chill_spark.streaming import run_stream

        spark = self.spark
        self.job = load_chill_xlsx(self.plan.cfg.chill_xlsx)
        self.cat = load_hld_xlsx(self.plan.cfg.hld_xlsx)
        self.table = next(iter(self.cat.tables.values()))
        self.views = execute_views(spark, self.job.views)
        self.out = os.path.join(self.root, "facts")
        self.ladder = os.path.join(self.root, "ladder")
        self.ckpt = os.path.join(self.root, "ckpt")
        self.progress = _Progress(spark)
        self.query = run_stream(
            spark, self.job, self.cat, out_dir=self.out, checkpoint_dir=self.ckpt,
            columns=raw_columns(self.cat), views=self.views, trigger_seconds=0,
            ladder_root=self.ladder, ladder_levels=self.LEVELS,
        )

    def warm(self) -> None:
        if self.query is None:
            self.start()
        self.run(0.0, max_ops=1)

    def _batches(self) -> tuple[dict[str, int], dict[int, float]]:
        """file basename -> batch id (source log), batch id -> commit time."""
        src = os.path.join(self.ckpt, "sources", "0")
        file_batch: dict[str, int] = {}
        for name in os.listdir(src) if os.path.isdir(src) else []:
            if name.startswith(".") or name.endswith(".crc"):
                continue
            with open(os.path.join(src, name)) as f:
                for line in f:
                    if line.startswith("{"):
                        e = json.loads(line)
                        file_batch[os.path.basename(e["path"])] = e["batchId"]
        commits = {}
        cdir = os.path.join(self.ckpt, "commits")
        for name in os.listdir(cdir) if os.path.isdir(cdir) else []:
            if name.isdigit():
                commits[int(name)] = os.path.getmtime(os.path.join(cdir, name))
        return file_batch, commits

    def run(self, seconds: float, max_ops: int | None = None) -> Measured:
        """Drops periods for ``seconds``, or ``max_ops`` periods."""
        m = Measured()
        drops: list[tuple[str, float, float]] = []  # (file, due, actual)
        t0 = time.time() + 0.05
        k = 0
        with self.sp("op", self.name):
            while True:
                due = t0 + k * self.PERIOD_S
                if k >= max_ops if max_ops is not None else k * self.PERIOD_S >= seconds:
                    break
                time.sleep(max(0.0, due - time.time()))
                actual = time.time()
                for path in self.plan.periods[self.next_period]:
                    name = os.path.basename(path)
                    os.rename(path, os.path.join(self.plan.watch_dir, name))
                    drops.append((name, due, actual))
                self.next_period += 1
                k += 1
            deadline = time.time() + 60
            while True:
                fb, commits = self._batches()
                pending = [d for d in drops if fb.get(d[0]) not in commits]
                if not pending or time.time() > deadline:
                    break
                if self.query.exception() is not None:
                    self.failures.append(str(self.query.exception()))
                    break
                time.sleep(0.02)
        used = {fb[d[0]] for d in drops if d[0] in fb}
        # a batch's progress event reaches the listener just after its commit
        deadline = time.time() + 10
        while (not used <= {e["batch"] for e in self.progress.events}
               and time.time() < deadline):
            time.sleep(0.02)
        batch_start = {e["batch"]: e["start"] for e in self.progress.events}
        done_at = []
        waits = []
        for name, due, actual in drops:
            m.attempted += 1
            b = fb.get(name)
            if b not in commits:
                m.failed += 1
                continue
            lat = commits[b] - due
            m.lat.append(lat)
            done_at.append(commits[b])
            if b in batch_start:
                waits.append(batch_start[b] - actual)
            if lat > self.LATENCY_LIMIT_S:
                m.failed += 1
            else:
                m.records += self.plan.rows_per_file
        if drops and done_at:
            m.busy_s = max(done_at) - drops[0][1]
        evs = [e for e in self.progress.events if e["batch"] in used and e["rows"] > 0]
        m.extra = {
            "gen_lag": [a - d for _n, d, a in drops],
            "queue_wait": waits,
            "add_batch": [e["ms"].get("addBatch", 0) / 1000 for e in evs],
            "overhead": [(e["ms"].get("triggerExecution", 0) - e["ms"].get("addBatch", 0)) / 1000
                         for e in evs],
            "files_per_batch": [sum(1 for d in drops if fb.get(d[0]) == b) for b in used],
            "batches": len(used),
        }
        return m

    def check(self) -> bool:
        """Streamed facts reconcile clean against transform over the
        same files, and the ladder windows equal build_ladder on the
        final base."""
        spark, t = self.spark, self.table
        base_path = f"{self.out}/{t.name}_{t.base_granularity}"
        expected = pipeline_mod.transform(spark, self.job, self.cat, views=self.views)
        counters = [c.db_name for c in t.counters]
        reps = [compare_tables(expected.tables[t.name], read_fact(spark, base_path),
                               t.name, keys=t.key_fields, counters=counters)]
        expected.release()
        want = build_ladder(read_fact(spark, base_path), t, levels=self.LEVELS)
        for g, df in want.items():
            reps.append(compare_tables(df, read_fact(spark, f"{self.ladder}/{t.name}_{g}"),
                                       f"{t.name}_{g}", keys=t.key_fields, counters=counters))
        bad = [r.table for r in reps if not r.clean]
        if bad:
            self.failures.append(f"stream output differs: {bad}")
        return not bad

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query.awaitTermination()
            self.spark.streams.removeListener(self.progress.listener)
            self.query = None


# --------------------------------------------------------------------------
# corpus_prep
# --------------------------------------------------------------------------


class CorpusPrep(Workload):
    """llm_ops.prep.corpus_prep(bench=...) forced to a parquet write."""

    name = "corpus_prep"
    layers = ("llm_ops",)
    warm_ops = 2  # the second op still runs ~15% slower than the third
    DOCS = 1000
    BUDGET = 512

    def setup(self) -> None:
        self.truth = gen.gen_corpus(self.spark, self.root, self.seed, n_docs=self.DOCS)
        self.out = os.path.join(self.root, "prepped")
        self.first_hash = None

    def frames(self):
        return (self.spark.read.parquet(self.truth.docs_path),
                self.spark.read.parquet(self.truth.bench_path))

    def op(self) -> tuple[int, bool]:
        from chill_spark.llm_ops.prep import corpus_prep

        docs, bench = self.frames()
        with self.sp("llm_ops", "corpus_prep"):
            corpus_prep(docs, "text", "doc_id", "source", bench=bench,
                        budget=self.BUDGET).write.mode("overwrite").parquet(self.out)
        return self.truth.n_docs, True

    def check(self) -> bool:
        pdf = self.spark.read.parquet(self.out).toPandas().sort_values("doc_id")
        ids = set(pdf["doc_id"].tolist())
        problems = []
        if not ids or not ids <= self.truth.ids:
            problems.append("survivors are not a subset of the input")
        if any(len(ids.intersection(g)) > 1 for g in self.truth.dup_groups):
            problems.append("an exact duplicate survived")
        h = hashlib.sha256(
            pdf[["doc_id", "source", "split", "n_tok", "seq_id"]]
            .to_csv(index=False).encode()).hexdigest()
        if self.first_hash is None:
            self.first_hash = h
        elif h != self.first_hash:
            problems.append("output differs between ops")
        # packing: every train doc starts inside its sequence's budget window
        train = pdf[pdf["split"] == "train"]
        for _src, g in train.groupby("source"):
            off = g["n_tok"].cumsum() - g["n_tok"]
            if not ((off // self.BUDGET) == g["seq_id"]).all():
                problems.append("packed offsets overflow a sequence budget")
                break
        self.last_pdf = pdf
        self.failures.extend(problems)
        # corpus_prep keeps its stage outputs cached across calls, and a
        # repeat call on the same input plans identically and hits that
        # cache. Real runs see a new corpus each time, so every op starts
        # from an empty cache.
        self.spark.catalog.clearCache()
        return not problems

    def probe(self) -> dict:
        """The prep.py stages, each forced on the previous stage's
        persisted output."""
        from chill_spark.llm_ops.chunking import distributed_running_offset
        from chill_spark.llm_ops.dedup import dedup_exact
        from chill_spark.llm_ops.sampling import assign_split
        from chill_spark.llm_ops.substring import (
            apply_span_removal,
            benchmark_overlap_spans,
            remove_spans,
        )
        from chill_spark.llm_ops.text import with_repetition_stats

        docs, bench = self.frames()
        cur = docs.select("doc_id", "source", "text")
        held = []
        times = {}

        def stage(name, df):
            with self.sp("llm_ops", name):
                t0 = time.perf_counter()
                df = df.persist()
                df.count()
                times[f"llm_ops.{name}_s"] = time.perf_counter() - t0
            held.append(df)
            return df

        spans0 = benchmark_overlap_spans(cur, bench, "text", "doc_id", 8)
        scrubbed = stage("scrub", apply_span_removal(cur, spans0, "text", "doc_id"))
        cur = cur.select("doc_id", "source").join(scrubbed, "doc_id").withColumnRenamed(
            "cleaned", "text")
        cleaned = stage("selfdedup", remove_spans(cur, "text", "doc_id", 8))
        cur = cur.select("doc_id", "source").join(cleaned, "doc_id").withColumnRenamed(
            "cleaned", "text")
        filtered = stage("quality", with_repetition_stats(cur, "text").filter(
            (F.col("n_tok") >= 30) & (F.col("rep_ratio") < 0.2)))
        deduped = stage("exact_dedup", dedup_exact(filtered, "text", "doc_id"))
        split = stage("split", assign_split(deduped, "doc_id"))
        with_tok = split.select("doc_id", "source", "split", "n_tok").withColumn(
            "__train_tok", F.when(F.col("split") == "train", F.col("n_tok")).otherwise(0))
        with self.sp("llm_ops", "pack"):
            t0 = time.perf_counter()
            force(distributed_running_offset(
                with_tok, "doc_id", "__train_tok", ["source", "split"], "__off"))
            times["llm_ops.pack_s"] = time.perf_counter() - t0
        for df in held:
            df.unpersist()
        pdf = self.last_pdf
        train = pdf[pdf["split"] == "train"]
        seqs = train.groupby(["source", "seq_id"]).ngroups
        times["llm_ops.survivor_ratio"] = len(pdf) / self.truth.n_docs
        times["llm_ops.pack_fill_ratio"] = (
            float(train["n_tok"].sum()) / (seqs * self.BUDGET) if seqs else 0.0)
        return times


WORKLOADS = {w.name: w for w in (EtlVerify, ReconcileDrift, StreamIntake, CorpusPrep)}

# Eager functions wrapped at the module attribute their caller looks up.
WRAPS = [
    (pipeline_mod, "apply_fields", "dsl"),
    (pipeline_mod, "write_fact", "operators.writers"),
    (incremental_mod, "maintain_ladder_increment", "operators.incremental"),
]
