"""Persisted product-quantization ANN index — train once, serve many.

``pq.py`` trains codebooks and answers a query in one pass; at 100 TB
that shape is wrong for serving — training is a multi-job Lloyd run
over the corpus and must never repeat per query. This module gives the
PQ/IVF-PQ index the same store lifecycle the sketch and embedding
dedup stores already have (``incremental_dedup`` /
``incremental_embedding``): build the index once, persist codebooks +
codes (+ coarse cell assignments), answer any number of queries from
the persisted artifacts, and encode NEW vectors incrementally with the
stored codebooks instead of retraining.

Store layout (any Hadoop-readable filesystem, via ``storefs``)::

  <root>/_meta.json   {dim, m, k, iters, cells, version}
  <root>/books/       parquet (j int, cid int, c array<double>)
                      j in [0, m): PQ subspace codebooks
                      j = -1:      IVF coarse centroids (cells > 0)
  <root>/codes/BATCH_PART=<b>/[cell=<c>/]
                      parquet (<id_col>, c0..c{m-1})

Scale shape:

- **books/** is the model: m*k rows of dim/m doubles (k*dim floats
  total) — driver-bounded by construction, loaded with one collect and
  re-broadcast to score queries. The corpus never reappears at
  training time.
- **codes/** is the serving table: m small ints per vector (1 byte
  each at k<=256 in parquet's dictionary encoding) instead of dim
  floats. With ``cells > 0`` it is hive-partitioned by the coarse
  cell, so a probe reads only ``nprobe/cells`` of the corpus —
  PartitionFilters at planning time, no data touched outside probed
  cells (plan-gated in tests).
- **append** (``pq_store_append``) encodes an increment with the
  STORED codebooks — one map-only executor pass, no shuffle, no
  retrain — and lands it under a fresh ``BATCH_PART`` leaf (the same
  batch-keyed layout the streaming intakes use, so dynamic partition
  overwrite keeps replayed appends idempotent).
- **replays**: a re-sent id is resolved at read time, newest batch
  wins (``max_by`` over ``BATCH_PART`` — one code-width shuffle on
  the id), same new-vector-wins contract as the embedding store.
  Caveat: with ``cells > 0`` a re-encoded vector that MOVED cells is
  only shadowed inside probed cells; run ``compact_pq_store`` after
  replay-heavy ingestion to collapse history globally.
- **compaction** (``compact_pq_store``) collapses the batch leaves to
  one ``BATCH_PART=-1`` leaf with replays resolved, using the shared
  atomic-rename / marker-staged swap protocols (``storefs.swap_dir``)
  and heal-on-entry. Sealed-store contract: compact only while no
  writer is appending.

Reference parity: no counterpart in the reference (its state lives
beside input files on one node, Partrans.py:33-60); this is the added
LLM-pipeline serving surface on top of ``llm_ops.pq``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.writers import BATCH_COL
from .pq import _books_df, ivfpq_train, pq_train
from .storefs import (
    StoreFS,
    heal_swap,
    read_store_json,
    rename_is_atomic,
    swap_dir,
    write_store_json,
)

#: hive partition column for the IVF cell (NOT ``__``-prefixed —
#: Spark's file listing hides ``_``/``.``-prefixed directory names,
#: so a ``__cell=3`` partition directory would be invisible).
CELL_COL = "cell"

STORE_VERSION = 1


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def _usable_vectors(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Drop rows whose vector is NULL or the wrong dimension before
    they reach training or encode: a NULL vector crashes pq_train's
    driver-side seeding, and a wrong-dim vector would be persisted
    with meaningless/NULL codes that then poison every ADC scan —
    the exact hazard run_pq_stream quarantines on the streaming
    intake; the batch build/append paths enforce the same contract
    by filtering (the batch caller owns its reject channel)."""
    return df.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == F.lit(dim))
    )


def write_pq_store(
    emb: DataFrame,
    root: str,
    dim: int,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    cells: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict:
    """Train a PQ (``cells=0``) or IVF-PQ (``cells>0``) index over
    ``emb`` and persist it under ``root`` (overwriting any previous
    index there, including stale append leaves — a rebuild under old
    codebooks' codes would silently mis-rank). Returns the meta dict.

    Training is the engine-portable joint Lloyd run of ``llm_ops.pq``
    (md5-seeded, means rounded to 9), so an external SQL oracle can
    re-derive every codebook from the same training frame — which is
    what makes a store-served answer hash-checkable
    (queries.q_ann_pq_stored)."""
    spark = emb.sparkSession
    emb = _usable_vectors(emb, vec_col, dim)
    # no head(1) pre-flight: the trainers' seed collect is the same
    # corpus scan and raises the empty-corpus error itself — one
    # fewer job per store build (r12: ~0.3 s of fixed cost on every
    # in-query build)
    fs = StoreFS(root, spark)
    for side in ("books", "codes"):
        _heal_pq_side(fs, root, side)
    coarse: np.ndarray | None = None
    if cells > 0:
        coarse, books = ivfpq_train(
            emb, dim=dim, cells=cells, m=m, k=k, iters=iters,
            vec_col=vec_col, id_col=id_col,
        )
    else:
        books = pq_train(
            emb, dim=dim, m=m, k=k, iters=iters,
            vec_col=vec_col, id_col=id_col,
        )
    # fail closed: the old sides go only once training has returned
    # (the books are driver-side arrays), so an empty, all-null or
    # wrong-dim corpus raises above and leaves a healthy store usable
    for side in ("books", "codes"):
        fs.delete(f"{root}/{side}")
    _write_books(spark, root, books, coarse)
    codes = _encode_with_books(emb, books, coarse, vec_col, id_col)
    (
        codes.write.mode("overwrite")
        .partitionBy(*([CELL_COL] if coarse is not None else []))
        .parquet(f"{root}/codes/{BATCH_COL}=-1")
    )
    meta = {
        "dim": dim, "m": m, "k": k, "iters": iters, "cells": cells,
        "id_col": id_col, "version": STORE_VERSION,
    }
    write_store_json(root, meta, spark=spark)
    return meta


def _write_books(
    spark: SparkSession,
    root: str,
    books: list[np.ndarray],
    coarse: np.ndarray | None,
) -> None:
    rows = [
        (j, int(cid), [float(x) for x in c])
        for j, bk in enumerate(books)
        for cid, c in enumerate(bk)
    ]
    if coarse is not None:
        rows += [(-1, int(cid), [float(x) for x in c])
                 for cid, c in enumerate(coarse)]
    from ..session import local_frame

    (
        local_frame(spark, rows, "j int, cid int, c array<double>")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{root}/books")
    )


def _encode_with_books(
    emb: DataFrame,
    books: list[np.ndarray],
    coarse: np.ndarray | None,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """(id, c0..c{m-1}[, cell]) — one executor-side Arrow pass
    (pq.pq_encode's vectorized kernel, plus the coarse-cell argmin as
    one more full-vector book when the index is IVF-PQ). No shuffle;
    every argmin is the bit-exact sequential fold."""
    from .vecassign import pq_codes_col

    sub = books[0].shape[1]
    m = len(books)
    all_books = list(books)
    slices = [(j * sub + 1, sub) for j in range(m)]
    names = [f"c{j}" for j in range(m)]
    if coarse is not None:
        all_books.append(coarse)
        slices.append((1, int(coarse.shape[1])))
        names.append(CELL_COL)
    tmp = "__pq_codes"
    return emb.withColumn(
        tmp, pq_codes_col(vec_col, all_books, slices, names)
    ).select(id_col, *[F.col(f"{tmp}.{nm}").alias(nm) for nm in names])


# ---------------------------------------------------------------------------
# read
# ---------------------------------------------------------------------------

def check_pq_meta(root: str, spark: SparkSession | None = None,
                  **expect) -> dict:
    """Load the store meta, failing fast when absent or when any
    ``expect``-ed parameter mismatches — codes encoded under different
    codebooks would silently mis-rank (the same zero-recall contract
    as the sketch stores' plane-family check)."""
    meta = read_store_json(root, spark=spark)
    if meta is None:
        raise FileNotFoundError(f"no PQ store at {root} (missing _meta.json)")
    from .storefs import note_store_participation

    note_store_participation(root, "codes")
    bad = {kk: (meta.get(kk), vv) for kk, vv in expect.items()
           if meta.get(kk) != vv}
    if bad:
        raise ValueError(
            f"PQ store at {root} was built with "
            f"{ {kk: mv for kk, (mv, _) in bad.items()} }, but this run "
            f"expects { {kk: ev for kk, (_, ev) in bad.items()} } — "
            "codes under mismatched codebooks mis-rank silently; "
            "rebuild the store or align the parameters"
        )
    return meta


def read_pq_books(
    spark: SparkSession, root: str, meta: dict | None = None
) -> tuple[list[np.ndarray], np.ndarray | None, dict]:
    """(pq_books, coarse_or_None, meta). One collect of m*k (+cells)
    model rows — driver-bounded by construction."""
    if meta is None:
        meta = check_pq_meta(root, spark)
    m, k = int(meta["m"]), int(meta["k"])
    rows = spark.read.parquet(f"{root}/books").collect()
    sub = int(meta["dim"]) // m
    books = [np.zeros((k, sub)) for _ in range(m)]
    coarse = (
        np.zeros((int(meta["cells"]), int(meta["dim"])))
        if int(meta.get("cells", 0)) > 0 else None
    )
    for r in rows:
        if r["j"] >= 0:
            books[r["j"]][r["cid"]] = r["c"]
        else:
            coarse[r["cid"]] = r["c"]
    return books, coarse, meta


def read_pq_codes(
    spark: SparkSession,
    root: str,
    meta: dict | None = None,
    resolve_replays: bool = True,
    cells: list[int] | None = None,
) -> DataFrame:
    """The serving table ``(<id_col>, c0..c{m-1}[, cell])``.

    ``resolve_replays=True`` (default) resolves a re-sent id to its
    newest batch's codes (``max_by`` over ``BATCH_PART`` — one
    code-width shuffle keyed on the id). Pass ``False`` when appends
    are known id-disjoint (or after ``compact_pq_store``) to keep the
    read shuffle-free — the scan + ADC then stays one map-only stage.

    ``cells`` restricts the read to the given IVF cells BELOW the
    replay resolution, i.e. as a planning-time PartitionFilters on
    the hive ``cell`` column. Filtering the resolved frame instead
    would sit ABOVE the ``max_by`` aggregate — Catalyst cannot push a
    non-grouping-column predicate through it, so every probe would
    scan and shuffle the FULL corpus (caught by the bench serve-plan
    gate). Pruning first means a replayed vector that MOVED cells is
    only shadowed inside probed cells — the documented store caveat
    (compact after replay-heavy ingestion)."""
    if meta is None:
        meta = check_pq_meta(root, spark)
    m = int(meta["m"])
    id_col = meta.get("id_col", "vec_id")
    df = spark.read.parquet(f"{root}/codes")
    if cells is not None:
        df = df.filter(F.col(CELL_COL).isin([int(c) for c in cells]))
    payload = [f"c{j}" for j in range(m)]
    if int(meta.get("cells", 0)) > 0:
        payload.append(CELL_COL)
    if not resolve_replays:
        return df.select(id_col, *payload)
    return (
        df.groupBy(id_col)
        .agg(F.max_by(F.struct(*payload), F.col(BATCH_COL)).alias("__s"))
        .select(id_col, *[F.col(f"__s.{c}").alias(c) for c in payload])
    )


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

def pq_store_topk(
    spark: SparkSession,
    root: str,
    query_vec,
    n: int = 10,
    nprobe: int = 2,
    where: Column | None = None,
    resolve_replays: bool = True,
) -> DataFrame:
    """Top-``n`` by asymmetric PQ distance, answered ENTIRELY from the
    persisted index — no training jobs, no vector column read.

    Per query: load the books (one bounded collect, cacheable across
    queries by the caller), build the m per-subspace LUTs driver-side,
    and rank ``round(sum_j lut_j[c_j], 9)`` with a TakeOrdered heap.
    For an IVF-PQ store the ``nprobe`` nearest cells are chosen
    driver-side from the coarse centroids and pushed as a partition
    filter — the scan touches only probed cells' files. ``where``
    filters code rows before ranking (e.g. excluding the query's own
    id) so the heap returns ``n`` qualifying rows.

    Returns ``(<id_col>, approx_d2)``."""
    from .pq import pq_adc_topk

    books, coarse, meta = read_pq_books(spark, root)
    q = np.asarray(query_vec, dtype=np.float64)
    probe_cells = None
    if coarse is not None:
        cell_d = np.round(((coarse - q) ** 2).sum(axis=1), 9)
        probed = sorted(range(len(coarse)), key=lambda c: (cell_d[c], c))
        probe_cells = [int(c) for c in probed[:nprobe]]
    # the probe rides INTO the read (PartitionFilters below the replay
    # resolution), never as a post-resolve filter — see read_pq_codes
    codes = read_pq_codes(spark, root, meta, resolve_replays,
                          cells=probe_cells)
    if where is not None:
        codes = codes.filter(where)
    return pq_adc_topk(codes, books, q, n=n,
                       id_col=meta.get("id_col", "vec_id"))


def pq_store_topk_batch(
    spark: SparkSession,
    root: str,
    queries: DataFrame,
    n: int = 10,
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    nprobe: int = 2,
    exclude_self: bool = True,
    resolve_replays: bool = True,
) -> DataFrame:
    """Batch ANN from the persisted index: EVERY query row answered in
    ONE scan of the codes table (the serving shape for offline kNN —
    per-query scans would read the corpus Q times).

    The query set is collected driver-side (the broadcast-query-set
    contract of ``similarity.topk_join`` — for huge query sets,
    partition both sides by IVF cell instead) and turned into per-
    query LUT rows (m arrays of k floats each, rounded to 9): a
    Q-row broadcast table joined against the codes scan, scored by m
    ``element_at`` lookups, ranked per query with a window. For an
    IVF-PQ store the scan is pruned to the UNION of all queries'
    probed cells (planning-time partition filter) and each (row,
    query) pair additionally checks membership in THAT query's probed
    cells. ``exclude_self`` drops corpus rows whose id equals the
    query id (self-matches rank first and waste a result slot).

    Returns ``(q_id, <id_col>, approx_d2)``, ``n`` rows per query."""
    from pyspark.sql.window import Window

    books, coarse, meta = read_pq_books(spark, root)
    id_col = meta.get("id_col", "vec_id")
    m, sub = len(books), books[0].shape[1]
    qrows = queries.select(
        F.col(q_id_col).alias("__qid"),
        F.col(q_vec_col).cast("array<double>").alias("__qv"),
    ).collect()
    lut_rows = []
    union_cells: set[int] = set()
    for r in qrows:
        q = np.asarray(r["__qv"], dtype=np.float64)
        luts = [
            [round(float(((q[j * sub:(j + 1) * sub] - c) ** 2).sum()), 9)
             for c in bk]
            for j, bk in enumerate(books)
        ]
        probed: list[int] = []
        if coarse is not None:
            cell_d = np.round(((coarse - q) ** 2).sum(axis=1), 9)
            probed = sorted(range(len(coarse)),
                            key=lambda c: (cell_d[c], c))[:nprobe]
            union_cells.update(int(c) for c in probed)
        lut_rows.append((r["__qid"], *luts, [int(c) for c in probed]))
    q_id_type = queries.schema[q_id_col].dataType.simpleString()
    lut_schema = (f"q_id {q_id_type}, "
                  + ", ".join(f"lut{j} array<double>" for j in range(m))
                  + ", probe_cells array<int>")
    from ..session import local_frame

    lut_df = local_frame(spark, lut_rows, lut_schema)

    codes = read_pq_codes(
        spark, root, meta, resolve_replays,
        # union of all queries' probes as PartitionFilters, below the
        # replay resolution — see read_pq_codes
        cells=sorted(union_cells) if coarse is not None else None,
    )
    scored = codes.crossJoin(F.broadcast(lut_df))
    if coarse is not None:
        scored = scored.filter(
            F.array_contains(F.col("probe_cells"), F.col(CELL_COL))
        )
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col("q_id"))
    return _adc_rank_per_query(scored, m, id_col, n)


def _adc_rank_per_query(
    scored: DataFrame, m: int, id_col: str, n: int
) -> DataFrame:
    """Shared batch-serving tail: ADC score = m ``element_at`` lookups
    into that row's query LUTs, then an independent top-``n`` per
    query (ties by id). One shuffle keyed on ``q_id``."""
    from pyspark.sql.window import Window

    score = None
    for j in range(m):
        term = F.element_at(F.col(f"lut{j}"), F.col(f"c{j}") + 1)
        score = term if score is None else score + term
    w = Window.partitionBy("q_id").orderBy(
        F.round(score, 9).asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("approx_d2", F.round(score, 9))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .select("q_id", id_col, "approx_d2")
    )


def pq_store_topk_join(
    spark: SparkSession,
    root: str,
    queries: DataFrame,
    n: int = 10,
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    nprobe: int = 2,
    exclude_self: bool = True,
    resolve_replays: bool = True,
) -> DataFrame:
    """Batch ANN for HUGE query sets: the query TABLE never touches
    the driver. Where ``pq_store_topk_batch`` collects the queries
    into a broadcast LUT table (the right call up to broadcast size),
    this variant keeps everything distributed — the offline "join a
    100M-row query table against the index" shape:

    1. one map-only pass over ``queries`` against the broadcast
       codebooks computes, PER QUERY ROW, its m LUT arrays
       (``transform`` over the codebook struct-arrays — entries land
       in cid order because ``_books_df`` enumerates them that way)
       and its ``nprobe`` nearest coarse cells (``array_sort`` on
       (d2, cid) structs — same tie rule as the driver-side probe);
    2. queries explode to one row per probed cell and EQUI-JOIN the
       codes table on the cell — the IVF cell is the blocking key, so
       each query row meets only its probed cells' codes (shuffle
       keyed on the cell, or a broadcast of the query side when it is
       small; Catalyst/AQE picks);
    3. the shared ADC tail ranks top-``n`` per query.

    Requires an IVF-PQ store (``cells > 0``): a flat PQ store has no
    blocking key — every query would meet every code row, which is
    the quadratic shape this function exists to avoid; use
    ``pq_store_topk_batch`` (broadcast queries) there instead.

    Returns ``(q_id, <id_col>, approx_d2)``, ``n`` rows per query."""
    books, coarse, meta = read_pq_books(spark, root)
    if coarse is None:
        raise ValueError(
            "pq_store_topk_join needs an IVF-PQ store (cells > 0): "
            "without a coarse cell there is no blocking key and the "
            "query-codes join degenerates to Q x N — use "
            "pq_store_topk_batch for a flat PQ store"
        )
    id_col = meta.get("id_col", "vec_id")
    m, sub = len(books), books[0].shape[1]

    def _d2(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def _lut_entry(sv: Column):
        # factory, not an inline 2-arg lambda: F.transform would read
        # a second lambda argument as the element INDEX
        def entry(e: Column) -> Column:
            return F.round(_d2(sv, e["c"]), 9)

        return entry

    def _cell_dist(qv: Column):
        def entry(e: Column) -> Column:
            return F.struct(
                F.round(_d2(qv, e["c"]), 9).alias("d"),
                e["cid"].alias("cid"),
            )

        return entry

    qv = F.col("__qv")
    lut_cols = [
        F.transform(F.col(f"__cmat{j}"),
                    _lut_entry(F.slice(qv, j * sub + 1, sub)))
        .alias(f"lut{j}")
        for j in range(m)
    ]
    # lexicographic struct sort = (d, cid) — ties to the smaller cid,
    # matching the driver-side probe choice exactly
    probe_cells = F.transform(
        F.slice(
            F.array_sort(F.transform(F.col(f"__cmat{m}"), _cell_dist(qv))),
            1, nprobe,
        ),
        lambda s: s["cid"],
    )
    qcells = (
        queries.select(
            F.col(q_id_col).alias("q_id"),
            F.col(q_vec_col).cast("array<double>").alias("__qv"),
        )
        .crossJoin(F.broadcast(_books_df(spark, list(books) + [coarse])))
        .select("q_id", *lut_cols,
                F.explode(probe_cells).alias(CELL_COL))
    )
    codes = read_pq_codes(spark, root, meta, resolve_replays)
    scored = codes.join(qcells, CELL_COL)
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col("q_id"))
    return _adc_rank_per_query(scored, m, id_col, n)


# ---------------------------------------------------------------------------
# append / compact
# ---------------------------------------------------------------------------

def pq_store_append(
    new_emb: DataFrame,
    root: str,
    vec_col: str = "embedding",
    batch_id: int | None = None,
) -> int:
    """Encode an increment with the STORED codebooks — no retraining,
    one map-only pass — and append it under a fresh ``BATCH_PART``
    leaf (``batch_id=None`` picks max existing + 1; pass an explicit
    id from a streaming maintainer to get idempotent replays via
    dynamic partition overwrite). Returns the batch id used.

    Codebooks are frozen at build time by design: PQ serving requires
    every code in the store to decode against the same books, and
    codebook drift is handled by periodic REBUILD (write_pq_store),
    not by per-append retraining — the same train-once contract as
    the embedding store's plane family."""
    spark = new_emb.sparkSession
    meta = check_pq_meta(root, spark)
    books, coarse, _ = read_pq_books(spark, root, meta)
    id_col = meta.get("id_col", "vec_id")
    new_emb = _usable_vectors(new_emb, vec_col, int(meta["dim"]))
    if batch_id is None:
        fs = StoreFS(root, spark)
        existing = [
            int(name.split("=", 1)[1])
            for name in fs.list_dirs(f"{root}/codes")
            if name.startswith(f"{BATCH_COL}=")
        ]
        batch_id = (max(existing) + 1) if existing else 0
    codes = _encode_with_books(new_emb, books, coarse, vec_col, id_col)
    (
        codes.withColumn(BATCH_COL, F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BATCH_COL,
                     *([CELL_COL] if coarse is not None else []))
        .parquet(f"{root}/codes")
    )
    return int(batch_id)


def pq_store_footprint(spark: SparkSession, root: str) -> dict:
    """Staleness accounting for the frozen-codebook contract: appends
    encode under the BUILD's books, so recall degrades silently as
    the appended fraction grows — "rebuild now" needs a measured X.
    One scan grouped by the batch leaf (row counts only, no payload
    columns read):

    ``{"rows_total", "rows_built", "rows_appended",
       "appended_fraction", "n_append_batches"}``

    rows are COUNTED per leaf (a replayed id contributes to both its
    build and append leaves — the bytes the serve path actually
    scans; run ``compact_pq_store`` to fold history)."""
    check_pq_meta(root, spark)
    per = {
        int(r[BATCH_COL]): int(r["n"])
        for r in spark.read.parquet(f"{root}/codes")
        .groupBy(BATCH_COL).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    built = sum(n for b, n in per.items() if b < 0)
    appended = sum(n for b, n in per.items() if b >= 0)
    total = built + appended
    return {
        "rows_total": total,
        "rows_built": built,
        "rows_appended": appended,
        "appended_fraction": round(appended / total, 6) if total else 0.0,
        "n_append_batches": sum(1 for b in per if b >= 0),
    }


def pq_store_recall_canary(
    spark: SparkSession,
    root: str,
    emb: DataFrame,
    sample: int = 4,
    topk: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@``topk`` of the stored index against exact ground truth
    on a deterministic ``sample`` of held-out queries — the measured
    side of the rebuild decision (``pq_store_footprint`` is the cheap
    side). Query choice is the md5-smallest-id rule (engine-portable,
    same as Lloyd seeding), so an external oracle can replay it. The
    exact leg is queries x corpus — the documented eval-rail shape:
    run it on a SAMPLE, never the full query load.

    Returns ``(q_id, n_hits, recall_at_k)``, one row per canary."""
    qset = (
        emb.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).cast("array<double>").alias("q_vec"),
        )
        .orderBy(F.md5(F.col("q_id").cast("string")), "q_id")
        .limit(sample)
    )
    adc = pq_store_topk_batch(
        spark, root, qset, n=topk, nprobe=nprobe
    ).select("q_id", F.col(id_col).alias("cand_id"))
    from pyspark.sql.window import Window

    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"), F.col("q_vec"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    ex = (
        emb.join(F.broadcast(qset), F.col(id_col) != F.col("q_id"))
        .select("q_id", id_col, F.round(d2, 6).alias("d2"))
    )
    wq = Window.partitionBy("q_id")
    exact = (
        ex.withColumn(
            "rn",
            F.row_number().over(wq.orderBy(F.col("d2").asc(),
                                           F.col(id_col).asc())),
        )
        .filter(F.col("rn") <= topk)
        .select("q_id", F.col(id_col).alias("cand_id"))
    )
    return (
        exact.join(adc.withColumn("hit", F.lit(1)),
                   ["q_id", "cand_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count("hit").alias("n_hits"),
            F.round(F.count("hit") / F.lit(topk), 6)
            .cast("double").alias("recall_at_k"),
        )
    )


def pq_store_health(
    spark: SparkSession,
    root: str,
    emb: DataFrame | None = None,
    sample: int = 4,
    topk: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The store health report: footprint staleness (always) plus the
    recall canary (when the corpus ``emb`` is supplied). One row per
    canary query — or a single footprint row when ``emb`` is None —
    with the footprint repeated as columns so the report reads as one
    frame:

    ``(q_id, n_hits, recall_at_k, rows_total, rows_appended,
       appended_fraction)``"""
    fp = pq_store_footprint(spark, root)
    fp_cols = [
        F.lit(fp["rows_total"]).cast("long").alias("rows_total"),
        F.lit(fp["rows_appended"]).cast("long").alias("rows_appended"),
        F.lit(fp["appended_fraction"]).cast("double")
        .alias("appended_fraction"),
    ]
    if emb is None:
        return spark.range(1).select(
            F.lit(None).cast("long").alias("q_id"),
            F.lit(None).cast("long").alias("n_hits"),
            F.lit(None).cast("double").alias("recall_at_k"),
            *fp_cols,
        )
    return pq_store_recall_canary(
        spark, root, emb, sample=sample, topk=topk, nprobe=nprobe,
        vec_col=vec_col, id_col=id_col,
    ).select("q_id", "n_hits", "recall_at_k", *fp_cols)


def pq_store_rebuild_decision(
    spark: SparkSession,
    root: str,
    emb: DataFrame | None = None,
    max_appended_fraction: float = 0.25,
    min_recall: float = 0.8,
    sample: int = 4,
    topk: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict:
    """Turn the health report into an actionable verdict — the
    measured "rebuild when X" the footprint/canary pair exists for.
    Cheap side always runs (appended fraction from leaf counts);
    the recall canary runs only when the corpus ``emb`` is supplied.
    Returns the footprint dict plus ``{"rebuild": bool, "reasons":
    [...], "mean_recall": float | None}`` — reasons name the exact
    threshold crossed, so the decision is auditable."""
    fp = pq_store_footprint(spark, root)
    reasons: list[str] = []
    if fp["appended_fraction"] > max_appended_fraction:
        reasons.append(
            f"appended_fraction {fp['appended_fraction']} > "
            f"{max_appended_fraction}"
        )
    mean_recall = None
    if emb is not None:
        rows = pq_store_recall_canary(
            spark, root, emb, sample=sample, topk=topk, nprobe=nprobe,
            vec_col=vec_col, id_col=id_col,
        ).collect()
        if rows:
            mean_recall = round(
                sum(r["recall_at_k"] for r in rows) / len(rows), 6
            )
            if mean_recall < min_recall:
                reasons.append(f"mean_recall {mean_recall} < {min_recall}")
    return {
        **fp,
        "mean_recall": mean_recall,
        "rebuild": bool(reasons),
        "reasons": reasons,
    }


def pq_store_rebuild(
    spark: SparkSession,
    root: str,
    emb: DataFrame,
    force: bool = False,
    max_appended_fraction: float = 0.25,
    min_recall: float | None = None,
    sample: int = 4,
    topk: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
) -> dict:
    """Conditional retrain: if the decision fires (or ``force``),
    retrain + re-encode the CURRENT corpus under the store's own
    recorded geometry (dim/m/k/iters/cells from ``_meta.json``) via
    ``write_pq_store`` — all append leaves fold into a fresh build
    whose codebooks reflect the drifted distribution. The corpus of
    record must come from the caller: the codes table holds codes,
    not vectors, so a store can never rebuild itself.

    ``min_recall=None`` skips the canary (footprint-only decision —
    the cheap scheduled-maintenance mode); passing a threshold runs
    it against ``emb``. Returns the decision dict plus ``action``
    ("rebuilt" | "kept")."""
    meta = check_pq_meta(root, spark)  # loud error on a non-store
    decision = pq_store_rebuild_decision(
        spark, root,
        emb=emb if min_recall is not None else None,
        max_appended_fraction=max_appended_fraction,
        min_recall=min_recall if min_recall is not None else 0.0,
        sample=sample, topk=topk, nprobe=nprobe,
        vec_col=vec_col, id_col=meta.get("id_col", "vec_id"),
    )
    if not (force or decision["rebuild"]):
        return {**decision, "action": "kept"}
    write_pq_store(
        emb, root,
        dim=meta["dim"], m=meta["m"], k=meta["k"],
        iters=meta.get("iters", 2), cells=meta.get("cells", 0),
        vec_col=vec_col, id_col=meta.get("id_col", "vec_id"),
    )
    return {**decision, "action": "rebuilt"}


def _heal_pq_side(fs: StoreFS, root: str, side: str) -> None:
    heal_swap(
        fs,
        live=f"{root}/{side}",
        tmp=f"{root}/{side}__compacting",
        aside=f"{root}/{side}__old",
        marker=f"{root}/{side}__COMMIT",
    )


def pq_store_forget(
    spark: SparkSession,
    root: str,
    ids: list,
) -> dict:
    """Right-to-be-forgotten for the ANN index: physically remove the
    given ids' codes from EVERY batch leaf (a compliance delete must
    reach derived stores, not just the source corpus — and under the
    newest-batch-wins replay rule only removing every copy removes
    the vector). Mirrors ``operators.forget.forget_keys``:

    - locate: one scan with the id predicate pushed to parquet
      (row-group stats skip untouched files), reading only the id and
      partition columns;
    - leaves whose every row is forgotten are DELETED as directories;
    - partially-touched batch leaves are rewritten survivor-only
      (localCheckpointed first — the rewrite overwrites files its own
      plan would otherwise still be reading);
    - untouched leaves are never opened.

    Idempotent: a replayed forget matches nothing. A LATER append of
    the same id legitimately reintroduces it (new data, not a ghost).
    Returns {"rows_forgotten", "leaves_rewritten", "leaves_deleted"}.
    """
    from .storefs import forget_rows

    meta = check_pq_meta(root, spark)
    id_col = meta.get("id_col", "vec_id")
    ivf = int(meta.get("cells", 0)) > 0
    return forget_rows(
        spark, f"{root}/codes", id_col, ids,
        leaf_cols=[BATCH_COL] + ([CELL_COL] if ivf else []),
    )


def compact_pq_store(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    atomic_rename: bool | None = None,
) -> dict[str, int]:
    """Collapse the codes side's batch leaves to one ``BATCH_PART=-1``
    leaf with replayed ids RESOLVED (newest batch wins) — after this,
    readers can skip the replay-resolution shuffle entirely
    (``resolve_replays=False``) and a moved-cell replay is shadowed
    globally, not just inside probed cells.

    Same swap/heal protocols and sealed-store contract as
    ``compact_sketch_store`` (atomic rename where the filesystem has
    it, marker-staged otherwise). Returns {"codes": files_after}."""
    import math

    if atomic_rename is None:
        atomic_rename = rename_is_atomic(root)
    fs = StoreFS(root, spark)
    _heal_pq_side(fs, root, "codes")
    meta = check_pq_meta(root, spark)
    src = f"{root}/codes"
    if not fs.is_dir(src):
        return {"codes": 0}
    tmp = f"{root}/codes__compacting"
    total = sum(sz for _, sz in fs.list_files(src, ".parquet"))
    n_files = max(1, math.ceil(total / target_file_bytes))
    resolved = read_pq_codes(spark, root, meta, resolve_replays=True)
    leaf = f"{tmp}/{BATCH_COL}=-1"
    if int(meta.get("cells", 0)) > 0:
        # keep the hive cell partitioning so probes stay pruned
        (
            resolved.repartition(n_files, CELL_COL)
            .write.partitionBy(CELL_COL)
            .parquet(leaf)
        )
    else:
        resolved.repartition(n_files).write.parquet(leaf)
    swap_dir(
        fs, src, tmp,
        aside=f"{root}/codes__old",
        marker=f"{root}/codes__COMMIT",
        atomic=atomic_rename,
    )
    return {"codes": len(fs.list_files(src, ".parquet"))}
