"""Persisted PQ / IVF-PQ index store (llm_ops.pq_store).

The serving contract: answers come ENTIRELY from persisted artifacts
(codebooks + codes), appended vectors are encoded with the STORED
codebooks (never retrained), replayed ids resolve newest-batch-wins,
IVF probes prune cell partitions at planning time, and compaction
collapses append history behind the shared swap/heal protocols.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from chill_spark.llm_ops.pq import pq_adc_topk, pq_encode, pq_train
from chill_spark.llm_ops.pq_store import (
    CELL_COL,
    check_pq_meta,
    compact_pq_store,
    pq_store_append,
    pq_store_topk,
    read_pq_books,
    read_pq_codes,
    write_pq_store,
)


def _emb_df(spark, n=40, dim=8, seed=3):
    rng = np.random.RandomState(seed)
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_pq_store_serves_identically_to_fresh_train(spark, tmp_path):
    """A store-served top-k must equal the one-shot train+encode+ADC
    path bit-for-bit (training is deterministic by construction)."""
    emb = _emb_df(spark)
    root = str(tmp_path / "pq")
    meta = write_pq_store(emb, root, dim=8, m=2, k=4, iters=2)
    assert meta["cells"] == 0

    qv = np.array(
        emb.filter(F.col("vec_id") == 0).first()["embedding"], dtype=np.float64
    )
    stored = pq_store_topk(
        spark, root, qv, n=5, where=F.col("vec_id") != 0
    ).collect()

    books = pq_train(emb, dim=8, m=2, k=4, iters=2)
    fresh = pq_adc_topk(
        pq_encode(emb.filter(F.col("vec_id") != 0), books), books, qv, n=5
    ).collect()
    assert [(r["vec_id"], r["approx_d2"]) for r in stored] == [
        (r["vec_id"], r["approx_d2"]) for r in fresh
    ]


def test_pq_store_append_uses_stored_books_and_serves_new_rows(spark, tmp_path):
    """Append must not touch the codebooks, and its codes must equal
    encoding the increment under the books read back from the store."""
    emb = _emb_df(spark, n=50)
    base = emb.filter(F.col("vec_id") < 40)
    inc = emb.filter(F.col("vec_id") >= 40)
    root = str(tmp_path / "pq")
    write_pq_store(base, root, dim=8, m=2, k=4, iters=2)
    books_before, _, meta = read_pq_books(spark, root)

    b = pq_store_append(inc, root)
    assert b == 0  # first append after the build's BATCH_PART=-1
    books_after, _, _ = read_pq_books(spark, root)
    for x, y in zip(books_before, books_after):
        assert np.array_equal(x, y), "append retrained the codebooks"

    got = {
        r["vec_id"]: (r["c0"], r["c1"])
        for r in read_pq_codes(spark, root, meta).collect()
    }
    assert set(got) == set(range(50))
    want = {
        r["vec_id"]: (r["c0"], r["c1"])
        for r in pq_encode(inc, books_before).collect()
    }
    for i in range(40, 50):
        assert got[i] == want[i]

    # the served ranking covers base + appended rows and equals the
    # fresh-encode ADC ranking over the full corpus
    qv = np.array(
        emb.filter(F.col("vec_id") == 45).first()["embedding"],
        dtype=np.float64,
    )
    top = pq_store_topk(spark, root, qv, n=3).collect()
    want_top = pq_adc_topk(
        pq_encode(emb, books_before), books_before, qv, n=3
    ).collect()
    assert [(r["vec_id"], r["approx_d2"]) for r in top] == [
        (r["vec_id"], r["approx_d2"]) for r in want_top
    ]


def test_pq_store_replay_newest_batch_wins_and_compacts(spark, tmp_path):
    emb = _emb_df(spark, n=20)
    root = str(tmp_path / "pq")
    write_pq_store(emb, root, dim=8, m=2, k=4, iters=2)
    meta = check_pq_meta(root, spark)
    old = {
        r["vec_id"]: (r["c0"], r["c1"])
        for r in read_pq_codes(spark, root, meta).collect()
    }

    # replay id 7 with a changed vector: far from its old location
    moved = spark.createDataFrame(
        [(7, [float(9 + j) for j in range(8)])], ["vec_id", "embedding"]
    )
    pq_store_append(moved, root)
    resolved = {
        r["vec_id"]: (r["c0"], r["c1"])
        for r in read_pq_codes(spark, root, meta).collect()
    }
    assert len(resolved) == 20  # replay did not duplicate the id
    books, _, _ = read_pq_books(spark, root, meta)
    want7 = pq_encode(moved, books).first()
    assert resolved[7] == (want7["c0"], want7["c1"])
    assert all(resolved[i] == old[i] for i in old if i != 7)

    # compaction collapses history; the no-shuffle read then agrees
    compact_pq_store(spark, root)
    from chill_spark.llm_ops.storefs import StoreFS

    fs = StoreFS(root, spark)
    assert fs.list_dirs(f"{root}/codes") == ["BATCH_PART=-1"]
    flat = {
        r["vec_id"]: (r["c0"], r["c1"])
        for r in read_pq_codes(
            spark, root, meta, resolve_replays=False
        ).collect()
    }
    assert flat == resolved


def test_ivfpq_store_probe_prunes_cell_partitions(spark, tmp_path):
    """An IVF-PQ store's probe must be a planning-time partition
    filter on the hive cell column — only probed cells' files are
    listed, the rest of the corpus is never touched."""
    emb = _emb_df(spark, n=60)
    root = str(tmp_path / "ivfpq")
    meta = write_pq_store(emb, root, dim=8, m=2, k=4, iters=2, cells=4)
    assert meta["cells"] == 4

    qv = np.array(
        emb.filter(F.col("vec_id") == 1).first()["embedding"],
        dtype=np.float64,
    )
    df = pq_store_topk(spark, root, qv, n=5, nprobe=2,
                       where=F.col("vec_id") != 1,
                       resolve_replays=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert f"PartitionFilters: [{CELL_COL}" in plan

    # and the pruned answer equals scoring all cells' rows restricted
    # to the probed cells by value
    books, coarse, _ = read_pq_books(spark, root, meta)
    cell_d = np.round(((coarse - qv) ** 2).sum(axis=1), 9)
    probed = sorted(range(len(coarse)), key=lambda c: (cell_d[c], c))[:2]
    allc = read_pq_codes(spark, root, meta, resolve_replays=False)
    manual = pq_adc_topk(
        allc.filter(F.col(CELL_COL).isin([int(c) for c in probed]))
        .filter(F.col("vec_id") != 1),
        books, qv, n=5,
    ).collect()
    got = df.collect()
    assert [(r["vec_id"], r["approx_d2"]) for r in got] == [
        (r["vec_id"], r["approx_d2"]) for r in manual
    ]


def test_pq_store_topk_batch_matches_per_query_serving(spark, tmp_path):
    """One-scan batch serving must return, for every query row,
    exactly what the per-query serve path returns — including on an
    IVF store, where each query sees only ITS probed cells (the scan
    is pruned to the union)."""
    from chill_spark.llm_ops.pq_store import pq_store_topk_batch

    emb = _emb_df(spark, n=60)
    root = str(tmp_path / "ivfpq")
    write_pq_store(emb, root, dim=8, m=2, k=4, iters=2, cells=4)
    q_ids = [3, 17, 42]
    qset = emb.filter(F.col("vec_id").isin(q_ids)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = {
        (r["q_id"], r["vec_id"]): r["approx_d2"]
        for r in pq_store_topk_batch(spark, root, qset, n=4,
                                     nprobe=2).collect()
    }
    want = {}
    for q in q_ids:
        qv = np.array(
            emb.filter(F.col("vec_id") == q).first()["embedding"],
            dtype=np.float64,
        )
        for r in pq_store_topk(spark, root, qv, n=4, nprobe=2,
                               where=F.col("vec_id") != q).collect():
            want[(q, r["vec_id"])] = r["approx_d2"]
    assert got == want


def test_pq_store_serve_plan_is_scan_plus_heap(spark, tmp_path):
    """The compacted-store serve plan (resolve_replays=False) must be
    ONE codes scan feeding a TakeOrdered heap — no Exchange anywhere:
    ADC scoring is a per-row projection against the broadcast LUTs,
    and top-n is per-partition heaps + driver merge."""
    emb = _emb_df(spark, n=30)
    root = str(tmp_path / "pq")
    write_pq_store(emb, root, dim=8, m=2, k=4, iters=1)
    qv = np.array(
        emb.filter(F.col("vec_id") == 0).first()["embedding"],
        dtype=np.float64,
    )
    df = pq_store_topk(spark, root, qv, n=5, resolve_replays=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan, plan


def test_pq_store_batch_plan_prunes_union_of_probed_cells(spark, tmp_path):
    """Batch serving on an IVF store must push the UNION of all
    queries' probed cells as a planning-time partition filter and scan
    the codes table exactly once."""
    from chill_spark.llm_ops.pq_store import pq_store_topk_batch

    emb = _emb_df(spark, n=60)
    root = str(tmp_path / "ivfpq")
    write_pq_store(emb, root, dim=8, m=2, k=4, iters=1, cells=4)
    qset = emb.filter(F.col("vec_id").isin([3, 17])).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    df = pq_store_topk_batch(spark, root, qset, n=3, nprobe=2,
                             resolve_replays=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert f"PartitionFilters: [{CELL_COL}" in plan
    assert plan.count("Scan parquet") == 1, plan  # one corpus scan for Q queries


def test_pq_store_meta_fail_fast(spark, tmp_path):
    root = str(tmp_path / "pq")
    with pytest.raises(FileNotFoundError, match="no PQ store"):
        check_pq_meta(root, spark)
    write_pq_store(_emb_df(spark, n=15), root, dim=8, m=2, k=4, iters=1)
    check_pq_meta(root, spark, m=2, k=4, dim=8)
    with pytest.raises(ValueError, match="mis-rank"):
        check_pq_meta(root, spark, m=4)
    # appending a wrong-width increment dies in the encode fold, never
    # silently: slice beyond the vector yields short subvectors whose
    # zip_with against the codebook produces null distances -> the
    # argmin returns null codes; guard at the meta level instead
    with pytest.raises(ValueError, match="mis-rank"):
        check_pq_meta(root, spark, dim=16)


def test_pq_stream_equals_batch_append_and_quarantines(spark, tmp_path):
    """The streaming maintainer's store must be BIT-IDENTICAL to batch
    pq_store_append of the same feed (encoding is a pure function of
    vector + frozen books), with null/wrong-dim rows quarantined."""
    import json as _json
    import os

    from chill_spark.streaming import drain
    from chill_spark.streaming.pq_stream import run_pq_stream

    emb = _emb_df(spark, n=40)
    base = emb.filter(F.col("vec_id") < 30)
    inc = emb.filter(F.col("vec_id") >= 30)

    # batch twin
    b_root = str(tmp_path / "batch_store")
    write_pq_store(base, b_root, dim=8, m=2, k=4, iters=1)
    pq_store_append(inc, b_root)
    meta = check_pq_meta(spark=spark, root=b_root)
    want = {
        r["vec_id"]: (r["c0"], r["c1"])
        for r in read_pq_codes(spark, b_root, meta).collect()
    }

    # streamed store: same build, the increment arrives as JSONL with
    # one null-embedding and one wrong-dim row mixed in
    s_root = str(tmp_path / "stream_store")
    write_pq_store(base, s_root, dim=8, m=2, k=4, iters=1)
    watch = tmp_path / "watch"
    watch.mkdir()
    lines = [
        _json.dumps({"vec_id": r["vec_id"], "embedding": r["embedding"]})
        for r in inc.collect()
    ]
    lines.append(_json.dumps({"vec_id": 900, "embedding": None}))
    lines.append(_json.dumps({"vec_id": 901, "embedding": [1.0, 2.0]}))
    (watch / "b1.json").write_text("\n".join(lines) + "\n")
    drain(run_pq_stream(
        spark, str(watch) + "/*", "vec_id BIGINT, embedding ARRAY<DOUBLE>",
        store_root=s_root, checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    ))
    got = {
        r["vec_id"]: (r["c0"], r["c1"])
        for r in read_pq_codes(spark, s_root, meta).collect()
    }
    assert got == want  # stream == batch, rejects never encoded
    q = spark.read.parquet(f"{s_root}/_quarantine")
    assert q.count() == 2
    # serving from the streamed store answers over base + increment
    qv = np.array(
        emb.filter(F.col("vec_id") == 35).first()["embedding"],
        dtype=np.float64,
    )
    assert pq_store_topk(spark, s_root, qv, n=3).count() == 3


def test_pq_stream_fails_loud_on_wholesale_dim_drift(spark, tmp_path):
    import json as _json

    from chill_spark.streaming import drain
    from chill_spark.streaming.pq_stream import run_pq_stream

    root = str(tmp_path / "store")
    write_pq_store(_emb_df(spark, n=20), root, dim=8, m=2, k=4, iters=1)
    watch = tmp_path / "watch"
    watch.mkdir()
    rng = np.random.RandomState(5)
    lines = [
        _json.dumps({"vec_id": 100 + i,
                     "embedding": [float(x) for x in rng.normal(size=16)]})
        for i in range(5)
    ]
    (watch / "drift.json").write_text("\n".join(lines) + "\n")
    from pyspark.errors import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="model drift"):
        drain(run_pq_stream(
            spark, str(watch) + "/*",
            "vec_id BIGINT, embedding ARRAY<DOUBLE>",
            store_root=root, checkpoint_dir=str(tmp_path / "ckpt"),
            available_now=True,
        ))


def test_pq_store_cli_lifecycle(spark, tmp_path):
    """build -> search -> append -> search -> compact via the CLI."""
    from chill_spark.cli import main

    emb = _emb_df(spark, n=30)
    base_p = str(tmp_path / "base.parquet")
    inc_p = str(tmp_path / "inc.parquet")
    emb.filter(F.col("vec_id") < 25).write.parquet(base_p)
    emb.filter(F.col("vec_id") >= 25).write.parquet(inc_p)
    root = str(tmp_path / "store")

    assert main(["pq", "--store", root, "--build", "--input", base_p,
                 "--m", "2", "--k", "4", "--iters", "1"]) == 0
    assert main(["pq", "--store", root, "--input", base_p,
                 "--query-id", "3", "--n", "4"]) == 0
    assert main(["pq", "--store", root, "--append", inc_p]) == 0
    meta = check_pq_meta(root, spark)
    ids = {r["vec_id"] for r in read_pq_codes(spark, root, meta).collect()}
    assert ids == set(range(30))
    assert main(["pq", "--store", root, "--compact"]) == 0
    # stream maintainer via --watch: two more vectors arrive as JSONL
    import json as _json

    watch = tmp_path / "watch"
    watch.mkdir()
    rng = np.random.RandomState(9)
    (watch / "w.json").write_text("\n".join(
        _json.dumps({"vec_id": 30 + i,
                     "embedding": [float(x) for x in rng.normal(size=8)]})
        for i in range(2)
    ) + "\n")
    assert main(["pq", "--store", root, "--watch", str(watch) + "/*"]) == 0
    ids = {r["vec_id"] for r in read_pq_codes(spark, root, meta).collect()}
    assert ids == set(range(32))
    with pytest.raises(SystemExit):
        main(["pq", "--store", root])  # search without --query-id


def test_pq_store_forget_removes_ids_across_leaves(spark, tmp_path):
    """Compliance delete reaches the index: forgotten ids vanish from
    serving whichever leaf held them (base build or append), a leaf
    whose every row is forgotten is deleted as a directory, untouched
    leaves keep their physical files, and a replayed forget is a
    no-op."""
    import os

    from chill_spark.llm_ops.pq_store import pq_store_forget

    emb = _emb_df(spark, n=30)
    root = str(tmp_path / "pq")
    write_pq_store(emb, root, dim=8, m=2, k=4, iters=1)
    pq_store_append(_emb_df(spark, n=40).filter(F.col("vec_id") >= 30), root)
    # a 2-row leaf that will be FULLY forgotten
    pq_store_append(_emb_df(spark, n=42).filter(F.col("vec_id") >= 40), root)
    base_leaf = os.path.join(root, "codes", "BATCH_PART=-1")
    before = sorted(os.listdir(base_leaf))

    rep = pq_store_forget(spark, root, [35, 40, 41])
    assert rep == {"rows_forgotten": 3, "leaves_rewritten": 1,
                   "leaves_deleted": 1}
    assert not os.path.exists(os.path.join(root, "codes", "BATCH_PART=1"))
    assert sorted(os.listdir(base_leaf)) == before  # base untouched
    ids = {r["vec_id"] for r in read_pq_codes(spark, root).collect()}
    assert ids == set(range(35)) | {36, 37, 38, 39}
    qv = np.array(_emb_df(spark, n=30).first()["embedding"], dtype=np.float64)
    served = {r["vec_id"]
              for r in pq_store_topk(spark, root, qv, n=100).collect()}
    assert not served & {35, 40, 41}

    again = pq_store_forget(spark, root, [35, 40, 41])
    assert again["rows_forgotten"] == 0


def test_pq_store_forget_ivf_leaf_accounting(spark, tmp_path):
    """IVF stores account leaves at (batch, cell) grain: forgetting
    one id rewrites only its own cell leaf and serving at full probe
    width never returns it."""
    from chill_spark.llm_ops.pq_store import pq_store_forget

    emb = _emb_df(spark, n=60)
    root = str(tmp_path / "ivfpq")
    write_pq_store(emb, root, dim=8, m=2, k=4, iters=1, cells=4)
    rep = pq_store_forget(spark, root, [17])
    assert rep["rows_forgotten"] == 1
    assert rep["leaves_rewritten"] + rep["leaves_deleted"] == 1
    qv = np.array(
        emb.filter(F.col("vec_id") == 17).first()["embedding"],
        dtype=np.float64,
    )
    served = {r["vec_id"] for r in
              pq_store_topk(spark, root, qv, n=60, nprobe=4).collect()}
    assert 17 not in served and len(served) == 59


def test_cli_pq_store_forget(spark, tmp_path, capsys):
    from chill_spark.cli import main

    src = str(tmp_path / "corpus")
    root = str(tmp_path / "store")
    _emb_df(spark, n=20).write.parquet(src)
    assert main(["pq", "--input", src, "--store", root, "--build",
                 "--m", "2", "--k", "4"]) == 0
    capsys.readouterr()
    assert main(["pq", "--store", root, "--forget", "3", "7"]) == 0
    out = capsys.readouterr().out
    assert "forgot 2 vector(s)" in out
    ids = {r["vec_id"] for r in read_pq_codes(spark, root).collect()}
    assert ids == set(range(20)) - {3, 7}


def test_pq_store_build_and_append_reject_unusable_vectors(spark, tmp_path):
    """NULL or wrong-dim vectors must never reach training or the
    codes table: a NULL vector crashes pq_train's seeding, a
    wrong-dim one persists poisoned codes that surface in every ADC
    scan (the r7 ADVICE finding). The batch build/append paths filter
    them, mirroring run_pq_stream's usable-row handling."""
    emb = _emb_df(spark, n=30, dim=8)
    dirty = emb.unionByName(
        spark.createDataFrame(
            [(100, None), (101, [1.0, 2.0])],
            "vec_id bigint, embedding array<double>",
        )
    )
    root = str(tmp_path / "pq")
    write_pq_store(dirty, root, dim=8, m=2, k=4, iters=2)
    ids = {r["vec_id"] for r in read_pq_codes(spark, root).collect()}
    assert 100 not in ids and 101 not in ids and len(ids) == 30

    appended = spark.createDataFrame(
        [(200, [0.5] * 8), (201, None), (202, [9.9] * 3)],
        "vec_id bigint, embedding array<double>",
    )
    pq_store_append(appended, root)
    ids = {r["vec_id"] for r in read_pq_codes(spark, root).collect()}
    assert 200 in ids and 201 not in ids and 202 not in ids

    # an all-unusable corpus still fails fast
    with pytest.raises(ValueError, match="no usable vectors"):
        write_pq_store(
            spark.createDataFrame(
                [(1, None)], "vec_id bigint, embedding array<double>"
            ),
            str(tmp_path / "pq2"), dim=8, m=2, k=4, iters=2,
        )


def test_pq_store_failed_rebuild_keeps_old_store(spark, tmp_path):
    """A rebuild on an empty corpus must raise BEFORE the old books
    and codes are deleted: the store fails closed and keeps serving."""
    emb = _emb_df(spark, n=30, dim=8)
    root = str(tmp_path / "pq")
    write_pq_store(emb, root, dim=8, m=2, k=4, iters=2)
    with pytest.raises(ValueError, match="no usable vectors"):
        write_pq_store(emb.limit(0), root, dim=8, m=2, k=4, iters=2)
    books, _, _ = read_pq_books(spark, root)
    assert len(books) == 2
    assert read_pq_codes(spark, root).count() == 30


def test_pq_store_topk_join_matches_broadcast_batch(spark, tmp_path):
    """The cell-keyed join serve (query set never collected) must
    return exactly what the broadcast-LUT batch serve returns on the
    same IVF-PQ store — same LUT rounding, same probe tie rule, same
    per-query ranking."""
    from chill_spark.llm_ops.pq_store import (
        pq_store_topk_batch,
        pq_store_topk_join,
    )

    emb = _emb_df(spark, n=60, dim=8)
    root = str(tmp_path / "ivfpq")
    write_pq_store(emb, root, dim=8, m=2, k=4, iters=2, cells=4)
    qset = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    want = sorted(
        (r["q_id"], r["vec_id"], r["approx_d2"])
        for r in pq_store_topk_batch(
            spark, root, qset, n=3, nprobe=2
        ).collect()
    )
    got = sorted(
        (r["q_id"], r["vec_id"], r["approx_d2"])
        for r in pq_store_topk_join(
            spark, root, qset, n=3, nprobe=2
        ).collect()
    )
    assert got == want and len(got) == 15


def test_pq_store_topk_join_keeps_queries_distributed(spark, tmp_path):
    """Plan gate for the huge-query-set contract: the query relation
    appears IN the serving plan (scanned, not collected driver-side),
    joined to the codes scan on the cell blocking key."""
    from chill_spark.llm_ops.pq_store import pq_store_topk_join

    emb = _emb_df(spark, n=40, dim=8)
    root = str(tmp_path / "ivfpq")
    write_pq_store(emb, root, dim=8, m=2, k=4, iters=2, cells=4)
    qpath = str(tmp_path / "queries")
    emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    ).write.parquet(qpath)
    out = pq_store_topk_join(
        spark, root, spark.read.parquet(qpath), n=3, nprobe=2
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the queries parquet is scanned inside the plan (its q_vec column
    # shows as a parquet Relation) — nothing was materialized
    # driver-side (topk_batch would show its LUTs as a LocalRelation)
    assert "q_vec" in plan and plan.count("parquet") >= 2, plan
    assert "LocalRelation" not in plan, plan
    # the inner join carries the cell blocking key
    assert "Join Inner" in plan and "cell" in plan, plan
    assert out.count() == 12


def test_pq_store_topk_join_rejects_flat_store(spark, tmp_path):
    """No blocking key without IVF cells — the join variant must
    refuse instead of silently going quadratic."""
    from chill_spark.llm_ops.pq_store import pq_store_topk_join

    emb = _emb_df(spark, n=20, dim=8)
    root = str(tmp_path / "flat")
    write_pq_store(emb, root, dim=8, m=2, k=4, iters=2)
    with pytest.raises(ValueError, match="IVF-PQ store"):
        pq_store_topk_join(
            spark, root,
            emb.select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")),
        )


def test_bench_store_serve_plans_keep_partition_pruning(spark, tmp_path):
    """The bench's serve-only legs exist to catch serving regressions
    — so gate the plans here: the IVF-PQ serve must carry the cell
    PartitionFilters (losing it = full-corpus scan at 100 TB), and
    the flat-PQ serve must stay scan+heap. The serve callables take
    their store from ctx, so a small-geometry store stands in for the
    bench's sf-dir one with the identical plan shape."""
    from chill_spark import bench_stores as B

    emb = _emb_df(spark, n=50, dim=8)
    root = str(tmp_path / "ivf")
    write_pq_store(emb, root, dim=8, m=2, k=4, iters=2, cells=4)
    df = B._serve_ivfpq_stored(
        spark, "", {"root": root, "qv": B._qv(emb)}
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert f"PartitionFilters: [{CELL_COL}" in plan, plan

    flat = str(tmp_path / "flat")
    write_pq_store(emb, flat, dim=8, m=2, k=4, iters=2)
    df2 = B._serve_pq_stored(
        spark, "", {"root": flat, "qv": B._qv(emb)}
    )
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan2, plan2


def test_pq_store_health_footprint_and_canary(spark, tmp_path, capsys):
    """The rebuild decision's two inputs: appended-fraction math from
    the batch leaves (cheap, always available) and the md5-sampled
    recall canary vs exact ground truth (measured, needs the corpus).
    Both deterministic, both exposed through `pq --store --health`."""
    from chill_spark.cli import main
    from chill_spark.llm_ops.pq_store import (
        pq_store_footprint,
        pq_store_health,
    )

    emb = _emb_df(spark, n=50, dim=8)
    root = str(tmp_path / "store")
    write_pq_store(emb.filter(F.col("vec_id") < 40), root,
                   dim=8, m=2, k=4, iters=2)
    pq_store_append(emb.filter(F.col("vec_id") >= 40), root)
    assert pq_store_footprint(spark, root) == {
        "rows_total": 50, "rows_built": 40, "rows_appended": 10,
        "appended_fraction": 0.2, "n_append_batches": 1,
    }

    rows = pq_store_health(spark, root, emb, sample=3, topk=5).collect()
    assert len(rows) == 3
    for r in rows:
        assert (r["rows_total"], r["rows_appended"],
                r["appended_fraction"]) == (50, 10, 0.2)
        assert 0 <= r["n_hits"] <= 5
        assert r["recall_at_k"] == round(r["n_hits"] / 5, 6)
    # determinism: the md5 sample + both rank cuts replay exactly
    again = pq_store_health(spark, root, emb, sample=3, topk=5).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    # footprint-only mode (no corpus at hand): one row, null canary
    only = pq_store_health(spark, root).collect()
    assert len(only) == 1 and only[0]["q_id"] is None
    assert only[0]["appended_fraction"] == 0.2

    emb_p = str(tmp_path / "emb.parquet")
    emb.write.parquet(emb_p)
    assert main(["pq", "--store", root, "--health", "--input", emb_p,
                 "--canary", "3", "--n", "5"]) == 0
    import json as _json

    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["appended_fraction"] == 0.2
    assert rep["n_canary"] == 3 and 0.0 <= rep["recall_avg"] <= 1.0


def test_pq_store_rebuild_decision_and_fold(spark, tmp_path):
    """The rebuild policy closes the health loop: the decision names
    the exact threshold crossed, and a fired rebuild retrains under
    the store's OWN recorded geometry, folding every append leaf into
    a fresh build (appended_fraction returns to 0) while serving the
    full current corpus."""
    from chill_spark.llm_ops.pq_store import (
        pq_store_footprint,
        pq_store_rebuild,
        pq_store_rebuild_decision,
    )
    from chill_spark.llm_ops.storefs import read_store_json

    emb = _emb_df(spark, n=50, dim=8)
    root = str(tmp_path / "store")
    write_pq_store(emb.filter(F.col("vec_id") < 30), root,
                   dim=8, m=2, k=4, iters=2)
    pq_store_append(emb.filter(F.col("vec_id") >= 30), root)

    # 20/50 appended = 0.4: above the default 0.25 threshold
    dec = pq_store_rebuild_decision(spark, root)
    assert dec["rebuild"] and dec["appended_fraction"] == 0.4
    assert any("appended_fraction" in r for r in dec["reasons"])
    assert dec["mean_recall"] is None  # no corpus given -> no canary

    # below-threshold store keeps itself
    calm = pq_store_rebuild(spark, root, emb,
                            max_appended_fraction=0.5)
    assert calm["action"] == "kept" and not calm["rebuild"]
    assert pq_store_footprint(spark, root)["appended_fraction"] == 0.4

    # fired rebuild folds appends and preserves the recorded geometry
    before = read_store_json(root, spark=spark)
    rep = pq_store_rebuild(spark, root, emb)
    assert rep["action"] == "rebuilt"
    fp = pq_store_footprint(spark, root)
    assert fp == {
        "rows_total": 50, "rows_built": 50, "rows_appended": 0,
        "appended_fraction": 0.0, "n_append_batches": 0,
    }
    after = read_store_json(root, spark=spark)
    assert {k: after[k] for k in ("dim", "m", "k", "cells")} == \
           {k: before[k] for k in ("dim", "m", "k", "cells")}
    ids = {r["vec_id"] for r in read_pq_codes(spark, root).collect()}
    assert ids == set(range(50))


def test_pq_store_rebuild_canary_threshold_and_cli(spark, tmp_path, capsys):
    """min_recall wires the canary into the decision; the CLI surfaces
    the whole loop as `pq --store --rebuild --input corpus`."""
    from chill_spark.cli import main
    from chill_spark.llm_ops.pq_store import pq_store_rebuild

    emb = _emb_df(spark, n=40, dim=8)
    root = str(tmp_path / "store")
    write_pq_store(emb, root, dim=8, m=2, k=4, iters=2)

    # an impossible recall bar fires the rebuild even with 0 appends
    rep = pq_store_rebuild(spark, root, emb, min_recall=1.01,
                           sample=3, topk=5)
    assert rep["action"] == "rebuilt"
    assert any("mean_recall" in r for r in rep["reasons"])
    assert rep["mean_recall"] is not None

    emb_p = str(tmp_path / "emb.parquet")
    emb.write.parquet(emb_p)
    capsys.readouterr()
    assert main(["pq", "--store", root, "--rebuild",
                 "--input", emb_p]) == 0
    import json as _json

    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["action"] == "kept"  # fresh build, nothing appended
    assert main(["pq", "--store", root, "--rebuild", "--force-rebuild",
                 "--input", emb_p]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["action"] == "rebuilt"


def test_pq_stream_emits_health_journal(spark, tmp_path):
    """In-band staleness verdict from the appender itself (r8 verdict
    order #6): one streamed append against a threshold of zero must
    land a rebuild=true event (footprint side only — no recall canary
    on the stream) in the store's _health/ journal."""
    import json as _json

    from chill_spark.llm_ops.storefs import read_health_events
    from chill_spark.streaming import drain
    from chill_spark.streaming.pq_stream import run_pq_stream

    emb = _emb_df(spark, n=40)
    root = str(tmp_path / "store")
    write_pq_store(emb.filter(F.col("vec_id") < 30), root,
                   dim=8, m=2, k=4, iters=1)
    watch = tmp_path / "watch"
    watch.mkdir()
    (watch / "b1.json").write_text("\n".join(
        _json.dumps({"vec_id": r["vec_id"], "embedding": r["embedding"]})
        for r in emb.filter(F.col("vec_id") >= 30).collect()
    ) + "\n")
    drain(run_pq_stream(
        spark, str(watch) + "/*", "vec_id BIGINT, embedding ARRAY<DOUBLE>",
        store_root=root, checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True, max_appended_fraction=0.0,
    ))
    events = read_health_events(root, spark=spark)
    assert len(events) == 1
    ev = events[0]
    assert ev["batch_id"] == 0
    assert ev["rows_built"] == 30 and ev["rows_appended"] == 10
    assert ev["rebuild"] is True
    assert any("appended_fraction" in r for r in ev["reasons"])
    assert ev["mean_recall"] is None  # canary needs the corpus; not on-stream
