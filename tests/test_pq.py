"""IVF-PQ at-rest serving (r14 Y-series): exactness with full probe
coverage, plan-visible partition pruning, deterministic rebuilds,
self-neighbor recall at n_probe=1, and the loud contracts."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from data_ingestion_spark.functions.pq import (
    MAX_KEEP,
    IvfPqStore,
    write_ivfpq_store,
)
from data_ingestion_spark.functions.similarity import brute_force_topk


def _vectors(spark, n=200, dim=16):
    return spark.range(1, n + 1).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: F.sin(F.col("id") * (j + F.lit(1.37))).cast("double"),
        ).alias("embedding"),
    )


@pytest.fixture(scope="module")
def store(spark):
    v = _vectors(spark)
    root = tempfile.mkdtemp(prefix="pqtest_")
    shutil.rmtree(root)
    s = write_ivfpq_store(v, root, n_cells=4, m=4, iters=6)
    yield s, v
    shutil.rmtree(root, ignore_errors=True)


def test_full_probe_equals_brute_force(spark, store):
    s, v = store
    q = v.filter(F.col("vec_id") == 7).head().embedding
    got = s.probe(list(q), k=5, n_probe=4, keep=64).collect()
    qcol = F.array(*[F.lit(float(x)) for x in q])
    want = brute_force_topk(v, qcol, 5).collect()
    assert [(r.vec_id, r.score) for r in got] == [
        (r.vec_id, r.score) for r in want
    ]


def test_self_neighbor_single_cell(spark, store):
    """A corpus vector lands in its own cell: probing ONE cell must
    return it at rank 1 with score 1.0."""
    s, v = store
    q = v.filter(F.col("vec_id") == 42).head().embedding
    top = s.probe(list(q), k=1, n_probe=1, keep=16).head()
    assert top.vec_id == 42 and top.score == 1.0


def test_partition_pruning_plan(spark, store):
    s, v = store
    q = v.filter(F.col("vec_id") == 7).head().embedding
    cand = s.adc_candidates(list(q), n_probe=1, keep=8)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_cell" in plan.split(
        "PartitionFilters"
    )[1][:200]
    assert cand.count() == 8  # keep bound honored


@pytest.mark.slow
def test_deterministic_rebuild(spark, store):
    s, v = store
    root2 = tempfile.mkdtemp(prefix="pqtest2_")
    shutil.rmtree(root2)
    s2 = write_ivfpq_store(v, root2, n_cells=4, m=4, iters=6)
    a = spark.read.parquet(s.root + "/codes").orderBy("id").collect()
    b = spark.read.parquet(root2 + "/codes").orderBy("id").collect()
    assert [(r.id, r.ivf_cell, list(r.codes)) for r in a] == [
        (r.id, r.ivf_cell, list(r.codes)) for r in b
    ]
    shutil.rmtree(root2, ignore_errors=True)


def test_contracts(spark, store):
    s, v = store
    q = list(v.filter(F.col("vec_id") == 7).head().embedding)
    with pytest.raises(ValueError, match="not divisible"):
        write_ivfpq_store(v, tempfile.mkdtemp(), n_cells=4, m=5)
    with pytest.raises(ValueError, match="exceeds the"):
        write_ivfpq_store(v, tempfile.mkdtemp(), n_cells=1000, m=4)
    with pytest.raises(ValueError, match="must be >= k"):
        s.probe(q, k=10, keep=5)
    with pytest.raises(ValueError, match="MAX_KEEP"):
        s.adc_candidates(q, keep=MAX_KEEP + 1)
    with pytest.raises(ValueError, match="dims"):
        s.adc_candidates([0.0] * 3)
    with pytest.raises(FileNotFoundError, match="no CURRENT"):
        IvfPqStore(spark, tempfile.mkdtemp(prefix="nostore_"))


def test_maybe_compact_rejects_max_segments_below_one(spark, store):
    from data_ingestion_spark.functions.pq import maybe_compact_ivfpq_store

    s, _ = store
    for root in (s.root, tempfile.mkdtemp(prefix="nostore_")):
        with pytest.raises(ValueError, match="max_segments must be >= 1"):
            maybe_compact_ivfpq_store(spark, root, 0)


@pytest.mark.slow
def test_zero_vector_safe(spark):
    v = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0, 0.0]),
         (3, [0.0, 1.0, 0.0, 0.0]), (4, [0.5, 0.5, 0.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    root = tempfile.mkdtemp(prefix="pqzero_")
    shutil.rmtree(root)
    s = write_ivfpq_store(v, root, n_cells=2, m=2, iters=4)
    out = s.probe([1.0, 0.1, 0.0, 0.0], k=2, n_probe=2, keep=4).collect()
    assert len(out) == 2 and out[0].vec_id == 2
    shutil.rmtree(root, ignore_errors=True)


@pytest.mark.slow
def test_probe_batch_equals_per_query_loop(spark, store):
    s, v = store
    qids = [3, 11, 99]
    rows = {r.vec_id: list(r.embedding) for r in v.filter(F.col("vec_id").isin(qids)).collect()}
    queries = spark.createDataFrame(
        [(i, rows[i]) for i in qids], "query_id bigint, qvec array<double>"
    )
    got = {
        (r.query_id, r.rank): (r.vec_id, r.score)
        for r in s.probe_batch(queries, k=3, n_probe=2, keep=32).collect()
    }
    for qid in qids:
        loop = s.probe(rows[qid], k=3, n_probe=2, keep=32).collect()
        for rank, r in enumerate(loop, start=1):
            assert got[(qid, rank)] == (r.vec_id, r.score)


def test_probe_batch_contracts(spark, store):
    s, v = store
    big = spark.range(1000).select(
        F.col("id").alias("query_id"),
        F.transform(F.sequence(F.lit(0), F.lit(15)), lambda j: F.lit(0.5)).alias("qvec"),
    )
    with pytest.raises(ValueError, match="MAX_BATCH_QUERIES"):
        s.probe_batch(big)
    bad_dim = spark.createDataFrame(
        [(1, [0.1, 0.2])], "query_id bigint, qvec array<double>"
    )
    with pytest.raises(ValueError, match="dims"):
        s.probe_batch(bad_dim)
    empty = spark.createDataFrame([], "query_id bigint, qvec array<double>")
    assert s.probe_batch(empty).count() == 0


@pytest.mark.slow
def test_upsert_replace_delete_resurrect(spark):
    """O(delta) maintenance: a stale base is corrected by an upsert
    (last-wins shadowing — the stale copy AND its stale raw row are
    dead), a tombstone delete hides an id from serving, and a
    re-upsert after the tombstone resurrects it."""
    from data_ingestion_spark.functions.pq import (
        delete_ivfpq_ids,
        upsert_ivfpq_store,
    )

    v = _vectors(spark, n=120, dim=16)
    # stale generation: negate every 4th vector
    stale = v.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 4 == 0,
            F.transform("embedding", lambda x: -x),
        ).otherwise(F.col("embedding")),
    )
    root = tempfile.mkdtemp(prefix="pqups_")
    shutil.rmtree(root)
    write_ivfpq_store(stale, root, n_cells=4, m=4, iters=6)
    # delta: the corrected 25% plus two new ids
    delta = v.filter(F.col("vec_id") % 4 == 0).unionByName(
        v.filter(F.col("vec_id").isin(1, 2)).select(
            (F.col("vec_id") + 1000).alias("vec_id"),
            F.transform("embedding", lambda x: x * 2.0).alias("embedding"),
        )
    )
    s = upsert_ivfpq_store(delta, root)
    q = v.filter(F.col("vec_id") == 8).head().embedding  # a corrected id
    got = s.probe(list(q), k=5, n_probe=4, keep=200).collect()
    # ground truth over the TRUE merged corpus
    merged = v.unionByName(
        v.filter(F.col("vec_id").isin(1, 2)).select(
            (F.col("vec_id") + 1000).alias("vec_id"),
            F.transform("embedding", lambda x: x * 2.0).alias("embedding"),
        )
    )
    qcol = F.array(*[F.lit(float(x)) for x in q])
    want = brute_force_topk(merged, qcol, 5).collect()
    assert [(r.vec_id, r.score) for r in got] == [
        (r.vec_id, r.score) for r in want
    ]
    assert got[0].vec_id == 8 and got[0].score == 1.0  # corrected copy serves

    # delete id 8 -> vanishes from serving
    s = delete_ivfpq_ids(spark, root, spark.createDataFrame([(8,)], "vec_id bigint"))
    got2 = s.probe(list(q), k=5, n_probe=4, keep=200).collect()
    assert all(r.vec_id != 8 for r in got2)
    # resurrect with a new upsert
    s = upsert_ivfpq_store(v.filter(F.col("vec_id") == 8), root)
    got3 = s.probe(list(q), k=1, n_probe=4, keep=200).collect()
    assert got3[0].vec_id == 8 and got3[0].score == 1.0

    # batch serving resolves the same shadowing
    queries = spark.createDataFrame([(77, list(q))], "query_id bigint, qvec array<double>")
    b = s.probe_batch(queries, k=3, n_probe=4, keep=200).collect()
    loop = s.probe(list(q), k=3, n_probe=4, keep=200).collect()
    assert [(r.vec_id, r.score, r.rank) for r in b] == [
        (r.vec_id, r.score, i + 1) for i, r in enumerate(loop)
    ]


@pytest.mark.slow
def test_compaction_drops_dead_rows_and_equals_serving(spark):
    """IN-PLACE compaction (r14 verdict #1): fold commits a new
    version under the SAME root; survivors only; serving identical
    before/after; the pre-fold reader keeps serving its own version
    (segments + quantizer generation retained until vacuum)."""
    from data_ingestion_spark.functions.pq import (
        compact_ivfpq_store,
        delete_ivfpq_ids,
        upsert_ivfpq_store,
    )

    v = _vectors(spark, n=80, dim=16)
    root = tempfile.mkdtemp(prefix="pqcmp_")
    shutil.rmtree(root)
    write_ivfpq_store(v, root, n_cells=4, m=4, iters=6)
    upsert_ivfpq_store(
        v.filter(F.col("vec_id") <= 10).select(
            "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
        ),
        root,
    )
    s = delete_ivfpq_ids(spark, root, spark.createDataFrame([(5,), (6,)], "vec_id bigint"))
    q = v.filter(F.col("vec_id") == 3).head().embedding
    a = s.probe(list(q), k=5, n_probe=4, keep=100).collect()
    c = compact_ivfpq_store(spark, root, retain=2)
    # compacted version: ONE fresh segment, no tombstones, a NEW
    # quantizer generation (the re-train point)
    assert len(c.meta["segments"]) == 1 and c.meta["tombstones"] == []
    assert c.meta["quantizer"] != s.meta["quantizer"]
    seg = c.meta["segments"][0]
    import os

    n_live = spark.read.parquet(os.path.join(root, "ids", f"seg={seg}")).count()
    assert n_live == 78  # 80 - 2 deleted; replaced ids appear once
    b = c.probe(list(q), k=5, n_probe=4, keep=100).collect()
    assert [(r.vec_id, r.score) for r in a] == [(r.vec_id, r.score) for r in b]
    # the PRE-FOLD handle still serves identical results mid-compaction
    # (its segments and quantizer gen survive under retain=2)
    a2 = s.probe(list(q), k=5, n_probe=4, keep=100).collect()
    assert [(r.vec_id, r.score) for r in a2] == [(r.vec_id, r.score) for r in a]
    shutil.rmtree(root, ignore_errors=True)


@pytest.mark.slow
def test_pq_report_counts(spark):
    from data_ingestion_spark.functions.pq import (
        delete_ivfpq_ids,
        pq_report,
        upsert_ivfpq_store,
    )

    v = _vectors(spark, n=60, dim=16)
    root = tempfile.mkdtemp(prefix="pqrep_")
    shutil.rmtree(root)
    write_ivfpq_store(v, root, n_cells=4, m=4, iters=4)
    upsert_ivfpq_store(v.filter(F.col("vec_id") <= 10), root)  # replace 10
    delete_ivfpq_ids(spark, root, spark.createDataFrame([(3,), (30,)], "vec_id bigint"))
    rep = {r.segment: r for r in pq_report(spark, root).collect()}
    # unified index_report schema (r14 verdict #1): string segment
    # labels, layout column, NULL bounds_drift
    assert all(r.layout == "ivfpq" for r in rep.values())
    assert rep["seg=0"].kind == "data" and rep["seg=0"].rows == 60
    # base: 10 replaced by seg 1 + id 30 deleted by seg 2 (id 3 is
    # shadowed by seg 1 already, counted once)
    assert rep["seg=0"].shadowed_ids == 11
    assert rep["seg=1"].kind == "data" and rep["seg=1"].rows == 10
    assert rep["seg=1"].shadowed_ids == 1
    assert rep["seg=2"].kind == "tombstone" and rep["seg=2"].rows == 2
    assert rep["seg=2"].shadowed_ids == 0
    assert all(r.bytes > 0 for r in rep.values())
    assert all(r.bounds_drift is None for r in rep.values())
    shutil.rmtree(root, ignore_errors=True)


def test_filtered_probe_and_batch(spark):
    """Metadata filtering inside the pruned scan (the AnnStore
    where= contract on the PQ layout): filtered probe equals brute
    force over the filtered corpus; metadata survives upsert."""
    from data_ingestion_spark.functions.pq import upsert_ivfpq_store

    v = _vectors(spark, n=150, dim=16).withColumn(
        "lang", F.when(F.col("vec_id") % 3 == 0, "en").otherwise("de")
    )
    root = tempfile.mkdtemp(prefix="pqfilt_")
    shutil.rmtree(root)
    write_ivfpq_store(v, root, n_cells=4, m=4, iters=4, metadata_cols=("lang",))
    s = upsert_ivfpq_store(
        v.filter(F.col("vec_id") <= 6), root
    )  # metadata rides the delta too
    q = list(v.filter(F.col("vec_id") == 11).head().embedding)
    got = s.probe(q, k=5, n_probe=4, keep=150, where=F.col("lang") == "en").collect()
    qcol = F.array(*[F.lit(float(x)) for x in q])
    want = brute_force_topk(v.filter(F.col("lang") == "en"), qcol, 5).collect()
    assert [(r.vec_id, r.score) for r in got] == [
        (r.vec_id, r.score) for r in want
    ]
    queries = spark.createDataFrame(
        [(1, q)], "query_id bigint, qvec array<double>"
    )
    b = s.probe_batch(
        queries, k=5, n_probe=4, keep=150, where=F.col("lang") == "en"
    ).collect()
    assert [(r.vec_id, r.score) for r in b] == [
        (r.vec_id, r.score) for r in want
    ]
    shutil.rmtree(root, ignore_errors=True)


def test_auto_n_cells(spark):
    from data_ingestion_spark.functions.pq import write_ivfpq_store as W

    v = _vectors(spark, n=100, dim=16)
    root = tempfile.mkdtemp(prefix="pqauto_")
    shutil.rmtree(root)
    s = W(v, root, n_cells="auto", m=4, iters=4)
    assert s.meta["n_cells"] == 10  # round(sqrt(100))
    import pytest

    with pytest.raises(ValueError, match="int or 'auto'"):
        W(v, tempfile.mkdtemp(), n_cells="many", m=4)
    shutil.rmtree(root, ignore_errors=True)


@pytest.mark.slow
def test_compaction_carries_metadata(spark):
    """Self-review r14: compaction rebuilds from the raw sidecar, but
    metadata rides the CODES segments — the fold must recover each
    survivor's metadata from its own segment or a filtered store
    silently stops being filterable."""
    from data_ingestion_spark.functions.pq import (
        compact_ivfpq_store,
        upsert_ivfpq_store,
        write_ivfpq_store as W,
    )

    v = _vectors(spark, n=60, dim=16).withColumn(
        "lang", F.when(F.col("vec_id") % 2 == 0, "en").otherwise("de")
    )
    root = tempfile.mkdtemp(prefix="pqcm_")
    shutil.rmtree(root)
    W(v, root, n_cells=4, m=4, iters=4, metadata_cols=("lang",))
    # replace ids 1..5 flipping their language — the fold must keep
    # the NEWEST metadata, from the delta segment
    upsert_ivfpq_store(
        v.filter(F.col("vec_id") <= 5).withColumn("lang", F.lit("fr")), root
    )
    c = compact_ivfpq_store(spark, root)
    assert c.meta["metadata_cols"] == ["lang"]
    q = list(v.filter(F.col("vec_id") == 2).head().embedding)
    got = c.probe(q, k=1, n_probe=4, keep=60, where=F.col("lang") == "fr").head()
    assert got.vec_id == 2 and got.score == 1.0
    # and the flipped-language rows are excluded under their OLD tag
    en_ids = {
        r.vec_id
        for r in c.probe(q, k=30, n_probe=4, keep=60, where=F.col("lang") == "en").collect()
    }
    assert en_ids.isdisjoint({1, 2, 3, 4, 5})
    shutil.rmtree(root, ignore_errors=True)


def test_orphan_segment_dirs_are_invisible(spark):
    """Crash safety (the r13-ADVICE debris class on this layout): a
    crashed upsert leaves seg dirs WITHOUT a meta update — those rows
    must neither serve nor shadow nor count in the report."""
    from data_ingestion_spark.functions.pq import (
        IvfPqStore,
        pq_report,
        upsert_ivfpq_store,
    )

    v = _vectors(spark, n=50, dim=16)
    root = tempfile.mkdtemp(prefix="pqorph_")
    shutil.rmtree(root)
    write_ivfpq_store(v, root, n_cells=4, m=4, iters=4)
    s = IvfPqStore(spark, root)
    q = list(v.filter(F.col("vec_id") == 5).head().embedding)
    before = [(r.vec_id, r.score) for r in s.probe(q, k=5, n_probe=4, keep=50).collect()]

    # simulate the crash: upsert writes segment + manifest, then the
    # CURRENT pointer swap never lands (restore pointer + commit log)
    import os

    cur_path = os.path.join(root, "CURRENT")
    commits_path = os.path.join(root, "_COMMITS")
    cur = open(cur_path).read()
    commits = open(commits_path).read()
    upsert_ivfpq_store(
        v.filter(F.col("vec_id") <= 20).select(
            "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
        ),
        root,
    )
    with open(cur_path, "w") as f:
        f.write(cur)  # the pointer never swapped
    with open(commits_path, "w") as f:
        f.write(commits)

    s2 = IvfPqStore(spark, root)
    after = [(r.vec_id, r.score) for r in s2.probe(q, k=5, n_probe=4, keep=50).collect()]
    assert after == before  # orphan rows neither serve nor shadow
    rep = pq_report(spark, root).collect()
    assert [r.segment for r in rep] == ["seg=0"]
    assert rep[0].shadowed_ids == 0  # debris doesn't count as shadow
    shutil.rmtree(root, ignore_errors=True)


def test_time_travel_and_vacuum_refusal(spark):
    """r14 verdict #6 on the PQ layout: an explicit ``version=``
    serves the pre-upsert store byte-identically; vacuumed versions
    refuse with the retain hint; never-committed names refuse as
    crash debris."""
    import os

    import pytest

    from data_ingestion_spark.functions.pq import (
        upsert_ivfpq_store,
        vacuum_pq_store,
    )

    v = _vectors(spark, n=60, dim=16)
    root = tempfile.mkdtemp(prefix="pqtt_")
    shutil.rmtree(root)
    s0 = write_ivfpq_store(v, root, n_cells=4, m=4, iters=4)
    q = list(v.filter(F.col("vec_id") == 9).head().embedding)
    before = [(r.vec_id, r.score) for r in s0.probe(q, k=5, n_probe=4, keep=60).collect()]
    upsert_ivfpq_store(
        v.filter(F.col("vec_id") <= 15).select(
            "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
        ),
        root,
    )
    # time travel: the pre-upsert version serves pre-upsert results
    old = IvfPqStore(spark, root, version=s0.version)
    got = [(r.vec_id, r.score) for r in old.probe(q, k=5, n_probe=4, keep=60).collect()]
    assert got == before
    # CURRENT differs (id 9 was re-embedded)
    cur = IvfPqStore(spark, root)
    assert [
        (r.vec_id, r.score) for r in cur.probe(q, k=5, n_probe=4, keep=60).collect()
    ] != before
    # vacuum past it → loud refusal naming the retain dial
    deleted = vacuum_pq_store(root, retain=1)
    assert s0.version in deleted
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        IvfPqStore(spark, root, version=s0.version)
    with pytest.raises(FileNotFoundError, match="not a committed version"):
        IvfPqStore(spark, root, version="v_999999")
    # segments/quantizers referenced only by the vacuumed version are gone
    assert not os.path.exists(os.path.join(root, s0.version))
    shutil.rmtree(root, ignore_errors=True)


def test_pq_drift_and_unified_report(spark):
    """r14 verdict #1 tail: ``ann_version_drift`` and the unified
    ``index_report`` both work on managed PQ roots — drift classifies
    added/replaced/removed across PQ commits, report rows carry
    layout='ivfpq'."""
    from data_ingestion_spark.functions.pq import (
        delete_ivfpq_ids,
        upsert_ivfpq_store,
    )
    from data_ingestion_spark.functions.similarity import (
        ann_version_drift,
        index_report,
    )

    v = _vectors(spark, n=50, dim=16)
    root = tempfile.mkdtemp(prefix="pqdr_")
    shutil.rmtree(root)
    write_ivfpq_store(v, root, n_cells=4, m=4, iters=4)
    upsert_ivfpq_store(
        v.filter(F.col("vec_id") <= 3)
        .select("vec_id", F.transform("embedding", lambda x: -x).alias("embedding"))
        .unionByName(
            v.filter(F.col("vec_id") == 1).select(
                (F.col("vec_id") + 900).alias("vec_id"), "embedding"
            )
        ),
        root,
    )
    drift = {r.vec_id: r for r in ann_version_drift(spark, root).collect()}
    assert drift[901].status == "added" and drift[901].drift_micros is None
    for i in (1, 2, 3):
        assert drift[i].status == "replaced"
        assert drift[i].drift_micros == 2_000_000  # sign flip
    delete_ivfpq_ids(spark, root, spark.createDataFrame([(901,)], "vec_id bigint"))
    d2 = {r.vec_id: r.status for r in ann_version_drift(spark, root).collect()}
    assert d2 == {901: "removed"}
    rep = index_report(spark, root).collect()
    assert [r.layout for r in rep] == ["ivfpq"] * 3
    assert [r.kind for r in rep] == ["data", "data", "tombstone"]
    shutil.rmtree(root, ignore_errors=True)


def _rollback_last_commit(root):
    """Rewind a root to the exact mid-commit state: the newest
    commit's MANIFEST.json is on disk but CURRENT still names the
    previous version and _COMMITS lacks the new line — the window
    between a writer's manifest landing and its pointer swap."""
    import os

    with open(os.path.join(root, "_COMMITS"), encoding="utf-8") as f:
        lines = [ln for ln in f.read().splitlines() if ln.strip()]
    inflight, prev = lines[-1], lines[-2]
    with open(os.path.join(root, "_COMMITS"), "w", encoding="utf-8") as f:
        f.write("\n".join(lines[:-1]) + "\n")
    with open(os.path.join(root, "CURRENT"), "w", encoding="utf-8") as f:
        f.write(prev)
    return inflight, prev


def test_vacuum_protects_inflight_commit_window(spark):
    """r15 ADVICE (medium): a concurrent fold that has landed its
    MANIFEST.json but not yet swapped CURRENT must NOT have its new
    segment or quantizer generation GC'd by a racing vacuum — the
    uncommitted manifest must not raise the in-flight horizon over
    its own files. Simulated by really compacting (new segment + new
    quantizer generation) then rewinding the pointer+log one commit."""
    import json
    import os

    from data_ingestion_spark.functions.pq import (
        compact_ivfpq_store,
        upsert_ivfpq_store,
        vacuum_pq_store,
    )

    v = _vectors(spark, n=60, dim=16)
    root = tempfile.mkdtemp(prefix="pqwin_")
    shutil.rmtree(root)
    write_ivfpq_store(v, root, n_cells=4, m=4, iters=4)
    upsert_ivfpq_store(
        v.filter(F.col("vec_id") <= 10).select(
            "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
        ),
        root,
    )
    compact_ivfpq_store(spark, root, retain=3, iters=4)
    inflight, prev = _rollback_last_commit(root)
    with open(
        os.path.join(root, inflight, "MANIFEST.json"), encoding="utf-8"
    ) as f:
        m = json.load(f)
    new_segs = [int(s) for s in m["segments"]]
    new_q = m["quantizer"]

    vacuum_pq_store(root, retain=1)

    # the in-flight writer's version dir, segment pools, and quantizer
    # generation all survive the race
    assert os.path.isdir(os.path.join(root, inflight))
    for s in new_segs:
        for sub in ("codes", "raw", "ids"):
            assert os.path.isdir(os.path.join(root, sub, f"seg={s}")), (
                f"in-flight {sub}/seg={s} was GC'd inside the commit window"
            )
    assert os.path.isdir(os.path.join(root, new_q))

    # writer completes its commit; the store serves the folded corpus
    with open(os.path.join(root, "CURRENT"), "w", encoding="utf-8") as f:
        f.write(inflight)
    with open(os.path.join(root, "_COMMITS"), "a", encoding="utf-8") as f:
        f.write(inflight + "\n")
    s = IvfPqStore(spark, root)
    q = list(v.filter(F.col("vec_id") == 42).head().embedding)
    top = s.probe(q, k=1, n_probe=4, keep=60).head()
    assert top.vec_id == 42 and top.score == 1.0
    shutil.rmtree(root, ignore_errors=True)


@pytest.mark.slow
def test_vacuum_retention_across_two_folds_pinned_reader(spark):
    """r15 verdict #7: a reader pinned at v0 survives the FIRST fold's
    retain=2 vacuum byte-identically (v0 still in the window), and
    after a SECOND fold pushes v0 out of the window a fresh pinned
    open refuses with the vacuumed/retain message — the retention
    contract, exercised across three writers."""
    import pytest

    from data_ingestion_spark.functions.pq import (
        compact_ivfpq_store,
        upsert_ivfpq_store,
    )

    v = _vectors(spark, n=60, dim=16)
    root = tempfile.mkdtemp(prefix="pq3w_")
    shutil.rmtree(root)
    s0 = write_ivfpq_store(v, root, n_cells=4, m=4, iters=4)
    q = list(v.filter(F.col("vec_id") == 7).head().embedding)
    want = [
        (r.vec_id, r.score)
        for r in s0.probe(q, k=5, n_probe=4, keep=60).collect()
    ]
    pinned = IvfPqStore(spark, root, version=s0.version)

    upsert_ivfpq_store(
        v.filter(F.col("vec_id") <= 10).select(
            "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
        ),
        root,
    )
    compact_ivfpq_store(spark, root, retain=2, iters=4)  # fold #1 + vacuum
    got = [
        (r.vec_id, r.score)
        for r in pinned.probe(q, k=5, n_probe=4, keep=60).collect()
    ]
    assert got == want  # v0 inside retain=2: byte-identical service

    compact_ivfpq_store(spark, root, retain=2, iters=4)  # fold #2 + vacuum
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        IvfPqStore(spark, root, version=s0.version)
    shutil.rmtree(root, ignore_errors=True)


def test_legacy_pq_root_refuses_loudly(spark, tmp_path):
    """r15 ADVICE (medium): a pre-versioned root (root-level
    _pq_meta.json, no CURRENT) must refuse writes with a named
    migration error instead of being silently base-built over."""
    import json
    import os

    import pytest

    from data_ingestion_spark.functions.pq import (
        LegacyPqRootError,
        write_ivfpq_store,
    )

    root = str(tmp_path / "legacy_pq")
    os.makedirs(root)
    with open(os.path.join(root, "_pq_meta.json"), "w", encoding="utf-8") as f:
        json.dump({"dim": 16, "m": 4}, f)
    with open(os.path.join(root, "_last_batch_id"), "w", encoding="utf-8") as f:
        f.write("7")
    v = _vectors(spark, n=20, dim=16)
    with pytest.raises(LegacyPqRootError, match="MIGRATION"):
        write_ivfpq_store(v, root, n_cells=2, m=4, iters=2)
    # the legacy data was not touched
    assert os.path.exists(os.path.join(root, "_pq_meta.json"))
    assert not os.path.exists(os.path.join(root, "CURRENT"))
