"""IVF-PQ serving from JVM literals: the probed cells' ADC tables are
one array literal, the candidates a JVM-only side frame, and the
codes/raw/ids reads take footer schemas and list only the partition
directories a probe hits. Pins the job budget, the plans' freedom from
Python RDDs, the ADC doubles against a numpy reference over the stored
codes, and exactness on xxhash64 ids (negative and past 2**53, which
pick the raw directories listed)."""

from __future__ import annotations

import os
import shutil

import pyarrow.dataset as pads
import pytest
from pyspark.sql import functions as F

from tests.conftest import jobs_in_group

from data_ingestion_spark.functions import similarity as SIM
from data_ingestion_spark.functions.pq import (
    MAX_BATCH_QUERIES,
    IvfPqStore,
    delete_ivfpq_ids,
    upsert_ivfpq_store,
    write_ivfpq_store,
)

N_CELLS = 4


def _vectors(spark, lo, hi, dim=16, phase=1.37):
    """Chunk-style ids (xxhash64 of a string, as the crawl pipeline
    keys chunks): negative and positive values far past 2**53."""
    return spark.range(lo, hi).select(
        F.xxhash64(F.concat(F.lit("chunk-"), F.col("id").cast("string"))).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: F.sin(F.col("id") * (j + F.lit(phase))).cast("double"),
        ).alias("embedding"),
    )


def _live(spark, rows):
    return spark.createDataFrame(
        sorted(rows.items()), "vec_id bigint, embedding array<double>"
    )


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """A one-segment store and a base + upsert + tombstone root, each
    with the vectors it serves (vec_id -> embedding)."""
    base = tmp_path_factory.mktemp("pqserve")
    v = _vectors(spark, 1, 201)
    rows = {r.vec_id: list(r.embedding) for r in v.collect()}
    one = str(base / "one")
    write_ivfpq_store(v, one, n_cells=N_CELLS, m=4, iters=4)

    three = str(base / "three")
    write_ivfpq_store(v, three, n_cells=N_CELLS, m=4, iters=4)
    ids = sorted(rows)
    # a two-vector upsert (one replacement, one new id) lands in at
    # most two cells, so the segment lacks some probed cell directories
    delta = {ids[0]: [-x for x in rows[ids[0]]]}
    new = _vectors(spark, 500, 501, phase=2.1).head()
    delta[new.vec_id] = list(new.embedding)
    upsert_ivfpq_store(_live(spark, delta), three)
    gone = [ids[1], ids[0]]  # a base id and the replaced one
    delete_ivfpq_ids(
        spark, three, spark.createDataFrame([(g,) for g in gone], "vec_id bigint")
    )
    live3 = dict(rows)
    live3.update(delta)
    for g in gone:
        live3.pop(g)
    s3 = IvfPqStore(spark, three)
    assert len(s3.meta["segments"]) == 3
    cells = os.listdir(os.path.join(three, "codes", f"seg={s3.meta['segments'][1]}"))
    assert 0 < len([c for c in cells if c.startswith("ivf_cell=")]) < N_CELLS
    return {"one": (IvfPqStore(spark, one), rows), "three": (s3, live3)}


def _queries(rows, n=3):
    ids = sorted(rows)
    return [rows[ids[i * 37 % len(ids)]] for i in range(n)]


def test_ids_are_negative_and_past_2_53(stores):
    _, rows = stores["one"]
    assert any(i < 0 for i in rows) and any(abs(i) > 2**53 for i in rows)


def test_probe_equals_brute_force_on_xxhash_ids(spark, stores):
    """With every cell probed and every candidate kept, the probe is
    exact: the driver's bucket mirror must list every raw directory a
    candidate lives in, for negative and >2**53 ids alike, and a
    segment lacking some probed cell directories still serves."""
    for name, (s, rows) in stores.items():
        want_df = _live(spark, rows)
        for q in _queries(rows):
            got = s.probe(q, k=5, n_probe=N_CELLS, keep=len(rows) + 10).collect()
            want = SIM.brute_force_topk(want_df, SIM.vector_literal(q), 5).collect()
            assert [(r.vec_id, r.score) for r in got] == [
                (r.vec_id, r.score) for r in want
            ], name


def test_every_probed_cell_empty_gives_empty_results(spark, stores, tmp_path):
    """A cell no vector landed in has no directory. When every probed
    cell is such a cell, the probe finds no candidates and each
    serving path returns an empty frame with its schema."""
    s, rows = stores["one"]
    root = str(tmp_path / "pq")
    shutil.copytree(s.root, root)
    q = _queries(rows, 1)[0]
    probed, _ = s._query_luts(s._normalized(q), 1)
    shutil.rmtree(os.path.join(root, "codes", "seg=0", f"ivf_cell={probed[0]}"))
    e = IvfPqStore(spark, root)
    assert e.adc_candidates(q, n_probe=1).collect() == []
    out = e.probe(q, n_probe=1)
    assert out.columns == ["vec_id", "score"] and out.collect() == []
    qdf = spark.createDataFrame([(1, q)], "query_id int, qvec array<double>")
    out = e.probe_batch(qdf, n_probe=1)
    assert out.columns == ["query_id", "vec_id", "score", "rank"]
    assert out.collect() == []
    # the other cells still serve
    assert e.probe(q, n_probe=2).count() == 5


def _reference_candidates(s, q, n_probe, keep):
    """(id, seg, adc) by numpy over the stored codes read with pyarrow:
    sum lut[s][code_s] in subspace order from 0.0, drop ids a newer
    committed segment lists, keep the ``keep`` smallest (adc, id)."""
    probed, luts = s._query_luts(s._normalized(q), n_probe)
    pos = {c: i for i, c in enumerate(probed)}
    segs = set(s.meta["segments"])
    hive = dict(format="parquet", partitioning="hive")
    codes = pads.dataset(os.path.join(s.root, "codes"), **hive).to_table().to_pylist()
    newest: dict[int, int] = {}
    for r in pads.dataset(os.path.join(s.root, "ids"), **hive).to_table().to_pylist():
        if r["seg"] in segs:
            newest[r["id"]] = max(newest.get(r["id"], -1), r["seg"])
    out = []
    for r in codes:
        if r["seg"] not in segs or r["ivf_cell"] not in pos:
            continue
        if newest.get(r["id"], -1) > r["seg"]:
            continue
        lut = luts[pos[r["ivf_cell"]]]
        adc = 0.0
        for sub, code in enumerate(r["codes"]):
            adc += float(lut[sub][code])
        out.append((adc, r["id"], r["seg"]))
    return [(i, seg, adc) for adc, i, seg in sorted(out)[:keep]]


def test_adc_candidates_equal_numpy_reference_bit_for_bit(spark, stores):
    for name, (s, rows) in stores.items():
        for q in _queries(rows):
            for n_probe, keep in ((2, 17), (N_CELLS, 1000)):
                got = [
                    (r.id, r.seg, r.adc)
                    for r in s.adc_candidates(q, n_probe, keep).collect()
                ]
                assert got == _reference_candidates(s, q, n_probe, keep), name


# job budgets of one probe: candidate collect, candidate broadcast and
# re-rank, plus the shadow-set broadcast on a segmented root. Before
# the ADC table became a literal and the reads took footer schemas,
# the same probes ran 7 jobs on the one-segment store (two schema
# inferences, a raw-listing job and two Python-RDD broadcasts) and 9
# on the three-segment root.
PROBE_JOB_BUDGET = {"one": 3, "three": 4}


@pytest.mark.parametrize("name", ["one", "three"])
def test_probe_job_budget_in_callers_group(spark, stores, name):
    s, rows = stores[name]
    for i, q in enumerate(_queries(rows, 2)):
        n, outside = jobs_in_group(
            spark, lambda: s.probe(q, k=5).collect(), f"pq-{name}-{i}"
        )
        assert outside == set()
        assert 0 < n <= PROBE_JOB_BUDGET[name], (name, n)


def test_serving_plans_scan_no_python_rdd(spark, stores):
    for name, (s, rows) in stores.items():
        q = _queries(rows, 1)[0]
        qdf = spark.createDataFrame(
            list(enumerate(_queries(rows))), "query_id int, qvec array<double>"
        )
        for out in (s.adc_candidates(q), s.probe(q), s.probe_batch(qdf)):
            out.collect()
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "ExistingRDD" not in plan, name


def test_probe_batch_refuses_513_queries_without_collecting_them(spark, stores):
    """The batch bound is checked on a capped collect: query rows past
    ``MAX_BATCH_QUERIES + 1`` are never computed (here they would fail
    the ``assert_true``), and the refusal is the same ValueError."""
    s, _ = stores["one"]
    assert MAX_BATCH_QUERIES == 512
    qvec = F.transform(F.sequence(F.lit(0), F.lit(15)), lambda j: F.lit(0.5))

    def batch(n):
        return spark.range(n).select(
            F.col("id").alias("query_id"),
            F.when(
                F.assert_true(F.col("id") < 1000).isNull(), qvec
            ).alias("qvec"),
        )

    with pytest.raises(ValueError, match="MAX_BATCH_QUERIES"):
        s.probe_batch(batch(513))
    with pytest.raises(ValueError, match="MAX_BATCH_QUERIES"):
        s.probe_batch(batch(100_000))


# one ANN probe: the pruned scan's re-rank plus, per newer segment, its
# shadow-set broadcast (before footer-schema reads: 3 and 8 jobs, one
# schema inference per segment and per id sidecar)
ANN_JOB_BUDGET = {1: 2, 3: 4}


def test_ann_probe_job_budget(spark, tmp_path):
    root = str(tmp_path / "ann")
    v = _vectors(spark, 1, 201)
    SIM.write_ann_store_versioned(v, root, n_tables=4)
    q = _queries({r.vec_id: list(r.embedding) for r in v.collect()}, 1)[0]

    def probe(n_segs):
        h = SIM.AnnStore.open(spark, SIM.index_current_path(root))
        n, outside = jobs_in_group(spark, lambda: h.probe(q, 5).collect(), f"ann-{n_segs}")
        assert outside == set()
        assert 0 < n <= ANN_JOB_BUDGET[n_segs], (n_segs, n)

    probe(1)
    SIM.upsert_ann_store_versioned(_vectors(spark, 190, 221, phase=2.1), root)
    SIM.delete_ann_ids(v.limit(3).select("vec_id"), root)
    probe(3)
