"""One segment and one version per CDC micro-batch, written by tasks
sized to the cores.

A maintenance micro-batch should cost what its delta needs:

- every partitioned store write runs at most ``defaultParallelism``
  result tasks, and each partition directory still holds one file;
- a CDC batch (upserts and deletes) lands on each root as ONE
  segment and ONE version: data rows = upserts minus the batch's
  deletes, shadow set = upserts ∪ deletes;
- the folds' job counts, the stats, the at-rest reports and the
  drift reports hold on such a mixed segment;
- ``IndexReader`` (so every keyword reader) accepts a managed root.

Pins name the parent's number where the parent differs.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from data_ingestion_spark.functions import pq as PQ
from data_ingestion_spark.functions import similarity as SIM
from data_ingestion_spark.streaming import pipeline as SP
from tests.conftest import SF_SMALL, tasks_in_group

CDC_SCHEMA = "doc_id bigint, text string, embedding array<float>, op string"


def _docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )


def _emb(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _files_per_dir(top: str) -> dict[str, int]:
    """parquet files per leaf directory under ``top``."""
    out: dict[str, int] = {}
    for d, _, files in os.walk(top):
        n = sum(f.endswith(".parquet") for f in files)
        if n:
            out[d] = n
    return out


def test_small_delta_writes_run_at_most_default_parallelism_tasks(spark, tmp_path):
    """A 5-row upsert into 48 ANN (table, bucket) dirs, 64 postings
    buckets and 64 IVF-PQ raw buckets, and a compaction, each write
    from at most defaultParallelism tasks, one file per directory.
    Parent: 48 (ANN raw and SQ8 codes), 64 (postings upsert and
    compact, IVF-PQ raw)."""
    dp = spark.sparkContext.defaultParallelism
    docs = _docs(spark).filter(F.col("doc_id") < 120)
    emb = _emb(spark).filter(F.col("vec_id") < 120)
    few_docs = docs.filter(F.col("doc_id") < 5)
    few_vecs = emb.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "idx")
    ann = str(tmp_path / "ann")
    sq8 = str(tmp_path / "sq8")
    ivf = str(tmp_path / "ivf")
    SIM.build_postings_index_versioned(docs, idx)  # 64 buckets
    SIM.write_ann_store_versioned(emb, ann, bits=3, n_tables=6)
    SIM.write_ann_store_versioned(emb, sq8, quantized=True, bits=3, n_tables=6)
    PQ.write_ivfpq_store(emb, ivf, n_cells=16, m=8, k_pq=16)  # 64 raw buckets

    ops = {
        "postings.upsert": lambda: SIM.upsert_postings_index_versioned(few_docs, idx),
        "postings.compact": lambda: SIM.compact_index(spark, idx),
        "ann.upsert": lambda: SIM.upsert_ann_store_versioned(few_vecs, ann),
        "ann_sq8.upsert": lambda: SIM.upsert_ann_store_versioned(few_vecs, sq8),
        "pq.upsert": lambda: PQ.upsert_ivfpq_store(few_vecs, ivf),
    }
    for name, op in ops.items():
        widths = tasks_in_group(spark, op, f"width-{name}")
        assert widths and max(widths) <= dp, (name, widths)

    for top in (
        os.path.join(idx, "segments"),
        os.path.join(ann, "segments"),
        os.path.join(sq8, "segments"),
        ivf,
    ):
        per_dir = _files_per_dir(top)
        assert per_dir and set(per_dir.values()) == {1}, (top, per_dir)
    # the compacted postings segment still has one file per bucket dir
    live = SIM.IndexReader(spark, idx)
    assert len(glob.glob(os.path.join(live.seg_paths[0], "postings", "bucket=*"))) > dp


def _land(spark, df, landing: str, i: int, tmp) -> None:
    """Land ``df`` as the ``i``-th CDC file, ordered by mtime."""
    out = str(tmp / f"__batch_{i}")
    df.coalesce(1).write.parquet(out)
    p = os.path.join(landing, f"batch_{i}.parquet")
    shutil.copy(glob.glob(out + "/*.parquet")[0], p)
    t = time.time() + i
    os.utime(p, (t, t))


def _commits(root: str) -> int:
    with open(os.path.join(root, "_COMMITS"), encoding="utf-8") as f:
        return sum(1 for line in f if line.strip())


def _run_streams(spark, landing, roots, ckpt, group):
    """Drain ``landing`` into the three roots; returns each stream's
    per-job result-stage task counts."""

    def stream():
        return (
            spark.readStream.schema(CDC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )

    starts = {
        "postings": lambda: SP.run_index_maintenance_stream(
            stream(), roots["postings"], os.path.join(ckpt, "postings"),
            buckets=16, op_col="op",
        ),
        "ann": lambda: SP.run_ann_maintenance_stream(
            stream().withColumnRenamed("doc_id", "vec_id"), roots["ann"],
            os.path.join(ckpt, "ann"), bits=3, n_tables=6, op_col="op",
        ),
        "pq": lambda: SP.run_pq_maintenance_stream(
            stream().withColumnRenamed("doc_id", "vec_id"), roots["pq"],
            os.path.join(ckpt, "pq"), n_cells=4, m=8, k_pq=16, op_col="op",
        ),
    }
    jobs = {}
    for name, start in starts.items():

        def run(start=start):
            q = start()
            q.awaitTermination(240)
            assert q.exception() is None, q.exception()
            return q

        jobs[name] = tasks_in_group(spark, run, f"{group}-{name}")
    return jobs


def test_cdc_batch_folds_as_one_segment_and_one_version(spark, tmp_path):
    """Three CDC batches through the postings, ANN and IVF-PQ streams:
    a base build, then a mixed batch (a re-admitted page whose old
    chunks 10/11 are deleted and new chunks 100/101 upserted, an edit
    of 30, a delete of 40, an id 20 both upserted and deleted, a delete
    of the never-stored 999), then a batch that replaces 100, deletes
    101 and re-adds 10. Each batch advances each root by one version
    (parent: two for a mixed batch); reads, stats, reports and drift
    reports match the live corpus; a replay commits nothing."""
    docs = _docs(spark).join(
        _emb(spark).withColumnRenamed("vec_id", "doc_id"), "doc_id"
    )
    up = F.lit("upsert").alias("op")
    edit_text = F.concat(F.col("text"), F.lit(" fresh cdc token"))
    edit_vec = F.transform("embedding", lambda x: -x)

    def upserts(ids, edit=False):
        sel = docs.filter(F.col("doc_id").isin(ids))
        if edit:
            sel = sel.select("doc_id", edit_text.alias("text"), edit_vec.alias("embedding"))
        return sel.select("doc_id", "text", "embedding", up)

    def deletes(ids):
        return spark.createDataFrame(
            [(i, None, None, "delete") for i in ids], CDC_SCHEMA
        )

    batches = [
        docs.filter(F.col("doc_id") < 60).select("doc_id", "text", "embedding", up),
        upserts([100, 101, 20])
        .unionByName(upserts([30], edit=True))
        .unionByName(deletes([10, 11, 20, 40, 999])),
        upserts([100], edit=True)
        .unionByName(upserts([10]))
        .unionByName(deletes([101])),
    ]
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    roots = {k: str(tmp_path / k) for k in ("postings", "ann", "pq")}
    ckpt = str(tmp_path / "ckpt")

    def live_after(n):
        base = set(range(60))
        if n >= 1:
            base = (base - {10, 11, 20, 40}) | {100, 101}
        if n >= 2:
            base = (base | {10}) - {101}
        edited = ({30} if n >= 1 else set()) | ({100} if n >= 2 else set())
        return base, edited

    def expected_docs(n):
        ids, edited = live_after(n)
        return docs.filter(F.col("doc_id").isin(sorted(ids))).select(
            "doc_id",
            F.when(F.col("doc_id").isin(sorted(edited)), edit_text)
            .otherwise(F.col("text")).alias("text"),
            F.when(F.col("doc_id").isin(sorted(edited)), edit_vec)
            .otherwise(F.col("embedding")).alias("embedding"),
        )

    jobs = {}
    for n, batch in enumerate(batches):
        before = {k: _commits(r) for k, r in roots.items()} if n else None
        _land(spark, batch, landing, n, tmp_path)
        jobs[n] = _run_streams(spark, landing, roots, ckpt, f"cdc-{n}")
        if n:
            assert {k: _commits(r) for k, r in roots.items()} == {
                k: v + 1 for k, v in before.items()
            }
        ids, _ = live_after(n)
        want = expected_docs(n)
        ref = str(tmp_path / f"ref_{n}")
        SIM.build_postings_index(want, ref, buckets=16)
        live, rebuilt = SIM.IndexReader(spark, roots["postings"]), SIM.IndexReader(spark, ref)
        # exact stats: a rebuild over the live docs, bit for bit
        assert (live.n_docs, live.avgdl) == (rebuilt.n_docs, rebuilt.avgdl)
        assert sorted(r.doc_id for r in live.doclens().collect()) == sorted(ids)

        def rowset(rdr):
            return sorted(
                (r.term, r.doc_id, r.tf, r.dl) for r in rdr.postings().collect()
            )

        assert rowset(live) == rowset(rebuilt)
        truth = {
            r.doc_id: [round(float(x), 6) for x in r.embedding]
            for r in want.collect()
        }
        for k in ("ann", "pq"):
            got = {
                r.vec_id: [round(float(x), 6) for x in r.embedding]
                for r in SIM._resolved_vectors(
                    spark, SIM.index_current_path(roots[k])
                ).collect()
            }
            assert got == truth, k

    # fold job pins of the mixed batch (parent, on this batch and on
    # perfbench's 12-row re-crawl batch: postings 24, ann 9, pq 12)
    mixed = jobs[1]
    assert len(mixed["postings"]) <= 15, mixed["postings"]
    assert len(mixed["ann"]) <= 6, mixed["ann"]
    assert len(mixed["pq"]) <= 9, mixed["pq"]

    # at-rest view: the mixed segment (position 1) holds 3 data rows
    # (100, 101, 30) and only deletes 10, 11, 20, 40 and 999; batch 2
    # shadows its data ids 100 and 101, and re-adds 10, which it only
    # deleted — so 2 of its ids are dead weight, not 3
    for k, root in roots.items():
        rep = [
            (r.kind, r.rows, r.shadowed_ids)
            for r in SIM.index_report(spark, root).collect()
        ]
        assert rep == [("data", 60, 5), ("data", 3, 2), ("data", 2, 0)], (k, rep)

    # drift between the two newest versions: 100 changed, 101 removed,
    # 10 added back
    def status(df, key):
        return sorted((r[key], r.status) for r in df.collect())

    assert status(SIM.index_version_drift(spark, roots["postings"]), "doc_id") == [
        (10, "added"), (100, "changed"), (101, "removed"),
    ]
    for k in ("ann", "pq"):
        assert status(SIM.ann_version_drift(spark, roots[k]), "vec_id") == [
            (10, "added"), (100, "replaced"), (101, "removed"),
        ], k

    # replay: a fresh checkpoint re-reads every batch; the markers skip
    # them all and no root commits
    before = {k: _commits(r) for k, r in roots.items()}
    _run_streams(spark, landing, roots, str(tmp_path / "ckpt2"), "cdc-replay")
    assert {k: _commits(r) for k, r in roots.items()} == before


def test_delete_only_batch_is_a_tombstone_and_all_deleted_upserts_too(spark, tmp_path):
    """The public writers with ``delete_ids``: a batch whose every
    upsert it also deletes commits a tombstone (no data row survives
    in any layout, SQ8 included), and the standalone deletes still
    write tombstones."""
    docs = _docs(spark).filter(F.col("doc_id") < 40)
    emb = _emb(spark).filter(F.col("vec_id") < 40)
    idx, ann, sq8, ivf = (str(tmp_path / k) for k in ("idx", "ann", "sq8", "ivf"))
    SIM.build_postings_index_versioned(docs, idx, buckets=8)
    SIM.write_ann_store_versioned(emb, ann, bits=3, n_tables=4)
    SIM.write_ann_store_versioned(emb, sq8, quantized=True, bits=3, n_tables=4)
    PQ.write_ivfpq_store(emb, ivf, n_cells=4, m=8, k_pq=8)
    gone_docs = docs.filter(F.col("doc_id") < 3)
    gone_vecs = emb.filter(F.col("vec_id") < 3)
    SIM.upsert_postings_index_versioned(
        gone_docs, idx, delete_ids=gone_docs.select("doc_id")
    )
    SIM.upsert_ann_store_versioned(gone_vecs, ann, delete_ids=gone_vecs.select("vec_id"))
    SIM.upsert_ann_store_versioned(gone_vecs, sq8, delete_ids=gone_vecs.select("vec_id"))
    PQ.upsert_ivfpq_store(gone_vecs, ivf, delete_ids=gone_vecs.select("vec_id"))
    SIM.delete_index_ids(docs.filter(F.col("doc_id") == 5), idx)
    for root in (idx, ann, sq8, ivf):
        rep = [(r.kind, r.rows) for r in SIM.index_report(spark, root).collect()]
        assert rep[1] == ("tombstone", 3), (root, rep)
    live = SIM.IndexReader(spark, idx)
    assert live.n_docs == 36 and live.seg_tomb == [False, True, True]
    for root in (ann, sq8):
        ids = {r.vec_id for r in SIM._resolved_vectors(
            spark, SIM.index_current_path(root)).collect()}
        assert ids == set(range(3, 40)), root
    probe = PQ.IvfPqStore(spark, ivf)
    assert probe.meta["tombstones"] == probe.meta["segments"][1:]


def test_index_reader_serves_a_managed_root(spark, tmp_path):
    """bm25/bool/phrase readers given a MANAGED root serve the version
    its CURRENT names (parent: a bare FileNotFoundError '<root>/stats');
    a directory that is neither a version nor a managed root raises an
    error naming the path and what it lacks."""
    docs = _docs(spark).filter(F.col("doc_id") < 80)
    root = str(tmp_path / "root")
    SIM.build_postings_index_versioned(docs, root, buckets=8, positions=True)
    SIM.upsert_postings_index_versioned(docs.filter(F.col("doc_id") < 10), root)
    cur = SIM.index_current_path(root)
    q = spark.createDataFrame(
        [(1, "spark vector"), (2, "customer merge")], "query_id int, query_text string"
    )
    bq = spark.createDataFrame(
        [(1, ["spark"], ["vector"], [])],
        "query_id int, must array<string>, should array<string>, must_not array<string>",
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(SIM.bm25_rank_batch_indexed(spark, q, root)) == rows(
        SIM.bm25_rank_batch_indexed(spark, q, cur)
    )
    assert rows(SIM.bool_search_indexed(spark, bq, root)) == rows(
        SIM.bool_search_indexed(spark, bq, cur)
    )
    assert rows(SIM.phrase_match(spark, q, root)) == rows(SIM.phrase_match(spark, q, cur))

    for bad in (str(tmp_path / "empty"), str(tmp_path / "missing")):
        if bad.endswith("empty"):
            os.makedirs(bad)
        with pytest.raises(FileNotFoundError, match="CURRENT") as e:
            SIM.IndexReader(spark, bad)
        assert bad in str(e.value) and "stats/" in str(e.value)
