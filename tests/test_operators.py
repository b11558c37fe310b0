"""Operator invariants (SURVEY.md §5.2 property checks) — the
behavioral contracts that the oracle parity suite can't express."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from tests.conftest import SF_SMALL

from data_ingestion_spark.functions.dedup import (
    exact_dedup_groups,
    minhash_lsh_candidates,
    simhash16,
)
from data_ingestion_spark.functions.embedding import embed_deterministic, make_embed_udf
from data_ingestion_spark.functions.multimodal import (
    attach_binary,
    decode_media_meta,
    frame_sample,
)
from data_ingestion_spark.functions.textops import chunk_fixed_overlap
from data_ingestion_spark.operators.relational import asof_join, top_k_per_group
from data_ingestion_spark.sources.catalog import load_table


# ------------------------------------------------------------- chunking

def test_chunk_invariants(spark):
    """Every chunk ≤ size; consecutive chunks overlap exactly
    ``overlap`` chars; stitching chunks minus overlaps reconstructs
    the document (ingestion-pipeline.py:226-231 semantics)."""
    docs = load_table(spark, SF_SMALL, "documents").limit(50)
    size, overlap = 100, 30
    chunks = chunk_fixed_overlap(docs, "text", ("doc_id",), size=size, overlap=overlap)
    rows = chunks.orderBy("doc_id", "chunk_idx").collect()
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}

    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(texts)
    for doc_id, rs in by_doc.items():
        full = texts[doc_id]
        assert all(len(r.chunk_text) <= size for r in rs)
        for a, b in zip(rs, rs[1:]):
            assert len(a.chunk_text) == size  # only the tail may be short
            assert a.chunk_text[-overlap:] == b.chunk_text[:overlap]
        stitched = rs[0].chunk_text + "".join(r.chunk_text[overlap:] for r in rs[1:])
        assert stitched == full


def test_chunk_short_doc_single_chunk(spark):
    one = spark.createDataFrame([Row(doc_id=1, text="tiny")])
    out = chunk_fixed_overlap(one, "text", ("doc_id",), size=100, overlap=30).collect()
    assert len(out) == 1 and out[0].chunk_text == "tiny"


# ------------------------------------------------------------- as-of join

def test_asof_join_matches_bruteforce(spark):
    left = spark.createDataFrame(
        [Row(k=1, t=10, tag="a"), Row(k=1, t=20, tag="b"), Row(k=2, t=5, tag="c")]
    )
    right = spark.createDataFrame(
        [Row(k=1, t=10, v="r1"), Row(k=1, t=15, v="r2"), Row(k=1, t=25, v="r3"),
         Row(k=2, t=9, v="r4")]
    )
    out = {
        (r.k, r.t): r.asof_v
        for r in asof_join(
            left, right, key="k", left_ts="t", right_ts="t", carry={"asof_v": "v"}
        ).collect()
    }
    # ties match (<=): left t=10 sees right t=10
    assert out == {(1, 10): "r1", (1, 20): "r2", (2, 5): None}


def test_top_k_per_group(spark):
    li = load_table(spark, SF_SMALL, "lineitem")
    out = top_k_per_group(
        li, "l_orderkey", [F.col("l_extendedprice").desc(), F.col("l_linenumber")], 2
    )
    counts = out.groupBy("l_orderkey").count().agg(F.max("count")).collect()[0][0]
    assert counts <= 2


# ------------------------------------------------------------- dedup

def test_exact_dedup_finds_planted_dups(spark):
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text").limit(20)
    planted = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionByName(planted)
    groups = exact_dedup_groups(both, "text", "doc_id")
    assert groups.filter(F.col("n_copies") == 2).count() == 20
    assert groups.agg(F.sum("n_copies")).collect()[0][0] == 40
    # survivor is always the min id (the original)
    assert groups.filter(F.col("keep_id") >= 100000).count() == 0


def test_minhash_catches_exact_dups(spark):
    """An exact duplicate shares every band → must appear as candidate."""
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text").limit(10)
    planted = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionByName(planted)
    cands = minhash_lsh_candidates(both, "text", "doc_id")
    pairs = {(r.id_a, r.id_b) for r in cands.collect()}
    for i in range(10):
        assert any(a == i and b == i + 100000 for a, b in pairs), f"doc {i} pair missed"


def test_simhash_identical_and_perturbed(spark):
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text").limit(5)
    sig = docs.select("doc_id", simhash16(F.col("text")).alias("s1"))
    again = docs.select("doc_id", simhash16(F.col("text")).alias("s2"))
    j = sig.join(again, "doc_id")
    assert j.filter(F.col("s1") != F.col("s2")).count() == 0
    # appending one word flips at most a few of 16 bits
    pert = docs.select(
        "doc_id", simhash16(F.concat(F.col("text"), F.lit(" extraword"))).alias("s2")
    )
    rows = sig.join(pert, "doc_id").select("s1", "s2").collect()
    for r in rows:
        ham = sum(1 for a, b in zip(r.s1, r.s2) if a != b)
        assert ham <= 8, f"perturbation flipped {ham}/16 bits"


# ------------------------------------------------------------- embedding

def test_embed_deterministic_stability(spark):
    docs = load_table(spark, SF_SMALL, "documents").limit(10)
    a = docs.select("doc_id", embed_deterministic(F.col("text"), 8).alias("e")).collect()
    b = docs.select("doc_id", embed_deterministic(F.col("text"), 8).alias("e")).collect()
    assert {r.doc_id: r.e for r in a} == {r.doc_id: r.e for r in b}
    vec = a[0].e
    assert len(vec) == 8 and all(-1.0 <= x <= 1.0 for x in vec)


def _embed_reference(text, dim, seed="emb"):
    """hashlib twin of ``embed_deterministic``: component i is the
    first 15 hex digits of md5(seed|i|text) scaled to [-1, 1], as
    float32; null text gives null components."""
    import hashlib

    import numpy as np

    if text is None:
        return [None] * dim
    out = []
    for i in range(dim):
        h = hashlib.md5(f"{seed}|{i}|{text}".encode()).hexdigest()
        x = float(int(h[:15], 16)) / float(16**15 - 1) * 2.0 - 1.0
        out.append(float(np.float32(x)))
    return out


def test_embed_deterministic_matches_hashlib_reference(spark):
    texts = ["", "naïve café — 数据 ✓", "lorem ipsum " * 256, None]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, t string")
    for dim in (1, 8, 64, 768):
        got = df.select("i", embed_deterministic(F.col("t"), dim).alias("e")).collect()
        for r in got:
            assert r.e == _embed_reference(texts[r.i], dim), (dim, r.i)
    with pytest.raises(ValueError, match="dim must be >= 1"):
        embed_deterministic(F.col("t"), 0)


def test_embed_pandas_udf_shape(spark):
    docs = load_table(spark, SF_SMALL, "documents").limit(10)
    out = docs.select("doc_id", make_embed_udf(16)(F.col("text")).alias("e")).collect()
    assert all(len(r.e) == 16 for r in out)
    # fallback is deterministic too
    out2 = docs.select("doc_id", make_embed_udf(16)(F.col("text")).alias("e")).collect()
    assert {r.doc_id: r.e for r in out} == {r.doc_id: r.e for r in out2}


# ------------------------------------------------------------- multimodal

def test_multimodal_decode_plumbing(spark):
    docs = load_table(spark, SF_SMALL, "documents").limit(8)
    media = attach_binary(docs, "text")
    meta = decode_media_meta(media)
    rows = meta.collect()
    assert len(rows) == 8
    assert {f.name for f in meta.schema.fields} == {
        "doc_id", "mime", "byte_len", "width", "height", "n_frames"
    }
    assert all(r.byte_len > 0 and r.width >= 16 and r.n_frames >= 1 for r in rows)
    # deterministic fake: same payload → same dims
    rows2 = decode_media_meta(media).collect()
    assert {r.doc_id: (r.width, r.height) for r in rows} == {
        r.doc_id: (r.width, r.height) for r in rows2
    }


def test_multimodal_strict_raises(spark):
    docs = load_table(spark, SF_SMALL, "documents").limit(1)
    media = attach_binary(docs, "text")
    with pytest.raises(Exception):  # NotImplementedError inside the udf → task failure
        decode_media_meta(media, strict=True).collect()


def test_frame_sample_explode(spark):
    docs = load_table(spark, SF_SMALL, "documents").limit(8)
    meta = decode_media_meta(attach_binary(docs, "text"))
    frames = frame_sample(meta, every_n=2)
    got = frames.groupBy("doc_id").count().collect()
    expect = {r.doc_id: (r.n_frames + 1) // 2 for r in meta.collect()}
    for r in got:
        assert r["count"] == expect[r.doc_id]


# ------------------------------------------------------------- MLlib LSH

def test_mllib_lsh_topk_recall(spark):
    """The MLlib ANN path must put the exact top-1 (excluding self)
    in its approximate top-5, and score the self-match ~1.0."""
    from data_ingestion_spark.functions.similarity import brute_force_topk, mllib_lsh_topk

    emb = load_table(spark, SF_SMALL, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).collect()[0]
    query = list(qrow.embedding)

    approx = mllib_lsh_topk(emb, query, k=5).collect()
    ids = [r.vec_id for r in approx]
    assert 0 in ids  # self-match found
    self_score = next(r.approx_score for r in approx if r.vec_id == 0)
    assert abs(self_score - 1.0) < 1e-4

    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    exact = brute_force_topk(
        emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qv)), F.col("qv"), k=1
    ).collect()
    assert exact[0].vec_id in ids  # exact top-1 within approx top-5


def test_kmeans_ivf_recall(spark):
    """Real IVF (k-means cells, 2-probe) must contain the exact top-1."""
    from data_ingestion_spark.functions.similarity import (
        brute_force_topk,
        kmeans_ivf_build,
        kmeans_ivf_search,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    model, assigned = kmeans_ivf_build(emb, n_cells=8)
    assert assigned.select("ivf_cell").distinct().count() <= 8

    qrow = emb.filter(F.col("vec_id") == 0).collect()[0]
    hits = kmeans_ivf_search(assigned, model, list(qrow.embedding), k=5).collect()
    ids = [r.vec_id for r in hits]
    assert 0 in ids  # self-match in its own cell

    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    exact = brute_force_topk(
        emb.crossJoin(F.broadcast(qv)), F.col("qv"), k=2
    ).collect()
    # exact top-2 (self + nearest) should be recalled with 2 probes
    assert exact[0].vec_id in ids


def test_kmeans_ivf_auto_cells_and_sample_fit(spark):
    """The two 100 TB knobs: n_cells='auto' sizes cells to ~sqrt(n),
    and max_fit_rows fits k-means on a sample while still assigning
    EVERY corpus row a cell. Probe semantics are unchanged."""
    from data_ingestion_spark.functions.similarity import (
        kmeans_ivf_build,
        kmeans_ivf_search,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    n = emb.count()
    model, assigned = kmeans_ivf_build(emb, n_cells="auto", max_fit_rows=max(2, n // 2))
    expect_cells = max(2, int(round(n ** 0.5)))
    assert len(model.clusterCenters()) == expect_cells
    # sample-fit must not drop assignment coverage: every row gets a cell
    assert assigned.count() == n
    assert assigned.filter(F.col("ivf_cell").isNull()).count() == 0
    assert assigned.select("ivf_cell").distinct().count() <= expect_cells

    qrow = emb.filter(F.col("vec_id") == 0).collect()[0]
    ids = [
        r.vec_id
        for r in kmeans_ivf_search(
            assigned, model, list(qrow.embedding), k=5, n_probe=2
        ).collect()
    ]
    assert 0 in ids  # self-match survives the auto/sample path

    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_cells"):
        kmeans_ivf_build(emb, n_cells="bogus")


def test_kmeans_ivf_auto_cells_capped_by_fit_sample(spark):
    """auto k is sqrt of the CORPUS but can't exceed the fit sample —
    k-means can't place more distinct centroids than it has points, so
    an undersized max_fit_rows caps k (with a warning) rather than
    padding duplicate/empty cells; an explicit too-large n_cells is a
    hard error."""
    import warnings as W

    import pytest as _pytest

    from data_ingestion_spark.functions.similarity import kmeans_ivf_build

    emb = load_table(spark, SF_SMALL, "embeddings")
    n = emb.count()
    auto_k = max(2, int(round(n ** 0.5)))
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        model, assigned = kmeans_ivf_build(emb, n_cells="auto", max_fit_rows=auto_k - 2)
    # capped at the ACTUAL sampled row count (Bernoulli can come in
    # under max_fit_rows), which is itself <= the requested cap
    assert 2 <= len(model.clusterCenters()) <= auto_k - 2
    assert assigned.count() == n  # full corpus still assigned
    assert any("capped" in str(w.message) for w in caught)

    with _pytest.raises(ValueError, match="exceeds"):
        kmeans_ivf_build(emb, n_cells=auto_k + 5, max_fit_rows=auto_k)


def test_kmeans_ivf_degenerate_corpus_raises(spark):
    """auto mode on a 0/1-row corpus fails with a clear ValueError
    before reaching MLlib (which would error opaquely on an empty or
    single-point fit)."""
    import pytest as _pytest

    from data_ingestion_spark.functions.similarity import kmeans_ivf_build

    emb = load_table(spark, SF_SMALL, "embeddings")
    for limit in (0, 1):
        with _pytest.raises(ValueError, match="at least 2 vectors"):
            kmeans_ivf_build(emb.limit(limit), n_cells="auto")
        with _pytest.raises(ValueError, match="at least 2 vectors"):
            kmeans_ivf_build(emb.limit(limit), n_cells=4, max_fit_rows=100)


def test_kmeans_ivf_default_path_issues_no_corpus_count(spark, monkeypatch):
    """Laziness contract: with integer n_cells and no max_fit_rows the
    builder must not count the corpus — only auto/capped mode is
    eager (documented in the docstring). Poison DataFrame.count to
    prove no sizing count is submitted on the default path."""
    from pyspark.sql import DataFrame as _DF

    from data_ingestion_spark.functions.similarity import kmeans_ivf_build

    emb = load_table(spark, SF_SMALL, "embeddings")

    def _poisoned_count(self):  # pragma: no cover - raises on misuse
        raise AssertionError("default kmeans_ivf_build path counted the corpus")

    monkeypatch.setattr(_DF, "count", _poisoned_count)
    model, assigned = kmeans_ivf_build(emb, n_cells=4)
    monkeypatch.undo()
    assert len(model.clusterCenters()) == 4
    assert assigned.count() == emb.count()  # full corpus assigned


# ------------------------------------------------------------- UDTF / merge

def test_python_udtf_chunker(spark):
    """§2.11 UDTF surface: one doc in → many chunk rows out as a real
    Python UDTF (Spark 4), the table-function twin of explode(udf())."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="chunk_idx int, chunk_text string")
    class ChunkUdtf:
        def eval(self, text: str, size: int, overlap: int):
            if text is None:
                return
            stride = max(size - overlap, 1)
            n = max(1, -(-(len(text) - overlap) // stride))
            for i in range(n):
                yield i, text[i * stride : i * stride + size]

    spark.udtf.register("chunk_udtf", ChunkUdtf)
    docs = load_table(spark, SF_SMALL, "documents").limit(5)
    docs.createOrReplaceTempView("udtf_docs")
    out = spark.sql(
        "SELECT d.doc_id, c.chunk_idx, c.chunk_text "
        "FROM udtf_docs d, LATERAL chunk_udtf(d.text, 100, 30) c"
    ).collect()
    assert len(out) >= 5
    assert all(len(r.chunk_text) <= 100 for r in out)
    # agrees with the SQL-native chunker
    from data_ingestion_spark.functions.textops import chunk_fixed_overlap

    native = chunk_fixed_overlap(docs, "text", ("doc_id",), 100, 30).collect()
    assert {(r.doc_id, r.chunk_idx, r.chunk_text) for r in out} == {
        (r.doc_id, r.chunk_idx, r.chunk_text) for r in native
    }


def test_merge_upsert(spark):
    from data_ingestion_spark.operators.relational import merge_upsert

    cur = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c")]
    )
    upd = spark.createDataFrame([Row(k=2, v="B2"), Row(k=4, v="d")])
    out = {r.k: r.v for r in merge_upsert(cur, upd, "k").collect()}
    assert out == {1: "a", 2: "B2", 3: "c", 4: "d"}


def test_merge_upsert_null_key_matches_merge_into_semantics(spark):
    """NULL-key parity with the MERGE SQL path: `<=>` in merge_into_sql
    means a NULL-key update MATCHES a NULL-key current row and updates
    in place — the anti-join fallback must do the same (null-safe
    equality), not keep the old row and insert a duplicate."""
    from data_ingestion_spark.operators.relational import merge_upsert

    schema = "k int, v string"
    cur = spark.createDataFrame([(1, "a"), (None, "null-old")], schema)
    upd = spark.createDataFrame([(None, "null-new"), (2, "b")], schema)
    rows = sorted(
        ((r.k, r.v) for r in merge_upsert(cur, upd, "k").collect()),
        key=lambda t: (t[0] is None, t[0]),
    )
    # exactly ONE null-key row survives, carrying the update's value
    assert rows == [(1, "a"), (2, "b"), (None, "null-new")]


def test_merge_upsert_composite_null_key(spark):
    """Null-safe matching applies per key in composite keys."""
    from data_ingestion_spark.operators.relational import merge_upsert

    schema = "k1 int, k2 string, v string"
    cur = spark.createDataFrame([(1, None, "old"), (1, "x", "keep")], schema)
    upd = spark.createDataFrame([(1, None, "new")], schema)
    out = {(r.k1, r.k2, r.v) for r in merge_upsert(cur, upd, ["k1", "k2"]).collect()}
    assert out == {(1, None, "new"), (1, "x", "keep")}


def test_minhash_fast_catches_exact_dups(spark):
    """The xxhash64 fast path must recall planted exact duplicates
    just like the md5 oracle path."""
    from data_ingestion_spark.functions.dedup import minhash_lsh_candidates_fast

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text").limit(10)
    planted = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    cands = minhash_lsh_candidates_fast(docs.unionByName(planted), "text", "doc_id")
    pairs = {(r.id_a, r.id_b) for r in cands.collect()}
    for i in range(10):
        assert any(a == i and b == i + 100000 for a, b in pairs), f"doc {i} missed"


def test_dup_clusters_components(spark):
    from data_ingestion_spark.functions.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3),   # chain {1,2,3}
         Row(id_a=10, id_b=11),                      # pair {10,11}
         Row(id_a=20, id_b=21), Row(id_a=21, id_b=22), Row(id_a=20, id_b=22)]  # clique
    )
    out = {r.doc_id: r.cluster_id for r in dup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_multi_table_lsh_beats_single(spark):
    """Recall compounds across hash tables: 6-table sign-LSH must
    dominate the single-table probe (and contain the self-match)."""
    from data_ingestion_spark.functions.similarity import (
        brute_force_topk,
        lsh_topk,
        lsh_topk_multi,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    h1 = hm = 0
    for vid in range(5):
        qr = emb.filter(F.col("vec_id") == vid).collect()[0]
        qv = F.array(*[F.lit(float(x)) for x in qr.embedding])
        exact = {r.vec_id for r in brute_force_topk(emb, qv, k=5).collect()}
        one = {r.vec_id for r in lsh_topk(emb, qv, k=5, n_tables=1).collect()}
        multi = {r.vec_id for r in lsh_topk_multi(emb, qv, k=5, n_tables=6).collect()}
        assert vid in multi  # self always matches every table
        h1 += len(exact & one)
        hm += len(exact & multi)
    assert hm >= h1


def test_extract_frames_bytes(spark):
    from data_ingestion_spark.functions.multimodal import (
        decode_media_meta,
        extract_frames,
    )

    docs = load_table(spark, SF_SMALL, "documents").limit(6)
    media = attach_binary(docs, "text")
    frames = extract_frames(media, every_n=1).collect()
    meta = {r.doc_id: r.n_frames for r in decode_media_meta(media).collect()}
    per_doc = {}
    for r in frames:
        per_doc.setdefault(r.doc_id, []).append(r)
        assert isinstance(r.frame_bytes, bytearray | bytes) and r.frame_len >= 1
    for doc_id, rs in per_doc.items():
        assert len(rs) == meta[doc_id]  # one row per fake frame
        assert sorted(r.frame_idx for r in rs) == list(range(len(rs)))


def test_embed_real_model_branch(spark):
    """Non-fallback branch of _load_model: runs only when the env has
    sentence-transformers (not in this container — explicit skip with
    reason, VERDICT r1 item 10). When present: the iterator UDF must
    route batches through model.encode and produce model-dim vectors."""
    pytest.importorskip(
        "sentence_transformers",
        reason="real-model embed branch needs sentence-transformers; "
        "this container ships only the deterministic fallback "
        "(functions/embedding.py::_load_model)",
    )
    import data_ingestion_spark.functions.embedding as EMB

    EMB._MODEL = None  # force a fresh load on the driver-side check
    model = EMB._load_model()
    assert model != "fallback"
    docs = load_table(spark, SF_SMALL, "documents").limit(4)
    out = docs.select("doc_id", make_embed_udf(768)(F.col("text")).alias("e")).collect()
    assert all(len(r.e) == 768 for r in out)


def test_multimodal_search_end_to_end(spark, tmp_path):
    """T11 composition: binary payloads → Arrow feature-extract
    (deterministic fake kernel; the contract BINARY→ARRAY<FLOAT> is
    the real plumbing) → partition-pruned AnnStore probe. The probe
    vector is the embedding of one payload; that payload must come
    back as the top hit with score 1."""
    from data_ingestion_spark.functions.multimodal import attach_binary, embed_media
    from data_ingestion_spark.functions.similarity import AnnStore

    docs = load_table(spark, SF_SMALL, "documents").limit(64)
    media = attach_binary(docs.select("doc_id", "text"), "text", mime="image/fake")
    embedded = embed_media(media, dim=64).select("doc_id", "embedding")

    store = AnnStore(
        spark, str(tmp_path / "mm_ann"), bits=3, n_tables=6,
        id_col="doc_id", vec_col="embedding",
    )
    store.write(embedded)

    target = embedded.filter(F.col("doc_id") == 7).collect()[0]
    top = store.probe([float(x) for x in target.embedding], k=3).collect()
    assert top[0].doc_id == 7
    assert abs(top[0].score - 1.0) < 1e-6

    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        embed_media(media, strict=True)


def test_repetition_signals_keeps_short_docs(spark):
    """Docs with <2 (or <3) words produce no gram rows; they must still
    get a signal row (grams coalesced to 0.0), not vanish — downstream
    corpus filters need a verdict for exactly those docs."""
    from data_ingestion_spark.functions.textops import repetition_signals

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="one"),
            Row(doc_id=2, text="two words"),
            Row(doc_id=3, text="three little words"),
            Row(doc_id=4, text="a a a a a a a a"),
        ]
    )
    out = {r.doc_id: r for r in repetition_signals(df, "text").collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1].top_2gram_frac == 0.0 and out[1].dup_3gram_frac == 0.0
    assert out[2].dup_3gram_frac == 0.0  # one 2-gram, no 3-grams
    assert out[4].top_2gram_frac == 1.0 and out[4].dup_3gram_frac > 0.8


def test_image_header_roundtrip(spark):
    """PNG IHDR / JPEG SOF parse is REAL (pure struct, no PIL): dims
    synthesized into actual header bytes come back exactly; garbage
    and truncated streams yield None instead of raising."""
    from data_ingestion_spark.functions.multimodal import (
        attach_synthetic_image,
        decode_image_headers,
        jpeg_bytes,
        parse_image_header,
        png_bytes,
    )

    assert parse_image_header(png_bytes(640, 480)) == ("png", 640, 480, 8)
    assert parse_image_header(jpeg_bytes(1920, 1080)) == ("jpeg", 1920, 1080, 8)
    assert parse_image_header(b"not an image") is None
    assert parse_image_header(png_bytes(640, 480)[:12]) is None
    assert parse_image_header(jpeg_bytes(64, 64)[:6]) is None
    assert parse_image_header(None) is None

    df = spark.createDataFrame(
        [Row(doc_id=2, n_chars=100), Row(doc_id=3, n_chars=700)]
    )
    out = {r.doc_id: r for r in decode_image_headers(attach_synthetic_image(df)).collect()}
    assert (out[2].format, out[2].width, out[2].height) == ("png", 101, 3)
    assert (out[3].format, out[3].width, out[3].height) == ("jpeg", 189, 4)


def test_decode_media_meta_real_for_png(spark):
    """decode_media_meta prefers the real header parse over the fake:
    a PNG payload decodes to its true dims, not hash-derived ones."""
    from data_ingestion_spark.functions.multimodal import (
        decode_media_meta,
        png_bytes,
    )

    df = spark.createDataFrame(
        [Row(doc_id=1, payload=bytearray(png_bytes(33, 44)), mime="image/png")]
    )
    row = decode_media_meta(df).collect()[0]
    assert (row.width, row.height, row.n_frames) == (33, 44, 1)


def test_ann_store_rejects_short_vectors(spark, tmp_path):
    """Dim guard: bits*n_tables components required; short vectors
    fail fast with a clear message instead of ANSI INVALID_ARRAY_INDEX
    mid-write, and short query vectors raise ValueError driver-side."""
    from data_ingestion_spark.functions.similarity import AnnStore

    store = AnnStore(spark, str(tmp_path / "ann"), bits=3, n_tables=6)
    short = spark.createDataFrame([Row(vec_id=1, embedding=[0.1] * 4)])
    with pytest.raises(Exception, match="18"):
        store.write(short)
    with pytest.raises(ValueError, match="18"):
        store.probe([0.1] * 4)


def test_gif_bmp_wav_header_parse(spark):
    """GIF/BMP image headers and WAV audio headers parse with pure
    struct too; the audio decode kernel mirrors the image one."""
    import struct

    from data_ingestion_spark.functions.multimodal import (
        decode_audio_headers,
        parse_image_header,
        wav_bytes,
    )

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 4
    assert parse_image_header(gif) == ("gif", 320, 200, 8)
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 640, -480) + b"\x00" * 4
    assert parse_image_header(bmp) == ("bmp", 640, 480, 8)  # top-down abs

    df = spark.createDataFrame(
        [
            Row(doc_id=1, payload=bytearray(wav_bytes(2, 44100, 16, 1000))),
            Row(doc_id=2, payload=bytearray(b"not audio")),
        ]
    )
    out = {r.doc_id: r for r in decode_audio_headers(df).collect()}
    assert (out[1].format, out[1].n_channels, out[1].sample_rate) == ("wav", 2, 44100)
    assert out[1].bits_per_sample == 16 and out[1].n_samples == 1000
    assert out[2].format is None


def _gif_bytes(n_frames: int, w: int = 4, h: int = 4) -> bytes:
    """Minimal multi-frame GIF: header + LSD (no global table), one
    image descriptor + 1-byte LZW data sub-block per frame, trailer."""
    import struct as _s

    out = b"GIF89a" + _s.pack("<HH", w, h) + bytes([0x00, 0, 0])
    for _ in range(n_frames):
        out += b"\x2c" + _s.pack("<HHHH", 0, 0, w, h) + b"\x00"  # descriptor
        out += b"\x02" + b"\x01\x00" + b"\x00"  # LZW min + 1 sub-block + end
    return out + b"\x3b"


def test_gif_frame_count_real(spark):
    """GIF frame counting is REAL block-stream walking, not the hash
    fake: decode_media_meta reports the actual number of image
    descriptors for animated GIFs."""
    from data_ingestion_spark.functions.multimodal import (
        decode_media_meta,
        parse_gif_frames,
    )

    assert parse_gif_frames(_gif_bytes(1)) == 1
    assert parse_gif_frames(_gif_bytes(7)) == 7
    assert parse_gif_frames(b"GIF89a" + b"\x00" * 3) is None  # truncated
    assert parse_gif_frames(b"not a gif") is None

    df = spark.createDataFrame(
        [Row(doc_id=1, payload=bytearray(_gif_bytes(3)), mime="image/gif")]
    )
    row = decode_media_meta(df).collect()[0]
    assert (row.width, row.height, row.n_frames) == (4, 4, 3)


def test_segment_wav_real_slicing(spark):
    """WAV segmentation slices the REAL PCM bytes: segment sample
    counts sum to the file's sample count, bytes are frame-aligned,
    and non-WAV payloads produce no rows."""
    from data_ingestion_spark.functions.multimodal import segment_wav, wav_bytes

    # 2 ch, 1000 Hz, 16-bit, 2500 samples → 2.5 s → segments of 1 s
    df = spark.createDataFrame(
        [
            Row(doc_id=1, payload=bytearray(wav_bytes(2, 1000, 16, 2500))),
            Row(doc_id=2, payload=bytearray(b"junk")),
        ]
    )
    segs = sorted(segment_wav(df, seconds=1.0).collect(), key=lambda r: r.seg_idx)
    assert [r.doc_id for r in segs] == [1, 1, 1]
    assert [r.n_samples for r in segs] == [1000, 1000, 500]
    assert all(len(r.seg_bytes) == r.n_samples * 4 for r in segs)  # 2ch*16bit


def test_extract_frames_real_for_gif(spark):
    """GIF frame extraction is REAL: each emitted frame is the exact
    byte span of one image descriptor + its LZW data (starts with
    0x2C), and the spans partition the animation's frame stream."""
    from data_ingestion_spark.functions.multimodal import extract_frames

    df = spark.createDataFrame(
        [Row(doc_id=1, payload=bytearray(_gif_bytes(4)))]
    )
    frames = sorted(extract_frames(df).collect(), key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in frames] == [0, 1, 2, 3]
    assert all(bytes(r.frame_bytes)[0] == 0x2C for r in frames)
    # every_n sampling over real spans
    sampled = extract_frames(df, every_n=2).collect()
    assert sorted(r.frame_idx for r in sampled) == [0, 2]


def test_dup_clusters_long_chain_and_early_exit(spark):
    """A path graph propagates the min label one hop per round, so a
    16-node chain needs ~15 rounds: exercises the convergence check
    (changed-flag over the checkpointed labels) well past the typical
    2-3 rounds of clique-shaped duplicate clusters."""
    from data_ingestion_spark.functions.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(15)]
    )
    out = {r.doc_id: r.cluster_id for r in dup_clusters(pairs, max_iters=32).collect()}
    assert out == {i: 0 for i in range(16)}


def test_dup_clusters_empty_pairs(spark):
    """No candidate pairs → no clusters, and the loop exits on the
    first fixpoint check rather than iterating max_iters times."""
    from data_ingestion_spark.functions.dedup import dup_clusters
    from pyspark.sql.types import LongType, StructField, StructType

    empty = spark.createDataFrame(
        [], StructType([StructField("id_a", LongType()), StructField("id_b", LongType())])
    )
    assert dup_clusters(empty).count() == 0


def test_dup_clusters_max_iters_zero_raises(spark):
    """Round 1 is fused into label initialization, so max_iters=0
    cannot mean 'no propagation' — it is rejected loudly instead of
    silently running one round (the degenerate-bound semantic the
    fused rewrite would otherwise have changed)."""
    import pytest as _pytest

    from data_ingestion_spark.functions.dedup import dup_clusters

    pairs = spark.createDataFrame([Row(id_a=1, id_b=2)])
    for bad in (0, -1):
        with _pytest.raises(ValueError, match="max_iters"):
            dup_clusters(pairs, max_iters=bad)
    # the minimum legal bound still produces correct labels on a clique
    out = {r.doc_id: r.cluster_id for r in dup_clusters(pairs, max_iters=1).collect()}
    assert out == {1: 1, 2: 1}


def test_dup_clusters_star_matches_propagation(spark):
    """Large-star/small-star CC must produce identical labels to
    min-label propagation on chains, cliques, and a seeded random
    graph (both define cluster_id = component min)."""
    import random

    from data_ingestion_spark.functions.dedup import dup_clusters, dup_clusters_star

    fixed = [
        Row(id_a=1, id_b=2), Row(id_a=2, id_b=3),
        Row(id_a=10, id_b=11),
        Row(id_a=20, id_b=21), Row(id_a=21, id_b=22), Row(id_a=20, id_b=22),
        Row(id_a=31, id_b=30),  # reversed order input
    ]
    rng = random.Random(7)
    rand = [
        Row(id_a=rng.randrange(100, 160), id_b=rng.randrange(100, 160))
        for _ in range(80)
    ]
    pairs = spark.createDataFrame(fixed + [r for r in rand if r.id_a != r.id_b])
    a = {r.doc_id: r.cluster_id for r in dup_clusters(pairs, max_iters=64).collect()}
    b = {r.doc_id: r.cluster_id for r in dup_clusters_star(pairs).collect()}
    assert a == b
    assert b[3] == 1 and b[11] == 10 and b[22] == 20 and b[31] == 30


def test_dup_clusters_star_long_chain_log_rounds(spark):
    """The point of star contraction: a 64-node path graph (diameter
    63) must fully converge within O(log^2 n) alternating rounds —
    far fewer than the 63 rounds min-label propagation would need."""
    from data_ingestion_spark.functions.dedup import dup_clusters_star

    pairs = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(63)])
    out = {
        r.doc_id: r.cluster_id
        for r in dup_clusters_star(pairs, max_iters=12).collect()
    }
    assert out == {i: 0 for i in range(64)}


def test_dup_clusters_star_empty_pairs(spark):
    from data_ingestion_spark.functions.dedup import dup_clusters_star
    from pyspark.sql.types import LongType, StructField, StructType

    empty = spark.createDataFrame(
        [], StructType([StructField("id_a", LongType()), StructField("id_b", LongType())])
    )
    assert dup_clusters_star(empty).count() == 0


def test_merge_upsert_table_parquet_fallback_matches_logical(spark):
    """merge_upsert_table on a parquet table (no MERGE support) must
    route through the rewrite path and land exactly the logical
    merge_upsert result."""
    from data_ingestion_spark.operators.relational import (
        merge_upsert,
        merge_upsert_table,
        table_provider,
    )

    cur = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c")])
    upd = spark.createDataFrame([Row(k=2, v="B2"), Row(k=4, v="d")])
    tbl = "merge_tgt_parquet"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    cur.write.format("parquet").saveAsTable(tbl)
    assert table_provider(spark, tbl) == "parquet"  # i.e. NOT merge-capable

    expected = {(r.k, r.v) for r in merge_upsert(cur, upd, "k").collect()}
    out = merge_upsert_table(spark, tbl, upd, "k")
    assert {(r.k, r.v) for r in out.collect()} == expected
    # idempotent: merging the same updates again changes nothing
    again = merge_upsert_table(spark, tbl, upd, "k")
    assert {(r.k, r.v) for r in again.collect()} == expected
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_merge_into_sql_statement_shape():
    """The table-format path's MERGE statement: null-safe key match,
    update-all, insert-all — the exact upsert contract of
    merge_upsert (textual check; delta/iceberg jars aren't in the
    container, so the SQL path is exercised only where a real lakehouse
    catalog is attached)."""
    from data_ingestion_spark.operators.relational import merge_into_sql

    sql = merge_into_sql("tgt", "src", ["k1", "k2"])
    assert sql == (
        "MERGE INTO `tgt` t USING `src` s ON t.`k1` <=> s.`k1` AND t.`k2` <=> s.`k2` "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    # dotted names quote part-wise; embedded backticks are escaped
    dotted = merge_into_sql("cat.db.tgt", "src", ["a`b"])
    assert "MERGE INTO `cat`.`db`.`tgt` t" in dotted
    assert "t.`a``b` <=> s.`a``b`" in dotted
    # a COLUMN whose name contains a literal dot must stay ONE quoted
    # atom — part-wise splitting would resolve it as a struct field
    # path (field b of column a) instead of the column named "a.b"
    dotted_col = merge_into_sql("tgt", "src", ["a.b"])
    assert "t.`a.b` <=> s.`a.b`" in dotted_col
    assert "t.`a`.`b`" not in dotted_col


# ----------------------------------------------------------- salted aggs

def test_salted_group_count_skips_map_columns(spark):
    """xxhash64 raises on MapType, so the default content salt must
    exclude map-bearing columns instead of failing the whole agg."""
    from data_ingestion_spark.operators.skew import salted_group_count

    df = spark.createDataFrame(
        [Row(k="a", n=i, meta={"src": str(i)}) for i in range(20)]
        + [Row(k="b", n=0, meta={"src": "x"})]
    )
    out = {r.k: r.cnt for r in salted_group_count(df, "k", buckets=4).collect()}
    assert out == {"a": 20, "b": 1}


def test_salted_group_count_counter_fallback(spark):
    """The partition-local-counter fallback must ACTUALLY run: an
    explicit salt_cols=[] leaves no hashable salt input, and a
    map-only frame leaves the default with none either. (A frame
    that merely CONTAINS a map still salts by its other columns —
    that path is covered by the map-exclusion test below.)"""
    from data_ingestion_spark.operators.skew import _row_salt, salted_group_count

    df = spark.createDataFrame([Row(k="a", meta={"i": str(i % 3)}) for i in range(30)])
    # salt_cols=[] forces the counter branch end-to-end through the agg
    out = {r.k: r.cnt for r in salted_group_count(df, "k", salt_cols=[]).collect()}
    assert out == {"a": 30}
    # and the branch choice itself: all-map frame -> counter; any
    # hashable column present -> content hash
    counter = str(_row_salt(df.select("meta"), 8, None))
    assert "monotonically_increasing_id" in counter and "xxhash64" not in counter
    content = str(_row_salt(df.select("meta", "k"), 8, None))
    assert "xxhash64" in content and "monotonically_increasing_id" not in content


def test_salted_group_count_duplicate_rows_need_salt_cols(spark):
    """Byte-identical rows share one salt bucket (documented caveat);
    a distinguishing salt_cols restores fan-out while keeping the
    result exact."""
    from data_ingestion_spark.operators.skew import _row_salt, salted_group_count

    dup = spark.createDataFrame([Row(k="hot", v=1)] * 50 + [Row(k="cold", v=2)])
    with_id = dup.withColumn("rid", F.monotonically_increasing_id())
    out = {
        r.k: r.cnt
        for r in salted_group_count(with_id, "k", buckets=8, salt_cols=["rid"]).collect()
    }
    assert out == {"hot": 50, "cold": 1}
    n_buckets = (
        with_id.withColumn("s", _row_salt(with_id, 8, ["rid"]))
        .filter(F.col("k") == "hot")
        .select("s")
        .distinct()
        .count()
    )
    assert n_buckets > 1, "distinguishing salt_cols must fan the hot key out"


# ------------------------------------------- audio sample decode (r08)


def _wav_with_samples(n_channels, rate, bits, data, fmt_tag=1):
    import struct as _s

    fmt = _s.pack(
        "<HHIIHH", fmt_tag, n_channels, rate,
        rate * n_channels * bits // 8, n_channels * bits // 8, bits,
    )
    return (
        b"RIFF" + _s.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + _s.pack("<I", 16) + fmt
        + b"data" + _s.pack("<I", len(data)) + data
    )


def test_pcm_to_float_anchors():
    """Published G.711 table anchors — independent of our own encoder,
    so a consistent-but-wrong compander pair cannot pass."""
    import numpy as np

    from data_ingestion_spark.functions.multimodal import pcm_to_float

    # PCM16: known LE bytes
    got = pcm_to_float(np.array([0, 16384, -32768], dtype="<i2").tobytes(), 16)
    assert np.allclose(got, [0.0, 0.5, -1.0])
    # PCM8 is unsigned with 128 midpoint
    assert np.allclose(pcm_to_float(bytes([128, 255, 0]), 8), [0.0, 127 / 128, -1.0])
    # µ-law: 0xFF/0x7F are the two zeros; 0x00 -> -32124, 0x80 -> +32124
    mu = pcm_to_float(bytes([0xFF, 0x7F, 0x00, 0x80]), 8, fmt_tag=7)
    assert np.allclose(mu * 32768.0, [0, 0, -32124, 32124])
    # A-law: 0xD5 -> +8, 0x55 -> -8 (the classic silence pair), and the
    # extremes are symmetric
    al = pcm_to_float(bytes([0xD5, 0x55, 0xAA, 0x2A]), 8, fmt_tag=6)
    assert np.allclose(al[:2] * 32768.0, [8, -8])
    assert al[2] == -al[3] and abs(al[2] * 32768.0) == 32256
    # out-of-envelope tag/width -> None
    assert pcm_to_float(bytes(4), 12) is None
    assert pcm_to_float(bytes(4), 8, fmt_tag=2) is None  # ADPCM


def test_audio_segment_stats_sine_and_silence(spark):
    import math

    import numpy as np
    from pyspark.sql import Row

    from data_ingestion_spark.functions.multimodal import audio_segment_stats

    rate, amp = 1000, 0.5
    t = np.arange(2000)
    sine = (amp * 32767 * np.sin(2 * np.pi * 50 * t / rate)).astype("<i2")
    silence = np.zeros(1000, dtype="<i2")
    mu_body = bytes([0xFF] * 800)  # µ-law digital silence
    df = spark.createDataFrame(
        [
            Row(doc_id=0, payload=bytearray(_wav_with_samples(1, rate, 16, sine.tobytes()))),
            Row(doc_id=1, payload=bytearray(_wav_with_samples(1, rate, 16, silence.tobytes()))),
            Row(doc_id=2, payload=bytearray(_wav_with_samples(1, rate, 8, mu_body, fmt_tag=7))),
            Row(doc_id=3, payload=bytearray(b"not audio")),
            Row(doc_id=4, payload=None),
        ]
    )
    rows = {(r["doc_id"], r["seg_idx"]): r for r in audio_segment_stats(df, 1.0).collect()}
    # sine: 2 one-second segments, RMS ~ amp/sqrt(2), peak ~ amp
    assert (0, 0) in rows and (0, 1) in rows
    for k in ((0, 0), (0, 1)):
        assert abs(rows[k]["rms"] - amp / math.sqrt(2)) < 0.01
        assert abs(rows[k]["peak"] - amp) < 0.01
        assert rows[k]["n_samples"] == 1000
    # silence: rms == peak == 0
    assert rows[(1, 0)]["rms"] == 0.0 and rows[(1, 0)]["peak"] == 0.0
    # µ-law silence decodes to all-zero samples
    assert rows[(2, 0)]["rms"] == 0.0 and rows[(2, 0)]["n_samples"] == 800
    # non-audio and NULL payloads contribute no rows
    assert not any(k[0] in (3, 4) for k in rows)


def test_audio_zero_rate_is_skipped(spark):
    """ADVICE r08: a corrupt fmt chunk with sample_rate=0 must yield
    NO rows (not one row per audio frame) from both segmenters."""
    from pyspark.sql import Row

    from data_ingestion_spark.functions.multimodal import (
        audio_segment_stats,
        segment_wav,
    )

    hostile = _wav_with_samples(1, 0, 16, bytes(20000))
    ok = _wav_with_samples(1, 1000, 16, bytes(2000))
    df = spark.createDataFrame(
        [Row(doc_id=0, payload=bytearray(hostile)),
         Row(doc_id=1, payload=bytearray(ok))]
    )
    stats = audio_segment_stats(df, 1.0).collect()
    assert all(r["doc_id"] != 0 for r in stats) and any(r["doc_id"] == 1 for r in stats)
    segs = segment_wav(df, 1.0).collect()
    assert all(r["doc_id"] != 0 for r in segs) and any(r["doc_id"] == 1 for r in segs)


def test_snapshot_diff_statuses(spark):
    from data_ingestion_spark.operators.relational import snapshot_diff

    old = spark.createDataFrame(
        [("u1", "h1"), ("u2", "h2"), ("u3", "h3")], "url string, body_md5 string"
    )
    new = spark.createDataFrame(
        [("u1", "h1"), ("u2", "HX"), ("u4", "h4")], "url string, body_md5 string"
    )
    got = {r.url: r.status for r in snapshot_diff(old, new).collect()}
    assert got == {"u1": "unchanged", "u2": "changed", "u3": "removed", "u4": "added"}


def test_snapshot_diff_null_fingerprints(spark):
    """Presence must come from per-side flags, not fingerprint
    nullability: a NULL-md5 page present in both snapshots is NOT
    'added', and NULL↔non-NULL is 'changed' (re-ingest a page that
    gained content after an empty fetch), not 'unchanged'."""
    from data_ingestion_spark.operators.relational import snapshot_diff

    old = spark.createDataFrame(
        [("u1", None), ("u2", None), ("u3", "h3"), ("u5", None)],
        "url string, body_md5 string",
    )
    new = spark.createDataFrame(
        [("u1", None), ("u2", "h2"), ("u3", None), ("u4", None)],
        "url string, body_md5 string",
    )
    got = {r.url: r.status for r in snapshot_diff(old, new).collect()}
    assert got == {
        "u1": "unchanged",  # NULL == NULL under eqNullSafe
        "u2": "changed",    # NULL -> content: must re-ingest
        "u3": "changed",    # content -> NULL
        "u4": "added",
        "u5": "removed",    # NULL fingerprint, but the KEY left
    }


def test_snapshot_diff_assert_unique(spark):
    """assert_unique=True fails loudly on a duplicated key instead of
    silently multiplying rows through the full-outer join."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from data_ingestion_spark.operators.relational import snapshot_diff

    old = spark.createDataFrame(
        [("u1", "h1"), ("u1", "h1b"), ("u2", "h2")], "url string, body_md5 string"
    )
    new = spark.createDataFrame([("u1", "h1")], "url string, body_md5 string")
    with pytest.raises(SparkRuntimeException, match="duplicate url in old snapshot"):
        snapshot_diff(old, new, assert_unique=True).collect()
    # clean inputs pass the guard unchanged
    ok_old = spark.createDataFrame([("u1", "h1")], "url string, body_md5 string")
    got = {r.url: r.status for r in snapshot_diff(ok_old, new, assert_unique=True).collect()}
    assert got == {"u1": "unchanged"}


def test_lang_id_six_languages_margin_and_ties(spark):
    """Widened lang-ID: clear-cut sentences per language classify
    correctly with a positive margin; marker-vote ties resolve by
    LANG_MARKERS priority order with margin 0."""
    from data_ingestion_spark.functions.textops import lang_id_scores

    rows = [
        (0, "the house of a friend and the garden of a king"),
        (1, "el perro y la casa de la abuela"),
        (2, "der hund und die katze und das haus"),
        (3, "dans les montagnes il y a une riviere et les arbres"),
        (4, "isso e muito bom e uma casa muito bonita"),
        (5, "che cosa sono gli amici che arrivano"),
        (6, "the el"),          # 1-1 tie: en beats es by priority
        (7, "gli les"),         # 1-1 tie: fr beats it by priority
        (8, "zzz qqq"),         # all-zero: en by priority, margin 0
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: (r.predicted_lang, r.margin) for r in lang_id_scores(df).collect()}
    assert {i: got[i][0] for i in range(6)} == {
        0: "en", 1: "es", 2: "de", 3: "fr", 4: "pt", 5: "it"
    }
    assert all(got[i][1] > 0 for i in range(6))
    assert got[6] == ("en", 0) and got[7] == ("fr", 0) and got[8] == ("en", 0)


def test_funnel_steps_semantics(spark):
    """Ordered funnel: steps must occur strictly after the previous
    one (out-of-order completions don't count), first-touch picks
    the earliest qualifying time, non-entrants are absent."""
    from data_ingestion_spark.operators.relational import funnel_steps

    rows = [
        # u1: full ordered funnel, with a later duplicate click
        (1, 10, "view"), (1, 20, "click"), (1, 25, "click"), (1, 30, "purchase"),
        # u2: purchase BEFORE click -> only reaches click (2)
        (2, 10, "view"), (2, 30, "click"), (2, 20, "purchase"),
        # u3: view only
        (3, 10, "view"),
        # u4: never viewed -> absent
        (4, 10, "click"), (4, 20, "purchase"),
        # u5: two views; second view's click chain attributes to FIRST view
        (5, 50, "view"), (5, 10, "view"), (5, 40, "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts long, event_type string")
    out = {r.user_id: r for r in funnel_steps(df, ["view", "click", "purchase"]).collect()}
    assert set(out) == {1, 2, 3, 5}
    assert (out[1].t_view, out[1].t_click, out[1].t_purchase, out[1].reached) == (10, 20, 30, 3)
    assert (out[2].t_click, out[2].t_purchase, out[2].reached) == (30, None, 2)
    assert (out[3].reached, out[3].t_click) == (1, None)
    assert (out[5].t_view, out[5].t_click, out[5].reached) == (10, 40, 2)
    # single shuffle: one hash exchange on user_id in the whole plan
    plan = funnel_steps(df, ["view", "click", "purchase"])._jdf.queryExecution().executedPlan().toString()
    import re
    n = len(re.findall(r"(?<!Broadcast)Exchange hashpartitioning", plan))
    assert n == 1, f"funnel should be one shuffle, saw {n}"



def test_unicode_normalize_forms_and_nulls(spark):
    """r14 Y-series: NFC composes combining marks (dedup keys
    converge), NFKC additionally folds compatibility chars
    (ligatures/fullwidth), NFD round-trips back, NULLs pass, bad
    form refuses."""
    import pytest
    from pyspark.sql import functions as F

    from data_ingestion_spark.functions.textops import unicode_normalize

    df = spark.createDataFrame(
        [
            (1, "é"),          # decomposed é
            (2, "é"),            # composed é
            (3, "ﬁle Ａ"),  # fi-ligature + fullwidth A
            (4, None),
        ],
        "id bigint, s string",
    )
    out = {
        r.id: (r.nfc, r.nfkc, r.nfd)
        for r in df.select(
            "id",
            unicode_normalize(F.col("s")).alias("nfc"),
            unicode_normalize(F.col("s"), "NFKC").alias("nfkc"),
            unicode_normalize(F.col("s"), "NFD").alias("nfd"),
        ).collect()
    }
    assert out[1][0] == out[2][0] == "é"  # both compose to é
    assert out[1][2] == out[2][2] == "é"  # both decompose
    assert out[3][1] == "file A"  # NFKC folds; NFC does not
    assert out[3][0] == "ﬁle Ａ"
    assert out[4] == (None, None, None)
    with pytest.raises(ValueError, match="unknown normalization"):
        unicode_normalize(F.col("s"), "NFX")


def test_cohort_retention_hand_case(spark):
    from datetime import datetime

    from data_ingestion_spark.operators.relational import cohort_retention

    # Mondays: 2024-01-01, 01-08, 01-15. u1 joins wk0, returns wk2
    # (twice in the same week -> counted once); u2 joins wk1 only.
    rows = [
        (1, datetime(2024, 1, 3, 10)),
        (1, datetime(2024, 1, 16, 9)),
        (1, datetime(2024, 1, 17, 9)),
        (2, datetime(2024, 1, 9, 12)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (str(r.cohort_week), r.week_offset, r.n_users)
        for r in cohort_retention(ev).collect()
    }
    assert got == {
        ("2024-01-01", 0, 1),
        ("2024-01-01", 2, 1),
        ("2024-01-08", 0, 1),
    }


def test_transition_matrix_probabilities_and_tiebreak(spark):
    from datetime import datetime

    from data_ingestion_spark.operators.relational import transition_matrix

    t = datetime(2024, 1, 1, 0, 0, 0)
    # u1: a->b->a->c ; u2: equal timestamps, event_id breaks the tie
    # deterministically as b->a.
    rows = [
        (1, t, 1, "a"),
        (1, datetime(2024, 1, 1, 0, 1), 2, "b"),
        (1, datetime(2024, 1, 1, 0, 2), 3, "a"),
        (1, datetime(2024, 1, 1, 0, 3), 4, "c"),
        (2, t, 10, "b"),
        (2, t, 11, "a"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, event_type string")
    got = {
        (r.from_type, r.to_type, r.n, r.p_micros)
        for r in transition_matrix(ev).collect()
    }
    assert got == {
        ("a", "b", 1, 500000),
        ("a", "c", 1, 500000),
        ("b", "a", 2, 1000000),
    }


def test_transition_matrix_min_count_keeps_true_conditionals(spark):
    from datetime import datetime, timedelta

    from data_ingestion_spark.operators.relational import transition_matrix

    t0 = datetime(2024, 1, 1)
    seq = ["a", "b"] * 3 + ["a", "c"]  # a->b x3, b->a x3, a->c x1
    rows = [
        (1, t0 + timedelta(minutes=i), i, s) for i, s in enumerate(seq)
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, event_type string")
    got = {
        (r.from_type, r.to_type, r.n, r.p_micros)
        for r in transition_matrix(ev, min_count=2).collect()
    }
    # a->c is pruned from the REPORT but still in a's denominator:
    # p(a->b) = 3/4, not 3/3.
    assert got == {("a", "b", 3, 750000), ("b", "a", 3, 1000000)}
