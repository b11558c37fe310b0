"""The benchmark's workloads, driven through the package's public
functions from a single closed-loop client.

``Bench`` owns one Spark session and the run's working directory. Its
methods are the operations a workload is made of: the crawl ingest
(fused, or staged with each layer materialized at its boundary when
traced), the store builds, the four request kinds, and one re-crawl
batch folded through the maintenance streams. Each call into a layer
is wrapped in a tracer span; with tracing off the spans cost nothing.

Every operation's output is checked against an independent reference
computed here (numpy exact top-5, inline BM25, the expected live id
set); a failed check counts into ``failed``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq_files
from pyspark.sql import functions as F

from data_ingestion_spark.functions import dedup as DD
from data_ingestion_spark.functions import pq as PQ
from data_ingestion_spark.functions import similarity as SIM
from data_ingestion_spark.functions.embedding import embed_deterministic
from data_ingestion_spark.functions.html import clean_html
from data_ingestion_spark.functions.textops import (
    chunk_recursive,
    content_header,
    normalize_index_name,
    split_markdown_headers,
)
from data_ingestion_spark.plans.config import IngestionConfig
from data_ingestion_spark.plans.web_ingestion import website_ingestion_from_warc
from data_ingestion_spark.query_api import EngineQuery
from data_ingestion_spark.sources.catalog import read_binary_dir
from data_ingestion_spark.sources.sinks import ParquetVectorStore
from data_ingestion_spark.sources.warc import warc_records, warc_response_docs
from data_ingestion_spark.streaming import pipeline as SP

K = 5
DIM = 64
INDEX = "docs"
#: store geometry sized for a corpus of a few thousand chunks
POSTINGS_BUCKETS = 8
PQ_RAW_BUCKETS = 8
#: segment bound of the postings, ANN and IVF-PQ streams. A batch adds an
#: upsert and a tombstone segment, so reads after the first batch resolve
#: three segments and the second batch compacts.
MAX_SEGMENTS = 4
#: segment bound of the novelty stream: the band-store upsert of every
#: batch takes the root past it, so every batch compacts the band store
NOVELTY_MAX_SEGMENTS = 1
#: vector queries scored in one batch probe for the recall metrics
RECALL_QUERIES = 96
RECRAWL_SCHEMA = "doc_id long, url string, html string, op string"
CDC_SCHEMA = "doc_id long, text string, embedding array<float>, op string"
#: the CDC files also carry each chunk's page url, which the streams ignore
STAGE_SCHEMA = "doc_id long, url string, text string, embedding array<float>, op string"


def embed_reference(text: str) -> np.ndarray:
    """``embed_deterministic`` recomputed with hashlib: component i is
    the first 15 hex digits of md5('emb|i|' + text) scaled to [-1, 1]."""
    out = np.empty(DIM, dtype=np.float32)
    for i in range(DIM):
        h = int(hashlib.md5(f"emb|{i}|{text}".encode()).hexdigest()[:15], 16)
        out[i] = np.float32(h / float(16**15 - 1) * 2.0 - 1.0)
    return out


def exact_topk(ids: np.ndarray, mat: np.ndarray, q: np.ndarray, k: int = K):
    """(ids, scores) of the exact cosine top-k, scores rounded to 6dp
    and ties broken by ascending id, as the package orders them."""
    m = mat.astype(np.float64)
    qd = q.astype(np.float64)
    scores = np.round(m @ qd / (np.linalg.norm(m, axis=1) * np.linalg.norm(qd)), 6)
    order = np.lexsort((ids, -scores))[:k]
    return ids[order], scores[order]


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest of the usual percentiles with
    at least ten samples beyond it, else the maximum (percentile 100)."""
    n = len(samples)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100) >= 10:
            return p, float(np.percentile(samples, p))
    return 100.0, float(max(samples))


class Roots:
    """Paths of one generation of stores."""

    def __init__(self, base: str):
        self.base = base
        self.vs = os.path.join(base, "vector_store")
        self.ann = os.path.join(base, "ann")
        self.postings = os.path.join(base, "postings")
        self.pq = os.path.join(base, "pq")
        self.band = os.path.join(base, "band")

    def managed(self) -> dict[str, str]:
        return {"ann": self.ann, "postings": self.postings, "pq": self.pq, "dedup": self.band}


class Bench:
    def __init__(self, spark, tracer, work: str, inputs: str, manifest: dict):
        self.spark = spark
        self.tracer = tracer
        self.traced = tracer.enabled
        self.work = work
        self.inputs = inputs
        self.manifest = manifest
        self.cfg = IngestionConfig(index_name=INDEX, store_path=os.path.join(work, "unused"),
                                   embed_dim=DIM)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.lat: dict[str, list[float]] = {"search": [], "ann": [], "pq": [], "keyword": []}
        self.commits: list[float] = []
        self.pages_in = 0
        self.layer: dict[str, list[float]] = {}
        with open(os.path.join(inputs, "requests.jsonl"), encoding="utf-8") as f:
            self.requests = [json.loads(line) for line in f]
        self.next_req = 0
        self.bm25_checked = 0
        #: keyword requests per run re-checked against inline ``bm25_rank``
        self.bm25_checks = 1
        self._handles: dict[str, tuple[str, object]] = {}
        self.recrawl: Recrawl | None = None
        self.warm = True

    # ------------------------------------------------------------ bookkeeping
    def reset_samples(self) -> None:
        """End of set-up: drop the warm-up requests' samples."""
        for v in self.lat.values():
            v.clear()
        self.layer.clear()
        self.warm = False

    def note(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def op(self, fn, what: str):
        """Run one operation, counting it; an exception is a failed op."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # the run goes on; the failure is reported
            self.failed += 1
            self.failures.append(f"{what}: {type(e).__name__}: {e}"[:400])
            return None

    # ------------------------------------------------------------ ingest
    def _chunk_id(self, epoch: int):
        return F.xxhash64(F.lit(epoch), F.col("url"), F.col("section_idx"), F.col("chunk_idx"))

    def _pages(self):
        return warc_response_docs(
            warc_records(read_binary_dir(self.spark, os.path.join(self.inputs, "crawl"), "*.warc.gz"))
        )

    def _sections(self, docs):
        sections = split_markdown_headers(docs, "page_content", max_level=self.cfg.md_split_depth)
        return sections.select(
            "url", "title", F.posexplode("sections").alias("section_idx", "section_text")
        )

    def _chunks(self, sec):
        chunks = chunk_recursive(
            sec, text_col="section_text", id_cols=("url", "title", "section_idx"),
            size=self.cfg.chunk_size, overlap=self.cfg.chunk_overlap,
        )
        return chunks.withColumn(
            "chunk_text",
            content_header(F.col("title"), F.col("section_idx").cast("string"),
                           F.col("chunk_idx").cast("string"), F.col("chunk_text")),
        ).withColumn("index_name", normalize_index_name(F.lit(self.cfg.index_name)))

    def _embed(self, chunks):
        return chunks.withColumn("embedding", embed_deterministic(F.col("chunk_text"), DIM))

    @staticmethod
    def _page_text(docs):
        return docs.select(
            F.regexp_extract("url", r"page-(\d+)\.html", 1).cast("long").alias("doc_id"),
            "page_content",
        )

    def ingest(self, roots: Roots, staged: bool):
        """WARC shards → vector store. Fused: the package's one lazy
        plan. Staged (traced runs): the same steps with each layer's
        output materialized, so each span holds only its own work.
        Returns the page-text frame the band store is built from."""
        store = ParquetVectorStore(self.spark, roots.vs)
        if not staged:
            with self.tracer.span("ingest.fused"):
                df = website_ingestion_from_warc(self.spark, self.cfg, os.path.join(self.inputs, "crawl"))
                store.upsert(df.withColumn("chunk_id", self._chunk_id(0)))
            return self._page_text(clean_html(self._pages()))
        with self.tracer.span("warc"):
            pages = self._pages().localCheckpoint(eager=True)
        with self.tracer.span("html"):
            docs = clean_html(pages).localCheckpoint(eager=True)
        with self.tracer.span("textops"):
            sec = self._sections(docs).localCheckpoint(eager=True)
            chunks = self._chunks(sec).localCheckpoint(eager=True)
        with self.tracer.span("embedding"):
            emb = self._embed(chunks).localCheckpoint(eager=True)
        with self.tracer.span("sinks"):
            store.upsert(emb.withColumn("chunk_id", self._chunk_id(0)))
        n_chunks = emb.count()
        self.note("warc.records", self.manifest["warc_records"])
        self.note("warc.pages", pages.count())
        self.note("html.pages", docs.count())
        self.note("html.bytes_in", self.manifest["html_bytes"])
        self.note("textops.sections", sec.count())
        self.note("textops.chunks", n_chunks)
        self.note("embedding.chunks", n_chunks)
        self.sink_stats(roots.vs)
        return self._page_text(docs)

    def sink_stats(self, vs: str) -> None:
        files = glob.glob(os.path.join(vs, f"index_name={INDEX}", "*.parquet"))
        rows = [pq_files.ParquetFile(p).metadata.num_rows for p in files]
        self.note("sinks.bytes", du(vs))
        self.note("sinks.files", len(files))
        self.note("sinks.write_tasks", sum(1 for r in rows if r))
        self.note("sinks.max_task_row_share", max(rows) / max(1, sum(rows)))

    def build(self, roots: Roots, page_text) -> None:
        """Build the four managed roots from the vector store."""
        vs = self.spark.read.parquet(roots.vs).filter(F.col("index_name") == INDEX)
        vecs = vs.select(F.col("chunk_id").alias("vec_id"), "embedding")
        docs = vs.select(F.col("chunk_id").alias("doc_id"), F.col("chunk_text").alias("text"))
        with self.tracer.span("ann.build"):
            SIM.write_ann_store_versioned(vecs, roots.ann)
        with self.tracer.span("postings.build"):
            SIM.build_postings_index_versioned(docs, roots.postings, buckets=POSTINGS_BUCKETS)
        with self.tracer.span("pq.build"):
            PQ.write_ivfpq_store(vecs, roots.pq, raw_id_buckets=PQ_RAW_BUCKETS)
        with self.tracer.span("dedup.build"):
            DD.write_band_store(page_text, roots.band, text_col="page_content", id_col="doc_id")

    def crawl(self, roots: Roots, staged: bool) -> float:
        """One crawl pass: ingest, then every root committed. Returns
        its wall seconds."""
        t0 = time.perf_counter()
        with self.tracer.span("crawl", req=f"crawl:{os.path.basename(roots.base)}"):
            page_text = self.ingest(roots, staged)
            self.build(roots, page_text)
        return time.perf_counter() - t0

    def fused_chunk_hash(self) -> str:
        """Chunk set hash of the package's fused ingest plan."""
        df = website_ingestion_from_warc(self.spark, self.cfg, os.path.join(self.inputs, "crawl"))
        return self._hash_rows(df)

    def chunk_set_hash(self, vs: str) -> str:
        return self._hash_rows(self.spark.read.parquet(vs))

    @staticmethod
    def _hash_rows(df) -> str:
        rows = (
            df.select(F.sha2(F.concat_ws(
                "|", "url", "section_idx", "chunk_idx", "chunk_text",
                F.concat_ws(",", F.col("embedding").cast("array<string>")),
            ), 256).alias("h"))
            .collect()
        )
        return hashlib.sha256("".join(sorted(r.h for r in rows)).encode()).hexdigest()

    # ------------------------------------------------------------ reads
    def _current(self, root: str) -> str:
        return SIM.index_current_path(root)

    def _handle(self, kind: str, root: str):
        """Serving handle for the root's CURRENT version, reopened only
        after a commit moved CURRENT (what a long-lived server does)."""
        cur = self._current(root)
        cached = self._handles.get(kind)
        if cached is None or cached[0] != cur:
            h = SIM.AnnStore.open(self.spark, cur) if kind == "ann" else PQ.IvfPqStore(self.spark, root)
            self._handles[kind] = (cur, h)
        return self._handles[kind][1]

    def query_vector(self, req: dict, truth) -> list[float]:
        ids, mat = truth
        target = mat[int(req["u"] * len(ids))]
        return [float(x) for x in (target + np.asarray(req["noise"], dtype=np.float32))]

    def serve(self, roots: Roots, truth, n: int) -> None:
        """Send the next ``n`` requests of the stream, one at a time."""
        for _ in range(n):
            req = self.requests[self.next_req % len(self.requests)]
            self.next_req += 1
            self.request(roots, req, truth)

    def request(self, roots: Roots, req: dict, truth) -> None:
        kind = req["kind"]
        rid = f"req:{req['i']}"
        if kind in ("ann", "pq"):
            qv = self.query_vector(req, truth)
        t0 = time.perf_counter()
        if kind == "search":
            with self.tracer.span("query_api.search", req=rid, warm=self.warm):
                rows = self.op(lambda: EngineQuery(self.spark, ParquetVectorStore(self.spark, roots.vs),
                                                   embed_dim=DIM).similarity_search(INDEX, req["text"], K).collect(),
                               "search")
        elif kind == "ann":
            with self.tracer.span("ann.probe", req=rid, warm=self.warm):
                rows = self.op(lambda: self._handle("ann", roots.ann).probe(qv, K).collect(), "ann probe")
        elif kind == "pq":
            with self.tracer.span("pq.probe", req=rid, warm=self.warm):
                rows = self.op(lambda: self._handle("pq", roots.pq).probe(qv, K).collect(), "pq probe")
        else:
            with self.tracer.span("postings.query", req=rid, warm=self.warm):
                rows = self.op(lambda: SIM.bm25_rank_batch_indexed(
                    self.spark,
                    self.spark.createDataFrame([(0, req["text"])], "query_id int, query_text string"),
                    self._current(roots.postings), topk=K,
                ).collect(), "keyword")
        self.lat[kind].append((time.perf_counter() - t0) * 1e3)
        if rows is None:
            return
        if kind == "search":
            self.check_search(req["text"], rows)
        elif kind in ("ann", "pq"):
            self.check_vector_hits(kind, qv, rows, truth)
        elif not self.warm and self.bm25_checked < self.bm25_checks:
            self.bm25_checked += 1
            self.check_bm25(roots, req["text"], rows)
        if self.traced:
            self.read_counters(kind, roots, req, qv if kind in ("ann", "pq") else None)

    def read_counters(self, kind: str, roots: Roots, req: dict, qv) -> None:
        """Per-request layer counts, taken after the timed call."""
        if kind == "ann":
            h = self._handle("ann", roots.ann)
            cand = h.probe_candidates(qv)
            self.note("ann.files_read_per_probe", len(cand.inputFiles()))
            self.note("ann.candidates_per_result", cand.select(h.id_col).distinct().count() / K)
            self.note("ann.live_segments", self.live_segments(roots.ann))
        elif kind == "pq":
            h = self._handle("pq", roots.pq)
            cand = h.adc_candidates(qv, 4, 128)
            self.note("pq.files_read_per_probe", len(cand.inputFiles()))
            self.note("pq.candidates_per_result", cand.count() / K)
            self.note("pq.live_segments", self.live_segments(roots.pq))
        elif kind == "keyword":
            self.note("postings.live_segments", self.live_segments(roots.postings))
        else:
            self.note("query_api.rows_scanned", self.vs_rows(roots.vs))

    def live_segments(self, root: str) -> int:
        with open(os.path.join(self._current(root), "MANIFEST.json"), encoding="utf-8") as f:
            return len(json.load(f)["segments"])

    def vs_rows(self, vs: str) -> int:
        return sum(pq_files.ParquetFile(p).metadata.num_rows
                   for p in glob.glob(os.path.join(vs, f"index_name={INDEX}", "*.parquet")))

    # ------------------------------------------------------------ checks
    def vs_truth(self, vs: str):
        """Vector-store rows as numpy: keys (url, section_idx, chunk_idx)
        sorted, and their embeddings."""
        t = pq_files.read_table(vs, columns=["url", "section_idx", "chunk_idx", "chunk_id", "embedding"])
        d = t.to_pydict()
        keys = list(zip(d["url"], d["section_idx"], d["chunk_idx"]))
        order = sorted(range(len(keys)), key=lambda i: keys[i])
        self._vs_keys = [keys[i] for i in order]
        self._vs_mat = np.asarray([d["embedding"][i] for i in order], dtype=np.float32)
        ids = np.asarray([d["chunk_id"][i] for i in order], dtype=np.int64)
        o = np.argsort(ids)
        return ids[o], self._vs_mat[o]

    def check_search(self, text: str, rows) -> None:
        q = embed_reference(text)
        m = self._vs_mat.astype(np.float64)
        scores = np.round(m @ q.astype(np.float64) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q)), 6)
        order = sorted(range(len(scores)), key=lambda i: (-scores[i], self._vs_keys[i]))[:K]
        want = [self._vs_keys[i] for i in order]
        got = [(r.url, r.section_idx, r.chunk_idx) for r in rows]
        edge = scores[order[-1]]
        ok = len(got) == len(want) and all(
            g == w or abs(scores[order[j]] - edge) <= 2e-6 for j, (g, w) in enumerate(zip(got, want))
        ) and all(abs(r.score - scores[i]) <= 2e-6 for r, i in zip(rows, order))
        self.check(ok, f"search {text!r}: got {got} want {want}")

    def check_vector_hits(self, kind: str, qv, rows, truth) -> None:
        """Every hit is a live id, scored with its exact cosine."""
        ids, mat = truth
        q = np.asarray(qv, dtype=np.float64)
        ok = True
        for r in rows:
            rid = r[0]
            j = np.searchsorted(ids, rid)
            if j >= len(ids) or ids[j] != rid:
                ok = False
                break
            v = mat[j].astype(np.float64)
            if abs(round(float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))), 6) - r.score) > 2e-6:
                ok = False
                break
        self.check(ok, f"{kind} probe returned a dead id or a wrong score")

    def check_bm25(self, roots: Roots, text: str, rows) -> None:
        docs = self.live_docs(roots)
        want = SIM.bm25_rank(docs, text.split(), text_col="text", id_col="doc_id", topk=K).collect()
        got = [(r.doc_id, r.score) for r in rows]
        # the inline ranker pads the top-k with zero-score documents,
        # which contain no query term; the index returns matches only
        exp = [(r.doc_id, r.score) for r in want if r.score > 0]
        ok = len(got) == len(exp) and all(
            abs(g[1] - e[1]) <= 2e-6 and (g[0] == e[0] or abs(e[1] - exp[-1][1]) <= 2e-6)
            for g, e in zip(got, exp)
        )
        self.check(ok, f"keyword {text!r}: indexed {got} inline {exp}")

    def live_docs(self, roots: Roots):
        if self.recrawl is not None:
            return self.recrawl.live_docs(roots)
        vs = self.spark.read.parquet(roots.vs)
        return vs.select(F.col("chunk_id").alias("doc_id"), F.col("chunk_text").alias("text"))

    def recall(self, kind: str, roots: Roots, truth) -> float:
        """Mean top-5 overlap with the exact numpy top-5 over the live
        vectors, for the first RECALL_QUERIES vector requests, served
        through one batch probe."""
        ids, mat = truth
        reqs = [r for r in self.requests if r["kind"] in ("ann", "pq")][:RECALL_QUERIES]
        qvs = [self.query_vector(r, truth) for r in reqs]
        qdf = self.spark.createDataFrame(list(enumerate(qvs)), "query_id int, qvec array<double>")
        if kind == "ann":
            rows = self._handle("ann", roots.ann).probe_batch(qdf, k=K).collect()
        else:
            rows = self._handle("pq", roots.pq).probe_batch(qdf, k=K).collect()
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(r.query_id, set()).add(r[1])
        hits = 0
        for i, qv in enumerate(qvs):
            want_ids, _ = exact_topk(ids, mat, np.asarray(qv, dtype=np.float32))
            hits += len(got.get(i, set()) & set(want_ids.tolist()))
        return hits / (K * len(qvs))

    def store_bytes(self, roots: Roots) -> int:
        return du(roots.vs) + sum(du(p) for p in roots.managed().values())

    def live_id_check(self, roots: Roots, expected: set[int]) -> None:
        """Each maintained root serves exactly the expected live ids."""
        post = {r.doc_id for r in SIM.IndexReader(self.spark, self._current(roots.postings)).doclens().collect()}
        self.check(post == expected, f"postings live ids: {len(post)} served, {len(expected)} expected")
        for name, root in (("ann", roots.ann), ("pq", roots.pq)):
            got = {r[0] for r in SIM._resolved_vectors(self.spark, self._current(root)).collect()}
            self.check(got == expected, f"{name} live ids: {len(got)} served, {len(expected)} expected")


# ---------------------------------------------------------------- re-crawl
class Recrawl:
    """Re-crawl batches folded into the managed roots: the novelty
    stream gates the batch's pages against the band store, the admitted
    pages go through the ingest tail, and the resulting CDC rows fold
    into the postings, ANN and IVF-PQ roots through their maintenance
    streams. Deletes of taken-down pages, and of the previous chunks of
    re-admitted pages, ride the same CDC stream."""

    def __init__(self, bench: Bench, roots: Roots, truth):
        self.b = bench
        self.roots = roots
        self.dir = os.path.join(bench.work, "recrawl")
        for d in ("inbox", "cdc", "cdc_stage", "admitted", "ckpt"):
            os.makedirs(os.path.join(self.dir, d), exist_ok=True)
        ids, mat = truth
        self.live = {int(i): mat[j] for j, i in enumerate(ids)}
        vs = pq_files.read_table(roots.vs, columns=["url", "chunk_id"]).to_pydict()
        self.page_chunks: dict[str, set[int]] = {}
        for url, cid in zip(vs["url"], vs["chunk_id"]):
            self.page_chunks.setdefault(url, set()).add(int(cid))
        self.offered = 0
        self.admitted = 0

    def truth(self):
        ids = np.asarray(sorted(self.live), dtype=np.int64)
        return ids, np.asarray([self.live[int(i)] for i in ids], dtype=np.float32)

    @staticmethod
    def _stream(name: str, q) -> None:
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"{name} stream failed: {q.exception()}")

    def batch(self, n: int) -> float:
        """Land batch ``n`` and fold it into every root. Returns the
        commit latency in seconds: landing until every root serves it."""
        spark, tr = self.b.spark, self.b.tracer
        src = os.path.join(self.b.inputs, "recrawl", f"batch-{n:03d}.json")
        with open(src, encoding="utf-8") as f:
            rows = [json.loads(line) for line in f]
        deletes = [r for r in rows if r["op"] == "delete"]
        self.offered += len(rows) - len(deletes)
        t0 = time.perf_counter()
        with tr.span("recrawl.batch", req=f"batch:{n}"):
            shutil.copy(src, os.path.join(self.dir, "inbox", os.path.basename(src)))
            stream = clean_html(
                spark.readStream.schema(RECRAWL_SCHEMA).json(os.path.join(self.dir, "inbox"))
                .filter(F.col("op") == "upsert")
            )
            with tr.span("streaming.novelty") as sp:
                q = SP.run_novelty_stream(
                    stream, self.roots.band, os.path.join(self.dir, "admitted"),
                    os.path.join(self.dir, "ckpt", "novelty"), text_col="page_content",
                    id_col="doc_id", max_segments=NOVELTY_MAX_SEGMENTS,
                )
                sp["run_id"] = str(q.runId)
                self._stream("novelty", q)
            batch_id = q.lastProgress["batchId"] if q.lastProgress else None
            if deletes:
                with tr.span("dedup.delete"):
                    DD.delete_band_ids(
                        spark.createDataFrame([(r["doc_id"],) for r in deletes], "doc_id long"),
                        self.roots.band, id_col="doc_id",
                    )
            adm_dir = os.path.join(self.dir, "admitted", f"batch_id={batch_id}")
            admitted = spark.read.parquet(adm_dir) if os.path.isdir(adm_dir) else None
            adm_urls = [r.url for r in admitted.select("url").collect()] if admitted is not None else []
            self.admitted += len(adm_urls)
            gone = {r["url"] for r in deletes} | set(adm_urls)
            dead = sorted(set().union(*(self.page_chunks.get(u, set()) for u in gone)))
            stage = os.path.join(self.dir, "cdc_stage", f"b{n}")
            with tr.span("recrawl.tail"):
                parts = []
                if admitted is not None:
                    chunks = self._tail(admitted, n + 1)
                    parts.append(chunks.select(
                        F.col("chunk_id").alias("doc_id"), "url", F.col("chunk_text").alias("text"),
                        "embedding", F.lit("upsert").alias("op")))
                if dead:
                    parts.append(spark.createDataFrame(
                        [(d, None, None, None, "delete") for d in dead], STAGE_SCHEMA))
                if parts:
                    cdc = parts[0]
                    for p in parts[1:]:
                        cdc = cdc.unionByName(p)
                    cdc.coalesce(1).write.mode("overwrite").parquet(stage)
            moved = []
            for i, p in enumerate(sorted(glob.glob(os.path.join(stage, "*.parquet")))):
                moved.append(os.path.join(self.dir, "cdc", f"b{n:03d}-{i}.parquet"))
                os.replace(p, moved[-1])
            cdc_dir = os.path.join(self.dir, "cdc")
            streams = (
                ("postings", lambda s: SP.run_index_maintenance_stream(
                    s, self.roots.postings, os.path.join(self.dir, "ckpt", "postings"),
                    op_col="op", max_segments=MAX_SEGMENTS)),
                ("ann", lambda s: SP.run_ann_maintenance_stream(
                    s.withColumnRenamed("doc_id", "vec_id"), self.roots.ann,
                    os.path.join(self.dir, "ckpt", "ann"), op_col="op", max_segments=MAX_SEGMENTS)),
                ("pq", lambda s: SP.run_pq_maintenance_stream(
                    s.withColumnRenamed("doc_id", "vec_id"), self.roots.pq,
                    os.path.join(self.dir, "ckpt", "pq"), op_col="op", max_segments=MAX_SEGMENTS)),
            )
            for name, start in streams:
                with tr.span(f"streaming.{name}") as sp:
                    q = start(spark.readStream.schema(CDC_SCHEMA).parquet(cdc_dir))
                    sp["run_id"] = str(q.runId)
                    self._stream(name, q)
        latency = time.perf_counter() - t0
        for d in dead:
            self.live.pop(d, None)
        for u in gone:
            self.page_chunks.pop(u, None)
        for p in moved:
            new = pq_files.read_table(p, columns=["doc_id", "url", "op", "embedding"]).to_pydict()
            for cid, url, op, vec in zip(new["doc_id"], new["url"], new["op"], new["embedding"]):
                if op == "upsert":
                    self.live[int(cid)] = np.asarray(vec, dtype=np.float32)
                    self.page_chunks.setdefault(url, set()).add(int(cid))
        return latency

    def live_docs(self, _roots: Roots):
        """(doc_id, text) of every live chunk: the initial crawl plus
        the re-crawl upserts, less everything deleted since."""
        b = self.b
        docs = b.spark.read.parquet(self.roots.vs).select(
            F.col("chunk_id").alias("doc_id"), F.col("chunk_text").alias("text"))
        cdc = glob.glob(os.path.join(self.dir, "cdc", "*.parquet"))
        if cdc:
            docs = docs.unionByName(
                b.spark.read.parquet(*cdc).filter("op = 'upsert'").select("doc_id", "text"))
        live = b.spark.createDataFrame([(int(i),) for i in self.live], "doc_id long")
        return docs.join(live, "doc_id", "left_semi")

    def _tail(self, admitted, epoch: int):
        """Admitted pages → embedded chunks: the ingest plan's tail,
        staged at layer boundaries when traced."""
        b, tr = self.b, self.b.tracer
        if not b.traced:
            return b._embed(b._chunks(b._sections(admitted))).withColumn("chunk_id", b._chunk_id(epoch))
        with tr.span("textops"):
            chunks = b._chunks(b._sections(admitted)).localCheckpoint(eager=True)
        with tr.span("embedding"):
            emb = b._embed(chunks).localCheckpoint(eager=True)
        return emb.withColumn("chunk_id", b._chunk_id(epoch))
