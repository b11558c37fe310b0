"""IVF-PQ at-rest vector serving — the billion-vector scale path.

The store family so far trades recall for pruning with multi-table
sign-LSH (``AnnStore``: t pointer copies per vector) and cuts probed
bytes 4x with SQ8 (``write_quantized``). IVF-PQ is the third classic
point in that design space (Jegou et al. 2011, "Product Quantization
for Nearest Neighbor Search" — the FAISS ``IVFxx,PQyy`` layout):

- **IVF**: a coarse k-means quantizer assigns every vector to ONE
  cell; the cell is a parquet partition key, so a probe reads
  ``n_probe / n_cells`` of the corpus — no pointer copies at rest
  (LSH pays t×; IVF pays 1×).
- **PQ**: inside each cell a vector is stored as ``m`` one-byte-ish
  codes (each subspace quantized against its own 256-centroid
  codebook, trained on RESIDUALS vector − cell-centroid): a 64-dim
  float32 embedding (256 B) becomes ``m=8`` smallints — 16-32x fewer
  scanned bytes than raw, 4-8x fewer than SQ8.
- **ADC** (asymmetric distance computation): at probe time the query
  is never encoded — per probed cell a tiny ``m × k_pq`` table of
  exact squared distances from the query's residual to every codeword
  is computed DRIVER-side (numpy over a few thousand floats). A
  single-query probe passes the probed cells' tables into the plan as
  ONE constant-folded array literal (a batch joins them in as a
  JVM-only side frame); each stored code then scores with ``m`` array
  lookups — a pure JVM higher-order expression inside whole-stage
  codegen, no Python anywhere in the scan.
- **Exact re-score**: the ADC top-``keep`` candidates fetch their raw
  floats from an id-hash-partitioned sidecar (the ``write_quantized``
  raw/ discipline) and re-rank by EXACT cosine — PQ decides what to
  read, never what to answer.

Vectors are L2-NORMALIZED before coarse assignment and encoding
(raw floats in the sidecar stay original): on unit vectors
``L2² = 2 − 2·cos``, so the ADC ordering is monotone in cosine and
the L2-trained quantizers serve the engine's cosine contract.

Training is a deterministic driver-side Lloyd's k-means over a
BOUNDED sample (``max_fit_rows``, TakeOrdered by a hash of the id —
no full sort): codebook quality needs a representative sample, not
the corpus, and determinism (fixed spread init, fixed iteration
count, no RNG) is what lets the correctness driver re-run a build
and get the same store. Encoding the FULL corpus is executor-side
vectorized numpy over Arrow batches (a 256-way argmin per subspace
is the textbook case where a pandas UDF is the right tool).

100 TB arithmetic: 10^9 × 768-dim float32 = 3 TB raw. IVF-PQ at
m=48: 48 GB of codes + the raw sidecar only candidates ever read.
A probe at n_cells=32768 (auto ≈ sqrt(n)), n_probe=32 scans
~0.1 % of 48 GB ≈ 50 MB of codes, scores them with 48 JVM lookups
each, and fetches ``keep`` raw rows. Reference anchor: the sinks the
reference writes to run HNSW/IVF inside the service (Weaviate
P:341-349); this is the engine-side equivalent for corpus-scale
batch retrieval.

**Managed versioned root** (r14 verdict #1 — the reader-safety story
the other two at-rest layouts already had): every lifecycle op
(build, upsert, delete, compaction) lands a NEW version directory
holding only a MANIFEST.json, then atomically swaps the root's
``CURRENT`` pointer (``similarity._commit_index_version`` — the
write-temp + rename + ``_COMMITS``-log discipline all three layouts
share). Segment data stays in three parallel ``seg=N``
Hive-partition pools so serving remains ONE partition-pruned scan::

    root/CURRENT                  one-line pointer → v_NNNNNN
    root/_COMMITS                 append-only commit log
    root/v_NNNNNN/MANIFEST.json   geometry + quantizer gen +
                                  committed segment list + tombstones
    root/quantizers/q_NNNNNN/     quantizer/ + codebooks/ parquet —
                                  FROZEN per train generation
    root/codes/seg=N/             PARTITIONED BY ivf_cell (id, codes)
    root/raw/seg=N/               partitioned by __rb (id, vec)
    root/ids/seg=N/               id sidecar (tombstone = ids alone)

Compaction is IN PLACE: re-train quantizers into a new generation,
fold survivors into one fresh segment encoded against it, commit —
a reader that resolved CURRENT just before the fold keeps serving
its version's segments and ITS quantizer generation untouched until
``vacuum_pq_store`` (retain >= 2 protects exactly that reader; the
rename-swap fold and its ``recover_ivfpq_root`` crash dance are
gone — crash debris is simply an uncommitted version/segment the
``_COMMITS`` discipline never serves and vacuum GCs). Time-travel:
``IvfPqStore(spark, root, version="v_000002")`` serves any retained
committed version byte-identically (``resolve_version_dir``).
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    ShortType,
    StructField,
    StructType,
)

from .similarity import (
    _clustered,
    _commit_index_version,
    _committed_versions,
    _next_index_version,
    _parquet_rows,
    _read_manifest,
    _read_partitions,
    _resolve_cdc,
    _run_overlapped,
    _write_manifest,
    brute_force_topk,
    cosine,
    dot_product,
    index_current_path,
    local_frame,
    resolve_version_dir,
    vector_literal,
)

DEFAULT_M = 8
DEFAULT_PQ_K = 256
DEFAULT_MAX_FIT_ROWS = 50_000
DEFAULT_RAW_ID_BUCKETS = 64
#: probe-time driver collect is bounded by ``keep`` candidate rows;
#: refuse keeps past this so a mis-dialed caller cannot OOM the driver
#: (the max_eval_rows message discipline).
MAX_KEEP = 100_000
#: probe_batch broadcasts one m×k_pq ADC table per (query, probed
#: cell): 512 × 4 × 8 × 256 doubles ≈ 33 MB at default geometry —
#: the cap keeps the broadcast bounded; split bigger batches.
MAX_BATCH_QUERIES = 512


class LegacyPqRootError(RuntimeError):
    """A pre-versioned IVF-PQ root (root-level ``_pq_meta.json``, no
    ``CURRENT`` pointer) was handed to a writer that would silently
    base-build a fresh store over it — dropping the old corpus from
    serving and replaying batches past its ``_last_batch_id`` marker
    (r15 ADVICE). Loud refusal instead of silent data loss; see
    MIGRATION.md for the layout change."""


def _refuse_legacy_pq_root(root: str) -> None:
    """Refuse to treat a pre-r15 monolithic IVF-PQ root as 'never
    built'. The r15 layout rewrite moved the store onto the managed
    versioned-CURRENT substrate and dropped all ``_pq_meta.json``
    handling; without this guard a writer (or the maintenance
    stream's first batch) would base-build over the legacy data."""
    import os as _os

    if _os.path.exists(
        _os.path.join(root, "_pq_meta.json")
    ) and index_current_path(root) is None:
        raise LegacyPqRootError(
            f"{root!r} is a legacy (pre-versioned) IVF-PQ root: it has a "
            "root-level _pq_meta.json but no CURRENT pointer. Writing "
            "would silently base-build over the existing corpus. "
            "Rebuild the store with write_ivfpq_store into a fresh root "
            "(see MIGRATION.md, 'IVF-PQ managed root'), or remove "
            "_pq_meta.json explicitly if the old data is disposable."
        )


def _lloyd(X: np.ndarray, k: int, iters: int = 12) -> np.ndarray:
    """Deterministic Lloyd's k-means: spread init (every n/k-th row of
    the hash-ordered sample — no RNG), fixed iteration count, empty
    clusters keep their previous centroid. Distances via the
    ``|x|² − 2xCᵀ + |C|²`` matmul form, never an n×k×d broadcast.

    The update step is a vectorized scatter-add (d+1 ``bincount``
    passes per iteration) instead of a per-cluster masked mean: the
    loop form was O(n·k) per iteration in Python masking alone and
    measured 5.3 s of the 13 s sf0.1 IVF-PQ build for the m=8
    codebooks (r17 §1 profile); the bincount form is O(n·d) at C
    speed. Summation order per cluster is the sample's row order —
    still fully deterministic for fixed input, which is the contract
    the stores rely on (rebuild-determinism is pytest-pinned;
    serving exactness never depends on centroid ulps because probes
    re-rank exactly from raw)."""
    n = len(X)
    if k > n:
        raise ValueError(f"k-means k={k} exceeds {n} fit rows")
    C = X[np.linspace(0, n - 1, k).round().astype(int)].copy()
    xsq = (X * X).sum(axis=1)
    for _ in range(iters):
        # in-place accumulation: one n×k buffer instead of three
        # broadcast temporaries (measured 20.6 ms → 3.1 ms per
        # iteration at n=2000, k=256, d=8 — the codebook geometry)
        d = X @ np.ascontiguousarray(C.T)
        d *= -2.0
        d += (C * C).sum(axis=1)[None, :]
        d += xsq[:, None]
        assign = d.argmin(axis=1)
        sums = np.stack(
            [
                np.bincount(assign, weights=X[:, dd], minlength=k)
                for dd in range(X.shape[1])
            ],
            axis=1,
        )
        counts = np.bincount(assign, minlength=k)
        nz = counts > 0
        C[nz] = sums[nz] / counts[nz, None]
    return C


def _normalize(X: np.ndarray) -> np.ndarray:
    nrm = np.sqrt((X * X).sum(axis=1, keepdims=True))
    nrm[nrm == 0.0] = 1.0  # zero vectors pass through unscaled
    return X / nrm


_CODES_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("ivf_cell", IntegerType()),
        StructField("codes", ArrayType(ShortType())),
    ]
)
_PAIR_SCHEMA = StructType(
    [StructField("id", LongType()), StructField("seg", IntegerType())]
)


class IvfPqStore:
    """Read/serve handle over ONE committed version of a managed
    IVF-PQ root (layout + lifecycle in the module docstring).
    ``version=None`` follows the CURRENT pointer; an explicit
    ``version="v_NNNNNN"`` is the time-travel read (committed +
    retained versions only — vacuumed/uncommitted names refuse
    loudly via ``resolve_version_dir``).

    The handle is pinned to its version's manifest: segment scans
    filter ``seg IN manifest.segments`` (a partition filter — crash
    debris and NEWER segments are invisible) and LUTs build against
    the manifest's OWN quantizer generation, so a handle opened
    before an in-place compaction keeps serving identical results
    mid-fold. Quantizer/codebook loads are driver-side and BOUNDED
    (n_cells + m·k_pq rows), cached on the handle.
    """

    def __init__(self, spark, root: str, version: str | None = None):
        self.spark, self.root = spark, root.rstrip("/")
        try:
            self.version_dir = resolve_version_dir(self.root, version)
        except FileNotFoundError as e:
            if version is None:
                raise FileNotFoundError(
                    f"no CURRENT version under {root!r} — not an IvfPqStore "
                    "root written by write_ivfpq_store"
                ) from e
            raise
        self.version = os.path.basename(self.version_dir.rstrip("/"))
        m = _read_manifest(self.version_dir)
        if m is None or m.get("layout") != "ivfpq":
            raise FileNotFoundError(
                f"{self.version_dir!r} holds no ivfpq MANIFEST.json — "
                f"{root!r} is not an IvfPqStore root"
            )
        self.meta = m
        self._centroids: np.ndarray | None = None
        self._codebooks: np.ndarray | None = None

    # -- driver-side geometry (bounded collects) ----------------------
    def _load_quantizers(self) -> tuple[np.ndarray, np.ndarray]:
        """Driver-side pyarrow reads of the (bounded: n_cells +
        m·k_pq rows) quantizer generation — two Spark collect jobs
        per handle became zero (r17 guide §1: every probe paid them
        before its first real job). Values are the same parquet
        pages either way."""
        if self._centroids is None:
            from .similarity import _local_dataset

            qdir = os.path.join(self.root, self.meta["quantizer"])

            def _tbl(sub: str) -> list[dict]:
                # pyarrow.dataset: skips `_`/`.`-prefixed paths like
                # Spark's file index and parallelizes footer reads
                # (r17 verdict #9 / ADVICE — see _local_dataset)
                rows = _local_dataset(os.path.join(qdir, sub)).to_table().to_pylist()
                if not rows:
                    raise FileNotFoundError(f"no parquet under {qdir}/{sub}")
                return rows

            q = _tbl("quantizer")
            q.sort(key=lambda r: r["cell"])
            self._centroids = np.array([r["centroid"] for r in q])
            m, k_pq = self.meta["m"], self.meta["k_pq"]
            ds = self.meta["dim"] // m
            arr = np.zeros((m, k_pq, ds))
            for r in _tbl("codebooks"):  # m * k_pq rows
                arr[r["subspace"], r["code"]] = r["centroid"]
            self._codebooks = arr
        return self._centroids, self._codebooks

    # -- serving -------------------------------------------------------
    def _read(self, pool: str, hits: dict[str, list[int]]) -> DataFrame:
        """One pool (codes/, raw/ or ids/) read with its footer schema,
        listing only the ``hits`` partition directories (``seg`` first)
        — the pruned ``similarity._read_partitions`` read."""
        return _read_partitions(self.spark, os.path.join(self.root, pool), hits)

    def _shadow_filter(self, scored: DataFrame) -> DataFrame:
        """Last-wins shadowing over segmented candidates: a candidate
        (id, seg) is dead iff ANY newer segment's ids/ sidecar lists
        the id — replacement (newer data segment) and deletion
        (tombstone segment: ids only, no codes, so no scan ever reads
        it as data) fall out of the same rule, and a post-tombstone
        re-add resurrects because its segment is newer still. The
        shadow side is the union of NON-BASE sidecars — delta-sized
        under the upsert contract — and broadcasts; applied BEFORE
        the top-keep so dead rows never crowd out live candidates.
        Single-segment stores skip the join entirely (plan identical
        to the unsegmented layout)."""
        segs = self.meta["segments"]
        if len(segs) <= 1:
            return scored
        # committed-only: a crashed upsert's orphan seg dir (data
        # written, meta never swapped) must not shadow anything
        newer = [s for s in segs if s > min(segs)]
        shadow = self._read("ids", {"seg": newer}).select(
            F.col("id").alias("__sid"), F.col("seg").alias("__sseg")
        )
        return scored.join(
            F.broadcast(shadow),
            (scored["id"] == F.col("__sid")) & (F.col("__sseg") > scored["seg"]),
            "left_anti",
        )

    def _scored_codes(
        self, codes: DataFrame, lut: Column, cell_pos: Column, *extra_cols: str
    ) -> DataFrame:
        """Shadow-filtered ADC scores over a pruned code scan:
        (..extra_cols.., id, seg, adc). ``lut`` is an array<double> of
        ADC tables laid out cell-major, then subspace, then code, and
        ``cell_pos`` picks the row's table in it: the score of code
        ``c`` in subspace ``s`` is ``lut[(cell_pos·m + s)·k_pq + c]``.
        The m lookups are summed in subspace order from 0.0, all JVM
        higher-order functions inside codegen."""
        k_pq = self.meta["k_pq"]
        base = cell_pos * (self.meta["m"] * k_pq) + 1
        scored = codes.select(
            *extra_cols,
            *self.meta.get("metadata_cols", []),
            "id",
            "seg",
            F.aggregate(
                F.transform(
                    "codes",
                    lambda c, s: F.element_at(lut, base + s * k_pq + c.cast("int")),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("adc"),
        )
        return self._shadow_filter(scored)

    def _codes(self, probed: list[int]) -> DataFrame:
        """The committed segments' codes in the ``probed`` cells: only
        their ``seg=S/ivf_cell=C`` directories are listed, and both
        ``isin``s are the scan's partition filters (crash-debris
        segment dirs are invisible)."""
        return self._read("codes", {"seg": self.meta["segments"], "ivf_cell": probed})

    def _query_luts(self, qn: np.ndarray, n_probe: int) -> tuple[list[int], np.ndarray]:
        """(probed cells, their m×k_pq ADC tables as one
        n_probe×m×k_pq array) for one normalized query — numpy over a
        few KB, driver-side."""
        C, CB = self._load_quantizers()
        m = self.meta["m"]
        ds = self.meta["dim"] // m
        order = (((C - qn) ** 2).sum(axis=1)).argsort(kind="stable")
        probed = [int(c) for c in order[:n_probe]]
        # lut[s][j] = || qr_s - codebook[s][j] ||² per probed cell
        luts = [
            ((((qn - C[c]).reshape(m, ds))[:, None, :] - CB) ** 2).sum(axis=2)
            for c in probed
        ]
        return probed, np.stack(luts)

    def _normalized(self, qv, label: str = "query") -> np.ndarray:
        """``qv`` as a unit float64 vector (a zero vector unscaled),
        refused when its width is not the store's."""
        dim = self.meta["dim"]
        if len(qv) != dim:
            raise ValueError(f"{label} has {len(qv)} dims, store has {dim}")
        q = np.asarray(qv, dtype=np.float64)
        nrm = np.sqrt((q * q).sum())
        return q / nrm if nrm > 0 else q

    def adc_candidates(
        self, qv: list[float], n_probe: int = 4, keep: int = 128,
        where=None,
    ) -> DataFrame:
        """(id, seg, adc) — the ``keep`` best LIVE stored codes by
        asymmetric distance among the ``n_probe`` cells nearest the
        query (shadowed/deleted copies already excluded). Exposed
        separately so plans (pruning) and recall are testable without
        the raw-fetch stage. The probed cells' ADC tables enter the
        plan as ONE constant-folded array literal (no side frame, no
        join); each code finds its cell's table by the cell's
        position in the probed list."""
        if keep > MAX_KEEP:
            raise ValueError(
                f"keep={keep} exceeds MAX_KEEP={MAX_KEEP} — the probe "
                "collects keep candidate ids driver-side to price the raw "
                "sidecar's partition filter; lower keep (or raise MAX_KEEP "
                "deliberately)"
            )
        qn = self._normalized(qv)
        probed, luts = self._query_luts(qn, min(n_probe, self.meta["n_cells"]))
        cells = F.split(F.lit(",".join(map(str, probed))), ",").cast("array<int>")
        scored = self._scored_codes(
            self._codes(probed),
            vector_literal(luts.ravel()),
            (F.array_position(cells, F.col("ivf_cell")) - 1).cast("int"),
        )
        if where is not None:
            # metadata filter INSIDE the pruned scan, before the
            # top-keep — post-filter semantics on recall (same caveat
            # as AnnStore.probe(where=): widen n_probe to buy it back)
            scored = scored.filter(where)
        return (
            scored.orderBy(F.col("adc").asc(), F.col("id").asc())
            .limit(keep)
            .select("id", "seg", "adc")
        )

    def probe(
        self, qv: list[float], k: int = 5, n_probe: int = 4, keep: int = 128,
        where=None,
    ) -> DataFrame:
        """ADC candidates → exact cosine re-rank from the raw sidecar.
        Returns (id_col, score) — the ``AnnStore.probe`` contract
        (6dp-rounded score, id tiebreak). The candidate (id, seg) set
        (≤ keep rows) is collected driver-side: it names the raw
        ``seg=S/__rb=B`` directories to list and re-enters the plan as
        a JVM-only ``local_frame``. The raw join keys on (id, seg), so
        a replaced id's STALE raw row (older segment) can never serve
        the re-rank. Three Spark jobs on a single-segment store: the
        candidate collect, the candidate broadcast and the re-rank."""
        if keep < k:
            raise ValueError(f"keep={keep} must be >= k={k}")
        cand = self.adc_candidates(qv, n_probe, keep, where=where)
        pairs = [(r.id, r.seg) for r in cand.select("id", "seg").collect()]
        id_col = self.meta["id_col"]
        if not pairs:
            return local_frame(self.spark, [], StructType(
                [StructField(id_col, LongType()), StructField("score", DoubleType())]
            ))
        rb = self.meta["raw_id_buckets"]
        hits = {
            "seg": sorted({s for _, s in pairs}),
            "__rb": sorted({_id_bucket(i, rb) for i, _ in pairs}),
        }
        raw = (
            self._read("raw", hits)
            .join(F.broadcast(local_frame(self.spark, pairs, _PAIR_SCHEMA)), ["id", "seg"])
            # zero-norm vectors have no cosine to any query — drop them
            # here rather than trip ANSI divide-by-zero in the re-rank
            .filter(dot_product(F.col("vec"), F.col("vec")) > 0)
        )
        out = brute_force_topk(raw, vector_literal(qv), k, "id", "vec")
        return out.select(F.col("id").alias(id_col), "score")

    def probe_batch(
        self,
        queries_df: DataFrame,
        k: int = 5,
        n_probe: int = 4,
        keep: int = 128,
        query_id_col: str = "query_id",
        query_vec_col: str = "qvec",
        where=None,
    ) -> DataFrame:
        """Batch IVF-PQ serving — N queries in ONE plan (the
        ``AnnStore.probe_batch`` contract for the PQ layout; returns
        (query_id, id_col, score, rank), rank 1..k per query, 6dp
        score, id tiebreak; per query equals ``probe`` exactly —
        pytest-pinned).

        Plan shape: the query batch is collected driver-side in one
        bounded job (at most ``MAX_BATCH_QUERIES`` + 1 rows, so a
        refused batch is never pulled whole — the per-query ADC tables
        are what get broadcast: N·n_probe·m·k_pq doubles, 33 MB at the
        512-query cap with default geometry, which is the reason for
        the cap), per-(query, cell) LUTs computed in numpy and
        entering as a JVM-only ``local_frame``, ONE partition-pruned
        code scan over the UNION of probed cells (≤ n_cells literals
        regardless of batch size), a broadcast fan-out join on
        ivf_cell, the ``_scored_codes`` ADC expression, one window for
        per-query top-``keep``, then the exact re-rank: the candidate
        frame's raw-sidecar buckets are derived ENGINE-side (distinct
        ≤ raw_id_buckets rows — the collect is bounded by a store
        constant, never by batch size), the pruned raw scan
        broadcast-joins the candidates, and one window ranks exact
        cosine per query. The candidate subtree executes twice (bucket
        collect + join) — the measured lazy-recompute trade from the
        batch-quantized ledger (BENCH_NOTES r13/r14): it is a pruned
        scan + broadcast join, cheaper re-run than materialized."""
        if keep < k:
            raise ValueError(f"keep={keep} must be >= k={k}")
        if keep > MAX_KEEP:
            raise ValueError(
                f"keep={keep} exceeds MAX_KEEP={MAX_KEEP} — see probe()"
            )
        qid_type = queries_df.schema[query_id_col].dataType
        qrows = (
            queries_df.select(query_id_col, query_vec_col)
            .coalesce(1)
            .limit(MAX_BATCH_QUERIES + 1)
            .collect()
        )
        if len(qrows) > MAX_BATCH_QUERIES:
            raise ValueError(
                f"probe_batch got more than {MAX_BATCH_QUERIES} queries; the "
                "per-query ADC tables broadcast to every task, so batches are "
                f"capped at MAX_BATCH_QUERIES={MAX_BATCH_QUERIES} — split the "
                "batch (or raise the cap deliberately)"
            )
        out_schema = StructType(
            [
                StructField(query_id_col, qid_type),
                StructField(self.meta["id_col"], LongType()),
                StructField("score", DoubleType()),
                StructField("rank", IntegerType()),
            ]
        )
        if not qrows:
            return local_frame(self.spark, [], out_schema)
        n_probe = min(n_probe, self.meta["n_cells"])
        lut_rows, probed_union = [], set()
        for r in qrows:
            qn = self._normalized(r[query_vec_col], f"query {r[query_id_col]!r}")
            probed, luts = self._query_luts(qn, n_probe)
            probed_union.update(probed)
            lut_rows += [
                (r[query_id_col], c, lut.ravel().tolist())
                for c, lut in zip(probed, luts)
            ]
        lut_df = local_frame(self.spark, lut_rows, StructType(
            [
                StructField(query_id_col, qid_type),
                StructField("ivf_cell", IntegerType()),
                StructField("lut", ArrayType(DoubleType())),
            ]
        ))
        scored = self._scored_codes(
            self._codes(sorted(probed_union)).join(F.broadcast(lut_df), "ivf_cell"),
            F.col("lut"),
            F.lit(0),
            query_id_col,
        )
        if where is not None:
            # same post-filter semantics as probe(where=), per query
            scored = scored.filter(where)
        from pyspark.sql import Window

        w_adc = Window.partitionBy(query_id_col).orderBy(
            F.col("adc").asc(), F.col("id").asc()
        )
        cand = (
            scored.withColumn("__rn", F.row_number().over(w_adc))
            .filter(F.col("__rn") <= keep)
            .select(query_id_col, "id", "seg")
        )
        rb = self.meta["raw_id_buckets"]
        # bounded by the store constant raw_id_buckets, not batch size
        buckets = [
            r.b
            for r in cand.select(
                F.pmod(F.col("id"), F.lit(rb)).cast("int").alias("b")
            )
            .distinct()
            .collect()
        ]
        if not buckets:
            return local_frame(self.spark, [], out_schema)
        raw = self._read(
            "raw", {"seg": self.meta["segments"], "__rb": sorted(buckets)}
        ).filter(dot_product(F.col("vec"), F.col("vec")) > 0)
        qvec_df = local_frame(
            self.spark,
            [(r[query_id_col], [float(x) for x in r[query_vec_col]]) for r in qrows],
            StructType(
                [
                    StructField(query_id_col, qid_type),
                    StructField("__qvec", ArrayType(DoubleType())),
                ]
            ),
        )
        exact = (
            # (id, seg) keying: a replaced id's stale raw row (older
            # segment) can never serve the re-rank
            raw.join(F.broadcast(cand), ["id", "seg"])
            .join(F.broadcast(qvec_df), query_id_col)
            .select(
                query_id_col,
                "id",
                F.round(cosine(F.col("vec"), F.col("__qvec")), 6).alias("score"),
            )
        )
        w_final = Window.partitionBy(query_id_col).orderBy(
            F.col("score").desc(), F.col("id").asc()
        )
        return (
            exact.withColumn("rank", F.row_number().over(w_final))
            .filter(F.col("rank") <= k)
            .select(
                query_id_col,
                F.col("id").alias(self.meta["id_col"]),
                "score",
                "rank",
            )
        )


def _id_bucket(i: int, buckets: int) -> int:
    # mirror of the engine-side pmod(id, buckets) below — plain modulo
    # on the id keeps driver and executor bucket math trivially equal
    return int(i) % buckets


def _make_encoder(C_list: list, CB_list: list, ds: int, metadata_cols=()):
    """Arrow-batch encoder closure over FROZEN quantizers — shared by
    the base build and every delta upsert, so the two paths cannot
    disagree on what a code means. ``metadata_cols`` pass through
    untouched (the filtered-search substrate — they ride with the
    codes so a ``where=`` filter applies INSIDE the pruned scan,
    before the ADC top-keep)."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Ce = np.asarray(C_list)
        CBe = np.asarray(CB_list)
        csq = (Ce * Ce).sum(axis=1)
        CeT = np.ascontiguousarray(Ce.T)
        CBeT = [np.ascontiguousarray(CBe[s].T) for s in range(len(CBe))]
        cbsq = [(CBe[s] * CBe[s]).sum(axis=1) for s in range(len(CBe))]
        for pdf in batches:
            if not len(pdf):
                continue
            Xb = _normalize(np.array(list(pdf["vec"]), dtype=np.float64))
            # in-place distance accumulation (the _lloyd treatment):
            # |x|² is constant per row so it never changes the argmin
            # and is dropped from the cell/code assignment buffers
            dc = Xb @ CeT
            dc *= -2.0
            dc += csq[None, :]
            cell = dc.argmin(axis=1)
            Rb = Xb - Ce[cell]
            codes = np.empty((len(Xb), len(CBe)), dtype=np.int16)
            for s in range(len(CBe)):
                sub = Rb[:, s * ds : (s + 1) * ds]
                dd = sub @ CBeT[s]
                dd *= -2.0
                dd += cbsq[s][None, :]
                codes[:, s] = dd.argmin(axis=1)
            out = {
                "id": pdf["id"].astype("int64"),
                "ivf_cell": cell.astype("int32"),
                "codes": list(codes),
            }
            for c in metadata_cols:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return encode


def _write_segment(
    src: DataFrame,
    root: str,
    seg: int,
    C_list: list,
    CB_list: list,
    ds: int,
    raw_id_buckets: int,
    metadata_cols=(),
    shadow_ids: DataFrame | None = None,
) -> None:
    """Write one data segment: codes/seg=N (partitioned by ivf_cell),
    raw/seg=N (partitioned by id-hash bucket), ids/seg=N (the shadow
    sidecar — id list only, delta-sized). ``seg`` is an integer so
    partition discovery types it and generation order is plain ``>``.
    ``shadow_ids`` (an ``id`` column) replaces ``src``'s ids in the
    shadow sidecar: a CDC segment's also lists the ids it deletes,
    which shadow older copies without a code or raw row."""
    schema = StructType(
        list(_CODES_SCHEMA.fields)
        + [src.schema[c] for c in metadata_cols]
    )
    encoded = src.mapInPandas(
        _make_encoder(C_list, CB_list, ds, metadata_cols), schema
    )

    # the three pool writes are INDEPENDENT jobs over the same source
    # scan — submit them from a small thread pool so each job's tail
    # back-fills the others' idle cores (guide §2.6) instead of
    # serializing three sub-second-tail jobs; r17 §1 profiling showed
    # the segment write phase was job-latency-bound, not byte-bound.
    def _w_codes() -> None:
        # cluster codes by cell before the partitioned write (same
        # rationale as _w_raw: one file per cell dir, never tasks×cells
        # files)
        n_cells = len(C_list)
        _clustered(encoded, n_cells, "ivf_cell").write.mode(
            "overwrite"
        ).option("maxRecordsPerFile", 8_000_000).partitionBy(
            "ivf_cell"
        ).parquet(os.path.join(root, "codes", f"seg={seg}"))

    # raw stays lean (id, vec): metadata lives with the codes, where
    # the where= filter runs — and compaction recovers it from there
    def _w_raw() -> None:
        # hash-cluster on the bucket: without it the source's task
        # layout decides, which sprays tasks × buckets small files on
        # large inputs. Clustered, each bucket dir gets exactly one file
        # per segment, written from min(buckets, cores) tasks (one task
        # per bucket ran 64 near-empty tasks for a 12-row delta);
        # in-bucket file sizing at scale is the maxRecordsPerFile
        # rollover.
        _clustered(
            src.select("id", "vec").withColumn(
                "__rb", F.pmod(F.col("id"), F.lit(raw_id_buckets)).cast("int")
            ),
            raw_id_buckets, "__rb",
        ).write.mode(
            "overwrite"
        ).option("maxRecordsPerFile", 4_000_000).partitionBy("__rb").parquet(
            os.path.join(root, "raw", f"seg={seg}")
        )

    def _w_ids() -> None:
        ids = src.select("id") if shadow_ids is None else shadow_ids
        ids.write.mode("overwrite").parquet(os.path.join(root, "ids", f"seg={seg}"))

    _run_overlapped(src.sparkSession, _w_codes, _w_raw, _w_ids)


def _next_pq_segment(root: str) -> int:
    """Next free segment number — scans ALL THREE pools (a crashed
    writer may have landed codes/ but not ids/), so debris numbers
    are never reused: an uncommitted segment stays invisible (the
    manifest filter) and becomes vacuum's to GC, never a collision."""
    nums = [-1]
    for sub in ("codes", "raw", "ids"):
        d = os.path.join(root, sub)
        if os.path.isdir(d):
            nums.extend(
                int(n.removeprefix("seg="))
                for n in os.listdir(d)
                if n.startswith("seg=") and n.removeprefix("seg=").isdigit()
            )
    return max(nums) + 1


def _write_quantizer_gen(spark, root: str, C: np.ndarray, CB: np.ndarray) -> str:
    """Persist one FROZEN quantizer generation (coarse centroids +
    per-subspace codebooks) under ``quantizers/q_NNNNNN`` and return
    the root-relative path the manifest records. Generations are
    immutable: upserts encode against their version's generation,
    compaction trains a new one — a time-travel reader of an old
    version decodes with the generation its codes were written
    under."""
    gens = [-1]
    qroot = os.path.join(root, "quantizers")
    if os.path.isdir(qroot):
        gens.extend(
            int(n.removeprefix("q_"))
            for n in os.listdir(qroot)
            if n.startswith("q_") and n.removeprefix("q_").isdigit()
        )
    rel = f"quantizers/q_{max(gens) + 1:06d}"
    n_cells, m, k_pq = len(C), CB.shape[0], CB.shape[1]
    # the generation is DRIVER data (bounded: n_cells + m·k_pq rows)
    # and its only reader is the driver-side ``_load_quantizers`` —
    # write it with pyarrow directly instead of two createDataFrame +
    # coalesce(1) Spark jobs (r17 guide §1/§5: the quantizer write
    # was two of the build's ~10 driver-serialized jobs).
    import pyarrow as _pa
    import pyarrow.parquet as _paq

    qt = _pa.table(
        {
            "cell": _pa.array(range(n_cells), _pa.int32()),
            "centroid": _pa.array(
                [[float(v) for v in C[c]] for c in range(n_cells)],
                _pa.list_(_pa.float64()),
            ),
        }
    )
    cbt = _pa.table(
        {
            "subspace": _pa.array(
                [s for s in range(m) for _ in range(k_pq)], _pa.int32()
            ),
            "code": _pa.array(
                [j for _ in range(m) for j in range(k_pq)], _pa.int32()
            ),
            "centroid": _pa.array(
                [
                    [float(v) for v in CB[s, j]]
                    for s in range(m)
                    for j in range(k_pq)
                ],
                _pa.list_(_pa.float64()),
            ),
        }
    )
    # write-temp + rename so re-entry keeps mode('overwrite') semantics
    # (r17 ADVICE: makedirs(exist_ok=True) into an existing gen dir
    # would leave stale sibling files a recursive reader could see as
    # duplicate rows; the rename also makes the generation's
    # appearance atomic, matching the manifest/CURRENT discipline)
    import shutil as _sh

    gen_dir = os.path.join(root, rel)
    tmp_dir = gen_dir + ".inprogress"
    _sh.rmtree(tmp_dir, ignore_errors=True)
    for sub, tbl in (("quantizer", qt), ("codebooks", cbt)):
        d = os.path.join(tmp_dir, sub)
        os.makedirs(d)
        _paq.write_table(tbl, os.path.join(d, "part-00000.parquet"))
    _sh.rmtree(gen_dir, ignore_errors=True)
    os.rename(tmp_dir, gen_dir)
    return rel


def _commit_pq_version(spark, root: str, manifest: dict) -> IvfPqStore:
    """The shared commit tail (the ``_commit_ann_version`` mirror):
    manifest into a fresh version dir → atomic CURRENT swap +
    ``_COMMITS`` append → serving handle over the new version."""
    name = _next_index_version(root)
    _write_manifest(os.path.join(root, name), manifest)
    _commit_index_version(root, name)
    return IvfPqStore(spark, root)


def _train_pq(
    vectors: DataFrame,
    n_cells: int | str,
    m: int,
    k_pq: int,
    max_fit_rows: int,
    iters: int,
    id_col: str,
    vec_col: str,
) -> tuple[np.ndarray, np.ndarray, int, int, int, int]:
    """Deterministic driver-side IVF-PQ training over a BOUNDED
    sample (the ``max_fit_rows`` smallest ``md5(id)`` rows — a
    TakeOrdered, no full sort). Returns (coarse centroids, codebooks,
    dim, n_fit, n_cells, k_pq) with the auto/cap rules applied —
    shared by the base build and compaction's re-train so the two
    cannot drift."""
    # Arrow collect (toPandas) instead of a pickled-row collect: the
    # sample is bounded but wide (max_fit_rows × dim doubles) and the
    # Arrow path moves it in columnar batches (guide §6 "Arrow for
    # driver transfers"; measured ~2x on the sf0.1 sample leg)
    sample = (
        vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .orderBy(F.md5(F.col("id").cast("string")).asc(), F.col("id").asc())
        .limit(max_fit_rows)
        .toPandas()
    )
    if len(sample) < 2:
        raise ValueError(
            f"IVF-PQ training got {len(sample)} row(s); "
            "needs at least 2 vectors to train"
        )
    X = np.array(list(sample["vec"]), dtype=np.float64)
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(
            f"dim={dim} is not divisible by m={m} subspaces — pick m "
            "dividing the embedding width"
        )
    n_fit = len(X)
    if n_cells == "auto":
        # the IVF sqrt rule (kmeans_ivf_build's dial): n_probe cells
        # of ~sqrt(n) rows each make probe cost grow with sqrt(corpus)
        # — eager (one count() job) like the IVF builder, and capped
        # by the fit rows with the same loud warning
        n = vectors.count()
        auto_k = max(2, int(round(n ** 0.5)))
        n_cells = max(1, min(auto_k, n_fit))
        if n_cells < auto_k:
            import warnings

            warnings.warn(
                f"IVF-PQ auto n_cells {auto_k} capped to "
                f"{n_cells} by the fit-sample size — raise max_fit_rows",
                RuntimeWarning,
                stacklevel=3,
            )
    if not isinstance(n_cells, int):
        raise ValueError(f"n_cells must be an int or 'auto', got {n_cells!r}")
    if n_cells > n_fit:
        raise ValueError(
            f"n_cells={n_cells} exceeds the {n_fit} rows available to fit "
            "on — lower n_cells or raise max_fit_rows"
        )
    k_pq = min(k_pq, n_fit)
    Xn = _normalize(X)
    C = _lloyd(Xn, n_cells, iters)
    # residuals against each row's own cell — in-place matmul-form
    # distances (the _lloyd treatment; |x|² is row-constant and
    # dropped from the argmin buffer), never an n×k×d broadcast
    da = Xn @ np.ascontiguousarray(C.T)
    da *= -2.0
    da += (C * C).sum(axis=1)[None, :]
    assign = da.argmin(axis=1)
    R = Xn - C[assign]
    ds = dim // m
    CB = np.stack(
        [_lloyd(R[:, s * ds : (s + 1) * ds], k_pq, iters) for s in range(m)]
    )
    return C, CB, dim, n_fit, int(n_cells), int(k_pq)


def upsert_ivfpq_store(
    vectors: DataFrame, root: str, delete_ids: DataFrame | None = None
) -> IvfPqStore:
    """O(delta) IVF-PQ maintenance: encode ONLY the delta with the
    store's FROZEN quantizers (the classic FAISS ``add`` contract —
    coarse centroids and codebooks are fixed per train generation;
    quality for drifted deltas degrades gracefully because serving
    re-scores exactly from raw, and ``compact_ivfpq_store`` is the
    designated re-train point), land it as a new segment, and COMMIT
    a new version whose manifest is the live one plus that segment
    (atomic CURRENT swap — concurrent readers keep their version).
    REPLACE semantics per id: the new segment's ``ids/`` sidecar
    shadows every older copy at serve time (last-wins, the LSM
    discipline) — no base rewrite, no global re-encode.

    ``delete_ids`` (a frame holding the store's id column) folds a CDC
    batch's deletes into the SAME segment and version: its codes and
    raw rows are the delta minus those ids and its ``ids/`` sidecar is
    delta ∪ deletes, so an id the batch both upserts and deletes
    resolves to DELETED. A batch whose every upsert is deleted commits
    a tombstone segment. Returns a fresh handle over the grown store."""
    return _commit_pq_segment(vectors.sparkSession, root, vectors, delete_ids)


def delete_ivfpq_ids(spark, root: str, ids_df: DataFrame) -> IvfPqStore:
    """Row-level delete on the PQ store — a TOMBSTONE segment: an
    ``ids/`` sidecar with NO codes and NO raw payload, committed as a
    new version (the upsert writer with an empty delta). Last-wins
    shadowing then hides every older copy of the id from
    probe/probe_batch (the tombstone itself is never a data source —
    no codes dir exists for it, so no scan ever reads it); a later
    upsert of the same id RESURRECTS it (its segment is newer than the
    tombstone). O(delete set); the physical rows drop at
    ``compact_ivfpq_store``. The takedown/GDPR path the at-rest
    layouts all share (mirrors similarity.delete_ann_ids)."""
    return _commit_pq_segment(spark, root, None, ids_df)


def _commit_pq_segment(
    spark, root: str, vectors: DataFrame | None, delete_ids: DataFrame | None
) -> IvfPqStore:
    """Write one segment holding ``vectors`` minus ``delete_ids`` that
    shadows both, and commit it as one version. ``vectors=None``
    writes a tombstone (an ``ids/`` sidecar alone)."""
    store = IvfPqStore(spark, root)
    meta = store.meta
    seg = _next_pq_segment(root)
    ids_dir = os.path.join(root, "ids", f"seg={seg}")
    deleted = None
    if delete_ids is not None:
        deleted = delete_ids.select(
            F.col(meta["id_col"]).cast("bigint").alias("id")
        )
    if vectors is None:
        deleted.write.mode("overwrite").parquet(ids_dir)
    else:
        C, CB = store._load_quantizers()
        mcols = tuple(meta.get("metadata_cols", ()))
        src = vectors.select(
            F.col(meta["id_col"]).cast("bigint").alias("id"),
            F.col(meta["vec_col"]).alias("vec"),
            *mcols,
        )
        # one row per id: two same-seg copies would BOTH be live (same
        # generation — neither shadows the other); arbitrary winner,
        # pre-dedup upstream with an ordering column when it matters.
        # A CDC segment's resolve (_resolve_cdc) collapses them in the
        # same shuffle that drops its deleted ids.
        shadow = None
        if deleted is None:
            src = src.dropDuplicates(["id"])
        else:
            res = _resolve_cdc(src, deleted, "id")
            src = res.filter(~F.col("__del")).drop("__del")
            shadow = res.select("id")
        _write_segment(
            src, root, seg, C.tolist(), CB.tolist(), meta["dim"] // meta["m"],
            meta["raw_id_buckets"], metadata_cols=mcols, shadow_ids=shadow,
        )
    # footer-metadata counts (no Spark job)
    n_ids = _parquet_rows(ids_dir)
    if vectors is None:
        n = 0
    elif deleted is None:
        n = n_ids
    else:
        # the codes pool: a footer read skips raw/'s `__rb=` dirs
        n = _parquet_rows(os.path.join(root, "codes", f"seg={seg}"))
    tomb = deleted is not None and n == 0
    n_segs = len(meta["segments"])
    manifest = dict(meta)
    manifest["segments"] = list(meta["segments"]) + [seg]
    manifest["seg_n"] = list(meta.get("seg_n", [-1] * n_segs)) + [
        n_ids if tomb else n
    ]
    if tomb:
        manifest["tombstones"] = list(meta.get("tombstones", [])) + [seg]
    seg_del = list(meta.get("seg_deletes", [0] * n_segs)) + [
        0 if tomb else n_ids - n
    ]
    if any(seg_del):
        manifest["seg_deletes"] = seg_del
    return _commit_pq_version(spark, root, manifest)


def compact_ivfpq_store(
    spark, root: str, retain: int = 2, **train_kwargs
) -> IvfPqStore:
    """IN-PLACE fold of the live PQ version's segment list into ONE
    fresh segment under a NEW quantizer generation — resolve
    last-wins survivors (tombstoned ids drop: their latest segment
    has no raw row; replaced ids keep only the newest copy), RE-TRAIN
    quantizers on the surviving corpus (the designated drift-refresh
    point, the analogue of the SQ8 store's re-quantizing compaction),
    encode, commit a version naming only the new segment + generation,
    then retention-vacuum.

    Reader safety is the versioned-CURRENT substrate's (r14 verdict
    #1, replacing the rename-swap fold): a reader that resolved
    CURRENT before the fold keeps its manifest — old segments AND the
    old quantizer generation stay on disk until ``vacuum_pq_store``
    drops versions outside the ``retain`` window (>= 2 protects
    exactly that reader; the serving stores the reference writes to
    never yank a segment from under a live query — Weaviate LSM,
    reference pipeline.py P:341-349). ``train_kwargs`` override
    geometry (n_cells/m/k_pq/max_fit_rows/iters) for the re-train."""
    store = IvfPqStore(spark, root)
    meta = store.meta
    mcols = list(meta.get("metadata_cols", ()))
    latest = (
        spark.read.parquet(os.path.join(root, "ids"))
        .filter(F.col("seg").isin(meta["segments"]))  # committed only
        .groupBy("id")
        .agg(F.max("seg").alias("seg"))
    )
    live = spark.read.parquet(os.path.join(root, "raw")).join(
        latest, ["id", "seg"]
    )
    if mcols:
        # metadata rides the CODES segments (not the raw sidecar) —
        # recover each survivor's metadata from its own segment so a
        # filtered store stays filterable across the fold
        md = spark.read.parquet(os.path.join(root, "codes")).select(
            "id", "seg", *mcols
        )
        live = live.join(md, ["id", "seg"])
    src = live.select("id", "vec", *mcols)
    geom = dict(
        n_cells=meta["n_cells"],
        m=meta["m"],
        k_pq=meta["k_pq"],
        max_fit_rows=DEFAULT_MAX_FIT_ROWS,
        iters=12,
    )
    geom.update(train_kwargs)
    C, CB, dim, n_fit, n_cells, k_pq = _train_pq(
        src, geom["n_cells"], geom["m"], geom["k_pq"],
        geom["max_fit_rows"], geom["iters"], "id", "vec",
    )
    qrel = _write_quantizer_gen(spark, root, C, CB)
    seg = _next_pq_segment(root)
    _write_segment(
        src, root, seg, C.tolist(), CB.tolist(), dim // geom["m"],
        meta["raw_id_buckets"], metadata_cols=tuple(mcols),
    )
    n = _parquet_rows(os.path.join(root, "ids", f"seg={seg}"))
    manifest = {
        "layout": "ivfpq",
        "dim": int(dim),
        "m": int(geom["m"]),
        "k_pq": int(k_pq),
        "n_cells": int(n_cells),
        "id_col": meta["id_col"],
        "vec_col": meta["vec_col"],
        "raw_id_buckets": int(meta["raw_id_buckets"]),
        "n_fit": int(n_fit),
        "quantizer": qrel,
        "segments": [seg],
        "seg_n": [int(n)],
        "tombstones": [],
        "metadata_cols": mcols,
    }
    out = _commit_pq_version(spark, root, manifest)
    vacuum_pq_store(root, retain=retain)
    return out


def write_ivfpq_store(
    vectors: DataFrame,
    root: str,
    n_cells: int | str = 16,
    m: int = DEFAULT_M,
    k_pq: int = DEFAULT_PQ_K,
    max_fit_rows: int = DEFAULT_MAX_FIT_ROWS,
    iters: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    raw_id_buckets: int = DEFAULT_RAW_ID_BUCKETS,
    metadata_cols: tuple = (),
) -> IvfPqStore:
    """Train (driver-side, bounded, deterministic) + encode
    (executor-side, Arrow-batched) + write the IVF-PQ layout.

    The fit sample is the ``max_fit_rows`` smallest ``md5(id)`` rows —
    a TakeOrdered (map-side heap, no full sort) that is deterministic
    across runs and engines. ``n_cells`` and ``k_pq`` are capped by
    the fit-row count with a loud error / silent-min respectively
    (a codebook can't hold more centroids than training points).
    """
    spark = vectors.sparkSession
    _refuse_legacy_pq_root(root)
    C, CB, dim, n_fit, n_cells, k_pq = _train_pq(
        vectors, n_cells, m, k_pq, max_fit_rows, iters, id_col, vec_col
    )
    # ---- executor-side full-corpus encode (Arrow batches) ----------
    src = vectors.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.col(vec_col).alias("vec"),
        *metadata_cols,
    )
    qrel = _write_quantizer_gen(spark, root, C, CB)
    seg = _next_pq_segment(root)
    _write_segment(
        src, root, seg, C.tolist(), CB.tolist(), dim // m, raw_id_buckets,
        metadata_cols=metadata_cols,
    )
    n = _parquet_rows(os.path.join(root, "ids", f"seg={seg}"))
    manifest = {
        "layout": "ivfpq",
        "dim": int(dim),
        "m": int(m),
        "k_pq": int(k_pq),
        "n_cells": int(n_cells),
        "id_col": id_col,
        "vec_col": vec_col,
        "raw_id_buckets": int(raw_id_buckets),
        "n_fit": int(n_fit),
        "quantizer": qrel,
        "segments": [seg],
        "seg_n": [int(n)],
        "tombstones": [],
        "metadata_cols": list(metadata_cols),
    }
    return _commit_pq_version(spark, root, manifest)


def maybe_compact_ivfpq_store(
    spark, root: str, max_segments: int, retain: int = 2, **train_kwargs
) -> bool:
    """Auto-compaction trigger for upsert loops (the X1 dial on the
    PQ layout): when the live segment list exceeds ``max_segments``,
    ``compact_ivfpq_store`` folds IN PLACE — a new committed version
    under the same root, no rename swap, so concurrent readers are
    safe and no crash-recovery dance exists (r14 verdict #1). The
    root-level ``_last_batch_id`` replay marker is untouched by
    design (the root never moves). Returns True when a fold
    happened."""
    if max_segments < 1:
        raise ValueError(f"max_segments must be >= 1, got {max_segments}")
    if index_current_path(root) is None:
        return False
    store = IvfPqStore(spark, root)
    if len(store.meta["segments"]) <= max_segments:
        return False
    compact_ivfpq_store(spark, root, retain=retain, **train_kwargs)
    return True


def vacuum_pq_store(root: str, retain: int = 2) -> list[str]:
    """Manifest-aware retention GC for the managed PQ root (the
    ``vacuum_ann_store`` mirror over the seg=N pool layout): keep the
    ``retain`` newest COMMITTED versions plus whatever CURRENT points
    at, then delete every version dir, ``seg=N`` pool dir (codes/raw/
    ids), and quantizer generation no retained manifest references.
    Returns deleted names.

    The same three crash/concurrency windows the shared index vacuum
    protects: the retain window counts committed versions only
    (crashed-commit debris never eats reader-protection slots);
    CURRENT is always kept; and anything NEWER than what any
    COMMITTED manifest references (version dirs above the pointer,
    segments/generations above the committed horizon — which covers
    an in-flight writer's manifest-landed-but-unswapped window too)
    is never GC'd here."""
    import shutil

    if retain < 1:
        raise ValueError(f"retain must be >= 1, got {retain}")
    versions = sorted(
        (int(n.removeprefix("v_")), n)
        for n in os.listdir(root)
        if n.startswith("v_") and n.removeprefix("v_").isdigit()
    )
    committed = _committed_versions(root)
    keep = set(committed[-retain:])
    cur = index_current_path(root)
    cur_num = -1
    if cur is not None:
        cur_name = os.path.basename(cur.rstrip("/"))
        keep.add(cur_name)
        if cur_name.removeprefix("v_").isdigit():
            cur_num = int(cur_name.removeprefix("v_"))
    seg_refs: set[int] = set()
    quant_refs: set[str] = set()
    for n in keep:
        m = _read_manifest(os.path.join(root, n))
        if m is not None:
            seg_refs.update(int(s) for s in m["segments"])
            quant_refs.add(m["quantizer"])
    # in-flight horizons: the highest segment / generation any
    # COMMITTED version's manifest references — anything above was
    # written by a fold whose CURRENT swap hasn't landed yet.
    # Committed only (r15 ADVICE): an in-flight writer's manifest
    # lands before its pointer swap, so counting it would raise the
    # horizon over its own new segment/generation and GC them inside
    # the commit window — inverting the protection. Debris above the
    # committed horizon survives until a later commit passes it.
    max_ref_seg, max_ref_gen = -1, -1
    for n in committed:
        m = _read_manifest(os.path.join(root, n))
        if m is None:
            continue
        for s in m.get("segments", []):
            max_ref_seg = max(max_ref_seg, int(s))
        q = os.path.basename(m.get("quantizer", "").rstrip("/"))
        if q.startswith("q_") and q.removeprefix("q_").isdigit():
            max_ref_gen = max(max_ref_gen, int(q.removeprefix("q_")))
    deleted: list[str] = []
    for num, n in versions:
        if n in keep or num > cur_num:
            continue
        shutil.rmtree(os.path.join(root, n), ignore_errors=True)
        deleted.append(n)
    for sub in ("codes", "raw", "ids"):
        d = os.path.join(root, sub)
        if not os.path.isdir(d):
            continue
        for n in sorted(os.listdir(d)):
            if not (n.startswith("seg=") and n.removeprefix("seg=").isdigit()):
                continue
            s = int(n.removeprefix("seg="))
            if s in seg_refs or s > max_ref_seg:
                continue
            shutil.rmtree(os.path.join(d, n), ignore_errors=True)
            deleted.append(f"{sub}/{n}")
    qroot = os.path.join(root, "quantizers")
    if os.path.isdir(qroot):
        for n in sorted(os.listdir(qroot)):
            if not (n.startswith("q_") and n.removeprefix("q_").isdigit()):
                continue
            rel = f"quantizers/{n}"
            if rel in quant_refs or int(n.removeprefix("q_")) > max_ref_gen:
                continue
            shutil.rmtree(os.path.join(qroot, n), ignore_errors=True)
            deleted.append(rel)
    return deleted


def pq_report(spark, root: str) -> DataFrame:
    """Operational report over a managed IVF-PQ root — now a thin
    alias for the unified ``similarity.index_report`` (r14 verdict
    #1: one observability surface across all three at-rest layouts).
    One row per segment, oldest → newest: (segment, kind, layout=
    'ivfpq', rows, bytes, shadowed_ids, bounds_drift=NULL)."""
    from .similarity import index_report

    return index_report(spark, root)
