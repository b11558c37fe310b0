"""Similarity search: brute-force cosine top-k + bucketed scale paths.

The reference's query side is Weaviate ``near_vector`` + ``limit``
(ingestion-pipeline-website-local.py:167-176, k=5 at 174). Spark-first
re-expression (SURVEY.md §3.3): score every row with a higher-order
cosine expression, then ``orderBy(desc).limit(k)`` which Catalyst
plans as TakeOrderedAndProject — no global sort, no collect.

Scale paths beyond ~10^7 vectors:
- ``sign_bucket``: random-hyperplane-style LSH using the vector's own
  leading-component signs (deterministic, engine-portable); candidates
  restricted to the query's bucket before exact re-rank.
- ``ivf_search``: IVF — vectors pre-assigned to coarse cells
  (`cell_col`); probe only the query's cell. With a real k-means
  assignment this is textbook IVF-Flat; the synthetic table's
  ``label`` column stands in for the assignment here.
"""

from __future__ import annotations

import re
import warnings

from pyspark.sql import Column, DataFrame, functions as F


def vector_literal(values) -> Column:
    """ARRAY<DOUBLE> literal of ``values`` built from one string
    literal: ``split(lit("v0,v1,..."), ",")`` cast to doubles, which
    Catalyst constant-folds back into one array literal. ``repr`` of a
    float is its shortest round-trip form and Spark parses it
    correctly rounded, so every element is bit-identical to
    ``F.lit(float(v))`` (inf and nan included; the JVM keeps one
    canonical nan either way). It costs a constant number of py4j
    round trips; ``F.array`` of per-element literals costs several
    per element."""
    return F.split(F.lit(",".join(repr(float(v)) for v in values)), ",").cast(
        "array<double>"
    )


def local_frame(spark, rows, schema) -> DataFrame:
    """``rows`` (tuples in ``schema`` field order) as a DataFrame that
    lives entirely in the JVM: one JSON string literal, parsed by
    ``from_json`` and ``inline``d over ``range(1)``.
    ``createDataFrame(list)`` is a Python RDD, so every scan of it —
    each broadcast, each semi-join side — runs a Python worker task;
    scans of this frame do not, and building it costs a constant
    number of py4j round trips whatever the row count. JSON carries
    every value exactly: ``json`` writes a float as its shortest
    round-trip ``repr`` (nan and ±inf as the ``NaN``/``Infinity``
    tokens Spark's JSON reader accepts), a long as its full integer
    digits (exact past 2**53), a string ASCII-escaped (surrogate
    pairs for non-BMP characters), a list as a JSON array and None
    as null. Array fields, nested ones included, carry exactly when
    their innermost element type does. ``[]`` gives zero rows with
    the schema. A schema with a field JSON cannot carry exactly
    (dates, decimals, binary, maps, structs) falls back to
    ``createDataFrame``."""
    import json

    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        ByteType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    def exact(t) -> bool:
        if isinstance(t, ArrayType):
            return exact(t.elementType)
        return isinstance(t, (BooleanType, ByteType, DoubleType, FloatType,
                              IntegerType, LongType, ShortType, StringType))

    if not all(exact(f.dataType) for f in schema.fields):
        return spark.createDataFrame(rows, schema)
    names = schema.fieldNames()
    js = json.dumps([dict(zip(names, r)) for r in rows])
    return spark.range(1).select(
        F.inline(F.from_json(F.lit(js), ArrayType(schema)))
    )


def _run_overlapped(spark, *chains) -> None:
    """Run independent Spark job chains concurrently from a small
    thread pool (a write's straggler tail back-fills with the other
    chain's tasks) and re-raise the first failure. Each callable is
    wrapped in ``inheritable_thread_target(spark)`` here, on the
    caller's thread, so its jobs carry the caller's local properties
    (job group, scheduler pool, description) and job tags instead of
    starting outside the caller's group."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=len(chains)) as pool:
        inherit = inheritable_thread_target(spark)
        futs = [pool.submit(inherit(c)) for c in chains]
        for fut in futs:
            fut.result()


def _clustered(df: DataFrame, n_dirs: int, *cols: str) -> DataFrame:
    """``df`` hash-partitioned on its partition columns ``cols`` before
    a partitioned store write, in ``min(n_dirs, defaultParallelism)``
    tasks (``n_dirs`` is how many partition directories the columns can
    take). Each directory's rows land in one task, so it gets exactly
    one file whatever the width. The width follows the cores, not the
    directory count: a task costs ~30 ms on ``local[2]`` even when it
    writes nothing, so a 12-row delta into 48 directories ran 48 tasks
    for one core-second of scheduling. Where the cluster has at least
    ``n_dirs`` cores the plan is the directory-count repartition it
    replaces."""
    width = min(int(n_dirs), df.sparkSession.sparkContext.defaultParallelism)
    return df.repartition(max(1, width), *cols)


def _resolve_cdc(delta: DataFrame, deleted: DataFrame, id_col: str) -> DataFrame:
    """One CDC batch resolved per id, in one shuffle: ``(id_col,
    __del, *delta's other columns)``, one row per id of ``delta`` ∪
    ``deleted`` (a frame holding ``id_col``). ``__del`` is true for an
    id ``deleted`` names — a same-batch upsert and delete resolves to
    deleted — and its data columns are then NULL; otherwise they are
    one of the id's ``delta`` rows (arbitrary winner, the
    ``dropDuplicates`` rule). A segment writer takes its data rows
    (``~__del``) and its shadow ids (every row) from this one frame,
    so neither side needs a distinct or a broadcast join."""
    cols = [c for c in delta.columns if c != id_col]
    up = delta.select(
        id_col, F.lit(False).alias("__del"), F.struct(*cols).alias("__row")
    )
    gone = deleted.select(
        id_col,
        F.lit(True).alias("__del"),
        F.lit(None).cast(up.schema["__row"].dataType).alias("__row"),
    )
    return (
        up.unionByName(gone)
        .groupBy(id_col)
        .agg(
            F.bool_or("__del").alias("__del"),
            F.first("__row", ignorenulls=True).alias("__row"),
        )
        .select(id_col, "__del", *[F.col("__row")[c].alias(c) for c in cols])
    )


def _tokens(text: Column) -> Column:
    """The index tokenizer: lowercase, split on non-alphanumerics,
    drop empty tokens."""
    return F.filter(
        F.split(F.lower(text), "[^a-z0-9]+"), lambda x: F.length(x) > 0
    )


#: the most (query, term) rows a keyword-serving call collects from
#: the caller's query batch. Serving collects the batch's terms to the
#: driver once (a query batch is tiny next to the corpus); past this
#: bound the call refuses instead of materializing the batch.
MAX_QUERY_TERM_ROWS = 100_000


class QueryBatchTooLargeError(ValueError):
    """A keyword-serving query batch holds more (query, term) rows
    than the driver-side collect accepts — split the batch."""


def _collect_query_terms(
    terms_df: DataFrame, caller: str, limit: int | None = None,
    bound_name: str = "MAX_QUERY_TERM_ROWS",
) -> list:
    """Collect a query batch's term rows in one bounded job — the only
    read of the caller's frame. ``coalesce(1)`` makes the capped
    collect one task over one partition, so the limit never scans in
    rounds; the cap (+1 sentinel row) means even a refusing call
    never pulls more than ``limit + 1`` rows to the driver. ``limit``
    defaults to ``MAX_QUERY_TERM_ROWS``."""
    if limit is None:
        limit = MAX_QUERY_TERM_ROWS
    rows = terms_df.coalesce(1).limit(limit + 1).collect()
    if len(rows) > limit:
        raise QueryBatchTooLargeError(
            f"{caller}: query batch has more than {limit} (query, term) "
            f"rows ({bound_name}) — serving collects a query batch's "
            "terms to the driver. Split the batch into smaller ones."
        )
    return rows


def dot_product(x: Column, y: Column) -> Column:
    """Float64 dot product of two ARRAY<FLOAT/DOUBLE> columns —
    zip_with products, aggregate with a DOUBLE accumulator (explicit
    cast so the summation is float64 regardless of input width)."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity over two ARRAY<FLOAT/DOUBLE> columns, all
    JVM-side higher-order functions. Three dot passes per call — when
    one side is reused across many pairs (a store row scored against
    many queries), precompute its norm once and divide
    ``dot_product(a, b) / (norm_a * norm_b)`` instead: same doubles in
    the same operation order, a third of the HOF work (the
    probe_batch plan does exactly this)."""
    return dot_product(a, b) / (
        F.sqrt(dot_product(a, a)) * F.sqrt(dot_product(b, b))
    )


def brute_force_topk(
    vectors: DataFrame,
    query_vec: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """T8/O2: exact top-k by cosine.

    Score rounded to 6dp before ranking (float-order stability,
    SURVEY.md §7.3); ties broken by id for full determinism.
    """
    scored = vectors.withColumn("score", F.round(cosine(F.col(vec_col), query_vec), 6))
    return (
        scored.orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "score")
    )


def sign_bucket(vec: Column, bits: int = 3) -> Column:
    """LSH bucket id from the signs of the first ``bits`` components
    (deterministic stand-in for random-hyperplane projections —
    equivalent up to a fixed rotation for already-random embeddings)."""
    b = F.lit(0)
    for i in range(bits):
        b = b + F.when(F.element_at(vec, i + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return b


#: default multi-table width for the ANN entry points: measured
#: recall@5 = 0.84 at 6 tables x 3 bits on the synthetic embeddings
#: (vs 0.36 single-table) — the default a caller gets must be the
#: high-recall configuration; narrow it explicitly for cheaper probes.
DEFAULT_LSH_TABLES = 6


def table_sign_bucket(vec: Column, table: int, bits: int = 3) -> Column:
    """Sign bucket of table ``table``: hashes components
    table*bits+1 .. table*bits+bits (each table sees a disjoint
    component slice — a deterministic stand-in for independently
    rotated hyperplane sets)."""
    b = F.lit(0)
    for i in range(bits):
        comp = table * bits + i + 1
        b = b + F.when(F.element_at(vec, comp) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return b


def multi_table_sign_condition(
    vec: Column, query_vec: Column, bits: int = 3, n_tables: int = DEFAULT_LSH_TABLES
) -> Column:
    """Candidate predicate of multi-table sign-LSH: a row qualifies if
    it matches the query's bucket in ANY table. Recall compounds per
    table (1-(1-p)^t) at the cost of scanning t buckets — the standard
    LSH recall/cost knob. Still partition-prunable per table at rest."""
    cond = None
    for t in range(n_tables):
        c = table_sign_bucket(vec, t, bits) == table_sign_bucket(query_vec, t, bits)
        cond = c if cond is None else (cond | c)
    return cond


def lsh_topk(
    vectors: DataFrame,
    query_vec: Column,
    k: int = 5,
    bits: int = 3,
    n_tables: int = DEFAULT_LSH_TABLES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucketed ANN, multi-table by default (recall@5 0.84 measured;
    ``n_tables=1`` recovers the cheap single-bucket probe at 0.36):
    filter to the query's sign-buckets, then exact re-rank. At scale
    each table's bucket filter is a partition-prunable predicate
    (store bucketed by table-0 bucket), so the scan shrinks by
    ~2^bits/n_tables."""
    cond = multi_table_sign_condition(F.col(vec_col), query_vec, bits, n_tables)
    return brute_force_topk(vectors.filter(cond), query_vec, k, id_col, vec_col)


def ivf_search(
    vectors: DataFrame,
    query_vec: Column,
    query_cell: Column,
    cell_col: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe: restrict to the query's coarse cell, exact re-rank."""
    cand = vectors.filter(F.col(cell_col) == query_cell)
    return brute_force_topk(cand, query_vec, k, id_col, vec_col)


def pairwise_near_dup(
    vectors: DataFrame,
    block_col: str,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked.

    Self-join restricted to ``block_col`` equality (an LSH bucket or
    IVF cell in production) — the equi key keeps this a hash join;
    the unblocked quadratic cross join is never planned.
    """
    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    # precompute each row's norm ONCE before the join — computing
    # cosine() per pair would re-evaluate both self-dot-products for
    # every pair (3x the higher-order-function work)
    normed = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.col(block_col).alias("blk"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("nrm"),
    )
    a = normed.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"), "blk"
    )
    b = normed.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"), "blk"
    )
    pairs = a.join(b, on="blk").filter(F.col("id_a") < F.col("id_b"))
    scored = pairs.withColumn(
        "score",
        F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6),
    )
    return scored.filter(F.col("score") >= threshold).select("id_a", "id_b", "score")


def mllib_lsh_model(
    vectors: DataFrame,
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_tables: int = 3,
):
    """T8 100 TB path via MLlib: BucketedRandomProjectionLSH.

    Euclidean-LSH over the embedding column (converted to MLlib
    vectors JVM-side with ``array_to_vector`` — no Python round-trip).
    For cosine search, L2-normalize first: euclidean distance on unit
    vectors is monotone in cosine similarity (d² = 2 − 2cos), so LSH
    neighbors under L2 are cosine neighbors. Returns (model,
    transformed_df) — at scale you persist the transformed (hashed)
    table bucketed by hash so probes prune partitions.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    df = vectors.withColumn("__vec_raw", array_to_vector(F.col(vec_col).cast("array<double>")))
    df = Normalizer(inputCol="__vec_raw", outputCol="__vec", p=2.0).transform(df)
    lsh = BucketedRandomProjectionLSH(
        inputCol="__vec",
        outputCol="__hashes",
        bucketLength=bucket_length,
        numHashTables=num_tables,
        seed=42,
    )
    model = lsh.fit(df)
    return model, model.transform(df)


def mllib_lsh_topk(
    vectors: DataFrame,
    query_vec: list[float],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via the MLlib LSH model (approxNearestNeighbors).

    Complements the SQL-native ``lsh_topk``/``ivf_search``: this path
    gives multi-table LSH with tunable recall at the cost of the fit
    step; the SQL paths are zero-fit and partition-prunable. Returns
    (id, approx cosine score) — distCol is euclidean on unit vectors,
    mapped back to cosine via cos = 1 − d²/2.
    """
    import math

    from pyspark.ml.linalg import Vectors

    model, hashed = mllib_lsh_model(vectors, vec_col)
    norm = math.sqrt(sum(x * x for x in query_vec)) or 1.0
    key = Vectors.dense([x / norm for x in query_vec])
    nn = model.approxNearestNeighbors(hashed, key, k, distCol="__dist")
    return nn.select(
        F.col(id_col),
        F.round(F.lit(1.0) - F.col("__dist") * F.col("__dist") / F.lit(2.0), 6).alias(
            "approx_score"
        ),
    )


def kmeans_ivf_build(
    vectors: DataFrame,
    n_cells: int | str = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_fit_rows: int | None = None,
):
    """Real IVF coarse quantizer: MLlib k-means over the corpus.

    Returns (model, assigned) where ``assigned`` carries an
    ``ivf_cell`` column. Complements the label-column stand-in used by
    the ``ann_ivf_search`` DQ.

    Scale knobs (the two levers that make this the 100 TB path):

    - ``n_cells="auto"`` sizes the cell count to ``round(sqrt(n))``
      (floored at 2) — the standard IVF rule: with n/cells vectors
      per cell, an ``n_probe``-cell probe scans ``n_probe*sqrt(n)``
      rows instead of a fixed fraction of the corpus, so probe cost
      grows with sqrt(corpus) rather than linearly. A fixed
      ``n_cells=16`` at 10^9 vectors means every probe cell holds
      ~60M rows; auto gives ~31.6k cells of ~31.6k rows.
    - ``max_fit_rows`` caps the k-means FIT input by uniform sample
      (assignment still covers the full corpus — ``transform`` is a
      narrow map). Centroid quality needs only a representative
      sample, not the corpus; fitting on 10^9 rows would shuffle all
      of them per k-means iteration for no recall gain.

    At rest, write ``assigned`` partitioned by ``ivf_cell`` so probes
    prune partitions (same layout contract as ``AnnStore``).

    Laziness contract: with ``n_cells="auto"`` or ``max_fit_rows``
    set, the function is **eager** — it submits a ``count()`` job over
    the corpus at build time to size the quantizer (an index build is
    inherently materializing, but don't compose it into a plan
    expecting laziness). With an integer ``n_cells`` and no
    ``max_fit_rows``, no corpus count is issued — the only jobs are
    MLlib's own fit passes.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    df = vectors.withColumn(
        "__vec", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    fit_df = df
    if n_cells == "auto" or max_fit_rows is not None:
        n = df.count()
        if n < 2:
            # fail with a clear message, not MLlib's opaque error on a
            # 0/1-row fit (auto would compute n_cells=1 or fit empty)
            raise ValueError(
                f"kmeans_ivf_build: corpus has {n} row(s); an IVF quantizer "
                "needs at least 2 vectors to fit"
            )
        n_fit = n
        if max_fit_rows is not None and n > max_fit_rows:
            # slight oversample then exact cap: Bernoulli sampling is
            # a narrow op but only approximates the target count — it
            # can come in UNDER max_fit_rows, so pin the sample
            # (localCheckpoint: it's <= max_fit_rows rows) and count
            # what actually arrived; the k cap below must use the real
            # row count or k-means can be handed fewer points than
            # centroids (ArrayIndexOutOfBounds in MLlib init).
            fit_df = (
                df.sample(fraction=min(1.0, 1.1 * max_fit_rows / n), seed=seed)
                .limit(max_fit_rows)
                .localCheckpoint()
            )
            n_fit = fit_df.count()
        if n_cells == "auto":
            # sqrt of the CORPUS, but never more cells than fit rows —
            # k-means can't place more distinct centroids than points,
            # and k > n_fit pads duplicate/empty cells that silently
            # break the rows-per-cell guarantee. A cap this tight also
            # signals a mis-sized max_fit_rows, so say so.
            auto_k = max(2, int(round(n ** 0.5)))
            n_cells = max(1, min(auto_k, n_fit))
            if n_cells < auto_k:
                warnings.warn(
                    f"kmeans_ivf_build: auto n_cells {auto_k} capped to "
                    f"{n_cells} by the fit-sample size — raise max_fit_rows "
                    "(a sqrt(n)-cell quantizer needs at least sqrt(n) fit rows)",
                    RuntimeWarning,
                    stacklevel=2,
                )
        elif n_cells > n_fit:
            raise ValueError(
                f"n_cells={n_cells} exceeds the {n_fit} rows available to fit "
                "on — lower n_cells or raise max_fit_rows"
            )
    if not isinstance(n_cells, int):
        raise ValueError(f"n_cells must be an int or 'auto', got {n_cells!r}")
    model = KMeans(
        k=n_cells, seed=seed, featuresCol="__vec", predictionCol="ivf_cell"
    ).fit(fit_df)
    return model, model.transform(df).drop("__vec")


def kmeans_ivf_search(
    assigned: DataFrame,
    model,
    query_vec: list[float],
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe with multi-probe: rank centroids by distance to the
    query, search the ``n_probe`` nearest cells, exact re-rank."""
    import numpy as np

    q = np.array(query_vec, dtype=float)
    centers = model.clusterCenters()
    order = sorted(range(len(centers)), key=lambda i: float(np.linalg.norm(centers[i] - q)))
    probe_cells = order[:n_probe]
    qv = vector_literal(query_vec)
    cand = assigned.filter(F.col("ivf_cell").isin(probe_cells))
    return brute_force_topk(cand, qv, k, id_col, vec_col)


def lsh_topk_multi(
    vectors: DataFrame,
    query_vec: Column,
    k: int = 5,
    bits: int = 3,
    n_tables: int = DEFAULT_LSH_TABLES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Back-compat alias: multi-table sign-LSH is now the ``lsh_topk``
    default — both names hit the same predicate builder."""
    return lsh_topk(vectors, query_vec, k, bits, n_tables, id_col, vec_col)


class AnnStore:
    """Multi-table sign-LSH index AT REST: the bucket is a partition
    key, so a probe prunes the scan instead of filtering it.

    ``write`` explodes each vector into its ``n_tables`` (table,
    bucket) assignments and writes parquet partitioned by both — the
    standard multi-table LSH storage trade (t pointer copies buy
    1-(1-p)^t recall). ``probe`` computes the query's bucket per table
    DRIVER-side (the query vector is a literal; 3 sign tests per
    table), builds the (table=t AND bucket=b_t) disjunction, and lets
    Spark partition-prune: of t×2^bits partitions only t are read —
    at 10^9 vectors a probe touches t/2^bits of the store (~6/8ths of
    1/8th here) before the exact re-rank. Pruning is asserted in
    tests/test_plans.py (PartitionFilters + inputFiles count).
    """

    def __init__(
        self,
        spark,
        path: str,
        bits: int = 3,
        n_tables: int = DEFAULT_LSH_TABLES,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        self.spark, self.path = spark, path
        self.bits, self.n_tables = bits, n_tables
        self.id_col, self.vec_col = id_col, vec_col
        #: each table reads a disjoint bits-wide component slice, so
        #: vectors (and query vectors) need at least this many dims —
        #: validated up front; past-the-end element_at under Spark 4
        #: ANSI mode would otherwise throw an opaque
        #: INVALID_ARRAY_INDEX mid-write.
        self.min_dim = bits * n_tables
        #: SQ8 bounds, set by write_quantized / restored by open
        self._quant: dict | None = None
        #: metadata columns carried in the store (filtered search)
        self._metadata_cols: tuple[str, ...] = ()

    def _assigned(
        self, vectors: DataFrame, metadata_cols: tuple[str, ...] = ()
    ) -> DataFrame:
        """(id, vec[, metadata...], table, bucket) — each vector
        exploded into its ``n_tables`` sign-bucket assignments,
        dimension-guarded. Shared by ``write``/``upsert``/
        ``write_quantized`` so the three paths cannot disagree on
        what a bucket means. ``metadata_cols`` travel with every
        pointer copy — the filtered-search substrate."""
        guard = F.assert_true(
            F.size(F.col(self.vec_col)) >= self.min_dim,
            F.lit(
                f"AnnStore requires vectors with >= {self.min_dim} "
                f"components (bits={self.bits} x n_tables={self.n_tables})"
            ),
        )
        # thread the assert through the vector column itself (a
        # dropped helper column would just be pruned by Catalyst):
        # assert_true returns NULL on success, throws otherwise.
        vectors = vectors.withColumn(
            self.vec_col, F.when(guard.isNull(), F.col(self.vec_col))
        )
        assignments = [
            F.struct(
                F.lit(t).alias("table"),
                table_sign_bucket(F.col(self.vec_col), t, self.bits).alias("bucket"),
            )
            for t in range(self.n_tables)
        ]
        return vectors.select(
            self.id_col,
            self.vec_col,
            *metadata_cols,
            F.explode(F.array(*assignments)).alias("tb"),
        ).select(self.id_col, self.vec_col, *metadata_cols, "tb.table", "tb.bucket")

    def _write_meta(self, path: str, extra: dict | None = None) -> None:
        """Self-describing store: geometry (and quantization bounds)
        in an underscore-prefixed JSON sidecar Spark's file index
        ignores — ``AnnStore.open`` restores a store without the
        caller re-stating bits/n_tables (the mirror of the lexical
        index's stats/ table)."""
        import json
        import os

        meta = {
            "bits": self.bits,
            "n_tables": self.n_tables,
            "id_col": self.id_col,
            "vec_col": self.vec_col,
        }
        if extra:
            meta.update(extra)
        os.makedirs(path, exist_ok=True)
        tmp = os.path.join(path, "_ann_meta.json.tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(meta, f)
        os.replace(tmp, os.path.join(path, "_ann_meta.json"))

    @classmethod
    def open(cls, spark, path: str, version: str | None = None) -> "AnnStore":
        """Re-open a written store from its metadata sidecar — the
        reader needs the same geometry the writer used or every probe
        would hash into the wrong buckets. An LSM-manifest version
        directory (the versioned-root layout) opens as a
        ``SegmentedAnnStore`` read view. ``version=`` treats ``path``
        as the MANAGED ROOT and serves that committed version (the
        time-travel read — see ``resolve_version_dir``)."""
        import json
        import os

        if version is not None:
            path = resolve_version_dir(path.rstrip("/"), version)
        m = _read_manifest(path.rstrip("/"))
        if m is not None and "bits" in m:
            return SegmentedAnnStore(spark, path.rstrip("/"), m)
        meta_path = os.path.join(path, "_ann_meta.json")
        try:
            with open(meta_path, encoding="utf-8") as f:
                meta = json.load(f)
        except OSError as e:
            raise FileNotFoundError(
                f"no _ann_meta.json under {path!r} — not an AnnStore "
                "written by AnnStore.write/upsert/write_quantized"
            ) from e
        store = cls(
            spark,
            path,
            bits=int(meta["bits"]),
            n_tables=int(meta["n_tables"]),
            id_col=meta["id_col"],
            vec_col=meta["vec_col"],
        )
        store._quant = meta.get("quant")
        store._metadata_cols = tuple(meta.get("metadata_cols", ()))
        return store

    def write(self, vectors: DataFrame, metadata_cols: tuple[str, ...] = ()) -> None:
        """``metadata_cols`` (e.g. lang, source, label) are carried
        into every pointer copy so a probe can filter candidates
        INSIDE the pruned partitions (`probe(..., where=...)`) — the
        Weaviate/ES filtered-vector-search shape the reference's
        query side exposes. Duplicating small metadata n_tables
        times is the same trade the pointer copies already make."""
        (
            _clustered(
                self._assigned(vectors, tuple(metadata_cols)),
                self.n_tables << self.bits, "table", "bucket",
            )
            .write.mode("overwrite")
            .partitionBy("table", "bucket")
            .parquet(self.path)
        )
        self._metadata_cols = tuple(metadata_cols)
        self._write_meta(self.path, {"metadata_cols": list(metadata_cols)})

    def upsert(self, delta_vectors: DataFrame, dst_path: str) -> "AnnStore":
        """Incremental vector-index maintenance (r11 verdict #2, the
        ``upsert_postings_index`` treatment): fold a delta into the
        at-rest store, REPLACING any ``id_col`` that reappears (the
        re-crawl/re-embed upsert semantics — a replaced doc must not
        survive in ANY table's bucket, so the anti-join keys on id
        across all ``n_tables`` pointer copies), and write the result
        as a NEW store directory — functional versioning: a crash
        mid-upsert leaves the source store untouched and readers
        never see a half-written store (swap the serving pointer
        after, the sketch-stream manifest pattern,
        streaming/pipeline.py).

        The update provably equals a from-scratch ``write`` over
        (old vectors minus replaced ids, plus delta) — that equality
        IS the driver oracle for ``ann_store_upsert``. Cost: the
        delta's sign-bucketing + one anti-join of the OLD store
        against the (broadcastable) delta id set + the clustered
        rewrite; old vectors are never re-read from the corpus, and
        at 100 TB a daily delta costs the delta, not a full
        vector-store rebuild. Precondition (the snapshot_diff
        contract, as for the lexical upsert): ``id_col`` unique
        within ``delta_vectors`` — dedup the delta first (latest
        fetch wins) when re-embed timing can produce duplicates.

        Returns the store handle at ``dst_path`` (same geometry).

        Reference anchor: the reference's ``add_documents`` is an
        incremental append to a live vector store (pipeline.py
        P:341–349, E:348–355; W:116–118 skip-if-exists) — this is
        that operation with replace semantics and crash safety.

        Geometry/metadata are re-read from the SOURCE store's
        ``_ann_meta.json`` sidecar when present (r12 ADVICE): a handle
        constructed directly with ``AnnStore(...)`` over a
        metadata-bearing or quantized store would otherwise silently
        drop the metadata columns (``_metadata_cols`` defaults to
        ``()``) or miss the quantized-store refusal — the at-rest
        sidecar, not in-memory handle state, is the source of truth
        for what the store contains."""
        import json
        import os

        meta_path = os.path.join(self.path, "_ann_meta.json")
        if os.path.exists(meta_path):
            with open(meta_path, encoding="utf-8") as f:
                disk = json.load(f)
            if (int(disk["bits"]), int(disk["n_tables"])) != (self.bits, self.n_tables):
                raise ValueError(
                    f"handle geometry bits={self.bits}/n_tables={self.n_tables} "
                    f"disagrees with the store sidecar "
                    f"bits={disk['bits']}/n_tables={disk['n_tables']} under "
                    f"{self.path!r} — open the store via AnnStore.open"
                )
            self._quant = disk.get("quant")
            self._metadata_cols = tuple(disk.get("metadata_cols", ()))
        if getattr(self, "_quant", None):
            raise NotImplementedError(
                "a MONOLITHIC quantized store has one frozen set of "
                "per-dimension bounds — an in-place upsert cannot carry "
                "the delta's. Use the versioned layout "
                "(write_ann_store_versioned(quantized=True) + "
                "upsert_ann_store_versioned): each delta segment keeps "
                "its OWN SQ8 bounds and decodes per segment at probe"
            )
        delta_ids = delta_vectors.select(self.id_col).distinct()
        kept = self.spark.read.parquet(self.path).join(
            F.broadcast(delta_ids), self.id_col, "left_anti"
        )
        meta_cols = self._metadata_cols
        cols = [self.id_col, self.vec_col, *meta_cols, "table", "bucket"]
        (
            _clustered(
                kept.select(*cols).unionByName(
                    self._assigned(delta_vectors, meta_cols).select(*cols)
                ),
                self.n_tables << self.bits, "table", "bucket",
            )
            .write.mode("overwrite")
            .partitionBy("table", "bucket")
            .parquet(dst_path)
        )
        out = AnnStore(
            self.spark, dst_path, self.bits, self.n_tables, self.id_col, self.vec_col
        )
        out._metadata_cols = meta_cols
        out._write_meta(dst_path, {"metadata_cols": list(meta_cols)})
        return out

    def _query_buckets(self, qv: list[float]) -> list[int]:
        if len(qv) < self.min_dim:
            raise ValueError(
                f"query vector has {len(qv)} components; AnnStore with "
                f"bits={self.bits} x n_tables={self.n_tables} needs >= "
                f"{self.min_dim}"
            )
        out = []
        for t in range(self.n_tables):
            b = 0
            for i in range(self.bits):
                if qv[t * self.bits + i] >= 0:
                    b |= 1 << i
            out.append(b)
        return out

    def _probe_pairs(self, qv: list[float], extra_flips: int = 0) -> list[tuple[int, int]]:
        """(table, bucket) pairs to read: each table's home bucket,
        plus — multi-probe LSH (Lv et al., VLDB'07, public technique)
        — the ``extra_flips`` buckets reached by flipping the
        LOWEST-MARGIN sign bits one at a time. A component near zero
        is the one most likely to carry a true neighbor on its other
        side, so those adjacent buckets have the highest residual
        recall per extra partition read."""
        buckets = self._query_buckets(qv)  # validates qv up front
        flips = max(0, min(int(extra_flips), self.bits))
        pairs: list[tuple[int, int]] = []
        for t, b in enumerate(buckets):
            pairs.append((t, b))
            comps = qv[t * self.bits: (t + 1) * self.bits]
            order = sorted(range(self.bits), key=lambda i: abs(comps[i]))
            for i in order[:flips]:
                pairs.append((t, b ^ (1 << i)))
        return pairs

    @staticmethod
    def _pairs_cond(pairs: list[tuple[int, int]]) -> Column:
        """Literal (table, bucket) disjunction — plan-time values, so
        the parquet scan partition-prunes (PartitionFilters)."""
        cond = None
        for t, b in pairs:
            c = (F.col("table") == t) & (F.col("bucket") == b)
            cond = c if cond is None else (cond | c)
        return F.lit(False) if cond is None else cond

    def _cond_scan(self, cond: Column) -> DataFrame:
        """The at-rest rows matching a (table, bucket) predicate — the
        single point where probes touch storage. ``SegmentedAnnStore``
        overrides it with last-wins segment resolution, which is what
        lets ``probe``/``probe_batch`` serve both layouts unchanged."""
        if getattr(self, "_quant", None):
            # a quantized store's root holds codes/ + raw/ subtrees, not
            # the flat partitioned layout — a plain read would die with an
            # opaque partition-discovery error (r12 ADVICE: mirror
            # probe_quantized's inverse guard, loudly)
            raise ValueError(
                "this store was written by write_quantized (codes/ + raw/ "
                "layout) — probe it via probe_quantized, not "
                "probe/probe_candidates"
            )
        return _read_partitions(
            self.spark, self.path, partitions=("table", "bucket")
        ).filter(cond)

    def probe_candidates(self, qv: list[float], extra_flips: int = 0) -> DataFrame:
        """The pruned scan only — (1 + extra_flips) partitions per
        table, still resolved at plan time (PartitionFilters)."""
        return self._cond_scan(self._pairs_cond(self._probe_pairs(qv, extra_flips)))

    def probe(
        self,
        qv: list[float],
        k: int = 5,
        extra_flips: int = 0,
        where: Column | None = None,
    ) -> DataFrame:
        """Pruned scan → dedup ids (a vector can match in several
        tables/flip buckets) → exact cosine re-rank.

        ``extra_flips`` is the recall dial that costs NO extra
        storage: flipping the f weakest sign bits reads t·(1+f) of
        the t·2^bits partitions — the recall of roughly doubling the
        table count at half the index footprint (measured in
        BENCH_NOTES; an 8-table store duplicates every vector pointer
        8× at rest, a flip probe just reads more of the 4-table one).

        ``where`` filters candidates on metadata columns carried by
        ``write(metadata_cols=...)`` INSIDE the pruned partitions —
        filtered vector search (the Weaviate `where` + ES knn-filter
        shape). Post-filtering semantics: top-k among candidates that
        both hash near the query AND pass the filter; a highly
        selective filter lowers effective recall (fewer surviving
        candidates per bucket) — widen ``extra_flips`` to buy it
        back, partition reads scale with flips, not with the filter.
        """
        cand = self.probe_candidates(qv, extra_flips)
        if where is not None:
            cand = cand.filter(where)
        cand = cand.select(self.id_col, self.vec_col).distinct()
        qcol = vector_literal(qv)
        return brute_force_topk(cand, qcol, k, self.id_col, self.vec_col)

    def _batch_assignments(
        self,
        queries_df: DataFrame,
        query_id_col: str,
        query_vec_col: str,
        extra_flips: int,
    ) -> DataFrame:
        """(query_id, table, bucket) — every query's probed buckets,
        derived ENGINE-side (the batch mirror of the driver-side
        ``_probe_pairs``): per table the home sign bucket plus, for
        multi-probe, the buckets reached by flipping the
        ``extra_flips`` LOWEST-|margin| sign bits — ordered via
        array_sort over (|component|, bit) structs, the same
        stable-by-bit tiebreak as the driver path, so single-query
        ``probe`` and ``probe_batch`` read identical partitions.
        Dimension-guarded the ``_assigned`` way (assert_true threaded
        through the vector column) — a short query vector fails loudly
        instead of ANSI element_at throwing mid-plan."""
        flips = max(0, min(int(extra_flips), self.bits))
        guard = F.assert_true(
            F.size(F.col(query_vec_col)) >= self.min_dim,
            F.lit(
                f"probe_batch requires query vectors with >= {self.min_dim} "
                f"components (bits={self.bits} x n_tables={self.n_tables})"
            ),
        )
        q = queries_df.withColumn(
            query_vec_col, F.when(guard.isNull(), F.col(query_vec_col))
        )
        per_table = []
        for t in range(self.n_tables):
            home = table_sign_bucket(F.col(query_vec_col), t, self.bits)
            buckets = F.array(home)
            if flips > 0:
                comps = F.slice(F.col(query_vec_col), t * self.bits + 1, self.bits)
                ranked = F.array_sort(
                    F.zip_with(
                        comps,
                        F.sequence(F.lit(0), F.lit(self.bits - 1)),
                        lambda c, i: F.struct(
                            F.abs(c.cast("double")).alias("a"), i.alias("i")
                        ),
                    )
                )
                buckets = F.concat(
                    buckets,
                    F.transform(
                        F.slice(ranked, 1, flips),
                        # shiftleft needs a literal shift; 2^i via pow is
                        # exact for i < 31 (bits is validated far below that)
                        lambda s: home.bitwiseXOR(
                            F.pow(F.lit(2.0), s["i"].cast("double")).cast("int")
                        ),
                    ),
                )
            per_table.append(
                F.struct(F.lit(t).alias("table"), buckets.alias("buckets"))
            )
        return (
            q.select(query_id_col, F.explode(F.array(*per_table)).alias("tb"))
            .select(
                query_id_col,
                F.col("tb.table").alias("table"),
                F.explode("tb.buckets").alias("bucket"),
            )
            .dropDuplicates([query_id_col, "table", "bucket"])
        )

    def probe_batch(
        self,
        queries_df: DataFrame,
        k: int = 5,
        extra_flips: int = 0,
        query_id_col: str = "query_id",
        query_vec_col: str = "qvec",
        where: Column | None = None,
    ) -> DataFrame:
        """Batch vector serving — N query vectors against the at-rest
        store in ONE plan (r12 verdict #2; the ANN mirror of
        ``bm25_rank_batch_indexed``, which serves a query TABLE where
        ``bm25_rank`` serves a literal). ``probe`` takes one
        ``qv: list[float]`` with driver-side bucket math, so N queries
        cost N sequential jobs; an eval/serving batch wants one.

        Plan shape: (1) per-query (table, bucket) assignments derived
        engine-side (``_batch_assignments``); (2) the UNION of probed
        buckets collected driver-side — bounded by n_tables × 2^bits
        distinct pairs regardless of batch size (the same tiny-probe
        contract as ``bm25_rank_batch_indexed``'s hit_buckets) — into
        a literal partition filter, so the store scan still prunes at
        plan time; (3) a broadcast join on (table, bucket) fans
        candidates out to their queries (the query batch is tiny next
        to the corpus); (4) per-(query, id) dedup — a vector can match
        in several tables/flip buckets; (5) exact cosine re-rank per
        query via one window. Serves both layouts through
        ``_cond_scan``: monolithic stores scan one pruned parquet,
        segmented (LSM) versions resolve last-wins across segments.

        ``where`` filters candidates on carried metadata columns
        INSIDE the pruned partitions — the same post-filter semantics
        (and recall caveat) as ``probe(where=...)``, applied to every
        query in the batch.

        Per query the candidate set and ranking equal ``probe(qv, k,
        extra_flips)`` exactly — that equality is the
        ``ann_probe_batch`` driver oracle (per-query multi-table LSH
        candidates + exact top-k) and is pinned against the
        single-query path in pytest.

        Returns (query_id, id_col, score, rank), rank 1..k per query,
        score rounded to 6dp before ranking, id tiebreak.

        Reference anchor: the reference's query utility loops
        ``with_near_vector(...).with_limit(k)`` per query
        (ingestion-pipeline-website-local.py Q:167–176) — this is that
        loop as one partition-pruned Spark plan."""
        asg = self._batch_assignments(
            queries_df, query_id_col, query_vec_col, extra_flips
        )
        # bounded driver-side probe: <= n_tables * 2^bits pairs
        pairs = [
            (r["table"], r["bucket"])
            for r in asg.select("table", "bucket").distinct().collect()
        ]
        cand = self._cond_scan(self._pairs_cond(pairs))
        if type(self) is AnnStore:
            # a batch probe's bucket union approaches the whole store,
            # and the scan's split count caps the parallelism of the
            # entire scan→join→cosine→partial-agg stage (the cosine
            # fan-out is the expensive part). spread_scan is
            # conditional — a no-op at cluster scale where the scan is
            # already thousands of splits — and safe ONLY on this
            # scan+filter plan, hence not in the segmented override
            # (whose _cond_scan already contains joins).
            from ..sources.catalog import spread_scan

            cand = spread_scan(cand)
        if where is not None:
            cand = cand.filter(where)
        # score MAP-SIDE (both broadcast joins are narrow), THEN dedup
        # the multi-table pointer copies by (query, id) with a partial
        # agg — a plain distinct here would drag the vector array
        # through the shuffle (measured 2x SLOWER than the per-query
        # loop at 64 queries x 1M vectors). Copies of an id carry the
        # same score, so max() is identity. Norms are hoisted out of
        # the per-pair expression: the store-row norm computes ONCE
        # per scanned row (before the query fan-out multiplies it),
        # the query norm once per query in the broadcast — same
        # doubles in cosine()'s operation order, 1/3 the HOF work on
        # the fan-out stage.
        qvs = queries_df.select(
            query_id_col,
            query_vec_col,
            F.sqrt(
                dot_product(F.col(query_vec_col), F.col(query_vec_col))
            ).alias("__nq"),
        )
        scored = (
            cand.withColumn(
                "__nv",
                F.sqrt(dot_product(F.col(self.vec_col), F.col(self.vec_col))),
            )
            .join(F.broadcast(asg), ["table", "bucket"])
            .join(F.broadcast(qvs), query_id_col)
            .select(
                query_id_col,
                self.id_col,
                F.round(
                    dot_product(F.col(self.vec_col), F.col(query_vec_col))
                    / (F.col("__nv") * F.col("__nq")),
                    6,
                ).alias("score"),
            )
            # ONE exchange for dedup-agg + rank window (the
            # _bm25_score_tail treatment, r17 guide §2.4):
            # HashPartitioning(query_id) satisfies the groupBy's
            # ClusteredDistribution([query_id, id]) by the subset rule
            # AND the window's partitionBy(query_id), so neither
            # inserts its own exchange. The shuffled rows are bare
            # (query_id, id, score) triples — the vector arrays never
            # cross (scored map-side above). Per-query fan-in is
            # already the window's requirement, so no new skew
            # exposure. Measured same-session interleaved at sf0.1:
            # serve median 1.61 -> 0.93 s, 4 -> 3 non-broadcast
            # exchanges, rows identical.
            .repartition(query_id_col)
            .groupBy(query_id_col, self.id_col)
            .agg(F.max("score").alias("score"))
        )
        from pyspark.sql import Window

        w = Window.partitionBy(query_id_col).orderBy(
            F.col("score").desc(), F.col(self.id_col).asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= int(k))
            .select(query_id_col, self.id_col, "score", "rank")
        )

    # ------------------------- SQ8 scalar quantization (r11 verdict #4)

    def _quant_exprs(self, quant: dict):
        """(encode, decode) column builders from stored bounds. SQ8:
        per-dimension min-max into int8 — code = round((v-mn)/w·254)
        − 127 ∈ [−127, 127], decode = mn + (code+127)·w/254, w =
        max−mn (w = 0 ⇒ constant dimension ⇒ code 0, decode mn).
        Fixed-order float expressions, identical on every executor."""
        mins = quant["mins"]
        widths = [mx - mn for mn, mx in zip(mins, quant["maxs"])]
        mn_arr = vector_literal(mins)
        w_arr = vector_literal(widths)

        def enc(vec: Column) -> Column:
            return F.transform(
                vec,
                lambda x, i: F.when(F.element_at(w_arr, i + 1) == 0.0, F.lit(0))
                .otherwise(
                    F.round(
                        (x.cast("double") - F.element_at(mn_arr, i + 1))
                        / F.element_at(w_arr, i + 1)
                        * 254.0
                    )
                    - 127
                )
                .cast("tinyint"),
            )

        def dec(code: Column) -> Column:
            return F.transform(
                code,
                lambda c, i: F.element_at(mn_arr, i + 1)
                + (c.cast("double") + 127.0)
                * F.element_at(w_arr, i + 1)
                / 254.0,
            )

        return enc, dec

    def write_quantized(
        self, vectors: DataFrame, raw_id_buckets: int = 64, *, empty_ok: bool = False
    ) -> None:
        """The quantized at-rest layout (r11 verdict #4): the
        n_tables-way-duplicated partitioned store holds SQ8 codes
        (1 byte/component instead of 4), the raw floats are stored
        ONCE in an id-hash-partitioned ``raw/`` sidecar for exact
        re-scoring. At 768-dim × 10^10 rows the raw store is ~30 TB;
        a 6-table raw AnnStore would be ~180 TB of pointer copies —
        codes cut the duplicated side to ~45 TB and every probed
        partition reads 4× fewer vector bytes (arithmetic in
        SCALE.md). Bucket assignment happens on the RAW floats before
        encoding, so the candidate set of a probe is IDENTICAL to the
        unquantized store's — quantization error can only affect the
        optional ``prefilter_m`` ranking dial, never bucket recall.

        Layout: ``codes/table=*/bucket=*/`` (id, code),
        ``raw/id_bucket=*/`` (id, vec), bounds in the metadata
        sidecar. Bounds are corpus-global and frozen at write time —
        appending vectors outside them is a rebuild decision, hence
        ``upsert`` refuses quantized stores. ``empty_ok`` writes nothing
        for an empty ``vectors`` instead of refusing it (a CDC segment
        whose upserts its own batch deleted)."""
        spark = self.spark
        base = vectors.select(self.id_col, self.vec_col)
        # per-dimension min/max: one bounded shuffle (≤ dim groups),
        # collected driver-side (2·dim doubles — the tiny collect
        # shaping the plan, the quantiles/probe-pairs pattern)
        bounds = (
            base.select(F.posexplode(self.vec_col).alias("__d", "__x"))
            .groupBy("__d")
            .agg(F.min("__x").alias("mn"), F.max("__x").alias("mx"))
            .collect()
        )
        by_dim = {r["__d"]: (float(r.mn), float(r.mx)) for r in bounds}
        if not by_dim and empty_ok:
            return
        dim = len(by_dim)
        if dim < self.min_dim:
            raise ValueError(
                f"vectors have {dim} dims; bits={self.bits} x "
                f"n_tables={self.n_tables} needs >= {self.min_dim}"
            )
        quant = {
            "mins": [by_dim[d][0] for d in range(dim)],
            "maxs": [by_dim[d][1] for d in range(dim)],
            "dim": dim,
            "raw_id_buckets": int(raw_id_buckets),
        }
        enc, _ = self._quant_exprs(quant)

        # the codes and raw writes are INDEPENDENT jobs over the same
        # source — overlap them from a small pool (r18, guide §2.6:
        # the r17 IVF-PQ segment-write treatment applied to the SQ8
        # layout; the raw sidecar's tail back-fills the codes write's
        # stragglers instead of waiting for them)
        def _write_codes() -> None:
            (
                _clustered(
                    self._assigned(base).select(
                        self.id_col, enc(F.col(self.vec_col)).alias("code"),
                        "table", "bucket",
                    ),
                    self.n_tables << self.bits, "table", "bucket",
                )
                .write.mode("overwrite")
                .partitionBy("table", "bucket")
                .parquet(self.path.rstrip("/") + "/codes")
            )

        def _write_raw() -> None:
            (
                _clustered(
                    base.withColumn(
                        "id_bucket",
                        F.pmod(
                            F.xxhash64(F.col(self.id_col)), F.lit(raw_id_buckets)
                        ).cast("int"),
                    ),
                    raw_id_buckets, "id_bucket",
                )
                .write.mode("overwrite")
                .partitionBy("id_bucket")
                .parquet(self.path.rstrip("/") + "/raw")
            )

        _run_overlapped(self.spark, _write_codes, _write_raw)
        self._quant = quant
        self._write_meta(self.path, {"quant": quant})

    def probe_quantized(
        self, qv: list[float], k: int = 5, extra_flips: int = 0,
        prefilter_m: int | None = None,
    ) -> DataFrame:
        """Probe the quantized store: partition-pruned scan of the
        code partitions (same (table, bucket) pairs as ``probe`` —
        plan-time pruning, asserted in tests/test_plans.py) → distinct
        candidate ids → exact re-score from the raw sidecar. The raw
        read is itself pruned: candidate id-hash buckets are collected
        driver-side (≤ raw_id_buckets values, a bounded probe) and the
        sidecar scan filters to those literal partitions before the
        broadcast id join.

        ``prefilter_m`` is the I/O dial for huge buckets: rank
        candidates by APPROX cosine over the decoded codes first and
        re-score only the top m from raw floats. With the default
        (None) every probed candidate is exactly re-scored, so the
        result EQUALS ``probe`` on an unquantized store of the same
        vectors — that equality is the ``ann_store_quantized`` driver
        oracle; with m set, quantization error can demote a true
        neighbor only past rank m (recall pinned in pytest)."""
        quant = getattr(self, "_quant", None)
        if not quant:
            raise ValueError(
                "probe_quantized needs a store written by write_quantized "
                "(open it via AnnStore.open to restore bounds)"
            )
        pairs = self._probe_pairs(qv, extra_flips)
        qcol = vector_literal(qv)
        cand = self._quant_candidates(pairs)
        if prefilter_m is not None:
            cand = self._quant_prefilter(cand, qcol, prefilter_m)
        raw = self._raw_fetch(cand.select(self.id_col))
        return brute_force_topk(raw, qcol, k, self.id_col, self.vec_col)

    def _quant_candidates(self, pairs: list[tuple[int, int]]) -> DataFrame:
        """Pruned (id, code) candidates from the codes/ subtree —
        the quantized half of ``_cond_scan``, factored out so the
        segmented layout can shadow per segment."""
        codes = _read_partitions(
            self.spark, self.path.rstrip("/") + "/codes",
            partitions=("table", "bucket"),
        )
        return codes.filter(self._pairs_cond(pairs)).select(
            self.id_col, "code"
        ).distinct()

    def _quant_candidates_batch(
        self, asg: DataFrame, pairs: list[tuple[int, int]], query_id_col: str
    ) -> DataFrame:
        """(query_id, id, code) candidates for a query BATCH, one row
        per (query, id): the pruned codes scan (conditionally
        respread — the batch bucket union approaches the whole codes
        subtree and the split count caps the fan-out stage's
        parallelism) broadcast-joined to the per-query (table, bucket)
        assignments, deduped across pointer copies by a PARTIAL AGG —
        a distinct here would shuffle the code array once per pointer
        copy (the probe_batch lesson); copies of an id carry the same
        code, so max() is identity."""
        from ..sources.catalog import spread_scan

        codes = self.spark.read.parquet(self.path.rstrip("/") + "/codes")
        scan = spread_scan(codes.filter(self._pairs_cond(pairs)))
        return (
            scan.join(F.broadcast(asg), ["table", "bucket"])
            .groupBy(query_id_col, self.id_col)
            .agg(F.max("code").alias("code"))
        )

    def probe_batch_quantized(
        self,
        queries_df: DataFrame,
        k: int = 5,
        extra_flips: int = 0,
        query_id_col: str = "query_id",
        query_vec_col: str = "qvec",
        prefilter_m: int | None = None,
    ) -> DataFrame:
        """Batch serving from the QUANTIZED store — the last cell of
        the serving matrix ({single, batch} × {raw, SQ8}, both
        layouts): N query vectors probe the codes partitions in one
        plan (same engine-side bucket derivation and bounded
        driver-side pair union as ``probe_batch``), candidate ids are
        exactly re-scored from the raw sidecar, and one window ranks
        per query. ``prefilter_m`` keeps the top m per query by
        approx decoded cosine BEFORE the raw fetch (per segment and
        per query on LSM stores, decoded with each segment's own
        bounds). With it unset the result EQUALS ``probe_batch`` on
        an unquantized store of the same vectors — the
        ``ann_probe_batch_quantized`` driver oracle. Returns
        (query_id, id_col, score, rank)."""
        quant = getattr(self, "_quant", None)
        if not quant:
            raise ValueError(
                "probe_batch_quantized needs a store written by "
                "write_quantized (open via AnnStore.open)"
            )
        asg = self._batch_assignments(
            queries_df, query_id_col, query_vec_col, extra_flips
        )
        pairs = [
            (r["table"], r["bucket"])
            for r in asg.select("table", "bucket").distinct().collect()
        ]
        cand = self._quant_candidates_batch(asg, pairs, query_id_col)
        fetched = self._quant_batch_fetch(
            cand, queries_df, query_id_col, query_vec_col, prefilter_m, self
        )
        return self._quant_batch_rank(
            fetched, queries_df, k, query_id_col, query_vec_col
        )

    def _quant_batch_fetch(
        self,
        cand: DataFrame,
        queries_df: DataFrame,
        query_id_col: str,
        query_vec_col: str,
        prefilter_m: int | None,
        code_store: "AnnStore",
    ) -> DataFrame:
        """(query_id, id, vec) exact-rescore rows for a batch
        candidate set: optional per-query approx prefilter (decoded
        with ``code_store``'s OWN bounds — per segment on LSM
        stores), then the raw-sidecar fetch joined back to the
        (query, id) pairs. ``cand``: (query_id, id, code)."""
        from pyspark.sql import Window

        if prefilter_m is not None:
            _, dec = code_store._quant_exprs(code_store._quant)
            qvs = queries_df.select(query_id_col, query_vec_col)
            approx = cand.join(F.broadcast(qvs), query_id_col).withColumn(
                "__approx", cosine(dec(F.col("code")), F.col(query_vec_col))
            )
            w_pre = Window.partitionBy(query_id_col).orderBy(
                F.col("__approx").desc(), F.col(self.id_col).asc()
            )
            cand = (
                approx.withColumn("__prn", F.row_number().over(w_pre))
                .filter(F.col("__prn") <= int(prefilter_m))
                .select(query_id_col, self.id_col, "code")
            )
        # cand arrives unique per (query, id) from _quant_candidates_batch
        # (and prefilter preserves that); only the raw fetch needs the
        # cross-query id dedup, and that shuffle carries bare ids. The
        # candidate subtree feeds three consumers (bucket collect,
        # rescore join, pairs side) and is deliberately left LAZY:
        # BOTH materialization strategies were MEASURED SLOWER than
        # recomputing at 64 queries × 1M vectors — localCheckpoint
        # 50.0 s vs 27.2 s lazy (BENCH_NOTES r13), and
        # persist(MEMORY_AND_DISK) 93–144 s vs 41–44 s lazy on the
        # same box, interleaved (BENCH_NOTES r14,
        # scripts/bench_quant_persist.py): the fan-out frame's block
        # write lands on the critical path of the first consumer (a
        # driver-side collect) while the recompute it saves is a
        # pruned scan + broadcast join that pipelines at scan speed.
        # Do not re-"fix" without beating those numbers. The raw-row
        # norm computes once per distinct id, before the per-query
        # fan-out join multiplies it (the probe_batch norm hoist).
        raw = code_store._raw_fetch(cand.select(self.id_col).distinct()).withColumn(
            "__nv",
            F.sqrt(dot_product(F.col(self.vec_col), F.col(self.vec_col))),
        )
        return cand.select(query_id_col, self.id_col).join(raw, self.id_col)

    def _quant_batch_rank(
        self,
        fetched: DataFrame,
        queries_df: DataFrame,
        k: int,
        query_id_col: str,
        query_vec_col: str,
    ) -> DataFrame:
        """Global exact-cosine ranking of batch rescore rows — ONE
        window across everything a store (or a union of segments)
        fetched. Uses the precomputed per-id norm (``__nv``, attached
        in ``_quant_batch_fetch``) + a per-query norm — cosine()'s
        doubles in cosine()'s order, one dot pass per pair."""
        from pyspark.sql import Window

        qvs = queries_df.select(
            query_id_col,
            query_vec_col,
            F.sqrt(
                dot_product(F.col(query_vec_col), F.col(query_vec_col))
            ).alias("__nq"),
        )
        scored = fetched.join(F.broadcast(qvs), query_id_col).withColumn(
            "score",
            F.round(
                dot_product(F.col(self.vec_col), F.col(query_vec_col))
                / (F.col("__nv") * F.col("__nq")),
                6,
            ),
        )
        w = Window.partitionBy(query_id_col).orderBy(
            F.col("score").desc(), F.col(self.id_col).asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= int(k))
            .select(query_id_col, self.id_col, "score", "rank")
        )

    def _quant_prefilter(self, cand: DataFrame, qcol: Column, m: int) -> DataFrame:
        """Rank candidates by APPROX cosine over the decoded codes and
        keep the top ``m`` — decoded with THIS store's (or segment's)
        own bounds, which is what keeps per-segment quantization
        honest when bounds drift between generations."""
        _, dec = self._quant_exprs(self._quant)
        return (
            cand.withColumn("__approx", cosine(dec(F.col("code")), qcol))
            .orderBy(F.col("__approx").desc(), F.col(self.id_col))
            .limit(int(m))
            .drop("__approx")
        )

    def _raw_fetch(self, cand_ids: DataFrame) -> DataFrame:
        """Exact-rescore rows (id, vec) for a candidate id set: the
        raw/ sidecar scan pruned to the candidates' id-hash partitions
        (per-bucket counts collected driver-side — bounded by
        raw_id_buckets rows) then joined on id. The same collect that
        prices the partition filter also sizes the join: broadcast
        under ``BROADCAST_MAX_IDS`` candidates, shuffle join beyond —
        a large batch's candidate union can approach the store (r13
        review finding), and an unconditional broadcast there is the
        driver OOM every other join in this layer guards against.

        The collect and the join both execute ``cand_ids``'s plan —
        deliberately: materializing the batch candidate frame via
        localCheckpoint was MEASURED SLOWER than the duplicate lazy
        execution (50.0 s vs 27.2 s at 64 queries × 1M vectors,
        BENCH_NOTES r13), and laziness keeps both PartitionFilters
        visible in the single-query executed plan (pytest-asserted)."""
        nb = int(self._quant["raw_id_buckets"])
        per_bucket = (
            cand_ids.groupBy(
                F.pmod(F.xxhash64(F.col(self.id_col)), F.lit(nb))
                .cast("int")
                .alias("b")
            )
            .count()
            .collect()
        )
        hit_buckets = [r["b"] for r in per_bucket]
        n_cand = sum(r["count"] for r in per_bucket)
        ids = F.broadcast(cand_ids) if n_cand <= BROADCAST_MAX_IDS else cand_ids
        return (
            _read_partitions(
                self.spark, self.path.rstrip("/") + "/raw",
                {"id_bucket": hit_buckets},
            )
            .join(ids, self.id_col)
            .select(self.id_col, self.vec_col)
        )


def bm25_rank(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 10,
) -> DataFrame:
    """Lexical relevance ranking (BM25, Robertson/Sparck Jones) — the
    full-text half of hybrid retrieval. Vector top-k (similarity_topk)
    misses exact-term matches the embedding smooths away; production
    RAG runs BOTH and fuses (the reference's Weaviate backend ships
    hybrid search for exactly this reason; this is that capability,
    engine-side).

    Shape, 100 TB-ready: the query's terms are a tiny literal list,
    so per-doc term frequencies are array expressions over the scan —
    NO inverted-index shuffle and no explode; corpus stats (N, avgdl,
    per-term df) reduce to ONE row, broadcast back; scoring is scalar
    math; top-k plans as TakeOrderedAndProject. One aggregate pass +
    one scored pass, zero wide exchanges.

    Determinism: scores are rounded to 6dp BEFORE ordering (with
    id tiebreak), so ranking is identical across engines regardless
    of last-ULP float drift; idf uses the +1 'Lucene' form so scores
    stay positive at any df.

    Query terms are pushed through the SAME tokenizer as the
    documents (lowercase, split on non-alphanumerics, drop empties,
    dedupe preserving order) — a caller passing 'Spark' or 'u.s.a'
    gets real matches ('spark'; 'u','s','a') instead of a silent
    zero score for a term no document token can ever equal.
    """
    normed: list[str] = []
    for t in query_terms:
        for w in re.split(r"[^a-z0-9]+", t.lower()):
            if w and w not in normed:
                normed.append(w)
    query_terms = normed
    words = _tokens(F.col(text_col))
    base = df.select(F.col(id_col), words.alias("__w")).withColumn(
        "__dl", F.size("__w").cast("double")
    )
    def term_eq(t: str):
        # factory, NOT a defaulted second lambda param: PySpark treats
        # a two-param lambda's second arg as the array-index column
        return lambda x: x == F.lit(t)

    for i, t in enumerate(query_terms):
        base = base.withColumn(
            f"__tf{i}",
            F.size(F.filter(F.col("__w"), term_eq(t))).cast("double"),
        )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.avg("__dl").alias("__avgdl"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("double")).alias(f"__df{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = base.join(F.broadcast(stats))
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        idf = F.log(
            (F.col("__n") - F.col(f"__df{i}") + 0.5) / (F.col(f"__df{i}") + 0.5)
            + 1.0
        )
        tf = F.col(f"__tf{i}")
        denom = tf + k1 * (1.0 - b + b * F.col("__dl") / F.col("__avgdl"))
        score = score + idf * (tf * (k1 + 1.0)) / denom
    return (
        scored.select(id_col, F.round(score, 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(topk)
    )


def bm25_rank_batch(
    queries_df: DataFrame,
    docs_df: DataFrame,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 10,
    materialize: bool = True,
    cache_handles: list[DataFrame] | None = None,
) -> DataFrame:
    """BM25 for a query TABLE — the inverted-index form, the
    production eval/serving shape (`bm25_rank` takes one literal
    query and runs one job per query; batch retrieval scores N
    queries in ONE plan).

    Shape, 100 TB-ready: docs tokenize once into postings
    (explode → groupBy (term, doc) → tf, dl); postings are
    semi-joined against the distinct query-term set (broadcast —
    queries are tiny next to the corpus) so only relevant postings
    survive; per-term document frequency reduces through a PARTIAL
    aggregate (the exchange moves ≤ partitions × |terms| partial
    counts — deliberately NOT a window over the term partition, which
    would shuffle every matched posting by term and skew on common
    terms) into a ≤|terms|-row table broadcast back; each surviving
    posting expands per query via broadcast equi-joins, and
    per-(query, doc) scores reduce in one groupBy. At real scale the
    postings/stats subtrees should be a MATERIALIZED index (write
    parquet once, serve many batches) — this function is the
    query-time half of that plan as one lazy pipeline (AQE reuses
    the postings exchange across the df/score branches).

    Determinism without controlling float fold order: each per-term
    contribution is computed in doubles, scaled by 1e6 and rounded to
    a BIGINT ("micros"); the per-(query, doc) score is then an exact
    integer sum — associative, so groupBy order cannot flap the hash
    — and ranking orders by micros with an id tiebreak. Same +1
    'Lucene' idf and query-side tokenizer/dedupe as `bm25_rank`.
    Only docs containing ≥1 query term appear (standard retrieval
    semantics; the literal form scores non-matches as 0.0).

    Returns (query_id, doc_id, score, rank), rank 1..topk per query.

    ``cache_handles``: the ``materialize`` path persists the pruned
    postings, and cached DataFrames are not reclaimed on GC — pass a
    list to receive the handle and ``.unpersist()`` it after
    materializing the result in a long-lived driver.
    """
    from pyspark.sql import Window

    qterms = queries_df.select(
        F.col(query_id_col),
        F.explode(F.array_distinct(_tokens(F.col(query_text_col)))).alias("__t"),
    )
    # __dl/__tf stay INT through the (term, doc) exchange (r18 guide
    # §2.3 narrower types — the scoring tail promotes to double, so
    # scores are identical); __n/__avgdl are the one-row stats.
    base = docs_df.select(F.col(id_col), _tokens(F.col(text_col)).alias("__w")).withColumn(
        "__dl", F.size("__w")
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("__n"), F.avg("__dl").alias("__avgdl")
    )
    postings = (
        base.select(id_col, "__dl", F.explode("__w").alias("__t"))
        .groupBy("__t", id_col)
        .agg(F.count(F.lit(1)).cast("int").alias("__tf"), F.first("__dl").alias("__dl"))
    )
    matched = postings.join(
        F.broadcast(qterms.select("__t").distinct()), "__t", "leftsemi"
    )
    if materialize:
        # both the df branch and the score branch consume `matched`;
        # without materialization Spark recomputes the tokenize +
        # explode + (term, doc) shuffle for each branch (exchange
        # reuse only dedupes the scan). Persisting the PRUNED
        # postings — query-term rows only, spill-to-disk — is the
        # single-tokenize-pass plan, and is exactly the "fetch the
        # query terms' postings from the index once" step a
        # production engine runs against its materialized index.
        from pyspark import StorageLevel

        matched = matched.persist(StorageLevel.MEMORY_AND_DISK)
        if cache_handles is not None:
            cache_handles.append(matched)
    # postings are unique on (term, doc): counting rows per term IS
    # document frequency — computed only for query terms, BEFORE
    # per-query expansion duplicates rows; the result is ≤|terms|
    # rows, broadcast back
    dfs = matched.groupBy("__t").agg(F.count(F.lit(1)).cast("int").alias("__df"))
    return _bm25_score_tail(matched, dfs, stats, qterms, query_id_col, id_col, k1, b, topk)


def _bm25_score_tail(
    matched: DataFrame,
    dfs: DataFrame,
    stats: DataFrame | tuple[float, float],
    qterms: DataFrame,
    query_id_col: str,
    id_col: str,
    k1: float,
    b: float,
    topk: int,
    eligible: DataFrame | None = None,
) -> DataFrame:
    """Shared scoring tail of the inline and at-rest batch-BM25
    paths: expand matched postings (__t, id, __tf, __dl) per query
    via broadcast equi-joins against df/stats/query-term tables,
    sum exact integer micros per (query, doc), rank with id
    tiebreak. Both paths funnel here, which is WHY
    ``rank_bm25_indexed ≡ rank_bm25_batch`` holds by construction
    (the driver verifies it against the same DuckDB twin).
    ``eligible`` (query_id, id) restricts scoring to those pairs —
    the boolean-clause hook (``bool_search_indexed``): a semi-join
    on the same keys the aggregation shuffles on, so it rides the
    existing exchange. ``stats`` is the one-row (__n, __avgdl) frame,
    or — when the driver already knows them, as the at-rest index
    does — the two values, which enter as literals instead of a
    broadcast join."""
    from pyspark.sql import Window

    expanded = matched.join(F.broadcast(dfs), "__t").join(F.broadcast(qterms), "__t")
    if isinstance(stats, DataFrame):
        expanded = expanded.join(F.broadcast(stats))
    else:
        expanded = expanded.select(
            "*", F.lit(stats[0]).alias("__n"), F.lit(stats[1]).alias("__avgdl")
        )
    idf = F.log(
        (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5) + 1.0
    )
    denom = F.col("__tf") + k1 * (1.0 - b + b * F.col("__dl") / F.col("__avgdl"))
    micro = F.round(idf * (F.col("__tf") * (k1 + 1.0)) / denom * 1e6).cast("bigint")
    if eligible is not None:
        # eligibility semi-join: ``eligible`` is shuffle-produced on
        # (query_id, id), so keying the aggregation on the SAME pair
        # lets the agg ride the semi-join's exchange (r18, restoring
        # the pre-r17 shape per ADVICE: a repartition(query_id) here
        # was a net EXTRA exchange of unaggregated expanded postings,
        # and it concentrated a hot query's whole expansion on one
        # partition before any aggregation).
        scores = (
            expanded.join(eligible, [query_id_col, id_col], "leftsemi")
            .groupBy(query_id_col, id_col)
            .agg(F.sum(micro).alias("__micros"))
        )
    else:
        # ONE exchange for agg + window (r17 guide §2.4):
        # hash-partition by query_id up front —
        # HashPartitioning(query_id) satisfies the
        # groupBy(query_id, id)'s ClusteredDistribution (subset rule)
        # AND the window's partitionBy(query_id), so neither inserts
        # its own exchange. Before: groupBy shuffled on
        # (query_id, id), then the window re-shuffled on query_id —
        # two full exchanges of the expanded postings. The window's
        # per-query fan-in was already the plan's requirement; a
        # hot-query batch at cluster scale should split its batch
        # (the serving-batch contract) rather than rely on the
        # pair-keyed agg to pre-thin one query's expansion.
        scores = (
            expanded.repartition(query_id_col)
            .groupBy(query_id_col, id_col)
            .agg(F.sum(micro).alias("__micros"))
        )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__micros").desc(), F.col(id_col)
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            query_id_col,
            id_col,
            (F.col("__micros") / F.lit(1000000.0)).alias("score"),
            "rank",
        )
    )


#: term-hash partition count of the at-rest lexical index — the same
#: partition-pruning contract as AnnStore's (table, bucket) layout
DEFAULT_INDEX_BUCKETS = 64


def _index_bucket(term: Column, buckets: int) -> Column:
    return F.pmod(F.xxhash64(term), F.lit(buckets)).cast("int")


def build_postings_index(
    docs_df: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = DEFAULT_INDEX_BUCKETS,
    positions: bool = False,
) -> None:
    """Materialize the lexical index AT REST — the inverted-index
    mirror of ``AnnStore`` (the reference's vector store IS its
    at-rest index; reference pipeline.py P:341–349 — the lexical
    half gets the same treatment here): tokenize and shuffle the
    corpus ONCE at build time, then every query batch is
    query-side-only work against the written parquet.

    Layout under ``index_dir``:

    - ``postings/bucket=*/`` — (term, doc_id, tf, dl), partitioned
      by ``bucket = pmod(xxhash64(term), buckets)`` so a query
      batch's scan prunes to the partitions its terms hash into
      (PartitionFilters, asserted in tests/test_plans.py); with
      ``positions=True`` each posting additionally carries ``pos``
      — the sorted 1-based token positions — enabling exact
      PHRASE search (``phrase_match``) at the classic positional-
      index storage cost;
    - ``terms/bucket=*/`` — (term, df) per-term document frequency,
      derived from the WRITTEN postings (no second corpus pass);
    - ``doclens/`` — (doc_id, dl) per-document token length,
      INCLUDING zero-token docs — the exact-update substrate for
      ``upsert_postings_index`` (postings alone cannot see a
      zero-token doc, so stats could drift across upserts);
    - ``stats/`` — ONE row (n_docs, avgdl, buckets): corpus-wide
      stats including zero-token docs, plus the bucket count the
      reader needs to hash query terms the same way.

    Build cost is one corpus tokenize + one (term, doc) shuffle +
    a cheap stats projection; at 100 TB that is exactly the pass a
    production engine amortizes across every batch served.
    """
    _write_postings_segment(docs_df, index_dir, text_col, id_col, buckets, positions)


#: the doclens ``dl`` of an id a segment deletes instead of holding: it
#: shadows older segments' copies but is no document. A real ``dl`` is a
#: token count (>= 0), or NULL for a document whose text is NULL.
_DELETED_DL = -1


def _is_doc(dl: Column) -> Column:
    """True on a doclens row that is a document, not a delete marker."""
    return dl.isNull() | (dl >= F.lit(0))


def _write_postings_segment(
    docs_df: DataFrame,
    index_dir: str,
    text_col: str,
    id_col: str,
    buckets: int,
    positions: bool,
    deleted: DataFrame | None = None,
) -> None:
    """The four ``build_postings_index`` tables under ``index_dir``.
    ``deleted`` (a ``doc_id`` column) makes it a CDC segment
    (``_resolve_cdc``): its documents are ``docs_df`` minus those ids,
    one per id, and the ids land in doclens/ with ``dl =
    _DELETED_DL``, so the segment shadows older copies of them without
    counting them as documents in its stats."""
    base = docs_df.select(
        F.col(id_col).alias("doc_id"),
        _tokens(F.col(text_col)).alias("__w"),
    ).withColumn("dl", F.size("__w"))
    lens = base.select("doc_id", "dl")
    if deleted is not None:
        res = _resolve_cdc(
            docs_df.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
            ),
            deleted,
            "doc_id",
        ).withColumn("__w", _tokens(F.col("__text")))
        base = res.filter(~F.col("__del")).select(
            "doc_id", "__w", F.size("__w").alias("dl")
        )
        lens = res.select(
            "doc_id",
            F.when(F.col("__del"), F.lit(_DELETED_DL))
            .otherwise(F.size("__w"))
            .cast("int")
            .alias("dl"),
        )
    postings = _postings_of(base, buckets, positions)
    spark = docs_df.sparkSession

    # two independent job CHAINS — [postings → terms] and
    # [doclens → stats] — overlapped from a thread pool (guide §2.6):
    # the doclens tokenize pass runs while the postings shuffle's
    # tail drains, and stats' one-row aggregate hides entirely. Same
    # four artifacts, same bytes; only the wall-clock serialization
    # of four driver-submitted jobs goes away.
    def _chain_postings() -> None:
        # hash-cluster on bucket before the partitioned write: every
        # bucket then lives in exactly one task, so each bucket=N/ dir
        # is ONE parquet file instead of one per shuffle partition — a
        # pruned query batch opens ~|hit buckets| files, not 32x that
        # (measured 2.4 s -> 0.9 s per batch at sf0.1). The width is
        # the cores, not the bucket count (_clustered): a small delta
        # pays no near-empty task per bucket.
        _clustered(postings, buckets, "bucket").write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(index_dir.rstrip("/") + "/postings")
        _write_terms_from_postings(
            spark, index_dir, postings.schema, buckets=buckets
        )

    def _chain_doclens() -> None:
        lens.write.mode("overwrite").parquet(index_dir.rstrip("/") + "/doclens")
        _write_index_stats(spark, index_dir, buckets, positions)

    _run_overlapped(spark, _chain_postings, _chain_doclens)


def _write_terms_from_postings(
    spark,
    index_dir: str,
    post_schema,
    max_records_per_file: int | None = None,
    buckets: int = DEFAULT_INDEX_BUCKETS,
) -> None:
    """Derive and write the terms/ table from the postings parquet
    JUST WRITTEN — the ONE implementation behind build/upsert/compact
    (r13 review): df per term = row count, which is document
    frequency ONLY because postings are unique on (term, doc) even in
    positional indexes (positions ride as an array per posting row) —
    the invariant BM25 correctness stands on; if the posting shape
    ever changes, this is the single place the df derivation changes
    with it. Explicit read schema: an EMPTY corpus writes a
    partitioned dir with no data files, which schema inference cannot
    read — the empty index must stay servable (registry empty-input
    contract)."""
    written = spark.read.schema(post_schema).parquet(
        index_dir.rstrip("/") + "/postings"
    )
    w = _clustered(
        written.groupBy("bucket", "term").agg(
            F.count(F.lit(1)).cast("int").alias("df")
        ),
        buckets, "bucket",
    ).write.mode("overwrite")
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.partitionBy("bucket").parquet(index_dir.rstrip("/") + "/terms")


def _postings_of(base: DataFrame, buckets: int, positions: bool) -> DataFrame:
    """(term, doc_id, tf, dl[, pos], bucket) from the tokenized
    base — the shared build/upsert posting shape. Positions are
    1-based and sort_array'd (collect_list order is partition-
    dependent; the sort restores determinism)."""
    exploded = base.select("doc_id", "dl", F.posexplode("__w").alias("p0", "term"))
    aggs = [
        F.count(F.lit(1)).cast("int").alias("tf"),
        F.first("dl").alias("dl"),
    ]
    if positions:
        aggs.append(F.sort_array(F.collect_list(F.col("p0") + 1)).alias("pos"))
    return exploded.groupBy("term", "doc_id").agg(*aggs).withColumn(
        "bucket", _index_bucket(F.col("term"), buckets)
    )


def _write_index_stats(
    spark, index_dir: str, buckets: int, positions: bool = False
) -> None:
    """stats/ from the WRITTEN doclens table — shared by build and
    upsert so the two paths cannot disagree on what n/avgdl mean.
    Delete markers (``_DELETED_DL``) are no documents: they count in
    neither n_docs nor avgdl."""
    doc = _is_doc(F.col("dl"))
    (
        spark.read.parquet(index_dir.rstrip("/") + "/doclens")
        .agg(
            F.count(F.when(doc, 1)).cast("double").alias("n_docs"),
            F.avg(F.when(doc, F.col("dl"))).alias("avgdl"),
        )
        .withColumn("buckets", F.lit(buckets))
        .withColumn("positional", F.lit(bool(positions)))
        .write.mode("overwrite")
        .parquet(index_dir.rstrip("/") + "/stats")
    )


def upsert_postings_index(
    delta_docs: DataFrame,
    src_index_dir: str,
    dst_index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Incremental index maintenance: fold a delta corpus into an
    existing ``build_postings_index`` store, REPLACING any doc_id
    that reappears (the re-crawl upsert semantics), and write the
    result as a NEW index directory — functional versioning, so a
    crash mid-upsert leaves the source index untouched and readers
    never see a half-written store (swap the serving pointer after,
    exactly the sketch-stream manifest pattern).

    The update provably equals a from-scratch rebuild over
    (old corpus minus replaced ids, plus delta) — that equality IS
    the driver oracle for ``rank_bm25_index_upsert``. Cost: the
    delta tokenize + one anti-join shuffle of the OLD postings
    against the (broadcastable) delta id set + the bucket-clustered
    rewrite; the old corpus is never re-tokenized. At 100 TB the
    anti-join is the price of exact df/stats maintenance — cheap
    next to re-tokenizing petabytes, and the bucket layout keeps the
    rewrite partition-parallel.

    Precondition (the snapshot_diff contract): ``id_col`` unique
    within ``delta_docs`` — a doc_id appearing twice in the delta
    would sum its token counts into one posting and double-count in
    doclens/stats. Dedup the delta first (latest fetch wins) when
    re-crawl timing can produce duplicates."""
    spark = delta_docs.sparkSession
    src = src_index_dir.rstrip("/")
    src_stats = _stats_local(src + "/stats")
    buckets = int(src_stats["buckets"])
    positional = bool(src_stats.get("positional", False))
    delta_base = delta_docs.select(
        F.col(id_col).alias("doc_id"),
        _tokens(F.col(text_col)).alias("__w"),
    ).withColumn("dl", F.size("__w"))
    delta_post = _postings_of(delta_base, buckets, positional)
    delta_ids = delta_base.select("doc_id").distinct()
    src_post_schema, _ = _index_read_schemas(src, positional)
    kept = spark.read.schema(src_post_schema).parquet(src + "/postings").join(
        F.broadcast(delta_ids), "doc_id", "left_anti"
    )
    dst = dst_index_dir.rstrip("/")
    post_cols = ["term", "doc_id", "tf", "dl"] + (["pos"] if positional else []) + ["bucket"]

    # same two independent chains as build_postings_index, overlapped
    # (guide §2.6): [postings fold → terms] and [doclens fold → stats]
    def _chain_postings() -> None:
        (
            _clustered(
                kept.select(*post_cols).unionByName(delta_post.select(*post_cols)),
                buckets, "bucket",
            )
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(dst + "/postings")
        )
        _write_terms_from_postings(spark, dst, src_post_schema, buckets=buckets)

    def _chain_doclens() -> None:
        (
            spark.read.parquet(src + "/doclens")
            .join(F.broadcast(delta_ids), "doc_id", "left_anti")
            .unionByName(delta_base.select("doc_id", "dl"))
            .write.mode("overwrite")
            .parquet(dst + "/doclens")
        )
        _write_index_stats(spark, dst_index_dir, buckets, positional)

    _run_overlapped(spark, _chain_postings, _chain_doclens)


def index_current_path(root: str) -> str | None:
    """Resolve the live index version under a MANAGED index root:
    reads the one-line ``CURRENT`` manifest (the sketch-stream
    pointer pattern, streaming/pipeline.py) and returns the absolute
    path of the version directory it points at — None before the
    first commit. Serving functions take a concrete index dir;
    callers of the managed layout resolve through here so version
    swaps are atomic under them."""
    import os

    manifest = os.path.join(root, "CURRENT")
    try:
        with open(manifest, encoding="utf-8") as f:
            name = f.read().strip()
    except OSError:
        return None
    path = os.path.join(root, name)
    return path if name and os.path.exists(path) else None


def _commit_index_version(root: str, name: str) -> None:
    """Atomic pointer swap (write-temp + os.replace): a crash before
    the swap leaves CURRENT on the previous version; readers never
    see a half-written index. POSIX-atomic rename — on an object
    store swap the manifest for a conditional-put.

    Also appends ``name`` to the root's ``_COMMITS`` log AFTER the
    swap (r13 ADVICE): a version directory's existence does not prove
    it ever served (a crashed upsert writes its manifest but never
    swaps the pointer), and both vacuum's reader-protection window
    and ``ann_version_drift``'s default diff base need to distinguish
    committed versions from crash debris. Append-after-swap means a
    crash between the two leaves the committed version missing from
    the log — readers fall back to treating names at or below the
    pointer as committed, so the miss is conservative, never a
    phantom commit."""
    import os

    tmp = os.path.join(root, f"_CURRENT_tmp_{name}")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(name)
    os.replace(tmp, os.path.join(root, "CURRENT"))
    with open(os.path.join(root, "_COMMITS"), "a", encoding="utf-8") as f:
        f.write(name + "\n")


def _committed_versions(root: str) -> list[str]:
    """Version names that were actually SERVED (pointer-swapped), in
    commit order. Source of truth is the ``_COMMITS`` log; for roots
    predating it (or entries lost to the append-after-swap crash
    window) every existing v_* directory at or below the CURRENT
    pointer is treated as committed — conservative: commits are
    monotonic, so nothing above the pointer can have served, while a
    crashed-upsert dir BELOW a later commit is at worst kept/diffed
    as if it had (the pre-log behavior, never a lost commit)."""
    import os

    existing = sorted(
        n
        for n in os.listdir(root)
        if n.startswith("v_")
        and n.removeprefix("v_").isdigit()
        and os.path.isdir(os.path.join(root, n))
    )
    logged: list[str] = []
    try:
        with open(os.path.join(root, "_COMMITS"), encoding="utf-8") as f:
            seen: set[str] = set()
            for line in f:
                n = line.strip()
                if n and n in existing and n not in seen:
                    seen.add(n)
                    logged.append(n)
    except OSError:
        pass
    if logged:
        # versions older than the FIRST logged name predate the log
        # (post-upgrade crash debris is always >= the next version
        # after a logged commit) — treat them as committed so an
        # upgraded root keeps its pre-log reader-protection window
        pre = [n for n in existing if n < logged[0]]
        return sorted(set(pre) | set(logged))  # v_%06d: name order = commit order
    cur = index_current_path(root)
    if cur is None:
        return []
    cur_name = os.path.basename(cur.rstrip("/"))
    return [n for n in existing if n <= cur_name]


def _next_index_version(root: str) -> str:
    import os

    os.makedirs(root, exist_ok=True)
    nums = [
        int(n.removeprefix("v_"))
        for n in os.listdir(root)
        if n.startswith("v_") and n.removeprefix("v_").isdigit()
    ]
    return f"v_{(max(nums) + 1 if nums else 0):06d}"


def resolve_version_dir(root: str, version: str | None = None) -> str:
    """Resolve a managed root to ONE committed version directory —
    the time-travel entry point shared by all three at-rest layouts
    (``IndexReader(version=)``, ``AnnStore.open(version=)``,
    ``IvfPqStore(version=)``).

    ``version=None`` follows the CURRENT pointer (the normal read).
    An explicit name (``"v_000002"``) serves that COMMITTED version —
    the read-side complement of ``ann_version_drift``: retention
    already keeps the last ``retain`` committed versions on disk, so
    an auditor can re-run yesterday's probe against yesterday's store
    byte-for-byte, or diff serving behavior across an upsert.

    Refusals are loud and name the fix: a committed-then-vacuumed
    version says so (and points at the ``retain=`` dial); a name that
    never committed lists what did. Crash-debris version dirs
    (manifest written, pointer never swapped) are NOT servable
    history and refuse the same way."""
    import os

    if version is None:
        p = index_current_path(root)
        if p is None:
            raise FileNotFoundError(f"no CURRENT version under {root!r}")
        return p
    committed = _committed_versions(root)  # existing dirs only
    path = os.path.join(root, version)
    if version in committed and os.path.isdir(path):
        return path
    # distinguish "vacuumed" from "never committed" via the raw log
    # (_committed_versions filters to existing dirs)
    logged: set[str] = set()
    try:
        with open(os.path.join(root, "_COMMITS"), encoding="utf-8") as f:
            logged = {line.strip() for line in f if line.strip()}
    except OSError:
        pass
    if version in logged:
        raise FileNotFoundError(
            f"version {version!r} of {root!r} was committed but has been "
            "vacuumed — retention keeps only the newest versions; raise "
            "retain= on vacuum/compact to keep deeper history. Still "
            f"readable: {committed}"
        )
    raise FileNotFoundError(
        f"{version!r} is not a committed version of {root!r} "
        f"(an uncommitted dir is crash debris, never served history); "
        f"committed and readable: {committed}"
    )


# --------------------------------------------------------- LSM segment layout
#
# r12 verdict #1: the versioned-root upsert used to rewrite the ENTIRE
# index per delta (a daily 0.1 % delta at 100 TB paid a 100 TB rewrite).
# The managed root is now an LSM manifest: a VERSION is a tiny
# MANIFEST.json naming an ordered list of SEGMENTS (each a full
# ``build_postings_index``-shaped directory under root/segments/, same
# bucket scheme), an upsert writes the delta as a NEW segment plus a new
# manifest — O(delta) — and serving reads the union of live segments
# with the ids of NEWER segments anti-joined out (last-wins replace
# semantics; the "tombstone set" is exactly the newer segments' doclens
# id column, tiny by construction for deltas). ``compact_index`` folds
# the segment list back to one. Reference anchor: O(delta)
# ``add_documents`` against a live store (pipeline.py P:341–349).

#: shadow (newer-segment id) sets larger than this leave broadcast
#: territory — the anti-joins fall back to shuffle joins: same result,
#: one extra exchange (and a signal it is time to compact)
BROADCAST_MAX_IDS = 1_000_000


def _read_manifest(version_dir: str) -> dict | None:
    import json
    import os

    p = os.path.join(version_dir, "MANIFEST.json")
    if not os.path.exists(p):
        return None
    with open(p, encoding="utf-8") as f:
        return json.load(f)


def _write_manifest(version_dir: str, manifest: dict) -> None:
    """Atomic manifest write (temp + rename) — a version becomes
    visible only through the CURRENT pointer, but the manifest itself
    must never be readable half-written either."""
    import json
    import os

    os.makedirs(version_dir, exist_ok=True)
    tmp = os.path.join(version_dir, "MANIFEST.json.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(version_dir, "MANIFEST.json"))


def _next_segment_name(root: str) -> str:
    import os

    seg_root = os.path.join(root, "segments")
    os.makedirs(seg_root, exist_ok=True)
    nums = [
        int(n.removeprefix("s_"))
        for n in os.listdir(seg_root)
        if n.startswith("s_") and n.removeprefix("s_").isdigit()
    ]
    return f"s_{(max(nums) + 1 if nums else 0):06d}"


def _require_local_path(path: str) -> None:
    """Fail FAST with a named error when a driver-side metadata read
    is pointed at a non-POSIX store (r17 ADVICE: ``hdfs://``/``s3://``
    roots used to fail deep inside the footer walk with a confusing
    missing-file error rather than at the contract boundary). A bare
    path or an explicit ``file:`` URI is fine — those are the POSIX
    roots the store layer already requires (``os.listdir`` in
    ``_next_segment_name``/vacuum/commit)."""
    import re

    m = re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", path)
    if m and m.group(1).lower() != "file":
        raise ValueError(
            f"driver-side parquet metadata read requires a POSIX-local "
            f"root, got {path!r} (scheme {m.group(1)!r}); managed stores "
            "on remote filesystems are not supported by this layer"
        )


def _local_dataset(path: str):
    """``pyarrow.dataset`` over a store directory for driver-side
    metadata reads (r17 verdict #9 + ADVICE): unlike the previous
    ``os.walk`` loops this skips ``_``/``.``-prefixed paths exactly
    like Spark's file index (a crashed Hadoop-committer write leaves
    ``_temporary`` trees that must not be double-counted) and reads
    footers through Arrow's thread pool instead of a serial
    O(files) driver loop — the posture that keeps store commits
    O(1)-ish on the driver as segment counts grow."""
    import pyarrow.dataset as _pds

    _require_local_path(path)
    return _pds.dataset(path, format="parquet", ignore_prefixes=[".", "_"])


def _stats_local(stats_dir: str) -> dict:
    """The ONE-ROW stats/ table read driver-side with pyarrow instead
    of a ``spark.read.parquet(...).collect()`` job (r17 guide §1/§5:
    an indexed serve paid a whole Spark job just to learn buckets/
    avgdl before planning; so did every versioned build/upsert/compact
    commit). Both readers decode the same parquet pages, so the
    values are bit-identical. Same POSIX-root assumption as
    ``_parquet_rows``."""
    t = _local_dataset(stats_dir).to_table()
    if t.num_rows:
        return {c: t.column(c)[0].as_py() for c in t.column_names}
    raise FileNotFoundError(f"no stats rows under {stats_dir!r}")


def _parquet_rows(path: str) -> int:
    """EXACT row count of a just-written parquet dir from the file
    footers — a driver-side metadata read, replacing the
    ``spark.read.parquet(p).count()`` job every store commit used to
    pay after its segment write (r17 guide §1/§5: one fewer full
    Spark job per build/upsert/delete/compact on all four managed
    layouts). Footer ``num_rows`` is authoritative parquet metadata,
    so the count is identical to the scan's. ``count_rows`` answers
    from footer metadata only (no data pages) and fans the footer
    reads out over Arrow's thread pool."""
    import os

    if not os.path.isdir(path) and not os.path.exists(path):
        return 0
    return int(_local_dataset(path).count_rows())


def _read_partitions(
    spark,
    table_dir: str,
    hits: dict[str, list[int]] | None = None,
    schema=None,
    partitions: tuple[str, ...] = (),
) -> DataFrame:
    """A Hive-partitioned parquet table, read with ``schema`` or, by
    default, with its footer schema (``_footer_schema``: no inference
    job). ``hits`` maps integer partition columns, outermost directory
    level first, to the values a read needs; ``partitions`` names the
    partition columns of an unpruned read.

    A pruned read lists only the hit ``col=v/...`` directories that
    exist (``basePath`` keeps them partition columns), at most
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` per
    scan so the listing stays on the driver: past the threshold Spark
    lists in a job, so a longer list is read as a union of scans.
    Each column's ``isin`` stays in the plan as its partition filter.
    With no hit directory found (an empty batch, hits only in empty
    partitions, or a ``file:`` URI root) it reads the whole table."""
    import os
    from functools import reduce

    dirs = [table_dir]
    for col, vals in (hits or {}).items():
        dirs = [f"{d}/{col}={v}" for d in dirs for v in vals]
    # only local directories are listed or footer-read: a file: or
    # remote URI reads the whole table, inferring its schema
    dirs = [d for d in dirs if os.path.isdir(d)]
    if schema is None and dirs:
        schema = _footer_schema(dirs[0], tuple(hits or partitions))
    reader = spark.read if schema is None else spark.read.schema(schema)
    if hits is None or not dirs:
        df = reader.parquet(table_dir)
    else:
        reader = reader.option("basePath", table_dir)
        n = int(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold"))
        df = reduce(
            DataFrame.unionAll,
            [reader.parquet(*dirs[i:i + n]) for i in range(0, len(dirs), n)],
        )
    for col, vals in (hits or {}).items():
        df = df.filter(F.col(col).isin(vals))
    return df


class IndexReader:
    """THE read layer for the at-rest lexical index — every serving
    function (``bm25_rank_batch_indexed``, ``bool_search_indexed``,
    ``phrase_match``) resolves the index through here, so the two
    at-rest layouts serve identically:

    - **monolithic**: a directory holding postings/terms/doclens/stats
      (what ``build_postings_index`` writes) — served as a single
      segment, plans byte-identical to pre-LSM serving;
    - **segmented**: a version directory holding only MANIFEST.json,
      whose ordered ``segments`` list names postings-index-shaped
      directories (oldest → newest, paths relative to the managed
      root). The logical index is the union of segments with
      LAST-WINS id resolution: a doc_id present in a newer segment
      shadows every older occurrence, expressed as an anti-join of
      each segment against the union of NEWER segments' doclens ids —
      broadcast while the shadow set fits (``BROADCAST_MAX_IDS``),
      shuffle beyond (same result, one extra exchange).

    Global stats (n_docs/avgdl) come from the manifest for segmented
    indexes (computed exactly at upsert time) and from stats/ for
    monolithic ones, so BM25 scores never drift between layouts.

    A segment flagged in the manifest's ``tombstones`` list (r13
    verdict #2: row-level delete) holds ONLY a doclens/ id list — it
    is never read as a data source, but its ids join every older
    segment's shadow set, so the delete rides the exact machinery
    replacement already uses. Compaction reads the resolved view, so
    the fold drops both the shadowed rows and the tombstone itself.
    A CDC batch's segment is a data segment whose doclens/ also holds
    the batch's delete ids as ``_DELETED_DL`` markers: they join the
    shadow set like a tombstone's ids and are left out of the logical
    doclens.

    ``index_dir`` may also be a managed root; the reader then serves
    the version its ``CURRENT`` names."""

    def __init__(self, spark, index_dir: str, *, version: str | None = None):
        import os

        self.spark = spark
        if version is not None:
            # time-travel read: index_dir is the MANAGED ROOT and we
            # serve the named committed version (refusing vacuumed or
            # never-committed names loudly — resolve_version_dir)
            index_dir = resolve_version_dir(index_dir.rstrip("/"), version)
        root = index_dir.rstrip("/")
        m = _read_manifest(root)
        if m is None and not os.path.isdir(root + "/stats"):
            # a managed root serves the version its CURRENT names
            _require_local_path(root)
            cur = index_current_path(root)
            if cur is None:
                raise FileNotFoundError(
                    f"{root!r} is not a postings index: it holds neither "
                    "MANIFEST.json nor stats/ (an index version) nor a "
                    "CURRENT pointer to a live version (a managed root)"
                )
            root = cur.rstrip("/")
            m = _read_manifest(root)
        self.root = root
        if m is None:
            stats_row = _stats_local(root + "/stats")
            self.buckets = int(stats_row["buckets"])
            self.positional = bool(stats_row.get("positional", False))
            self.n_docs = float(stats_row["n_docs"])
            self.avgdl = float(stats_row["avgdl"] or 0.0)
            self.seg_paths = [root]
            self.seg_n_docs = [int(self.n_docs)]
            self.seg_tomb = [False]
            self.seg_n_del = [0]
        else:
            base = os.path.dirname(root)  # the managed root
            self.buckets = int(m["buckets"])
            self.positional = bool(m["positional"])
            self.n_docs = float(m["n_docs"])
            self.avgdl = float(m["avgdl"] or 0.0)
            self.seg_paths = [os.path.join(base, rel) for rel in m["segments"]]
            self.seg_n_docs = [int(x) for x in m["seg_n_docs"]]
            self.seg_tomb = [
                bool(x)
                for x in m.get("tombstones", [False] * len(self.seg_paths))
            ]
            self.seg_n_del = [
                int(x) for x in m.get("seg_deletes", [0] * len(self.seg_paths))
            ]

    def _first_data_path(self) -> str:
        """The oldest non-tombstone segment — the schema source (a
        tombstone dir holds only doclens/). The base segment is always
        a data segment (delete appends, compaction folds to data)."""
        for p, t in zip(self.seg_paths, self.seg_tomb):
            if not t:
                return p
        raise ValueError(
            f"{self.root!r}: every segment is a tombstone — no data "
            "segment to serve from (corrupt manifest?)"
        )

    def _resolved(self, per_seg) -> DataFrame:
        """Union of ``per_seg(path)`` frames over the segment list
        with last-wins shadowing. Iterates newest → oldest so each
        shadow-union plan is built once and reused by every older
        segment's anti-join. Tombstone segments contribute ids to the
        shadow set but never a data frame — a deleted id is shadowed
        WITHOUT replacement, i.e. gone."""
        k = len(self.seg_paths)
        if k == 1:
            return per_seg(self._first_data_path())
        outs: list[DataFrame] = []
        shadow: DataFrame | None = None
        shadow_n = 0
        for i in range(k - 1, -1, -1):
            if not self.seg_tomb[i]:
                cur = per_seg(self.seg_paths[i])
                if shadow is not None:
                    sh = (
                        F.broadcast(shadow)
                        if shadow_n <= BROADCAST_MAX_IDS
                        else shadow
                    )
                    cur = cur.join(sh, "doc_id", "left_anti")
                outs.append(cur)
            if i > 0:
                ids = self._segment_doclens(self.seg_paths[i]).select("doc_id")
                shadow = ids if shadow is None else shadow.unionByName(ids)
                shadow_n += self.seg_n_docs[i] + self.seg_n_del[i]
        if not outs:
            self._first_data_path()  # raises the named invariant
        out = outs[0]
        for nxt in outs[1:]:
            out = out.unionByName(nxt)
        return out

    def postings(
        self,
        hit_buckets: list[int] | None = None,
        terms: list[str] | None = None,
    ) -> DataFrame:
        """The logical postings table (term, doc_id, tf, dl[, pos],
        bucket), partition-pruned to ``hit_buckets`` and restricted to
        ``terms`` when given — both filters sit UNDER the shadow
        anti-joins, so each segment scan reads only the hit partitions
        and keeps only the query terms' rows."""
        post_schema, _ = _index_read_schemas(
            self._first_data_path(), self.positional
        )

        def rd(p: str) -> DataFrame:
            df = _read_partitions(
                self.spark, p + "/postings",
                None if hit_buckets is None else {"bucket": hit_buckets},
                schema=post_schema,
            )
            if terms is not None:
                df = df.filter(F.col("term").isin(terms))
            return df

        return self._resolved(rd)

    def _segment_doclens(self, seg: str) -> DataFrame:
        """One segment's doclens/ (doc_id, dl), read with its footer
        schema — no schema-inference job per read. Its ids, delete
        markers included, are the segment's shadow set."""
        return _read_partitions(self.spark, seg + "/doclens")

    def doclens(self) -> DataFrame:
        """The logical (doc_id, dl) table — 1 row/doc, 2 columns: the
        cheap substrate for exact stats maintenance. Delete markers
        shadow older segments but are no rows of it."""
        return self._resolved(
            lambda p: self._segment_doclens(p)
            .filter(_is_doc(F.col("dl")))
            .select("doc_id", "dl")
        )

    def term_postings(self, terms: list[str], hit_buckets: list[int]) -> DataFrame:
        """(__t, doc_id, __tf, __dl) — the resolved postings of
        ``terms``, read from the ``hit_buckets`` partitions only: the
        scoring input of the BM25 serving paths."""
        return self.postings(hit_buckets, terms).select(
            F.col("term").alias("__t"),
            "doc_id",
            F.col("tf").alias("__tf"),
            F.col("dl").alias("__dl"),
        )

    def term_dfs(
        self, terms: list[str], hit_buckets: list[int], matched: DataFrame
    ) -> DataFrame:
        """(__t, __df) — exact document frequency for ``terms``.
        ``matched`` is ``term_postings(terms, hit_buckets)``. Single
        segment: the stored terms/ table, pruned (the pre-LSM plan).
        Multi-segment: a stored per-segment df cannot be merged (a
        replaced doc changes df), so df is counted over ``matched`` —
        the RESOLVED postings, unique on (term, doc), so the per-term
        row count is the document frequency — which reuses the one
        segment resolution the scoring branch already plans."""
        if len(self.seg_paths) == 1:
            data = self._first_data_path()
            _, term_schema = _index_read_schemas(data, self.positional)
            return (
                _read_partitions(
                    self.spark, data + "/terms", {"bucket": hit_buckets},
                    schema=term_schema,
                )
                .filter(F.col("term").isin(terms))
                .select(F.col("term").alias("__t"), F.col("df").alias("__df"))
            )
        return matched.groupBy("__t").agg(F.count(F.lit(1)).cast("int").alias("__df"))


def build_postings_index_versioned(docs_df: DataFrame, root: str, **kw) -> str:
    """``build_postings_index`` as the BASE SEGMENT under the managed
    root (root/segments/s_*) plus a single-entry manifest version +
    pointer commit. Returns the version path."""
    import os

    spark = docs_df.sparkSession
    seg_name = _next_segment_name(root)
    seg = os.path.join(root, "segments", seg_name)
    build_postings_index(docs_df, seg, **kw)
    st = _stats_local(seg + "/stats")
    name = _next_index_version(root)
    _write_manifest(
        os.path.join(root, name),
        {
            "segments": [f"segments/{seg_name}"],
            "buckets": int(st["buckets"]),
            "positional": bool(st["positional"]),
            "n_docs": int(st["n_docs"]),
            "avgdl": float(st["avgdl"] or 0.0),
            "seg_n_docs": [int(st["n_docs"])],
        },
    )
    _commit_index_version(root, name)
    return os.path.join(root, name)


def upsert_postings_index_versioned(
    delta_docs: DataFrame,
    root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    delete_ids: DataFrame | None = None,
) -> str:
    """O(delta) incremental index maintenance (r12 verdict #1): the
    delta corpus is tokenized and written as a NEW SEGMENT (same
    bucket scheme as the live index), and the next version's manifest
    is the previous segment list plus that segment — the old postings
    are NEVER rewritten or even read. Serving resolves last-wins
    (a reappearing doc_id shadows its old postings via the
    newer-segment id anti-join), so upsert ≡ rebuild over
    (old corpus minus replaced ids, plus delta) — the
    ``rank_bm25_index_upsert`` driver oracle, unchanged.

    ``delete_ids`` (a frame holding ``id_col``) folds a CDC batch's
    deletes into the SAME segment and version: its data rows are the
    delta minus those ids, and its shadow set is delta ∪ deletes, so
    an id the batch both upserts and deletes resolves to DELETED and a
    reader never sees half a batch. One shuffle resolves it
    (``_resolve_cdc``), which also keeps one delta row per id, so the
    uniqueness precondition below does not apply. A batch whose every
    upsert is deleted commits a tombstone segment.

    Cost: delta tokenize + delta write + ONE pass over the doclens
    tables (1 row/doc, 2 columns — ~10^-4 of postings bytes) for
    exact n_docs/avgdl; at 100 TB a daily 0.1 % delta costs the
    delta, not the store. Old versions/segments are
    ``compact_index``'s retention decision — an upsert never deletes.
    Precondition (the snapshot_diff contract): ``id_col`` unique
    within ``delta_docs``; dedup the delta first (latest fetch wins)
    when re-crawl timing can produce duplicates.

    Reference anchor: ``add_documents`` is O(delta) against a live
    service (reference pipeline.py P:341–349)."""
    return _commit_postings_segment(
        delta_docs.sparkSession, root, delta_docs, delete_ids, text_col, id_col
    )


def delete_index_ids(ids_df: DataFrame, root: str, id_col: str = "doc_id") -> str:
    """Row-level delete for the managed postings root (r13 verdict
    #2: takedown / GDPR / robots-revocation compliance — S10's
    collection-level delete, reference Q:119–136, cannot remove ONE
    document without rewriting the collection). Writes a
    TOMBSTONE-ONLY segment: a doclens/ id list of delete markers with
    no data payload, flagged in the manifest's ``tombstones`` list —
    the upsert writer with an empty delta. The existing last-wins
    shadow machinery then hides every older copy of the ids — a
    delete is exactly a replacement with nothing — while the reader
    never treats the tombstone as a data source, so the doomed ids
    vanish from bm25/bool/phrase serving AND from the logical doclens
    (n_docs/avgdl recomputed exactly here, the upsert discipline).
    ``compact_index`` reads the resolved view, so the next fold
    physically drops the shadowed rows and the tombstone itself.
    O(delete set): the live index is never rewritten; ids not present
    in the index are harmless no-ops. Returns the new version path."""
    return _commit_postings_segment(
        ids_df.sparkSession, root, None, ids_df, "text", id_col
    )


def _commit_postings_segment(
    spark,
    root: str,
    delta_docs: DataFrame | None,
    delete_ids: DataFrame | None,
    text_col: str,
    id_col: str,
) -> str:
    """Write one segment holding ``delta_docs`` minus ``delete_ids``
    that shadows both, and commit it as one version with exact
    n_docs/avgdl. ``delta_docs=None`` writes a tombstone."""
    import os

    src = index_current_path(root)
    if src is None:
        raise FileNotFoundError(f"no CURRENT index version under {root!r}")
    reader = IndexReader(spark, src)
    seg_name = _next_segment_name(root)
    seg = os.path.join(root, "segments", seg_name)
    deleted = None
    if delete_ids is not None:
        deleted = delete_ids.select(F.col(id_col).alias("doc_id"))
    if delta_docs is None:
        deleted.distinct().withColumn(
            "dl", F.lit(_DELETED_DL).cast("int")
        ).write.mode("overwrite").parquet(seg + "/doclens")
        n_docs = 0
    else:
        _write_postings_segment(
            delta_docs, seg, text_col, id_col, reader.buckets,
            reader.positional, deleted=deleted,
        )
        n_docs = int(_stats_local(seg + "/stats")["n_docs"])
    # footer-metadata count (no Spark job): every id the segment
    # shadows, documents and delete markers alike
    n_ids = _parquet_rows(seg + "/doclens")
    tomb = deleted is not None and n_docs == 0
    # exact global stats: (old logical doclens minus the segment's
    # shadow set) ∪ its documents, aggregated — the same count/avg the
    # rebuild's _write_index_stats computes, over the same logical rows
    seg_dl = _read_partitions(spark, seg + "/doclens")
    shadow = seg_dl.select("doc_id")
    kept = reader.doclens().join(
        F.broadcast(shadow) if n_ids <= BROADCAST_MAX_IDS else shadow,
        "doc_id",
        "left_anti",
    )
    row = (
        kept.unionByName(seg_dl.filter(_is_doc(F.col("dl"))).select("doc_id", "dl"))
        .agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("a"))
        .collect()[0]
    )
    rels = [os.path.relpath(p, root) for p in reader.seg_paths]
    manifest = {
        "segments": rels + [f"segments/{seg_name}"],
        "buckets": reader.buckets,
        "positional": reader.positional,
        "n_docs": int(row["n"]),
        "avgdl": float(row["a"] or 0.0),
        # a tombstone's count is its id count; a data segment's is its
        # documents, with the ids it only deletes in seg_deletes
        "seg_n_docs": reader.seg_n_docs + [n_ids if tomb else n_docs],
        "tombstones": reader.seg_tomb + [tomb],
    }
    seg_del = reader.seg_n_del + [0 if tomb else n_ids - n_docs]
    if any(seg_del):
        manifest["seg_deletes"] = seg_del
    name = _next_index_version(root)
    _write_manifest(os.path.join(root, name), manifest)
    _commit_index_version(root, name)
    return os.path.join(root, name)


def compact_index(
    spark,
    root: str,
    retain: int = 2,
    max_records_per_file: int = 1 << 20,
) -> str:
    """Compaction + vacuum for the managed index root (r11 verdict
    #5): every ``upsert_postings_index_versioned`` leaves its source
    version behind — after N daily upserts the root holds N dead
    directories and the live version's files carry whatever sizes
    the upsert shuffles produced. ``compact_index`` rewrites the
    live version into a new one with size-targeted files (postings/
    terms hash-clustered to one file per bucket, huge buckets split at
    ``max_records_per_file``; doclens bin-packed to the same
    target), commits the pointer, then drops every version directory
    except the ``retain`` most recent — the Delta/Iceberg
    OPTIMIZE+VACUUM shape expressed over plain parquet. ``retain``
    defaults to 2 (r12 ADVICE, matching run_sketch_stream's
    retain_versions): a concurrent reader that resolved CURRENT just
    before the pointer swap may still be scanning the superseded
    version — pass retain=1 only when this process is the sole
    reader.

    Queries before and after are hash-identical (pytest-pinned): the
    rewrite moves bytes, never rows. With the LSM layout this is also
    the SEGMENT FOLD: the live version's logical index (union of
    segments, last-wins resolved) is rewritten as ONE full segment —
    terms/ recomputed globally from the folded postings, stats from
    the folded doclens — and the new manifest names just that
    segment, resetting serve-time anti-join depth to zero. Vacuum is
    manifest-aware: a version directory or segment is deleted only
    when NO retained version references it. Returns the new version
    path."""
    import math
    import os
    import shutil

    if retain < 1:
        raise ValueError(f"retain must be >= 1, got {retain}")
    src = index_current_path(root)
    if src is None:
        raise FileNotFoundError(f"no CURRENT index version under {root!r}")
    reader = IndexReader(spark, src)
    buckets, positional = reader.buckets, reader.positional
    seg_name = _next_segment_name(root)
    seg = os.path.join(root, "segments", seg_name)

    # the same two independent job chains as build/upsert, overlapped
    # (r17 guide §2.6): [postings fold → terms] and [doclens fold →
    # stats] share no artifacts, so the doclens rewrite back-fills the
    # postings fold's straggler tail instead of waiting for it — the
    # fold was the last store mutation still serializing its chains.
    def _chain_postings() -> None:
        (
            _clustered(reader.postings(), buckets, "bucket")
            .write.mode("overwrite")
            .option("maxRecordsPerFile", max_records_per_file)
            .partitionBy("bucket")
            .parquet(seg + "/postings")
        )
        post_schema, _ = _index_read_schemas(reader._first_data_path(), positional)
        _write_terms_from_postings(
            spark, seg, post_schema, max_records_per_file=max_records_per_file,
            buckets=buckets,
        )

    def _chain_doclens() -> None:
        n_files = max(
            1, math.ceil(max(1.0, reader.n_docs) / max_records_per_file)
        )
        (
            reader.doclens()
            .repartition(n_files)
            .write.mode("overwrite")
            .option("maxRecordsPerFile", max_records_per_file)
            .parquet(seg + "/doclens")
        )
        _write_index_stats(spark, seg, buckets, positional)

    _run_overlapped(spark, _chain_postings, _chain_doclens)
    st = _stats_local(seg + "/stats")
    name = _next_index_version(root)
    dst = os.path.join(root, name)
    _write_manifest(
        dst,
        {
            "segments": [f"segments/{seg_name}"],
            "buckets": buckets,
            "positional": positional,
            "n_docs": int(st["n_docs"]),
            "avgdl": float(st["avgdl"] or 0.0),
            "seg_n_docs": [int(st["n_docs"])],
        },
    )
    # carry the stream-replay marker forward (r12 ADVICE): without it a
    # stream restart right after compaction re-folds the last batch —
    # harmless for content (upsert is idempotent) but it mints a
    # spurious extra version per restart
    marker = os.path.join(src, "_last_batch_id")
    if os.path.exists(marker):
        shutil.copyfile(marker, os.path.join(dst, "_last_batch_id"))
    _commit_index_version(root, name)
    _vacuum_index_root(root, retain)
    return dst


def _live_segment_count(root: str) -> int:
    """Segment count of the CURRENT version — 0 before the first
    commit, 1 for a legacy monolithic version (no manifest)."""
    cur = index_current_path(root)
    if cur is None:
        return 0
    m = _read_manifest(cur)
    return 1 if m is None else len(m["segments"])


def maybe_compact_index(
    spark, root: str, max_segments: int, retain: int = 2, **compact_kw
) -> str | None:
    """Compact the managed postings root IFF the live version's
    segment list exceeds ``max_segments`` — the auto-compaction
    trigger (r13 verdict #1): every upsert/maintenance-stream batch
    appends one segment, and serve cost grows with the list
    (k·t·(1+flips) partition reads plus k shadow anti-joins), so an
    unbounded fold loop quietly pays the r13 O(delta) write win back
    in read amplification. The reference's sinks get this as a
    service guarantee (Lucene background segment merging behind
    Elasticsearch, reference E:348–355; Weaviate compacts its own
    LSM, P:341–349) — this is the engine-side equivalent for the
    managed root, callable from any batch upsert loop and invoked by
    ``run_index_maintenance_stream(max_segments=...)``.

    Returns the new version path when a fold ran, None when the root
    is already within bounds. ``retain``/``compact_kw`` pass through
    to ``compact_index``."""
    if max_segments < 1:
        raise ValueError(f"max_segments must be >= 1, got {max_segments}")
    if _live_segment_count(root) <= max_segments:
        return None
    return compact_index(spark, root, retain=retain, **compact_kw)


def maybe_compact_ann_store(
    spark, root: str, max_segments: int, retain: int = 2
) -> AnnStore | None:
    """ANN twin of ``maybe_compact_index``: fold the managed vector
    root to one segment iff the live manifest names more than
    ``max_segments`` — bounds probe-time partition reads and shadow
    anti-join depth (and, for quantized roots, caps how long
    per-segment SQ8 bounds drift before the global re-quantization
    compaction performs). Returns the new serving handle when a fold
    ran, None when within bounds."""
    if max_segments < 1:
        raise ValueError(f"max_segments must be >= 1, got {max_segments}")
    if _live_segment_count(root) <= max_segments:
        return None
    return compact_ann_store(spark, root, retain=retain)


def _vacuum_index_root(root: str, retain: int) -> list[str]:
    """Manifest-aware retention GC shared by compact paths: keep the
    ``retain`` newest version directories plus every segment (or
    legacy monolithic version dir) a retained manifest references;
    delete the rest. Returns deleted directory names.

    Three crash/concurrency windows are protected explicitly (r13
    review finding + r13 ADVICE):

    - the retain window counts COMMITTED versions only (the
      ``_COMMITS`` log via ``_committed_versions``) — crashed-upsert
      debris (manifest written, pointer never swapped) used to eat
      window slots, silently shrinking the concurrent-reader
      protection ``retain=2`` promises;
    - the version ``CURRENT`` points at is ALWAYS kept, even when it
      somehow falls outside that window — otherwise the pointer
      dangles;
    - a version dir NEWER than the CURRENT pointer is an in-flight
      writer's (manifest lands before the pointer swap) — never
      deleted here; once a later commit supersedes it, an
      unreferenced stale one becomes ordinary sub-pointer debris and
      is GC'd. Same for a segment newer than anything any manifest
      references (the fold writes its segment before its manifest)."""
    import os
    import shutil

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
    refs: set[str] = set()
    for n in keep:
        vdir = os.path.join(root, n)
        m = _read_manifest(vdir)
        if m is None:
            refs.add(os.path.realpath(vdir))  # monolithic: its own storage
        else:
            refs.update(
                os.path.realpath(os.path.join(root, rel)) for rel in m["segments"]
            )
    # the in-flight horizon: the highest segment number any COMMITTED
    # version's manifest references — a segment above it was written
    # by a fold whose pointer swap hasn't landed yet. Committed only
    # (r15 ADVICE): an in-flight writer's own manifest lands BEFORE
    # its CURRENT swap; letting that manifest raise the horizon would
    # put its brand-new segments at-or-below it and (not being in any
    # committed keep set) GC them in the commit window — the exact
    # inversion of the protection. Debris above the committed horizon
    # stays until a later commit raises the horizon past it.
    max_ref_seg = -1
    for n in committed:
        m = _read_manifest(os.path.join(root, n))
        for rel in (m or {}).get("segments", []):
            base = os.path.basename(rel.rstrip("/"))
            if base.startswith("s_") and base.removeprefix("s_").isdigit():
                max_ref_seg = max(max_ref_seg, int(base.removeprefix("s_")))
    deleted: list[str] = []
    for num, n in versions:
        if n in keep:
            continue
        if num > cur_num:
            continue  # in-flight writer's version — not ours to GC
        vdir = os.path.join(root, n)
        if os.path.realpath(vdir) in refs:
            continue  # a retained manifest still serves from this dir
        shutil.rmtree(vdir, ignore_errors=True)
        deleted.append(n)
    seg_root = os.path.join(root, "segments")
    if os.path.isdir(seg_root):
        for n in sorted(os.listdir(seg_root)):
            sdir = os.path.join(seg_root, n)
            if os.path.realpath(sdir) in refs:
                continue
            if (
                n.startswith("s_")
                and n.removeprefix("s_").isdigit()
                and int(n.removeprefix("s_")) > max_ref_seg
            ):
                continue  # in-flight writer's segment — not ours to GC
            shutil.rmtree(sdir, ignore_errors=True)
            deleted.append(f"segments/{n}")
    return deleted


def _ann_seg_data_dir(seg: str) -> str:
    """A segment's AnnStore data root: wrapper segments written by the
    versioned paths keep the partitioned store under ``data/`` (with
    an ``ids/`` sidecar next to it); a legacy pre-LSM monolithic
    version directory IS its own data root (sidecar at top level)."""
    import os

    return seg if os.path.exists(os.path.join(seg, "_ann_meta.json")) else os.path.join(seg, "data")


class SegmentedAnnStore(AnnStore):
    """Read view over an LSM-manifest ANN version (r12 verdict #1,
    vector half): the logical store is the union of segment stores
    with LAST-WINS id resolution — a vec_id present in a newer
    segment shadows every older pointer copy, expressed as anti-joins
    against the newer segments' ``ids/`` sidecars (tiny for deltas;
    broadcast under ``BROADCAST_MAX_IDS``, shuffle beyond). Pruning
    is preserved per segment: a probe reads the same (table, bucket)
    partitions of EVERY live segment — k·t·(1+flips) partitions for k
    segments — which is why ``compact_ann_store`` folds the list back
    to one. ``probe``/``probe_candidates`` inherit; writes must go
    through the versioned functions."""

    def __init__(self, spark, version_dir: str, manifest: dict):
        import os

        super().__init__(
            spark,
            version_dir,
            bits=int(manifest["bits"]),
            n_tables=int(manifest["n_tables"]),
            id_col=manifest["id_col"],
            vec_col=manifest["vec_col"],
        )
        base = os.path.dirname(version_dir.rstrip("/"))
        self.seg_paths = [os.path.join(base, rel) for rel in manifest["segments"]]
        self.seg_n = [int(x) for x in manifest["seg_n"]]
        self.seg_tomb = [
            bool(x)
            for x in manifest.get("tombstones", [False] * len(self.seg_paths))
        ]
        self.seg_n_del = [
            int(x) for x in manifest.get("seg_deletes", [0] * len(self.seg_paths))
        ]
        self._metadata_cols = tuple(manifest.get("metadata_cols", ()))
        self._quant = manifest.get("quant")

    def _seg_data_ids(self, seg: str) -> DataFrame:
        """The ids a data segment holds vectors for — its ``ids/``
        sidecar minus the ids a CDC segment only deletes: the raw
        sidecar of an SQ8 segment, else the table-0 slice (every vector
        has one pointer copy per table)."""
        data = _ann_seg_data_dir(seg)
        if self._quant:
            return _read_partitions(
                self.spark, data + "/raw", partitions=("id_bucket",)
            ).select(self.id_col)
        return _read_partitions(self.spark, data, {"table": [0]}).select(self.id_col)

    def _seg_ids(self, seg: str) -> DataFrame:
        import os

        ids_dir = os.path.join(seg, "ids")
        if os.path.isdir(ids_dir):
            return _read_partitions(self.spark, ids_dir)
        # legacy monolithic base has no sidecar; it is only ever needed
        # if it appears as a NON-oldest segment, which the write paths
        # never produce — derive from the layout's id source if so:
        # a quantized legacy dir (codes/ + raw/) has no flat
        # partitioned data, so table==0 partition discovery would fail
        # opaquely there (r13 ADVICE) — its raw/ sidecar is the id set
        data = _ann_seg_data_dir(seg)
        if os.path.isdir(os.path.join(data, "raw")):
            return self.spark.read.parquet(os.path.join(data, "raw")).select(
                self.id_col
            )
        return (
            self.spark.read.parquet(data)
            .filter(F.col("table") == 0)
            .select(self.id_col)
        )

    def _resolved_candidates(self, cond) -> DataFrame:
        cols = [self.id_col, self.vec_col, *self._metadata_cols, "table", "bucket"]
        return self._shadowed(
            lambda i: _read_partitions(
                self.spark,
                _ann_seg_data_dir(self.seg_paths[i]),
                partitions=("table", "bucket"),
            )
            .filter(cond)
            .select(*cols)
        )

    def _cond_scan(self, cond) -> DataFrame:
        # probe/probe_candidates/probe_batch all land here — the one
        # override point that makes every read path segment-aware
        if getattr(self, "_quant", None):
            raise NotImplementedError(
                "quantized segmented stores are probed via probe_quantized"
            )
        return self._resolved_candidates(cond)

    def _shadow_iter(self, per_seg):
        """THE last-wins shadowing implementation (every read path —
        raw/quantized, single/batch, compaction — routes through
        here): ``per_seg(i)`` builds segment i's candidate frame;
        iteration runs from the NEWEST segment down, and each older
        frame is yielded anti-joined against the union of newer
        segments' id sidecars (broadcast under ``BROADCAST_MAX_IDS``,
        shuffle beyond), as (segment_index, shadowed_frame) — per
        segment, so quantized probes can interleave per-segment
        prefilter/fetch before unioning. A TOMBSTONE segment (r13
        verdict #2) is never asked for a frame — it only feeds its
        ids into the shadow set, deleting every older copy without a
        replacement."""
        shadow: DataFrame | None = None
        shadow_n = 0
        for i in range(len(self.seg_paths) - 1, -1, -1):
            if not self.seg_tomb[i]:
                cur = per_seg(i)
                if shadow is not None:
                    sh = (
                        F.broadcast(shadow)
                        if shadow_n <= BROADCAST_MAX_IDS
                        else shadow
                    )
                    cur = cur.join(sh, self.id_col, "left_anti")
                yield i, cur
            if i > 0:
                ids = self._seg_ids(self.seg_paths[i])
                shadow = ids if shadow is None else shadow.unionByName(ids)
                shadow_n += self.seg_n[i] + self.seg_n_del[i]

    def _shadowed(self, per_seg) -> DataFrame:
        """Union of ``_shadow_iter`` — the whole resolved view in one
        frame (raw candidates, compaction input)."""
        outs = [f for _, f in self._shadow_iter(per_seg)]
        if not outs:
            raise ValueError(
                f"{self.path!r}: every segment is a tombstone — no data "
                "segment to serve from (corrupt manifest?)"
            )
        out = outs[0]
        for nxt in outs[1:]:
            out = out.unionByName(nxt)
        return out

    def probe_quantized(
        self, qv: list[float], k: int = 5, extra_flips: int = 0,
        prefilter_m: int | None = None,
    ) -> DataFrame:
        """Quantized probe across LSM segments (r12 verdict #6): each
        segment opens with ITS OWN SQ8 bounds (per-segment sidecar),
        candidates come from the same pruned (table, bucket) code
        partitions per segment, newer segments' id sidecars shadow
        older pointer copies (last-wins), and the exact re-score
        reads each candidate's raw floats from its OWN segment's
        raw/ sidecar. With ``prefilter_m`` unset the result EQUALS an
        unquantized probe over the resolved corpus (exact re-score —
        the monolithic contract, segment-proof); ``prefilter_m``
        applies PER SEGMENT, decoded with that segment's bounds, so
        bounds drift between generations cannot corrupt another
        segment's approximate ranking."""
        if not getattr(self, "_quant", None):
            raise ValueError(
                "this versioned store holds raw floats — probe via "
                "probe/probe_batch, not probe_quantized"
            )
        pairs = self._probe_pairs(qv, extra_flips)
        qcol = vector_literal(qv)
        sts = {
            i: AnnStore.open(self.spark, _ann_seg_data_dir(self.seg_paths[i]))
            for i in range(len(self.seg_paths))
            if not self.seg_tomb[i]  # tombstones have no data dir
        }
        raws: list[DataFrame] = []
        for i, cand in self._shadow_iter(
            lambda i: sts[i]._quant_candidates(pairs)
        ):
            if prefilter_m is not None:
                cand = sts[i]._quant_prefilter(cand, qcol, prefilter_m)
            raws.append(sts[i]._raw_fetch(cand.select(self.id_col)))
        if not raws:
            raise ValueError(
                f"{self.path!r}: every segment is a tombstone — no data "
                "segment to serve from (corrupt manifest?)"
            )
        out = raws[0]
        for nxt in raws[1:]:
            out = out.unionByName(nxt)
        return brute_force_topk(out, qcol, k, self.id_col, self.vec_col)

    def probe_batch_quantized(
        self,
        queries_df: DataFrame,
        k: int = 5,
        extra_flips: int = 0,
        query_id_col: str = "query_id",
        query_vec_col: str = "qvec",
        prefilter_m: int | None = None,
    ) -> DataFrame:
        """Batch quantized serving across LSM segments: per segment
        the pruned code-partition candidates fan out to their queries
        (broadcast assignment join), newer segments' id sidecars
        shadow older pointer copies (an id replaced for ONE query is
        replaced for all — shadowing keys on id alone), prefilter
        decodes with each segment's own bounds, raw rescore rows come
        from each candidate's own segment, and ONE window ranks the
        union per query. prefilter_m unset ⇒ equals probe_batch on an
        unquantized rebuild (exact re-score)."""
        if not getattr(self, "_quant", None):
            raise ValueError(
                "this versioned store holds raw floats — probe via "
                "probe/probe_batch, not probe_batch_quantized"
            )
        asg = self._batch_assignments(
            queries_df, query_id_col, query_vec_col, extra_flips
        )
        pairs = [
            (r["table"], r["bucket"])
            for r in asg.select("table", "bucket").distinct().collect()
        ]
        sts = {
            i: AnnStore.open(self.spark, _ann_seg_data_dir(self.seg_paths[i]))
            for i in range(len(self.seg_paths))
            if not self.seg_tomb[i]  # tombstones have no data dir
        }
        fetched = [
            self._quant_batch_fetch(
                cand, queries_df, query_id_col, query_vec_col, prefilter_m, sts[i]
            )
            for i, cand in self._shadow_iter(
                lambda i: sts[i]._quant_candidates_batch(asg, pairs, query_id_col)
            )
        ]
        if not fetched:
            raise ValueError(
                f"{self.path!r}: every segment is a tombstone — no data "
                "segment to serve from (corrupt manifest?)"
            )
        out = fetched[0]
        for nxt in fetched[1:]:
            out = out.unionByName(nxt)
        return self._quant_batch_rank(
            out, queries_df, k, query_id_col, query_vec_col
        )

    def _resolved_raw(self) -> DataFrame:
        """All live (id, vec) rows of a QUANTIZED segmented store —
        full raw-sidecar scans per segment with last-wins shadowing;
        the compaction input (compaction is the one global
        re-quantization point, by design)."""
        return self._shadowed(
            lambda i: self.spark.read.parquet(
                _ann_seg_data_dir(self.seg_paths[i]).rstrip("/") + "/raw"
            ).select(self.id_col, self.vec_col)
        )

    def write(self, *a, **kw):  # pragma: no cover - guard
        raise ValueError(
            "SegmentedAnnStore is a read view over a manifest version — "
            "write through write_ann_store_versioned/upsert_ann_store_versioned"
        )

    write_quantized = write
    upsert = write


def _open_ann_version(spark, version_dir: str) -> AnnStore:
    """Open either ANN version layout — exactly ``AnnStore.open``
    (manifest → SegmentedAnnStore, sidecar → AnnStore); kept as the
    internal name the versioned functions route through so the
    dispatch decision lives in ONE place (r13 review: a private twin
    with its own manifest check had already drifted from the public
    classmethod's)."""
    return AnnStore.open(spark, version_dir)


def _write_ann_segment(
    vectors: DataFrame,
    seg: str,
    metadata_cols: tuple[str, ...],
    quantized: bool = False,
    raw_id_buckets: int = 64,
    deleted: DataFrame | None = None,
    **kw,
) -> int:
    """One ANN segment: the partitioned store under ``data/`` plus the
    ``ids/`` sidecar (one row per vector — the shadow/tombstone
    substrate, the vector mirror of the postings segment's doclens).
    ``quantized`` writes the segment SQ8 (codes/ + raw/ under data/)
    with bounds computed from THIS segment's vectors alone — the
    per-segment-bounds contract that makes quantized upsert possible
    without global re-quantization (bounds live in the segment's own
    ``_ann_meta.json``). ``deleted`` (a frame holding the id column)
    makes it a CDC segment (``_resolve_cdc``): its vectors are
    ``vectors`` minus those ids, one per id, and ``ids/`` lists both,
    so the segment shadows older copies of the deleted ids without
    holding a vector. Returns the ``ids/`` row count (read back from
    the tiny sidecar's footers — no extra pass over the vectors)."""
    import os

    spark = vectors.sparkSession
    store = AnnStore(spark, os.path.join(seg, "data"), **kw)
    if quantized and metadata_cols:
        raise ValueError(
            "quantized segments do not carry metadata columns — "
            "filtered search needs the raw-float layout"
        )
    ids_dir = os.path.join(seg, "ids")
    ids = vectors.select(store.id_col)
    if deleted is not None:
        res = _resolve_cdc(vectors, deleted, store.id_col)
        vectors = res.filter(~F.col("__del")).drop("__del")
        ids = res.select(store.id_col)

    # data store and ids sidecar are independent writes over the same
    # source — overlap them (r18 guide §2.6, same pool discipline as
    # the index build chains)
    def _write_data() -> None:
        if quantized:
            store.write_quantized(
                vectors, raw_id_buckets=int(raw_id_buckets),
                empty_ok=deleted is not None,
            )
        else:
            store.write(vectors, metadata_cols=metadata_cols)

    def _write_ids() -> None:
        ids.write.mode("overwrite").parquet(ids_dir)

    _run_overlapped(spark, _write_data, _write_ids)
    return _parquet_rows(ids_dir)


def _ann_data_rows(seg: str, quantized: bool) -> int:
    """Vectors a written segment holds, from footers (no Spark job):
    its raw sidecar's rows (SQ8) or its table-0 slice's."""
    import os

    data = os.path.join(seg, "data")
    return _parquet_rows(os.path.join(data, "raw" if quantized else "table=0"))


def _ann_manifest(
    segments: list[str],
    seg_n: list[int],
    like: AnnStore,
    metadata_cols,
    quantized: bool,
    tombstones: list[bool] | None = None,
    seg_deletes: list[int] | None = None,
) -> dict:
    """The version-manifest dict — one builder for every writer (r13
    review: five hand-built literals had already started drifting).
    ``tombstones`` flags shadow-only segments (row-level delete);
    omitted means all-data. ``seg_deletes`` counts the ids a CDC data
    segment shadows without holding (``seg_n`` counts its vectors);
    omitted means none."""
    m = {
        "segments": segments,
        "seg_n": seg_n,
        "bits": like.bits,
        "n_tables": like.n_tables,
        "id_col": like.id_col,
        "vec_col": like.vec_col,
        "metadata_cols": list(metadata_cols),
    }
    if tombstones is not None and any(tombstones):
        m["tombstones"] = [bool(x) for x in tombstones]
    if seg_deletes is not None and any(seg_deletes):
        m["seg_deletes"] = [int(x) for x in seg_deletes]
    if quantized:
        # flag only — bounds are per segment, self-described in each
        # segment's _ann_meta.json and restored by AnnStore.open
        m["quant"] = {"per_segment": True}
    return m


def _commit_ann_version(
    spark,
    root: str,
    manifest: dict,
    marker_src: str | None = None,
    retain: int | None = None,
) -> AnnStore:
    """The shared commit tail: manifest write → optional
    ``_last_batch_id`` carry (the stream-replay marker; a restart
    right after a commit that dropped it would re-fold the last
    batch — content-idempotent but a spurious version per restart) →
    atomic CURRENT swap → optional retention vacuum → serving
    handle."""
    import os
    import shutil

    name = _next_index_version(root)
    _write_manifest(os.path.join(root, name), manifest)
    if marker_src is not None:
        marker = os.path.join(marker_src, "_last_batch_id")
        if os.path.exists(marker):
            shutil.copyfile(marker, os.path.join(root, name, "_last_batch_id"))
    _commit_index_version(root, name)
    if retain is not None:
        _vacuum_index_root(root, retain)
    return _open_ann_version(spark, os.path.join(root, name))


def write_ann_store_versioned(
    vectors: DataFrame,
    root: str,
    metadata_cols: tuple[str, ...] = (),
    quantized: bool = False,
    raw_id_buckets: int = 64,
    **kw,
) -> AnnStore:
    """Write the corpus as the BASE SEGMENT of an LSM-manifest ANN
    version under the managed root + atomic CURRENT pointer commit
    (the lexical ``build_postings_index_versioned`` mirror).
    ``quantized=True`` writes SQ8 segments — bounds are PER SEGMENT
    (each segment's sidecar), so later upserts never re-quantize the
    base; probe via ``probe_quantized`` on the returned handle.
    Returns the serving handle (a ``SegmentedAnnStore``)."""
    import os

    spark = vectors.sparkSession
    seg_name = _next_segment_name(root)
    seg = os.path.join(root, "segments", seg_name)
    n = _write_ann_segment(
        vectors,
        seg,
        tuple(metadata_cols),
        quantized=quantized,
        raw_id_buckets=raw_id_buckets,
        **kw,
    )
    probe_handle = AnnStore.open(spark, os.path.join(seg, "data"))
    return _commit_ann_version(
        spark,
        root,
        _ann_manifest(
            [f"segments/{seg_name}"], [n], probe_handle, metadata_cols, quantized
        ),
    )


def upsert_ann_store_versioned(
    delta_vectors: DataFrame, root: str, delete_ids: DataFrame | None = None
) -> AnnStore:
    """O(delta) incremental vector-index maintenance (r12 verdict #1):
    the delta is sign-bucketed and written as a NEW SEGMENT (same
    geometry, read from the live version's manifest/sidecar — never
    from in-memory handle state), and the next version's manifest is
    the previous segment list plus that segment. The old store is
    NEVER rewritten or read — at 100 TB a daily delta costs the
    delta. Serving resolves last-wins (a reappearing vec_id shadows
    its old pointer copies in every table via the ids-sidecar
    anti-join), so upsert ≡ rebuild over (old vectors minus replaced
    ids, plus delta) — the ``ann_store_upsert`` driver oracle.
    Old versions/segments are ``compact_ann_store``'s retention
    decision — an upsert never deletes. Precondition: ``id_col``
    unique within the delta (latest embed wins — dedup upstream).

    ``delete_ids`` (a frame holding the store's id column) folds a CDC
    batch's deletes into the SAME segment and version: its vectors are
    the delta minus those ids and its ``ids/`` sidecar is delta ∪
    deletes, so an id the batch both upserts and deletes resolves to
    DELETED. One shuffle resolves it (``_resolve_cdc``), which also
    keeps one delta row per id. A batch whose every upsert is deleted
    commits a tombstone segment.

    Reference anchor: ``add_documents`` is O(delta) against a live
    vector store (reference pipeline.py P:341–349)."""
    return _commit_ann_segment(
        delta_vectors.sparkSession, root, delta_vectors, delete_ids
    )


def delete_ann_ids(ids_df: DataFrame, root: str) -> AnnStore:
    """Row-level delete for the managed ANN root (r13 verdict #2 —
    the vector half of takedown compliance): a TOMBSTONE segment
    holding only an ``ids/`` sidecar (no data dir), flagged in the
    manifest — the upsert writer with an empty delta. Serving's
    last-wins shadow machinery then anti-joins the doomed ids out of
    every older segment — a delete is a replacement with nothing — in
    ALL read paths (probe, batch, quantized, filtered, drift: a
    deleted id surfaces as ``removed`` in ``ann_version_drift``).
    ``compact_ann_store`` reads the resolved view, so the next fold
    physically drops the rows and the tombstone. O(delete set); ids
    not in the store are harmless no-ops. Returns the new serving
    handle."""
    return _commit_ann_segment(ids_df.sparkSession, root, None, ids_df)


def _commit_ann_segment(
    spark, root: str, delta: DataFrame | None, delete_ids: DataFrame | None
) -> AnnStore:
    """Write one segment holding ``delta`` minus ``delete_ids`` that
    shadows both, and commit it as one version. ``delta=None`` writes
    a tombstone (an ``ids/`` sidecar alone)."""
    import os

    src = index_current_path(root)
    if src is None:
        raise FileNotFoundError(f"no CURRENT store version under {root!r}")
    live = _open_ann_version(spark, src)
    quantized = bool(getattr(live, "_quant", None))
    meta_cols = tuple(live._metadata_cols)
    seg_name = _next_segment_name(root)
    seg = os.path.join(root, "segments", seg_name)
    deleted = None
    if delete_ids is not None:
        deleted = delete_ids.select(live.id_col)
    if delta is None:
        deleted.distinct().write.mode("overwrite").parquet(os.path.join(seg, "ids"))
        n_ids = _parquet_rows(os.path.join(seg, "ids"))
        n = 0
    else:
        n_ids = _write_ann_segment(
            delta,
            seg,
            meta_cols,
            # a quantized delta segment computes ITS OWN SQ8 bounds (and
            # keeps them in its sidecar) — the base is never
            # re-quantized; probe decodes each segment with the bounds
            # it was written under, so bounds drift between generations
            # is handled, not a rebuild trigger
            quantized=quantized,
            deleted=deleted,
            bits=live.bits,
            n_tables=live.n_tables,
            id_col=live.id_col,
            vec_col=live.vec_col,
        )
        n = n_ids if deleted is None else _ann_data_rows(seg, quantized)
    tomb = deleted is not None and n == 0
    if isinstance(live, SegmentedAnnStore):
        rels = [os.path.relpath(p, root) for p in live.seg_paths]
        seg_n, tombs, dels = live.seg_n, live.seg_tomb, live.seg_n_del
    else:  # legacy monolithic version becomes the base segment
        rels = [os.path.relpath(src, root)]
        seg_n = [-1]  # unknown base count: only NEWER counts gate broadcasts
        tombs, dels = [False], [0]
    return _commit_ann_version(
        spark,
        root,
        _ann_manifest(
            rels + [f"segments/{seg_name}"],
            seg_n + [n_ids if tomb else n],
            live,
            meta_cols,
            quantized,
            tombstones=tombs + [tomb],
            seg_deletes=dels + [0 if tomb else n_ids - n],
        ),
    )


def compact_ann_store(spark, root: str, retain: int = 2) -> AnnStore:
    """Fold the live ANN version's segment list into ONE segment (the
    vector mirror of ``compact_index``): the resolved pointer copies
    — already carrying their (table, bucket) assignments, so nothing
    is re-hashed — rewrite clustered into a fresh segment, the new
    manifest names just it, and manifest-aware vacuum drops every
    version/segment no retained manifest references. Probes before
    and after are identical (pytest-pinned); serve-time anti-join
    depth resets to zero. Returns the new serving handle."""
    import os

    if retain < 1:
        raise ValueError(f"retain must be >= 1, got {retain}")
    src = index_current_path(root)
    if src is None:
        raise FileNotFoundError(f"no CURRENT store version under {root!r}")
    live = _open_ann_version(spark, src)
    if not isinstance(live, SegmentedAnnStore):
        live = SegmentedAnnStore(
            spark,
            src,
            _ann_manifest(
                [os.path.relpath(src, root)],
                [-1],
                live,
                live._metadata_cols,
                bool(getattr(live, "_quant", None)),
            ),
        )
    seg_name = _next_segment_name(root)
    seg = os.path.join(root, "segments", seg_name)
    data = os.path.join(seg, "data")
    if getattr(live, "_quant", None):
        # quantized fold: the resolved raw vectors re-quantize ONCE,
        # globally — compaction is the designated bounds-refresh
        # point (upserts never re-quantize; segments drift until here)
        n = _write_ann_segment(
            live._resolved_raw(),
            seg,
            (),
            quantized=True,
            bits=live.bits,
            n_tables=live.n_tables,
            id_col=live.id_col,
            vec_col=live.vec_col,
        )
        return _commit_ann_version(
            spark,
            root,
            _ann_manifest([f"segments/{seg_name}"], [n], live, (), True),
            marker_src=src,
            retain=retain,
        )
    (
        _clustered(
            live._resolved_candidates(F.lit(True)),
            live.n_tables << live.bits, "table", "bucket",
        )
        .write.mode("overwrite")
        .partitionBy("table", "bucket")
        .parquet(data)
    )
    tmpl = AnnStore(
        spark, data, live.bits, live.n_tables, live.id_col, live.vec_col
    )
    tmpl._metadata_cols = tuple(live._metadata_cols)
    tmpl._write_meta(data, {"metadata_cols": list(live._metadata_cols)})
    ids_dir = os.path.join(seg, "ids")
    (
        spark.read.parquet(data)
        .filter(F.col("table") == 0)
        .select(live.id_col)
        .write.mode("overwrite")
        .parquet(ids_dir)
    )
    n = _parquet_rows(ids_dir)
    return _commit_ann_version(
        spark,
        root,
        _ann_manifest(
            [f"segments/{seg_name}"], [n], live, live._metadata_cols, False
        ),
        marker_src=src,
        retain=retain,
    )


def _resolved_vectors(spark, version_dir: str) -> DataFrame:
    """The logical (id, vec) rows a committed ANN version serves —
    one row per live vector regardless of layout: segmented raw
    versions read ONE table slice per segment with last-wins
    shadowing (table 0 — every vector has a pointer copy in every
    table, so one slice is the whole set, read without the
    n_tables-fold duplication); segmented quantized versions read
    the raw sidecars; monolithic versions the same, un-segmented.
    IVF-PQ versions resolve last-wins over the raw sidecar pool
    (a tombstoned id's latest segment has no raw row, so the inner
    join drops it — the same survivor rule compaction folds by)."""
    import os

    m = _read_manifest(version_dir.rstrip("/"))
    if m is not None and m.get("layout") == "ivfpq":
        root = os.path.dirname(version_dir.rstrip("/"))
        segs = m["segments"]
        latest = (
            spark.read.parquet(os.path.join(root, "ids"))
            .filter(F.col("seg").isin(segs))
            .groupBy("id")
            .agg(F.max("seg").alias("seg"))
        )
        return (
            spark.read.parquet(os.path.join(root, "raw"))
            .filter(F.col("seg").isin(segs))
            .join(latest, ["id", "seg"])
            .select(
                F.col("id").alias(m["id_col"]),
                F.col("vec").alias(m["vec_col"]),
            )
        )
    store = _open_ann_version(spark, version_dir)
    if isinstance(store, SegmentedAnnStore):
        if store._quant:
            return store._resolved_raw()
        return store._resolved_candidates(F.col("table") == 0).select(
            store.id_col, store.vec_col
        )
    if store._quant:
        return spark.read.parquet(store.path.rstrip("/") + "/raw").select(
            store.id_col, store.vec_col
        )
    return (
        spark.read.parquet(store.path)
        .filter(F.col("table") == 0)
        .select(store.id_col, store.vec_col)
    )


def index_version_drift(
    spark, root: str, from_dir: str | None = None, to_dir: str | None = None
) -> DataFrame:
    """Content-drift report between two committed versions of a
    managed POSTINGS root — the lexical twin of ``ann_version_drift``
    (r15: drift observability now covers all three at-rest layouts):
    WHAT did the last upsert/delete change in the serving index?

    Each version's logical per-document content is summarized as an
    order-insensitive signature — md5 over the doc's sorted
    ``term:tf`` list (the resolved postings view, so last-wins
    shadowing and tombstones are already applied) — and the two
    signature sets full-outer join per doc_id:

    - ``added``   — only in the newer version;
    - ``removed`` — only in the older (row-level delete, or a
      compaction folding external tombstones);
    - ``changed`` — both, different signature (any term or tf moved
      — a dl-preserving edit still flips the signature, which doclens
      alone could not see).

    Unchanged docs drop: the report is bounded by the delta. Cost is
    one resolved-postings scan per version + two per-doc aggs — an
    audit query priced on the index, never the corpus text.
    Defaults diff the previous committed version against CURRENT
    (committed-only, the ann_version_drift rule). Returns
    (doc_id, status)."""
    import os

    if to_dir is None:
        to_dir = index_current_path(root)
        if to_dir is None:
            raise FileNotFoundError(f"no CURRENT index version under {root!r}")
    if from_dir is None:
        cur_name = os.path.basename(to_dir.rstrip("/"))
        older = [n for n in _committed_versions(root) if n < cur_name]
        if not older:
            raise ValueError(
                f"{root!r} has no committed version older than {cur_name!r} "
                "to diff against — pass from_dir explicitly"
            )
        from_dir = os.path.join(root, older[-1])

    def sig(version_dir: str, alias: str) -> DataFrame:
        posts = IndexReader(spark, version_dir).postings()
        return (
            posts.select(
                "doc_id", F.concat_ws(":", "term", F.col("tf").cast("string")).alias("__e")
            )
            .groupBy("doc_id")
            .agg(
                F.md5(
                    F.concat_ws("|", F.sort_array(F.collect_list("__e")))
                ).alias(alias)
            )
        )

    j = sig(from_dir, "__old").join(sig(to_dir, "__new"), "doc_id", "full_outer")
    status = (
        F.when(F.col("__old").isNull(), F.lit("added"))
        .when(F.col("__new").isNull(), F.lit("removed"))
        .when(F.col("__old") == F.col("__new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.select("doc_id", status.alias("status"))
        .filter(F.col("status") != "unchanged")
    )


def ann_version_drift(
    spark, root: str, from_dir: str | None = None, to_dir: str | None = None
) -> DataFrame:
    """Embedding-drift report between two committed versions of a
    managed ANN root — the maintenance-observability question every
    continuously re-embedded store needs answered: WHAT did the last
    upsert change, and by how much? Defaults compare the previous
    committed version against CURRENT.

    Full-outer join of the two versions' logical (id, vec) sets
    (one row per vector — no pointer-copy duplication, see
    ``_resolved_vectors``), classified per id:

    - ``added``    — only in the newer version (drift NULL);
    - ``removed``  — only in the older (never produced by upsert,
      which only shadows; a compaction after external tombstoning
      could);
    - ``replaced`` — present in both with a DIFFERENT vector;
      ``drift_micros = round((1 − cos(old, new)) · 1e6)`` — 0 means
      direction-identical re-embed, 2e6 a sign flip.

    Unchanged ids are dropped: the report is bounded by the delta,
    not the store. A re-embed batch whose drift distribution spikes
    is the canonical bad-model-push signal; this is the query that
    pages on it.

    Returns (id_col, status, drift_micros)."""
    import os

    if to_dir is None:
        to_dir = index_current_path(root)
        if to_dir is None:
            raise FileNotFoundError(f"no CURRENT store version under {root!r}")
    if from_dir is None:
        # COMMITTED versions only (r13 ADVICE): the lexically-latest
        # older dir can be a crashed upsert's (manifest written,
        # pointer never swapped) — diffing against a version that
        # never served reports drift nobody experienced
        cur_name = os.path.basename(to_dir.rstrip("/"))
        older = [n for n in _committed_versions(root) if n < cur_name]
        if not older:
            raise ValueError(
                f"{root!r} has no committed version older than {cur_name!r} "
                "to diff against — pass from_dir explicitly"
            )
        from_dir = os.path.join(root, older[-1])
    mm = _read_manifest(to_dir.rstrip("/"))
    if mm is not None and mm.get("layout") == "ivfpq":
        idc, vecc = mm["id_col"], mm["vec_col"]
    else:
        ref = _open_ann_version(spark, to_dir)
        idc, vecc = ref.id_col, ref.vec_col
    old = _resolved_vectors(spark, from_dir).select(
        F.col(idc), F.col(vecc).alias("__old")
    )
    new = _resolved_vectors(spark, to_dir).select(
        F.col(idc), F.col(vecc).alias("__new")
    )
    j = old.join(new, idc, "full_outer")
    status = (
        F.when(F.col("__old").isNull(), F.lit("added"))
        .when(F.col("__new").isNull(), F.lit("removed"))
        .when(F.col("__old") == F.col("__new"), F.lit("unchanged"))
        .otherwise(F.lit("replaced"))
    )
    drift = F.when(
        status == "replaced",
        F.round(
            (F.lit(1.0) - cosine(F.col("__old"), F.col("__new"))) * 1_000_000.0
        ).cast("bigint"),
    )
    return (
        j.select(idc, status.alias("status"), drift.alias("drift_micros"))
        .filter(F.col("status") != "unchanged")
    )


def vacuum_ann_store(root: str, retain: int = 2) -> list[str]:
    """Drop dead AnnStore version directories AND segments no
    retained manifest references, keeping the ``retain`` most recent
    versions (the live version is always among them — the pointer
    names the newest). Manifest-aware: a legacy monolithic version or
    a shared segment survives as long as any retained version serves
    from it. retain defaults to 2 (r12 ADVICE, the run_sketch_stream
    retain_versions discipline): an in-flight reader that resolved
    CURRENT just before an upsert's pointer swap may still hold the
    pre-upsert version — pass retain=1 only when this process is the
    sole reader. Returns the deleted directory names."""
    if retain < 1:
        raise ValueError(f"retain must be >= 1, got {retain}")
    return _vacuum_index_root(root, retain)


def _shadow_counts(
    pairs_df: DataFrame,
    positions: list[int],
    tomb_positions: set[int],
) -> list[int]:
    """Shadowed-id counts for every segment in ONE Spark job (r18,
    guide §1.2): for each position p, |{distinct ids in p that also
    appear at any position > p}|. Replaces index_report's per-segment
    join+count loops — O(segments) jobs, each joining against a
    re-built (and growing) union of newer segments — with a single
    pass: per-id position SET (collect_set dedups the band stores'
    per-band id repeats) → explode every position below the set's max
    → count per position. No self-join, two shuffle stages total.
    Tombstone positions report 0 (they are delete markers, never
    counted as shadowable data) and the newest position is 0 by
    construction, exactly the loop semantics. Skips the job entirely
    when no non-tombstone older segment exists (the loops ran no job
    there either). A boolean ``__data`` column, when present, marks
    which pairs are data: a pair with ``__data`` false (an id a CDC
    segment only deletes) shadows older positions but is not counted
    at its own."""
    countable = [
        p for p in positions[:-1] if p not in tomb_positions
    ] if positions else []
    if not countable:
        return [0] * len(positions)
    data = F.col("__data") if "__data" in pairs_df.columns else F.lit(True)
    rows = (
        pairs_df.groupBy("__id")
        .agg(
            F.collect_set(F.when(data, F.col("__pos"))).alias("__ps"),
            F.max("__pos").alias("__mx"),
        )
        .select(
            F.explode(
                F.filter("__ps", lambda p: p < F.col("__mx"))
            ).alias("__pos")
        )
        .groupBy("__pos")
        .count()
        .collect()
    )
    by_pos = {int(r["__pos"]): int(r["count"]) for r in rows}
    return [
        0 if p in tomb_positions else by_pos.get(p, 0) for p in positions
    ]


def index_report(spark, root: str) -> DataFrame:
    """Operational report over a managed root's CURRENT version — the
    observability that tells an operator WHEN to compact (pairs with
    the ``max_segments`` auto-compaction trigger; r13 verdict #7).
    Works for both managed layouts (postings index and ANN store) and
    returns one row per segment, oldest → newest:

    - ``segment``      — path relative to the root;
    - ``kind``         — 'data' or 'tombstone' (row-level delete);
    - ``layout``       — 'postings' | 'ann_raw' | 'ann_sq8';
    - ``rows``         — the manifest's per-segment count (-1 for a
      legacy monolithic base whose count was never recorded): a data
      segment's documents or vectors — a CDC segment's delete ids are
      not rows — and a tombstone's ids;
    - ``bytes``        — on-disk bytes under the segment dir;
    - ``shadowed_ids`` — how many of THIS segment's data ids a newer
      segment replaces or deletes: dead weight a fold would drop.
      Serve-time read amplification is the segment count; this
      column is the wasted fraction of it;
    - ``bounds_drift`` — SQ8 stores only: max over dims of the
      segment's |min-min₀|+|max-max₀| relative to the base segment's
      range — how far this delta's own quantization bounds have
      drifted from the base (compaction is the re-quantization
      point; large drift = compact soon). NULL elsewhere.

    Driver-side shaping is bounded by the segment count (which the
    auto-compaction policy bounds); the per-segment id counts are
    Spark jobs over the tiny id sidecars, never the data."""
    import json
    import os

    src = index_current_path(root)
    if src is None:
        raise FileNotFoundError(f"no CURRENT version under {root!r}")
    m = _read_manifest(src)
    out_schema = (
        "segment string, kind string, layout string, rows bigint, "
        "bytes bigint, shadowed_ids bigint, bounds_drift double"
    )

    def _du(d: str) -> int:
        total = 0
        for base, _, files in os.walk(d):
            for f in files:
                total += os.path.getsize(os.path.join(base, f))
        return total

    if m is not None and m.get("layout") == "ivfpq":
        # the third layout (functions/pq.py): segments are seg=N
        # Hive-partition dirs in three parallel pools (codes/raw/ids)
        # so serving stays ONE pruned scan; rows come from the
        # manifest's seg_n, shadow counts from the tiny ids sidecars
        segs = [int(s) for s in m["segments"]]
        tomb_set = {int(s) for s in m.get("tombstones", [])}
        seg_n = [int(x) for x in m.get("seg_n", [-1] * len(segs))]
        all_ids = spark.read.parquet(os.path.join(root, "ids")).filter(
            F.col("seg").isin(segs)
        )
        pairs = all_ids.select(
            F.col("seg").cast("long").alias("__pos"),
            F.col("id").alias("__id"),
        )
        # a CDC segment's ids/ also lists the ids it only deletes: its
        # data ids are its raw rows
        mixed = [s for s, d in zip(segs, m.get("seg_deletes", [])) if d]
        if mixed:
            pairs = pairs.withColumn(
                "__data", ~F.col("__pos").isin(mixed)
            ).unionByName(
                spark.read.parquet(os.path.join(root, "raw"))
                .filter(F.col("seg").isin(mixed))
                .select(
                    F.col("seg").cast("long").alias("__pos"),
                    F.col("id").alias("__id"),
                    F.lit(True).alias("__data"),
                )
            )
        # one aggregation job for every segment's shadowed-id count
        # (was one join+count job per older segment — r18)
        shadowed = _shadow_counts(pairs, segs, tomb_set)
        rows = [
            (
                f"seg={s}",
                "tombstone" if s in tomb_set else "data",
                "ivfpq",
                int(n),
                sum(
                    _du(os.path.join(root, sub, f"seg={s}"))
                    for sub in ("codes", "raw", "ids")
                ),
                int(sh),
                None,
            )
            for s, n, sh in zip(segs, seg_n, shadowed)
        ]
        return spark.createDataFrame(rows, out_schema)

    if m is not None and m.get("layout") == "bands":
        # the fourth layout (functions/dedup.py band store): flat
        # (id, band, band_hash) segments + id-list tombstones; rows
        # come from the manifest's seg_rows (r17 manifests record
        # them; -1 falls back to a footer-metadata count), shadowed
        # = this data segment's distinct ids named by ANY newer
        # segment (tombstoned or re-banded) — the dead weight
        # compact_band_store would drop
        from .dedup import _band_seg_meta

        segs_b, tombs_b, rows_b = _band_seg_meta(m)
        paths_b = [os.path.join(root, rel) for rel in segs_b]
        id_frames = [spark.read.parquet(p).select("id") for p in paths_b]
        # one aggregation job for every segment's shadowed-id count
        # (was one union+join+count job per data segment, the union
        # re-built and growing per step — r18); band segments repeat
        # an id per band, so the helper's distinct-pairs pass IS the
        # old per-side dropDuplicates
        pairs = None
        for i, fr in enumerate(id_frames):
            tagged = fr.select(
                F.lit(i).cast("long").alias("__pos"), F.col("id").alias("__id")
            )
            pairs = tagged if pairs is None else pairs.unionByName(tagged)
        shadowed_b = _shadow_counts(
            pairs,
            list(range(len(paths_b))),
            {i for i, t in enumerate(tombs_b) if t},
        )
        rows = []
        for i, (rel, p, t) in enumerate(zip(segs_b, paths_b, tombs_b)):
            n = rows_b[i]
            if n < 0:
                # legacy manifest without seg_rows: parquet footer
                # metadata, not a Spark count job (r18, guide §1/§5)
                n = _parquet_rows(p)
            rows.append(
                (rel, "tombstone" if t else "data", "bands", int(n),
                 _du(p), int(shadowed_b[i]), None)
            )
        return spark.createDataFrame(rows, out_schema)

    is_ann = ("seg_n" in m) if m is not None else os.path.exists(
        os.path.join(src, "_ann_meta.json")
    )
    if not is_ann:  # postings layouts (manifest or legacy monolithic)
        rdr = IndexReader(spark, src)
        layout = "postings"
        paths, counts, tombs = rdr.seg_paths, rdr.seg_n_docs, rdr.seg_tomb

        def seg_pairs(i, p):
            # delete markers shadow older segments but are no data
            return spark.read.parquet(p + "/doclens").select(
                F.col("doc_id").alias("__id"),
                _is_doc(F.col("dl")).alias("__data"),
            )

        drift = [None] * len(paths)
    else:  # ANN layouts (manifest or legacy monolithic sidecar)
        store = _open_ann_version(spark, src)
        if not isinstance(store, SegmentedAnnStore):
            store = SegmentedAnnStore(
                spark,
                src,
                _ann_manifest(
                    [os.path.relpath(src, root)],
                    [-1],
                    store,
                    store._metadata_cols,
                    bool(getattr(store, "_quant", None)),
                ),
            )
        layout = "ann_sq8" if getattr(store, "_quant", None) else "ann_raw"
        paths, counts, tombs = store.seg_paths, store.seg_n, store.seg_tomb

        def seg_pairs(i, p):
            def tag(df, data):
                return df.select(
                    F.col(store.id_col).alias("__id"), F.lit(data).alias("__data")
                )

            if not store.seg_n_del[i]:
                return tag(store._seg_ids(p), True)
            # a CDC segment's ids/ also lists the ids it only deletes
            return tag(store._seg_ids(p), False).unionByName(
                tag(store._seg_data_ids(p), True)
            )

        base_bounds = None
        drift = []
        for p, t in zip(paths, tombs):
            b = None
            if not t and layout == "ann_sq8":
                meta_p = os.path.join(_ann_seg_data_dir(p), "_ann_meta.json")
                if os.path.exists(meta_p):
                    with open(meta_p, encoding="utf-8") as f:
                        q = json.load(f).get("quant")
                    if q:
                        if base_bounds is None:
                            base_bounds = (q["mins"], q["maxs"])
                            b = 0.0
                        else:
                            mn0, mx0 = base_bounds
                            b = max(
                                (abs(lo - lo0) + abs(hi - hi0))
                                / max(hi0 - lo0, 1e-12)
                                for lo, hi, lo0, hi0 in zip(
                                    q["mins"], q["maxs"], mn0, mx0
                                )
                            )
            drift.append(b)

    # shadowed-id counts: the same shadow-union semantics serving
    # uses, computed for every segment in ONE aggregation job (was
    # one count job per older segment, each joining a growing
    # accumulated union — r18)
    pairs = None
    for i, p in enumerate(paths):
        tagged = seg_pairs(i, p).select(
            F.lit(i).cast("long").alias("__pos"), "__id", "__data"
        )
        pairs = tagged if pairs is None else pairs.unionByName(tagged)
    shadowed = _shadow_counts(
        pairs,
        list(range(len(paths))),
        {i for i, t in enumerate(tombs) if t},
    )
    rows = [
        (
            os.path.relpath(p, root),
            "tombstone" if t else "data",
            layout,
            int(c),
            _du(p),
            int(s),
            d,
        )
        for p, c, t, s, d in zip(paths, counts, tombs, shadowed, drift)
    ]
    return spark.createDataFrame(rows, out_schema)


def _clause_terms(clause_col: str, tag: str) -> Column:
    """(__c, __t) structs, one per token of an array<string> clause
    column, tagged ``tag`` — every element goes through the INDEX
    tokenizer, so a caller can pass raw words or whole phrases and
    match what the index stored. NULL clause arrays, NULL elements
    and empty arrays contribute nothing."""
    toks = F.flatten(
        F.transform(F.filter(F.col(clause_col), lambda x: x.isNotNull()), _tokens)
    )
    return F.coalesce(
        F.transform(toks, lambda t: F.struct(F.lit(tag).alias("__c"), t.alias("__t"))),
        F.array().cast("array<struct<__c:string,__t:string>>"),
    )


def bool_search_indexed(
    spark,
    queries_df: DataFrame,
    index_dir: str,
    query_id_col: str = "query_id",
    must_col: str = "must",
    should_col: str = "should",
    must_not_col: str = "must_not",
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 10,
    max_clause_rows: int = MAX_QUERY_TERM_ROWS,
) -> DataFrame:
    """ES-style boolean retrieval over the at-rest index (r11
    verdict #6; the reference's search backend exposes exactly this
    ``bool`` shape — W:121–129): per query, three ``array<string>``
    clause columns —

    - ``must``: the doc must contain EVERY must term;
    - ``must_not``: the doc must contain NONE of these;
    - ``should``: scoring-only when ``must`` is non-empty; when
      ``must`` is empty the doc must match at least one should term
      (ES ``minimum_should_match`` = 1 default for pure-should
      queries).

    Score = the same integer-micro BM25 tail as
    ``bm25_rank_batch_indexed`` summed over the (must ∪ should)
    terms present — "BM25 over docs matching +lang:en -site:spam"
    becomes index-side semi/anti-joins of posting lists instead of
    a corpus-side pre-filter. Partition pruning covers the union of
    ALL clause terms' buckets (must_not lists must be read to know
    what to exclude). The clause terms are collected ONCE
    driver-side, in one job that reads the caller's frame once (a
    query batch is tiny — the AnnStore probe-pairs / hit-buckets
    shaping contract), and the clause tables re-enter the plan as
    JVM-only ``local_frame`` side frames, so the serving plan never
    re-runs the clause tokenize per reference nor a Python worker per
    side-frame scan; the only wide exchanges are the per-(query, doc)
    sets the semantics require — eligibility semi-joins ride the
    aggregation key. Returns (query_id, doc_id, score, rank).

    ``max_clause_rows`` (default ``MAX_QUERY_TERM_ROWS``) bounds that
    driver-side shaping LOUDLY (r13 verdict #6, the ``max_eval_rows``
    refusal discipline): a batch with more (query, clause, term) rows
    refuses with ``QueryBatchTooLargeError`` naming the limit instead
    of silently collecting — the collect is capped at the bound (+1
    sentinel row), so even the refusing call never materializes an
    unbounded batch on the driver. Raise it explicitly when a giant
    offline batch is intended.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    idx = IndexReader(spark, index_dir)
    # one bounded driver job tokenizes all three clauses (Spark-side,
    # so clause normalization can never diverge from the index
    # tokenizer) in one projection of the caller's frame
    rows = _collect_query_terms(
        queries_df.select(
            F.col(query_id_col),
            F.inline(
                F.concat(
                    _clause_terms(must_col, "m"),
                    _clause_terms(should_col, "s"),
                    _clause_terms(must_not_col, "n"),
                )
            ),
        ).withColumn("__b", _index_bucket(F.col("__t"), idx.buckets)),
        "bool_search_indexed",
        max_clause_rows,
        "max_clause_rows",
    )
    by_clause: dict[str, set] = {"m": set(), "s": set(), "n": set()}
    for qid_v, c, t, _ in rows:
        by_clause[c].add((qid_v, t))
    qid_type = queries_df.schema[query_id_col].dataType
    pair_schema = _pair_schema(query_id_col, qid_type)
    score_pairs = by_clause["m"] | by_clause["s"]
    qmust, qshould, qnot, qscore = (
        local_frame(spark, list(pairs), pair_schema)
        for pairs in (by_clause["m"], by_clause["s"], by_clause["n"], score_pairs)
    )
    all_terms = sorted({r[2] for r in rows})
    hit_buckets = sorted({r[3] for r in rows})
    matched = idx.term_postings(all_terms, hit_buckets)
    # per-query must cardinality (0 for pure-should queries),
    # computed from the already-collected clause rows; queries with
    # no scoring clause at all can never match and are simply absent
    mc: dict = {}
    for qid_v, _ in by_clause["m"]:
        mc[qid_v] = mc.get(qid_v, 0) + 1
    qids = local_frame(
        spark,
        [(qv, mc.get(qv, 0)) for qv in {q for q, _ in score_pairs}],
        StructType(
            [StructField(query_id_col, qid_type), StructField("__mc", LongType())]
        ),
    )
    must_hits = (
        matched.join(F.broadcast(qmust), "__t")
        .groupBy(query_id_col, "doc_id")
        .agg(F.count_distinct("__t").alias("__hit_mc"))
    )
    elig_must = must_hits.join(F.broadcast(qids), query_id_col).filter(
        (F.col("__mc") > 0) & (F.col("__hit_mc") == F.col("__mc"))
    ).select(query_id_col, "doc_id")
    should_hits = (
        matched.join(F.broadcast(qshould), "__t")
        .select(query_id_col, "doc_id")
        .distinct()
    )
    elig_should = should_hits.join(
        F.broadcast(qids.filter(F.col("__mc") == 0)), query_id_col, "leftsemi"
    )
    not_hits = (
        matched.join(F.broadcast(qnot), "__t")
        .select(query_id_col, "doc_id")
        .distinct()
    )
    eligible = (
        elig_must.unionByName(elig_should)
        .join(not_hits, [query_id_col, "doc_id"], "left_anti")
    )
    return _bm25_score_tail(
        matched,
        idx.term_dfs(all_terms, hit_buckets, matched),
        (idx.n_docs, idx.avgdl),
        qscore,
        query_id_col,
        "doc_id",
        k1,
        b,
        topk,
        eligible=eligible,
    )


def _footer_schema(table_dir: str, partitions: tuple[str, ...] = ()):
    """The Spark schema of a parquet table directory, read driver-side
    from a footer (like ``_stats_local``): the schema Spark stores in
    its footers, which its own inference prefers, so reading with it
    equals reading with inference minus the inference job. Footers
    hold the data columns only; the named ``partitions`` follow as
    the integer columns inference gives ``col=N`` directories. None
    when the directory holds no Spark-written footer."""
    import json

    from pyspark.sql.types import IntegerType, StructType

    footer = _local_dataset(table_dir).schema.metadata or {}
    row = footer.get(b"org.apache.spark.sql.parquet.row.metadata")
    if row is None:
        return None
    schema = StructType.fromJson(json.loads(row))
    for p in partitions:
        schema = schema.add(p, IntegerType())
    return schema


def _index_read_schemas(root: str, positional: bool = False):
    """Explicit read schemas for the postings/terms stores, with the
    doc_id type taken from the (always-readable, non-partitioned)
    doclens table's footer — partitioned dirs written from an empty
    corpus carry no inferable schema, and the empty index must
    serve."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    # tf/dl/df are exact integer counts stored as INT (r18 guide §2.3
    # "narrower types": the double forms doubled their bytes through
    # every postings shuffle — build's (term,doc) exchange, upsert's
    # anti-join, compaction's fold — and on disk; every consumer
    # promotes them into double arithmetic, so scores are identical).
    id_type = _footer_schema(root + "/doclens")["doc_id"].dataType
    postings = StructType(
        [
            StructField("term", StringType()),
            StructField("doc_id", id_type),
            StructField("tf", IntegerType()),
            StructField("dl", IntegerType()),
        ]
        + ([StructField("pos", ArrayType(IntegerType()))] if positional else [])
        + [StructField("bucket", IntegerType())]
    )
    terms = StructType(
        [
            StructField("term", StringType()),
            StructField("df", IntegerType()),
            StructField("bucket", IntegerType()),
        ]
    )
    return postings, terms


def bm25_rank_batch_indexed(
    spark,
    queries_df: DataFrame,
    index_dir: str,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 10,
) -> DataFrame:
    """Query-time half of batch BM25 against a
    ``build_postings_index`` store: NO corpus tokenize, NO corpus
    shuffle — the plan reads only the postings/terms partitions the
    query terms hash into (partition pruning on ``bucket``), then
    runs the identical broadcast-expand + integer-micro scoring tail
    as ``bm25_rank_batch``, so scores and ranks are equal by
    construction. The per-batch cost is proportional to the matched
    postings, not the corpus — index once, serve many batches.

    The caller's query frame is read ONCE: one bounded job collects
    its (query, term, bucket) rows driver-side (the query batch is
    tiny next to the corpus — the ``AnnStore.probe`` driver-side probe
    contract; past ``MAX_QUERY_TERM_ROWS`` rows it raises
    ``QueryBatchTooLargeError``). The scans' partition and term
    filters are literal ``isin`` lists, the query terms re-enter the
    plan as a JVM-only ``local_frame`` and the global stats as
    literals, so the serving plan runs no Python worker and no
    semi-join against a term frame.

    Returns (query_id, doc_id, score, rank) — ``doc_id`` is the
    index's canonical id column name.

    Works over both at-rest layouts via ``IndexReader``: monolithic
    ``build_postings_index`` directories serve with the pre-LSM plan
    verbatim; segmented (manifest) versions serve the union of pruned
    per-segment scans with last-wins shadowing.
    """
    idx = IndexReader(spark, index_dir)
    # per query ROW, its distinct tokens: a query id repeated across
    # rows keeps one qterms row per (row, term), exactly as before
    rows = _collect_query_terms(
        queries_df.select(
            F.col(query_id_col),
            F.explode(F.array_distinct(_tokens(F.col(query_text_col)))).alias("__t"),
        ).withColumn("__b", _index_bucket(F.col("__t"), idx.buckets)),
        "bm25_rank_batch_indexed",
    )
    qterms = local_frame(
        spark,
        [(r[0], r[1]) for r in rows],
        _pair_schema(query_id_col, queries_df.schema[query_id_col].dataType),
    )
    terms = sorted({r[1] for r in rows})
    hit_buckets = sorted({r[2] for r in rows})
    matched = idx.term_postings(terms, hit_buckets)
    # avgdl is 0.0 over an empty corpus — keeps the empty index
    # servable (no postings match, so the value never enters a score)
    return _bm25_score_tail(
        matched,
        idx.term_dfs(terms, hit_buckets, matched),
        (idx.n_docs, idx.avgdl),
        qterms,
        query_id_col,
        "doc_id",
        k1,
        b,
        topk,
    )


def _pair_schema(query_id_col: str, qid_type):
    """(query_id, __t) — the schema of a serving path's query-term
    side frame."""
    from pyspark.sql.types import StringType, StructField, StructType

    return StructType(
        [StructField(query_id_col, qid_type), StructField("__t", StringType())]
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k_rrf: float = 60.0,
    topk: int = 10,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al.) of two ranked candidate
    lists — the standard hybrid-search combiner (vector ranks +
    lexical ranks → one list; Weaviate/ES hybrid mode is exactly
    this shape). Inputs carry (id, rank); score = Σ 1/(k + rank)
    over the lists containing the id, rounded to 6dp before the
    final ordering (id tiebreak) for cross-engine determinism.

    RRF works on RANKS, not scores, so the two retrievers need no
    score calibration — the reason it is the default fusion in
    production hybrid search. One full-outer join over two top-N
    lists (N rows each — trivial at any corpus scale; the heavy
    lifting happened in the retrievers).

    ``group_cols`` generalizes to BATCH fusion: each group (e.g. a
    query_id) fuses independently — the join keys become
    group_cols + id, and top-k applies per group via one window
    instead of a global limit."""
    gcols = list(group_cols)
    a = ranked_a.select(
        *gcols, F.col(id_col).alias("__ka"), F.col(rank_col).alias("__ra")
    )
    b = ranked_b.select(
        *[F.col(g).alias(f"__g_{g}") for g in gcols],
        F.col(id_col).alias("__kb"),
        F.col(rank_col).alias("__rb"),
    )
    contrib_a = F.lit(1.0) / (F.lit(k_rrf) + F.col("__ra").cast("double"))
    contrib_b = F.lit(1.0) / (F.lit(k_rrf) + F.col("__rb").cast("double"))
    cond = F.col("__ka") == F.col("__kb")
    for g in gcols:
        cond = cond & (F.col(g) == F.col(f"__g_{g}"))
    fused = a.join(b, cond, "full_outer").select(
        *[F.coalesce(F.col(g), F.col(f"__g_{g}")).alias(g) for g in gcols],
        F.coalesce(F.col("__ka"), F.col("__kb")).alias(id_col),
        F.round(
            F.coalesce(contrib_a, F.lit(0.0)) + F.coalesce(contrib_b, F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    if not gcols:
        return fused.orderBy(F.col("rrf_score").desc(), F.col(id_col)).limit(topk)
    from pyspark.sql import Window

    w = Window.partitionBy(*gcols).orderBy(F.col("rrf_score").desc(), F.col(id_col))
    return (
        fused.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= topk)
        .drop("__rn")
    )


def phrase_match(
    spark,
    queries_df: DataFrame,
    index_dir: str,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    slop: int = 0,
    with_positions: bool = False,
) -> DataFrame:
    """Exact PHRASE search against a POSITIONAL
    ``build_postings_index(positions=True)`` store — the classic
    positional-index algorithm (match_phrase in the reference's ES
    backend, engine-side): tokenize each query phrase WITH offsets,
    fetch only the bucket partitions the phrase terms hash into,
    and per (query, doc) intersect the offset-shifted position
    lists — a doc matches where some position p has t1 at p, t2 at
    p+1, … Returns (query_id, doc_id, n_hits) for docs containing
    the full phrase ≥1 time.

    Scale shape: the corpus is never scanned (pruned postings
    reads), the per-(query, doc) work is array intersection over
    the phrase terms' position lists, and the only shuffle is the
    (query, doc) regroup. Duplicate phrase terms ('table table')
    are handled naturally — the same posting joins once per offset,
    each shifted differently.

    ``slop`` (the ES match_phrase dial, simplified to an exact,
    oracle-able contract): consecutive phrase terms may be separated
    by up to ``slop`` extra tokens, IN ORDER — slop=0 is the exact
    phrase. Matching is a chain-reachability fold over the position
    lists (term i's positions that continue some term i-1 chain
    within the gap); ``n_hits`` counts the distinct END positions of
    complete chains, which for slop=0 equals the exact phrase
    occurrence count.

    ``with_positions``: additionally emit ``first_pos`` — the
    1-based token index where the EARLIEST match starts (at slop=0:
    min chain end − phrase length + 1; with slop>0 the start is not
    derivable from the end alone, so first_pos is the earliest
    chain END) — the anchor snippet/highlight extraction needs
    (``phrase_snippets``)."""
    out = _phrase_hits(
        spark, queries_df, index_dir, query_id_col, query_text_col, slop
    )
    if not with_positions:
        return out.select(query_id_col, "doc_id", "n_hits")
    return out.select(query_id_col, "doc_id", "n_hits", "first_pos")


def _phrase_hits(
    spark,
    queries_df: DataFrame,
    index_dir: str,
    query_id_col: str,
    query_text_col: str,
    slop: int,
) -> DataFrame:
    """``phrase_match``'s hits with ``first_pos`` and the phrase
    length ``__qlen``. The caller's frame is read once: one bounded
    job collects its (query, offset, term, bucket) rows, and the
    phrase terms and lengths re-enter the plan as ``local_frame``
    side frames."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    idx = IndexReader(spark, index_dir)
    if not idx.positional:
        raise ValueError(
            "phrase_match needs a positional index — rebuild with "
            "build_postings_index(positions=True)"
        )
    rows = _collect_query_terms(
        queries_df.select(
            F.col(query_id_col),
            F.posexplode(_tokens(F.col(query_text_col))).alias("__off", "__t"),
        ).withColumn("__b", _index_bucket(F.col("__t"), idx.buckets)),
        "phrase_match",
    )
    qid_type = queries_df.schema[query_id_col].dataType
    qterms = local_frame(
        spark,
        [(q, off, t) for q, off, t, _ in rows],
        StructType(
            [
                StructField(query_id_col, qid_type),
                StructField("__off", IntegerType()),
                StructField("__t", StringType()),
            ]
        ),
    )
    n_terms: dict = {}
    for r in rows:
        n_terms[r[0]] = n_terms.get(r[0], 0) + 1
    qlen = local_frame(
        spark,
        list(n_terms.items()),
        StructType(
            [StructField(query_id_col, qid_type), StructField("__qlen", LongType())]
        ),
    )
    matched = (
        idx.postings(sorted({r[3] for r in rows}), sorted({r[2] for r in rows}))
        .join(F.broadcast(qterms), F.col("term") == F.col("__t"))
        .select(query_id_col, "doc_id", "__off", "pos")
    )
    per_doc = matched.groupBy(query_id_col, "doc_id").agg(
        F.count(F.lit(1)).alias("__nterms"),
        F.collect_list(F.struct("__off", "pos")).alias("__parts"),
    )
    sorted_parts = F.array_sort(F.col("__parts"))
    arrs = F.transform(sorted_parts, lambda s: s["pos"])
    max_gap = 1 + slop
    # chain-reachability fold: term i keeps the positions that extend
    # some surviving term-(i-1) chain by 1..1+slop tokens; slop=0
    # degenerates to the exact-phrase position intersection
    viable = F.aggregate(
        F.slice(arrs, 2, 1_000_000),
        F.element_at(arrs, 1),
        lambda acc, a: F.filter(
            a,
            lambda q: F.exists(
                acc, lambda v: (q > v) & (q - v <= F.lit(max_gap))
            ),
        ),
    )
    first_end = F.array_min(viable)
    first_pos = (
        first_end - (F.col("__qlen") - 1) if slop == 0 else first_end
    ).cast("int")
    return (
        per_doc.join(F.broadcast(qlen), query_id_col)
        .filter(F.col("__nterms") == F.col("__qlen"))
        .withColumn("n_hits", F.size(viable).cast("bigint"))
        .filter(F.col("n_hits") > 0)
        .withColumn("first_pos", first_pos)
    )


def phrase_snippets(
    spark,
    queries_df: DataFrame,
    index_dir: str,
    docs_df: DataFrame,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    text_col: str = "text",
    id_col: str = "doc_id",
    context: int = 3,
) -> DataFrame:
    """Snippet/highlight extraction around the first phrase hit (the
    serving feature next to match_phrase — the reference's ES
    backend highlights; this is that shape engine-side): exact
    ``phrase_match(with_positions=True)`` finds (doc, first_pos),
    the hits join back to the corpus (hits are top-k-sized — the
    join broadcasts the HIT side, never the corpus), and the
    snippet is the token slice [first_pos − context, match end +
    context] re-joined with single spaces. Returns (query_id,
    doc_id, n_hits, first_pos, snippet). Token-space snippets
    (normalized text), not raw-byte offsets — the tokenizer is the
    same one the index was built with."""
    hits = _phrase_hits(
        spark, queries_df, index_dir, query_id_col, query_text_col, slop=0
    ).select(query_id_col, "doc_id", "n_hits", "first_pos", "__qlen")
    toks = docs_df.select(
        F.col(id_col).alias("doc_id"), _tokens(F.col(text_col)).alias("__toks")
    )
    start = F.greatest(F.lit(1), F.col("first_pos") - F.lit(context))
    length = (
        F.col("first_pos") + F.col("__qlen").cast("int") - start + F.lit(context)
    )
    return (
        toks.join(F.broadcast(hits), "doc_id")
        .select(
            query_id_col,
            "doc_id",
            "n_hits",
            "first_pos",
            F.array_join(F.slice(F.col("__toks"), start, length), " ").alias(
                "snippet"
            ),
        )
    )
