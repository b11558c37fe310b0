"""Deduplication: exact, MinHash-LSH, SimHash, n-gram Jaccard.

The reference has no dedup (its idempotence story is 'skip index if it
exists', website-ingestion-pipeline.py:116-118); these are the
north-star extensions for LLM training-data pipelines, each designed
around one bounded shuffle:

- exact: fingerprint (md5) → groupBy — one shuffle on the hash.
- MinHash-LSH: shingle → k min-hashes → band → bucket self-join —
  the candidate-pair join is an equi join on the band hash, so cost
  is Σ bucket² not n².
- SimHash: per-token hash bit votes → hamming-comparable signature.
- n-gram Jaccard: inverted-index self-join on shingles (pairs only
  materialize when they share ≥1 shingle), then |∩|/|∪| filter.

Hash choice: md5 (bit-identical in every engine) for the
oracle-checked paths; ``xxhash64`` is the faster JVM-native swap-in
when cross-engine determinism isn't required.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """T10 exact: content fingerprint → canonical id + copy count.
    ``keep_id`` = min id per fingerprint (the survivor)."""
    return (
        df.withColumn("fp", F.md5(F.col(text_col)))
        .groupBy("fp")
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (native SQL:
    split → transform(sequence) → slice/concat → dedup). The word
    array is bound once per row as the lambda variable of an outer
    one-element ``transform`` (then ``flatten``); referencing the
    ``split`` inside the shingle lambda would re-split the whole text
    for every shingle — quadratic in document length."""
    return F.array_distinct(
        F.flatten(
            F.transform(
                F.array(F.split(col, " ")),
                lambda words: F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.size(words) - F.lit(n - 1), F.lit(1))
                    ),
                    lambda i: F.concat_ws(" ", F.slice(words, i, n)),
                ),
            )
        )
    )


def band_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """(id, band, band_hash) — the banded-MinHash signature table of
    a corpus (explode shingles → k md5 columns → per-id min → bands
    of ``band_size`` slots concatenated into one md5 band hash).
    Shared by the self-join near-dup path (``minhash_lsh_candidates``)
    and the CROSS-corpus paths (``corpus.decontaminate_fuzzy``: the
    eval side's band table broadcasts against the corpus side's) so
    the band definition cannot fork between them. The explode shape
    beats k per-row array transforms ~3x (shingles computed once;
    mins come from map-side partial aggregation)."""
    inv = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("s"),
    )
    hashed = inv.select(
        "id",
        *[
            F.md5(F.concat(F.lit(f"mh|{i}|"), F.col("s"))).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    sigs = hashed.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"mh_{i}") for i in range(num_hashes)]
    )
    n_bands = num_hashes // band_size
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws("|", *[F.col(f"mh_{b * band_size + j}") for j in range(band_size)])
            ).alias("band_hash"),
        )
        for b in range(n_bands)
    ]
    return sigs.select(
        "id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("id", "bb.band", "bb.band_hash")


def novelty_gate(
    new_df: DataFrame,
    at_rest_df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Incremental-crawl novelty filter (r16): admit only NEW
    documents that are neither EXACT copies nor banded-MinHash
    near-dup candidates of the AT-REST corpus — the recrawl-append
    path that prices dedup by the DELTA instead of re-pairing the
    whole corpus with itself on every crawl (at 100 TB the at-rest
    self-join is the thing you must never re-run):

    ONE tier: ``band_table(delta) ⋉ band_table(at-rest)`` — a
    band-hash SEMI-join, Σ|delta_bucket|·|rest_bucket| (the
    ``decontaminate_fuzzy`` cross-corpus shape), then one
    delta-bounded anti-join drops the collided ids. A separate exact
    md5 tier would be REDUNDANT, not stricter: identical text has an
    identical MinHash signature, so an exact copy collides on EVERY
    band and the near tier catches it by construction — one tier
    keeps the delta subtree evaluated once instead of three times
    (the plan-exchange audit that killed the two-tier draft).

    ``band_table`` is shared with the self-dedup family, so the gate
    and the batch dedup cannot disagree on what 'duplicate' means.
    Batch-INTERNAL duplicates are deliberately not collapsed here —
    run ``exact_dedup_groups`` / ``minhash_lsh_candidates`` on the
    admitted delta afterwards (the production chain order). Returns
    the admitted NEW rows with their original columns."""
    nb = band_table(
        new_df, text_col, id_col, shingle_n, num_hashes, band_size
    )
    rb = band_table(
        at_rest_df, text_col, id_col, shingle_n, num_hashes, band_size
    )
    collided = (
        nb.join(rb, ["band", "band_hash"], "left_semi")
        .select(F.col("id").alias(id_col))
        .dropDuplicates()
    )
    return new_df.join(collided, id_col, "left_anti")


def write_band_store(
    df: DataFrame,
    root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
) -> str:
    """Materialize a corpus generation's banded-MinHash table under a
    MANAGED VERSIONED ROOT — the at-rest half of the novelty gate
    (r16, the SCALE.md posture made real): at 100 TB the at-rest
    corpus's signatures are built ONCE per generation and served to
    every crawl, so the recurring gate cost is delta-only — the
    at-rest side is a parquet scan of pre-computed (id, band,
    band_hash) rows, not a re-shingle of the whole corpus.

    Same substrate as the postings/ANN/PQ roots (MANIFEST.json
    version dirs, atomic CURRENT swap, ``_COMMITS`` log): segments
    live under ``segments/s_N``, the manifest records the BANDING
    PARAMETERS (shingle_n/num_hashes/band_size) so a reader can never
    gate with a mismatched band definition, retention vacuum is
    ``similarity._vacuum_index_root`` (exposed as
    ``vacuum_band_store``), and ``resolve_version_dir`` gives version
    pinning for free. Generations accumulate via
    ``upsert_band_store``; takedowns retire their fingerprints via
    ``delete_band_ids`` (tombstone segments, r17), and
    ``compact_band_store`` folds the segment list back to one.

    BUILD-ONLY (r16 ADVICE): on a root that already has a committed
    CURRENT this refuses loudly instead of silently committing a
    manifest that names ONLY the new segment — which would drop every
    prior generation from serving, the same silent-base-build hazard
    ``LegacyPqRootError`` guards on the IVF-PQ root. Use
    ``upsert_band_store`` to append a generation, or point a rebuild
    at a fresh root. Returns the committed version path."""
    from .similarity import (
        _commit_index_version,
        _next_index_version,
        _next_segment_name,
        _write_manifest,
        index_current_path,
    )
    import os

    if index_current_path(root) is not None:
        raise ValueError(
            f"band store at {root!r} already has a committed CURRENT "
            "version; write_band_store would silently drop every prior "
            "generation from serving. Append this generation with "
            "upsert_band_store(df, root), or build the rebuild into a "
            "fresh root and swap paths."
        )
    seg = _next_segment_name(root)
    seg_path = os.path.join(root, "segments", seg)
    band_table(df, text_col, id_col, shingle_n, num_hashes, band_size).write.parquet(
        seg_path
    )
    from .similarity import _parquet_rows

    n_rows = _parquet_rows(seg_path)
    name = _next_index_version(root)
    vdir = os.path.join(root, name)
    _write_manifest(
        vdir,
        {
            "layout": "bands",
            "segments": [f"segments/{seg}"],
            "tombstones": [False],
            "seg_rows": [int(n_rows)],
            "shingle_n": int(shingle_n),
            "num_hashes": int(num_hashes),
            "band_size": int(band_size),
            "id_col": id_col,
            "text_col": text_col,
        },
    )
    _commit_index_version(root, name)
    return vdir


def _band_store_manifest(root: str, version: str | None = None) -> tuple[str, dict]:
    from .similarity import _read_manifest, resolve_version_dir

    src = resolve_version_dir(root, version)
    m = _read_manifest(src)
    if m is None or m.get("layout") != "bands":
        raise ValueError(
            f"{root!r} is not a band store (manifest layout="
            f"{None if m is None else m.get('layout')!r}); build one with "
            "write_band_store"
        )
    return src, m


def _band_seg_meta(m: dict) -> tuple[list[str], list[bool], list[int]]:
    """Segment list + per-segment tombstone flags and recorded row
    counts, defaulting the keys r16 manifests predate (all-data,
    unknown counts)."""
    segs = list(m["segments"])
    tombs = [bool(t) for t in m.get("tombstones", [False] * len(segs))]
    rows = [int(r) for r in m.get("seg_rows", [-1] * len(segs))]
    return segs, tombs, rows


def _append_band_segment(
    df_rows: DataFrame, root: str, m: dict, tombstone: bool
) -> str:
    """Shared append path for upsert/delete: write ``df_rows`` as the
    next segment, commit a version whose manifest extends the
    parallel segments/tombstones/seg_rows lists. Returns the new
    version path."""
    from .similarity import (
        _commit_index_version,
        _next_index_version,
        _next_segment_name,
        _write_manifest,
    )
    import os

    seg = _next_segment_name(root)
    seg_path = os.path.join(root, "segments", seg)
    df_rows.write.parquet(seg_path)
    from .similarity import _parquet_rows

    n_rows = _parquet_rows(seg_path)
    segs, tombs, rows = _band_seg_meta(m)
    name = _next_index_version(root)
    vdir = os.path.join(root, name)
    _write_manifest(
        vdir,
        {
            **m,
            "segments": [*segs, f"segments/{seg}"],
            "tombstones": [*tombs, bool(tombstone)],
            "seg_rows": [*rows, int(n_rows)],
        },
    )
    _commit_index_version(root, name)
    return vdir


def upsert_band_store(df: DataFrame, root: str) -> str:
    """O(delta) generation append: band the ADMITTED delta with the
    STORE'S OWN parameters (the manifest is the single source of the
    band definition — a caller cannot fork it), write it as a new
    segment, commit a version naming old + new segments. The crawl
    loop is gate → admit → upsert-admitted → next crawl gates against
    the union. Refuses loudly on a root that was never built.

    Last-wins across segments (r17): a doc re-banded here AFTER a
    ``delete_band_ids`` tombstone re-enters serving — its newer
    segment shadows the tombstone, the resurrect path for re-cleared
    content."""
    _, m = _band_store_manifest(root)
    return _append_band_segment(
        band_table(
            df, m["text_col"], m["id_col"], m["shingle_n"], m["num_hashes"],
            m["band_size"],
        ),
        root,
        m,
        tombstone=False,
    )


def delete_band_ids(ids_df: DataFrame, root: str, id_col: str | None = None) -> str:
    """Row-level delete on the band store (r16 verdict #3 — the
    §2.18 X2 tombstone treatment on the fourth managed layout): a
    takedown at the corpus layer must be able to retire its
    FINGERPRINTS too, or the novelty gate refuses legitimately
    re-cleared content forever (an identical resubmission collides
    with the dead doc's at-rest bands). Writes a TOMBSTONE-ONLY
    segment — a distinct id list, flagged in the manifest's
    ``tombstones`` — and the last-wins shadow rule hides every older
    band row of those ids from serving; ``compact_band_store``
    physically drops the shadowed rows and the tombstone itself at
    the next fold. O(delete set): no live segment is rewritten; ids
    not in the store are harmless no-ops. A later
    ``upsert_band_store`` that re-bands a deleted id shadows the
    tombstone (resurrect-then-redelete works, pytest-pinned).
    ``id_col`` defaults to the manifest's. Returns the new version
    path."""
    _, m = _band_store_manifest(root)
    col = id_col or m["id_col"]
    return _append_band_segment(
        ids_df.select(F.col(col).alias("id")).distinct(), root, m, tombstone=True
    )


def _band_live_rows(spark, root: str, m: dict) -> DataFrame:
    """The store's LIVE (id, band, band_hash) rows under last-wins
    segment shadowing: a data segment's rows are dead iff ANY newer
    segment names the id (a tombstone deletes it; a newer data
    segment re-bands it). Fast path: a manifest with no tombstone
    has nothing to shadow — band rows are append-only novel ids, and
    even a re-banded duplicate contributes identical rows — so the
    whole store is ONE multi-path parquet scan (the r16 serve plan).
    With tombstones the anti-join depth is the segment count, which
    ``maybe_compact_band_store`` bounds."""
    import os

    segs, tombs, _ = _band_seg_meta(m)
    paths = [os.path.join(root, rel) for rel in segs]
    if not any(tombs):
        return spark.read.parquet(*paths)
    id_frames = [spark.read.parquet(p).select("id") for p in paths]
    live: DataFrame | None = None
    for i, (p, t) in enumerate(zip(paths, tombs)):
        if t:
            continue
        cur = spark.read.parquet(p)
        newer = id_frames[i + 1:]
        if newer:
            nid = newer[0]
            for x in newer[1:]:
                nid = nid.unionByName(x)
            cur = cur.join(nid.dropDuplicates(), "id", "left_anti")
        live = cur if live is None else live.unionByName(cur)
    assert live is not None  # segments[0] is always a data segment
    return live


def compact_band_store(spark, root: str, retain: int = 2) -> str:
    """Segment fold + vacuum for the band store (r16 verdict #2 —
    the X1 auto-compaction treatment on the fourth layout): every
    ``upsert_band_store``/tombstone appends a segment, the
    maintenance stream one per micro-batch, and gate cost grows with
    the list (k partition reads; with tombstones, k shadow
    anti-joins). Rewrites the shadow-RESOLVED live rows as ONE
    clustered segment (repartitioned on (band, band_hash) — the
    gate's join key — with size-capped files), commits a manifest
    naming just that segment, then retention-vacuums old versions
    (``retain`` ≥ 2 protects a concurrent gate that resolved CURRENT
    just before the swap). Tombstoned ids vanish physically here.
    Gates before and after are row-identical (pytest-pinned); the
    root-level ``_last_batch_id`` stream marker lives outside the
    version dirs, so replay protection survives the fold. Returns
    the new version path."""
    from .similarity import (
        _commit_index_version,
        _next_index_version,
        _next_segment_name,
        _vacuum_index_root,
        _write_manifest,
    )
    import os

    if retain < 1:
        raise ValueError(f"retain must be >= 1, got {retain}")
    _, m = _band_store_manifest(root)
    seg = _next_segment_name(root)
    seg_path = os.path.join(root, "segments", seg)
    (
        _band_live_rows(spark, root, m)
        .repartition("band", "band_hash")
        .write.option("maxRecordsPerFile", 1 << 20)
        .parquet(seg_path)
    )
    from .similarity import _parquet_rows

    n_rows = _parquet_rows(seg_path)
    name = _next_index_version(root)
    vdir = os.path.join(root, name)
    _write_manifest(
        vdir,
        {
            **m,
            "segments": [f"segments/{seg}"],
            "tombstones": [False],
            "seg_rows": [int(n_rows)],
        },
    )
    _commit_index_version(root, name)
    _vacuum_index_root(root, retain)
    return vdir


def maybe_compact_band_store(
    spark, root: str, max_segments: int, retain: int = 2
) -> str | None:
    """Band-store twin of ``maybe_compact_index``: fold iff the live
    manifest names more than ``max_segments`` segments — the
    auto-compaction trigger ``run_novelty_stream(max_segments=...)``
    wires into its foreachBatch. Returns the new version path when a
    fold ran, None when within bounds."""
    from .similarity import _live_segment_count

    if max_segments < 1:
        raise ValueError(f"max_segments must be >= 1, got {max_segments}")
    if _live_segment_count(root) <= max_segments:
        return None
    return compact_band_store(spark, root, retain=retain)


def vacuum_band_store(root: str, retain: int = 2) -> list[str]:
    """Retention GC for band-store roots — the shared manifest-aware
    vacuum (committed-only horizons, CURRENT always kept, in-flight
    writers protected)."""
    from .similarity import _vacuum_index_root

    if retain < 1:
        raise ValueError(f"retain must be >= 1, got {retain}")
    return _vacuum_index_root(root, retain)


def novelty_gate_indexed(
    new_df: DataFrame,
    root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    version: str | None = None,
) -> DataFrame:
    """The novelty gate served from an AT-REST band store: band the
    delta with the store's manifest parameters, semi-join the
    pre-computed at-rest bands (a parquet scan — the at-rest corpus
    text is never touched, let alone re-shingled), anti-join the
    collided ids. ``version=`` pins a generation (audit reads: which
    docs would LAST week's corpus have admitted?). Result ≡
    ``novelty_gate(new_df, at_rest_corpus)`` by construction — the
    store just materializes the at-rest half (pytest-pinned). The
    at-rest side is the shadow-RESOLVED live row set (r17): tombstoned
    ids (``delete_band_ids``) are invisible, and with no tombstone in
    the manifest the resolution collapses to the r16 single
    multi-path scan."""
    spark = new_df.sparkSession
    src, m = _band_store_manifest(root, version)
    rest_bands = _band_live_rows(spark, root, m)
    nb = band_table(
        new_df, text_col, id_col, m["shingle_n"], m["num_hashes"],
        m["band_size"],
    )
    collided = (
        nb.join(rest_bands, ["band", "band_hash"], "left_semi")
        .select(F.col("id").alias(id_col))
        .dropDuplicates()
    )
    return new_df.join(collided, id_col, "left_anti")


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """T10 near-dup: MinHash + banded LSH candidate pairs.

    Signature plan: explode shingles → k md5 columns → groupBy(id)
    with k min() aggregates. The explode shape beats k per-row array
    transforms ~3x (each array transform re-evaluates the shingle
    build; the exploded rows compute shingles once and the mins come
    from map-side partial aggregation). Bands of ``band_size``
    signature slots concat into a band hash; docs sharing any band
    hash become candidate pairs via an equi self-join (shuffle on
    band hash — never quadratic).
    Output: (id_a, id_b, band) with id_a < id_b, distinct.
    """
    bands = band_table(df, text_col, id_col, shingle_n, num_hashes, band_size)
    # bucket-collect instead of a self-join: the signature pipeline is
    # evaluated ONCE (a self-join would recompute the whole md5/groupBy
    # lineage for each side) and buckets pair-expand locally.
    # NO trailing distinct: it would be a full shuffle of the pair set
    # to dedup rows that cannot repeat — each doc has exactly ONE
    # band_hash per band, so a pair (a,b,band) arises in exactly one
    # bucket, and within a bucket the sorted i<j expansion emits each
    # pair once. (Contrast ngram_jaccard_pairs, where a pair DOES
    # co-occur in many shingle buckets and the dedup is load-bearing.)
    return _bucket_pairs(bands, ["band", "band_hash"], "id").select(
        "id_a", "id_b", "band"
    )


#: production default for the LSH bucket-size guard: a bucket of b ids
#: expands to b²/2 pairs, so one degenerate band value (all-identical
#: docs, constant-ish text) turns the pair stage quadratic. 1024 bounds
#: any single bucket to ≤ ~524k pairs. Buckets past the cap carry no
#: discrimination (the band collided for thousands of docs) — identical
#: docs belong to the EXACT dedup pass (hash groupBy), which runs first
#: in the production chain (scripts/stress_dedup.py measures both).
DEFAULT_MAX_BUCKET = 1024


def _bucket_pairs(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    max_bucket: int | None = None,
) -> DataFrame:
    """All ordered pairs (id_a < id_b) of ids sharing a bucket.

    groupBy bucket → sorted collect_list → nested-transform pair
    expansion → explode. One shuffle, upstream evaluated once. A
    bucket of b ids expands to b²/2 pairs — ``max_bucket`` drops
    buckets above the cap before expansion (see DEFAULT_MAX_BUCKET).
    """
    from ..sources.catalog import spread

    ids = F.sort_array(F.collect_list(F.col(id_col)))
    buckets = (
        df.groupBy(*bucket_cols).agg(ids.alias("ids")).filter(F.size("ids") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket)
    # the bucket rows are few but explode to b²/2 pairs each — respread
    # so AQE's post-shuffle coalescing can't serialize the expansion
    buckets = spread(buckets)
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size("ids")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return buckets.select(*bucket_cols, F.explode(pairs).alias("p")).select(
        *bucket_cols, "p.id_a", "p.id_b"
    )


def minhash_lsh_candidates_fast(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Production-speed MinHash-LSH: xxhash64 instead of md5.

    Same plan shape as ``minhash_lsh_candidates`` (explode → partial
    min → bands → bucket pairs) but hashing with the JVM-native
    64-bit xxhash64 (seeded per slot) instead of md5 hex strings:
    ~8 longs per shingle instead of 8×32-char strings — less CPU and
    a much smaller shuffle payload. Not oracle-checkable (DuckDB's
    hash() is a different function), so the md5 twin carries the
    correctness gate and this one carries the throughput. The bucket
    guard is ON here (``max_bucket``): flooded bands (identical docs)
    are the exact-dedup pass's job, not a quadratic pair expansion —
    pass None to disable on bounded corpora.
    """
    inv = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("s"),
    )
    hashed = inv.select(
        "id", *[F.xxhash64(F.lit(i), F.col("s")).alias(f"h{i}") for i in range(num_hashes)]
    )
    sigs = hashed.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"mh_{i}") for i in range(num_hashes)]
    )
    n_bands = num_hashes // band_size
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.col(f"mh_{b * band_size + j}") for j in range(band_size)]
            ).alias("band_hash"),
        )
        for b in range(n_bands)
    ]
    bands = sigs.select("id", F.explode(F.array(*band_structs)).alias("bb")).select(
        "id", "bb.band", "bb.band_hash"
    )
    # no trailing distinct — same uniqueness argument as the md5 twin
    return _bucket_pairs(bands, ["band", "band_hash"], "id", max_bucket).select(
        "id_a", "id_b", "band"
    )


def simhash16(col: Column, seed: str = "sh") -> Column:
    """T10: 16-bit SimHash as a bit-string.

    Bit j's vote = Σ over words of ±1 by the top bit of hex digit j of
    md5(seed|word); bit set iff vote > 0. 16 bits keeps the expression
    tree small while preserving the hamming-distance semantics; widen
    by stacking seeds. Portable: only md5 + substring + CASE.
    """
    words = F.split(col, " ")

    def vote_at(j: int) -> Column:
        # two-arg merge lambda only. PySpark binds lambda arguments by
        # parameter count, so an extra parameter (even a defaulted one)
        # changes the binding: on a ``transform`` lambda, a second
        # parameter makes it an (element, index) lambda and binds the
        # index Column to it.
        return F.aggregate(
            words,
            F.lit(0),
            lambda acc, w: acc
            + F.when(
                F.substring(F.md5(F.concat(F.lit(seed), w)), j + 1, 1).isin(
                    "8", "9", "a", "b", "c", "d", "e", "f"
                ),
                F.lit(1),
            ).otherwise(F.lit(-1)),
        )

    bits = [
        F.when(vote_at(j) > 0, F.lit("1")).otherwise(F.lit("0")) for j in range(16)
    ]
    return F.concat(*bits)


#: production default for the hot-shingle cap: a shingle present in b
#: docs expands to b²/2 candidate pairs, so an uncapped 'stopword
#: shingle' is quadratic in corpus size. 256 keeps any single bucket
#: ≤ ~32k pairs regardless of corpus size while touching only
#: ubiquitous (hence discrimination-free) shingles.
DEFAULT_MAX_DOC_FREQ = 256


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.2,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """T10: n-gram Jaccard similarity via inverted-index self-join.

    explode(shingles) → equi self-join on shingle → |∩| per pair →
    |∪| = |A|+|B|−|∩| → filter. Hot-key guard ON BY DEFAULT: shingles
    in more than ``max_doc_freq`` docs are dropped before pairing
    (each would cost b²/2 pairs — the quadratic scale-killer). This
    slightly undercounts intersections for pairs sharing ubiquitous
    shingles (documented approximation); pass ``max_doc_freq=None``
    for the exact, oracle-checkable form on bounded corpora.
    """
    sh = df.select(
        F.col(id_col).alias("id"), word_shingles(F.col(text_col), shingle_n).alias("sh")
    )
    # r18 (guide §2.3/§2.4): the shingle-set SIZE rides each posting
    # row as a struct field instead of living in a separate ``sizes``
    # table — the old shape evaluated the (split → transform →
    # array_distinct) shingle expression over the WHOLE corpus a
    # second time just to learn |A|, then paid two joins to re-attach
    # it to the pairs. Packing (id, sz) into one struct keeps
    # ``_bucket_pairs``'s sorted-collect ordering (structs compare
    # lexicographically and ``id`` leads, so pair orientation
    # id_a < id_b is unchanged). Cost:
    # +4 bytes per posting row through the one bucket exchange; win:
    # one corpus shingle pass and two joins gone.
    inv = sh.select(
        F.struct(F.col("id"), F.size("sh").alias("sz")).alias("id_sz"),
        F.explode("sh").alias("s"),
    )
    # inverted-index bucket expansion (see _bucket_pairs): one pass
    # over inv instead of a recompute-both-sides self-join.
    # ``max_doc_freq`` drops ubiquitous shingles before pairing — a
    # shingle in b docs costs b²/2 pairs, so hot 'stopword shingles'
    # dominate quadratically at corpus scale. A shingle's bucket in the
    # pair expansion IS its posting list, so the doc-frequency cap is
    # exactly ``_bucket_pairs``'s max_bucket filter — applied inside
    # the one groupBy that builds the buckets, no extra doc-freq
    # pre-pass or anti-join shuffle. Capping changes the intersection
    # counts (documented approximation; both the capped and uncapped
    # forms are oracle-checked as separate DQs).
    # grouping by the WHOLE (id, sz) struct pair ≡ grouping by
    # (id_a, id_b): sz is a function of id, so no group splits/merges
    inter = (
        _bucket_pairs(inv, ["s"], "id_sz", max_bucket=max_doc_freq)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .select(
            F.col("id_a.id").alias("id_a"),
            F.col("id_b.id").alias("id_b"),
            F.col("id_a.sz").alias("sz_a"),
            F.col("id_b.sz").alias("sz_b"),
            "n_inter",
        )
    )
    out = inter.withColumn(
        "jaccard",
        F.round(
            F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6
        ),
    ).filter(F.col("jaccard") >= threshold)
    return out.select("id_a", "id_b", "jaccard")


def dup_clusters_star(pairs: DataFrame, max_iters: int = 50) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    ACM SoCC'14 — public algorithm). Output matches ``dup_clusters``:
    (doc_id, cluster_id) with cluster_id = min id in the component.

    Why a second CC: min-label propagation (``dup_clusters``) needs
    O(diameter) rounds — fine for LSH near-dup graphs (cliques,
    diameter 2-3), quadratic-wall on pathological chains (a 10⁶-long
    chain needs 10⁶ rounds). Star contraction converges in O(log² n)
    rounds REGARDLESS of diameter, so it is the safe default when the
    edge structure is unknown (cross-shard URL graphs, citation
    chains). Per round it costs 2 groupBys + 2 equi joins (both keyed
    on the node id) vs label-prop's 1 join + 1 groupBy — more per
    round, exponentially fewer rounds.

    Implementation note: both half-rounds are expressed as
    groupBy(min) + join back on the same key — NOT collect_list of
    the neighborhood — so emission stays degree-linear and no row
    ever materializes a whole component (a giant component's star
    center has degree = component size; an array that big is an
    executor OOM at 100 TB).

    - large-star: for each node u with m = min(N(u) ∪ {u}), re-attach
      every LARGER neighbor v > u to m: edge set := {(v, m)}.
    - small-star: orient edges to the larger endpoint; for each node
      u with smaller neighbors N⁻(u) and m = min(N⁻(u)), attach u and
      all of N⁻(u) to m.

    Edges are kept canonical (a < b); the fixpoint is a forest of
    stars rooted at each component's min. Convergence is detected by
    an order-independent edge-set signature (count + bit_xor of
    xxhash64) staying fixed across a full round — observed on the
    rows of the round's own checkpoint job (``Dataset.observe``), so
    it costs no extra scan or job.

    r18 job-count cut (guide §1.2/§2.4): each half-round's
    groupBy(min) + join-back pair is expressed as ONE window
    (min over partitionBy(key)) — identical algebra (the join
    attached the group min to every row of the key; the window does
    exactly that in a single pass), so a round is one linear plan
    [sym → window(a) → window(b) → distinct → checkpoint] instead of
    two checkpointed join trees plus a signature scan: 3 jobs/round
    → 1, and sym is shuffled once instead of feeding a groupBy and a
    join separately. Window state is the per-key row group
    (spill-safe WindowExec buffer) — the same per-key fan-in the
    join's reduce side already had, so no new skew exposure.
    """
    from pyspark.sql import Observation, Window

    def _sig_metrics(obs: "Observation", df: DataFrame) -> DataFrame:
        return df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64('cc', a, b))").alias("x"),
        )

    obs0 = Observation()
    edges = _sig_metrics(
        obs0,
        pairs.select(
            F.least(F.col("id_a"), F.col("id_b")).alias("a"),
            F.greatest(F.col("id_a"), F.col("id_b")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
    ).localCheckpoint()
    m0 = obs0.get
    if m0["n"] == 0:
        return edges.select(F.col("a").alias("doc_id"), F.col("b").alias("cluster_id"))

    sig = (m0["n"], m0["x"])
    lw = Window.partitionBy("a")
    sw = Window.partitionBy("b")
    for _ in range(max_iters):
        # -- large-star: symmetric view; per node a, m = least(min
        # neighbor, a); re-attach every LARGER neighbor b > a to m.
        # The b > a filter sits ABOVE the window (not pushable — it
        # references a non-partition column), so mn is the min over
        # the FULL neighborhood, exactly the old groupBy's input.
        sym = edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        # NO intra-round distinct here: |large| <= |sym| = 2|edges|
        # with or without it (re-attachment maps rows 1:1) and the
        # small-star min is idempotent under duplicate edges; the
        # END-of-round distinct still bounds cross-round growth.
        large = (
            sym.withColumn("mn", F.min("b").over(lw))
            .filter(F.col("b") > F.col("a"))
            # least(mn, a) <= a < b: canonical, no loops
            .select(F.least("mn", "a").alias("a"), F.col("b"))
        )
        # -- small-star: per larger endpoint b with min smaller
        # neighbor mn, attach b and all its smaller neighbors to mn.
        # Per row (a, b): the min row (a == mn) emits the center edge
        # (mn, b) — every group has one, duplicates collapse in the
        # distinct — and every other row emits its attachment
        # (mn, a); the union of those IS attach_small ∪ attach_center
        # of the join form, as sets.
        small = large.withColumn("mn", F.min("a").over(sw))
        new_edges = small.select(
            F.col("mn").alias("na"),
            F.when(F.col("a") == F.col("mn"), F.col("b"))
            .otherwise(F.col("a"))
            .alias("nb"),
        ).select(F.col("na").alias("a"), F.col("nb").alias("b")).distinct()
        obs = Observation()
        edges = _sig_metrics(obs, new_edges).localCheckpoint()
        m = obs.get
        new_sig = (m["n"], m["x"])
        if new_sig == sig:
            break
        sig = new_sig
    # robust label extraction (one groupBy): label = min(neighbors, self)
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    return (
        sym.groupBy("a")
        .agg(F.min("b").alias("nmin"))
        .select(
            F.col("a").alias("doc_id"),
            F.least(F.col("nmin"), F.col("a")).alias("cluster_id"),
        )
    )


def dup_clusters(pairs: DataFrame, max_iters: int = 10) -> DataFrame:
    """Connected components over candidate-duplicate pairs → cluster
    labels (cluster_id = min doc id in the component; everything else
    in the component is a drop candidate).

    Iterative min-label propagation: each round every node takes the
    minimum label among itself and its neighbors, until a fixpoint.
    Duplicate clusters have tiny diameter (usually cliques from LSH
    bands), so convergence is 2-3 rounds; ``max_iters`` bounds
    adversarial chains. Each round is one join + one aggregate, all
    keyed — at 100 TB this is the standard alternating-star CC
    shape. Input: (id_a, id_b[, ...]); output: (doc_id, cluster_id).

    ``max_iters`` must be >= 1: round 1 is fused into label
    initialization (the groupBy below), so the minimum work is one
    propagation round — a bound of 0 cannot mean "no propagation"
    and is rejected rather than silently running one round.
    """
    if max_iters < 1:
        raise ValueError(
            f"max_iters must be >= 1 (round 1 is fused into initialization), "
            f"got {max_iters}"
        )
    # localCheckpoint: iterative algorithms MUST truncate lineage —
    # otherwise every round re-evaluates the entire upstream candidate
    # pipeline (measured 42s → ~3s at sf0.1) and the plan doubles per
    # iteration. Edges materialize once; labels re-materialize per round.
    edges = (
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .unionByName(pairs.select(F.col("id_b").alias("a"), F.col("id_a").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    # round 1 fused into initialization: with identity labels the
    # first neighbor-min join is joining label(b) == b, so it reduces
    # to a plain groupBy(a).min(b) — one aggregate replaces the
    # node-distinct AND the first round's join+aggregate+checkpoint
    # (for LSH clique graphs that converge in 2-3 rounds this removes
    # a third of the loop's shuffles; measured ~0.4 s of 3.0 s at
    # sf0.1). Symmetric edges guarantee every node appears as `a`.
    labels = (
        edges.groupBy("a")
        .agg(F.min("b").alias("nmin"))
        .select(
            F.col("a").alias("node"),
            F.least(F.col("a"), F.col("nmin")).alias("label"),
        )
        .localCheckpoint()
    )
    from pyspark.sql import Observation

    for _ in range(max_iters - 1):
        neighbor_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nmin"))
        )
        # carry the did-anything-change flag through the label pass and
        # OBSERVE its sum on the checkpoint job itself (r18): the
        # convergence check costs no separate Spark job per round —
        # previously a filter+limit+count job over the checkpointed
        # result, now a CollectMetrics node on the same materialization.
        obs = Observation()
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("new_label"),
                F.col("label").alias("old_label"),
            )
            .select(
                "node",
                F.col("new_label").alias("label"),
                (F.col("new_label") != F.col("old_label")).alias("chg"),
            )
            .observe(obs, F.sum(F.col("chg").cast("long")).alias("n_chg"))
            .localCheckpoint()
        )
        changed = obs.get["n_chg"] or 0
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def repeated_passage_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    stride: int = 16,
) -> DataFrame:
    """Repeated-passage detection — the grouping core of exact
    SUBSTRING dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"): doc-level dedup misses the
    boilerplate, licenses, and templated passages that recur inside
    otherwise-distinct documents, and those repeats are what language
    models memorize. Strided k-char shingles are hashed (md5 — the
    cross-engine hash), any hash seen in >1 distinct document marks a
    shared passage, and each document reports how many of its spans
    are shared. Returns (id_col, n_shared_spans), shared-span docs
    only — downstream either drops the spans (true substring dedup)
    or uses the count as a boilerplate-heaviness quality signal.

    100 TB shape: one explode (k/stride dial the shingle mass — at
    stride=16 the exploded set is ~len/16 rows per doc), ONE
    hash-keyed shuffle for the cross-doc test, one id-keyed count.
    The ">1 distinct docs" predicate is computed as
    ``min(id) != max(id)`` over a window partitioned by the hash —
    exact, with O(1) aggregation state and a spill-safe row buffer
    per group (WindowExec spills; a collect_set agg buffer for a
    million-doc boilerplate hash must fit in memory), and one
    exchange where the naive distinct-agg + join-back plan costs
    three (count_distinct alone is a two-exchange expand). All JVM
    expressions — same cost family as exact dedup, stride trading
    recall for shuffle mass. Full-window shingling (stride=1, the
    paper's suffix-array equivalent for fixed k) is the same plan
    with 16x the exploded rows.
    """
    from pyspark.sql import Window

    if "__text" in df.columns and text_col != "__text":
        raise ValueError(
            "repeated_passage_spans: input column __text collides with the "
            "helper column — rename it first"
        )
    base = df.select(F.col(id_col), F.col(text_col).alias("__text")).filter(
        F.length("__text") >= k
    )
    sh = base.select(
        id_col,
        F.explode(
            F.sequence(F.lit(0), F.length("__text") - k, F.lit(stride))
        ).alias("p"),
        "__text",
    ).select(
        id_col,
        F.md5(F.expr(f"substring(__text, p + 1, {k})")).alias("h"),
    )
    w = Window.partitionBy("h")
    return (
        sh.withColumn(
            "shared", F.min(id_col).over(w) != F.max(id_col).over(w)
        )
        .filter("shared")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("int").alias("n_shared_spans"))
    )


def _hamming16(a: Column, b: Column) -> Column:
    """Exact hamming distance between two 16-char bit strings."""
    d: Column = F.lit(0)
    for j in range(16):
        d = d + F.when(
            F.substring(a, j + 1, 1) != F.substring(b, j + 1, 1), F.lit(1)
        ).otherwise(F.lit(0))
    return d.cast("int")


def moved_content_pairs(
    old: DataFrame,
    new: DataFrame,
    key: str = "url",
    text_col: str = "text",
    max_hamming: int = 2,
) -> DataFrame:
    """Cross-generation moved-content detection: pages that
    DISAPPEARED from one crawl generation and REAPPEARED under a new
    URL with (near-)identical content — the re-crawl intelligence
    that turns an apparent delete+add into a redirect/migration
    signal (feeds URL canonicalization and spares a re-ingest).

    Shape, 100 TB-ready: added = new∖old keys, removed = old∖new
    keys (two anti-joins); each side gets a 16-bit SimHash; the
    candidate join uses the PIGEONHOLE banding — the signature
    splits into ``max_hamming + 1`` bands, and two signatures within
    that hamming distance must agree exactly on ≥1 band — so
    candidates come from an equi join on (band_idx, band_bits),
    never an added×removed cross product; exact hamming then
    verifies. Returns (new_url, old_url, hamming ≤ max_hamming).

    The DQ oracle computes the NAIVE all-pairs hamming filter, so
    the driver independently verifies the banding loses no pair
    (pigeonhole completeness), not just that the join runs."""
    n_bands = max_hamming + 1
    if not 1 <= n_bands <= 16:
        raise ValueError(f"max_hamming must be in [0, 15], got {max_hamming}")
    added = new.join(old.select(key), key, "left_anti").select(
        F.col(key).alias("new_url"), simhash16(F.col(text_col)).alias("__ha")
    )
    removed = old.join(new.select(key), key, "left_anti").select(
        F.col(key).alias("old_url"), simhash16(F.col(text_col)).alias("__hr")
    )
    # even band boundaries over the 16 bits
    bounds = [round(i * 16 / n_bands) for i in range(n_bands + 1)]

    def banded(df: DataFrame, sig: str) -> DataFrame:
        bands = F.array(
            *[
                F.struct(
                    F.lit(i).alias("band_idx"),
                    F.substring(
                        F.col(sig), bounds[i] + 1, bounds[i + 1] - bounds[i]
                    ).alias("band"),
                )
                for i in range(n_bands)
            ]
        )
        return df.select("*", F.explode(bands).alias("__b")).select(
            *df.columns, F.col("__b.band_idx"), F.col("__b.band")
        )

    cand = (
        banded(added, "__ha")
        .join(banded(removed, "__hr"), ["band_idx", "band"])
        .select("new_url", "__ha", "old_url", "__hr")
        .distinct()  # a pair may agree on several bands
    )
    return (
        cand.withColumn("hamming", _hamming16(F.col("__ha"), F.col("__hr")))
        .filter(F.col("hamming") <= max_hamming)
        .select("new_url", "old_url", "hamming")
    )


def hamming64_pairs(
    hashes: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 2,
) -> DataFrame:
    """Near-dup pairs over any 64-bit BIGINT fingerprint (r13 verdict
    #3 — the image-phash leg of the dedup mandate, but content-
    agnostic: dhash/ahash, winnowed doc hashes, any 64-bit sketch).
    The 100 TB shape is the ``moved_content_pairs`` pigeonhole
    discipline lifted from 16-bit string signatures to BIGINT bit
    arithmetic: the hash splits into ``max_hamming + 1`` bit bands
    (shiftRightUnsigned + mask — pure JVM expressions), two hashes
    within the hamming budget MUST agree exactly on ≥ 1 band, so
    candidates come from an equi join on (band_idx, band_bits) —
    cost Σ bucket², never n² — and ``bit_count(a XOR b)`` verifies
    exactly. NULL hashes (undecodable media) drop out. Returns
    (id_a, id_b, hamming ≤ max_hamming), id_a < id_b.

    The DQ oracle computes the NAIVE all-pairs hamming filter from
    closed-form content, so the driver independently certifies
    banding completeness AND the decode→hash pipeline, not just that
    the join runs."""
    n_bands = max_hamming + 1
    if not 1 <= n_bands <= 64:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    h = hashes.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("__id"), F.col(hash_col).cast("bigint").alias("__h")
    )
    bounds = [round(i * 64 / n_bands) for i in range(n_bands + 1)]
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftrightunsigned(F.col("__h"), bounds[i])
                .bitwiseAND(
                    F.lit((1 << (bounds[i + 1] - bounds[i])) - 1).cast("bigint")
                )
                .alias("band"),
            )
            for i in range(n_bands)
        ]
    )
    banded = h.select("__id", "__h", F.explode(bands).alias("__b")).select(
        "__id", "__h", F.col("__b.band_idx"), F.col("__b.band")
    )
    right = banded.select(
        F.col("__id").alias("__id2"),
        F.col("__h").alias("__h2"),
        "band_idx",
        "band",
    )
    cand = (
        banded.join(right, ["band_idx", "band"])
        .filter(F.col("__id") < F.col("__id2"))
        .select("__id", "__h", "__id2", "__h2")
        .distinct()  # a pair may agree on several bands
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("__h").bitwiseXOR(F.col("__h2"))).cast("int")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("__id").alias("id_a"),
            F.col("__id2").alias("id_b"),
            "hamming",
        )
    )


def remove_repeated_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_len: int = 10,
    sep: str = "\n",
) -> DataFrame:
    """Corpus-level EXACT LINE dedup with keep-first semantics — the
    C4 discipline (Raffel et al. 2020 kept one occurrence of every
    three-sentence span; Lee et al. 2022 measure the memorization
    cost of leaving such repeats in). ``repeated_passage_spans``
    DETECTS cross-doc boilerplate; this operator REMOVES it: every
    line whose trimmed length is ≥ ``min_line_len`` survives only in
    its globally-first occurrence — first by (``id_col``, position) —
    and is dropped from every later document. Short lines (headers,
    bullets, blanks) never participate: removing every later blank
    line would shred formatting for no dedup gain. Returns
    (``id_col``, text) with each document's surviving lines rejoined
    in original order; a document whose EVERY line was removed drops
    out entirely (an all-boilerplate document IS a duplicate — the
    doc-level analogue of ``exact_dedup_groups`` keeping one
    survivor), and NULL-text documents drop with it (posexplode of a
    null split).

    100 TB shape: one ``posexplode`` (linear in corpus lines), ONE
    hash-keyed exchange for the global first-occurrence window
    (row_number over the md5 of the line — WindowExec spills, so a
    million-copy boilerplate line is a big SORTED group, never an
    in-memory buffer), one id-keyed aggregation to reassemble. No
    joins, no driver state. The md5 key is the cross-engine choice
    (the oracle recomputes it bit-identically); swap ``xxhash64`` for
    production speed. Skew note: THE pathological key is the empty/
    boilerplate line repeated across the whole corpus — short lines
    are SALTED to singleton window keys (so the all-blanks hot
    partition cannot form), and for long repeats the window's
    sort-based exec spills (this is exactly why the plan uses
    row_number-over-window, not a collect_list).

    Reference anchor: no equivalent (the reference ingests pages
    one-at-a-time, website-ingestion-pipeline.py:100-118); this is
    the corpus-wide cleanup a 100 TB crawl needs before training
    export (E8).
    """
    from pyspark.sql import Window

    for c in ("__line", "__pos", "__rn", "__s"):
        if c in df.columns:
            raise ValueError(
                f"remove_repeated_lines: input column {c} collides with a "
                "helper column — rename it first"
            )
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(sep))).alias(
            "__pos", "__line"
        ),
    )
    # ONE window pass: short lines get a SALTED singleton key (line +
    # id + pos) so they never collide into a dedup group — the
    # all-blank-lines hot partition cannot form — while long lines
    # key on md5(line) alone for the global first-occurrence rank. A
    # filter-split union would keep shorts out of the exchange
    # entirely, but it duplicates the upstream subtree (two scans of
    # a raw source; two EXECUTIONS of a composed pipeline) — one
    # skew-free exchange over everything is the better 100 TB trade.
    is_short = F.length(F.trim(F.col("__line"))) < min_line_len
    key = F.when(
        is_short,
        F.md5(
            F.concat_ws(
                "\x00",
                F.col("__line"),
                F.col(id_col).cast("string"),
                F.col("__pos").cast("string"),
            )
        ),
    ).otherwise(F.md5(F.col("__line")))
    w = Window.partitionBy(key).orderBy(F.col(id_col).asc(), F.col("__pos").asc())
    kept = (
        lines.withColumn("__rn", F.row_number().over(w))
        # the is_short OR-guard makes short-line retention independent
        # of the (astronomically unlikely) salted-key hash collision
        .filter((F.col("__rn") == 1) | is_short)
        .drop("__rn")
    )
    ordered = kept.select(
        id_col,
        F.struct(F.col("__pos"), F.col("__line")).alias("__s"),
    )
    return ordered.groupBy(id_col).agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list("__s")), lambda s: s["__line"]),
            sep,
        ).alias("text")
    )


def fuzzy_join_blocked(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_dist: int = 1,
    block_prefix_len: int = 2,
    max_block_pairs: int | None = 100_000_000,
) -> DataFrame:
    """Blocked fuzzy entity resolution: every (left, right) row pair
    whose string columns are within Levenshtein distance
    ``max_dist``, found WITHOUT the all-pairs cross product. Output:
    both inputs' columns plus ``dist`` (int). The record-linkage
    primitive (same vendor spelled two ways, OCR'd titles, crawl
    URLs with one-char typos) — the string-edit-space analogue of
    the hamming64/minhash banding families above.

    Blocking is the classic two-key scheme, and it is COMPLETE (not
    heuristic) for pairs whose first ``block_prefix_len`` characters
    agree:
      - block key 1: the first ``block_prefix_len`` characters —
        candidates must share it (edits inside the prefix are the
        documented recall boundary: widen with a second pass on a
        suffix or phonetic key if the workload edits prefixes);
      - block key 2: string LENGTH, length-banded — an edit-distance
        ≤ k pair differs in length by ≤ k, so the left side keys on
        its own length and the right side fans out to the 2k+1
        lengths it could match (F.explode of a k-bounded sequence —
        a constant fan-out, NOT a data-dependent blowup).
    Both keys fold into one equi-join key, so Catalyst plans a plain
    shuffle hash join; the quadratic levenshtein() runs ONLY inside
    blocks, JVM-side, as a post-join filter in the same stage. At
    100 TB the cost is Σ|block_L|·|block_R| over (prefix, length)
    cells — bounded by the name distribution, not n²; a hot prefix
    cell (e.g. every row starting "ht") is diluted by the length
    band and can be further split by raising block_prefix_len.

    ``max_block_pairs`` is the hot-block guard (the max_eval_rows /
    max_clause_rows refusal discipline on the one remaining
    silently-quadratic surface): a bounded pre-pass — two partial
    per-block-key count aggs + an equi-join over the (tiny) key
    space — prices Σ|block_L|·|block_R| EXACTLY (the right side's
    2k+1 length fan-out included, so the estimate is the true
    levenshtein-eval count) and refuses past the cap, naming the fix.
    Pass ``None`` to skip the pre-pass when the key distribution is
    known-safe (the two input scans run once for the guard and once
    for the join — the lazy-recompute trade, cheap next to the
    quadratic blowup the guard prevents).
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    if block_prefix_len < 1:
        raise ValueError(f"block_prefix_len must be >= 1, got {block_prefix_len}")
    reserved = {"dist", "__bk", "__dl"}
    clash = reserved & (set(left.columns) | set(right.columns))
    if clash:
        raise ValueError(
            f"fuzzy_join_blocked reserves column(s) {sorted(clash)}; "
            "rename them on the input before joining"
        )
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        # r14 ADVICE: a shared column (including left_col == right_col,
        # the natural self-dedup call) makes the post-join levenshtein
        # reference ambiguous and the output columns collide — refuse
        # with the fix instead of failing downstream in analysis
        raise ValueError(
            f"fuzzy_join_blocked: left and right share column(s) "
            f"{sorted(overlap)} — the joined output would be ambiguous; "
            "alias one side first, e.g. right.select([F.col(c).alias"
            "('r_' + c) for c in right.columns])"
        )
    k = int(max_dist)
    lkey = F.concat_ws(
        "\x00",
        F.substring(F.col(left_col), 1, block_prefix_len),
        F.length(F.col(left_col)).cast("string"),
    )
    l = left.where(F.col(left_col).isNotNull()).withColumn("__bk", lkey)
    r = (
        right.where(F.col(right_col).isNotNull())
        .withColumn(
            "__dl", F.explode(F.expr(f"sequence(-{k}, {k})"))
        )
        .withColumn(
            "__bk",
            F.concat_ws(
                "\x00",
                F.substring(F.col(right_col), 1, block_prefix_len),
                (F.length(F.col(right_col)) + F.col("__dl")).cast("string"),
            ),
        )
        .drop("__dl")
    )
    if max_block_pairs is not None:
        est_row = (
            l.groupBy("__bk").agg(F.count(F.lit(1)).alias("__ln"))
            .join(r.groupBy("__bk").agg(F.count(F.lit(1)).alias("__rn")), "__bk")
            .agg(F.sum(F.col("__ln") * F.col("__rn")).alias("__pairs"))
            .head()
        )
        est = int(est_row["__pairs"] or 0)
        if est > int(max_block_pairs):
            raise ValueError(
                f"fuzzy_join_blocked: the blocking scheme would compare "
                f"{est:,} candidate pairs (> max_block_pairs="
                f"{int(max_block_pairs):,}) — the block keys are too "
                f"coarse for this data (a hot prefix/length cell). Raise "
                f"block_prefix_len (currently {block_prefix_len}) to split "
                "the hot blocks, pre-filter the inputs, or raise/disable "
                "max_block_pairs deliberately if the quadratic cost is "
                "intended"
            )
    joined = l.join(r, "__bk")
    if k == 1:
        # sound pigeonhole pre-filter (r17 guide §1.2 per-task work;
        # the ER fixture at sf0.1 verifies 32M block pairs): one edit
        # touches ONE alignment position, so with h = floor(min_len/2)
        # either the first h chars match exactly (edit past h) or the
        # last h chars do (edit before len-h) — every dist<=1 pair
        # satisfies it (h+h <= min_len covers all positions), so the
        # filter can only drop pairs levenshtein would reject. A
        # ~h-char equality with early-exit is ~30x cheaper than the
        # full DP, and on prefix-blocked name data it rejects >99% of
        # candidates before the DP runs.
        lc, rc = F.col(left_col), F.col(right_col)
        h = F.floor(F.least(F.length(lc), F.length(rc)) / F.lit(2)).cast("int")
        half_match = (
            F.substr(lc, F.lit(1), h) == F.substr(rc, F.lit(1), h)
        ) | (
            F.substr(lc, F.length(lc) - h + 1, h)
            == F.substr(rc, F.length(rc) - h + 1, h)
        )
        joined = joined.where(half_match)
    # bounded levenshtein: the threshold form computes only the
    # 2k+1-wide DP band (O(n*k), not O(n^2)) and bails early at -1
    # for pairs past k; surviving rows carry the exact distance, so
    # the emitted (pair, dist) set is unchanged.
    return (
        joined.withColumn(
            "dist", F.levenshtein(F.col(left_col), F.col(right_col), k)
        )
        .where((F.col("dist") >= 0) & (F.col("dist") <= k))
        .drop("__bk")
    )
