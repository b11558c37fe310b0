"""Structured Streaming surface (SURVEY.md §2.10 ST1-ST6).

The reference has no streaming — re-ingestion is manual KFP re-runs
(caching disabled, website-ingestion-pipeline.py:273). Spark-first,
the incremental story is Structured Streaming with
``Trigger.AvailableNow``: each invocation drains exactly the new
files and stops — the same operational shape as a KFP re-run, but
with exactly-once bookkeeping in the checkpoint instead of
'skip index if exists' (website-ingestion-pipeline.py:116-118).

Every transform here is the streaming twin of a batch query in
queries.py (tumbling ↔ window_tumbling_batch, session ↔
sessionize_batch, dedup ↔ dedup_exact), so correctness of the shared
logic is oracle-checked on the batch side and the streaming tests
assert batch-equivalence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..session import ensure_engine_confs

#: schema of the events stream (matches the synthetic events table
#: after ns→µs normalization; see sources/catalog.py)
EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string"
)


def stream_events_from_dir(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """ST1: incremental file source. New parquet files appearing in
    ``input_dir`` are discovered per micro-batch; with AvailableNow
    the query drains what exists and stops (KFP-re-run semantics).
    ``max_files_per_trigger`` bounds batch size at scale (and pins
    one-file-per-batch in the cross-batch state tests)."""
    ensure_engine_confs(spark)
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    # watermarks require TIMESTAMP (LTZ); session tz is pinned UTC so
    # this cast is the identity on the naive values
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(events: DataFrame, width: str = "1 hour", late: str = "10 minutes") -> DataFrame:
    """ST2+ST3: tumbling window agg with a watermark for late data.

    State for a window is finalized (and emitted, in append mode) once
    the watermark passes window.end + ``late``. Batch twin:
    ``window_tumbling_batch`` (date_trunc ≡ tumbling window.start)."""
    return (
        events.withWatermark("ts", late)
        .groupBy(F.window("ts", width).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("hour_ts"), "event_type", "n", "sum_value")
    )


def sliding_counts(
    events: DataFrame, width: str = "1 hour", slide: str = "30 minutes", late: str = "10 minutes"
) -> DataFrame:
    """ST2: sliding window variant (each event lands in width/slide
    windows; state proportional to overlap factor)."""
    return (
        events.withWatermark("ts", late)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("win_start"), F.col("w.end").alias("win_end"), "n")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes", late: str = "10 minutes") -> DataFrame:
    """ST4: session windows — dynamic-length windows closed by a gap
    of inactivity per user. Batch twin: ``sessionize_batch`` (lag +
    cumulative boundary sum)."""
    return (
        events.withWatermark("ts", late)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stateful_first_seen(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` — the
    escape hatch when no built-in streaming op expresses the
    semantics (§2.11; here: emit each key exactly ONCE, in the first
    micro-batch it appears, with per-key state of one boolean).

    This is the streaming form of the LLM-pipeline 'have I ingested
    this doc/user before?' gate: unlike ``dropDuplicatesWithin-
    Watermark`` (row-level, watermark-bounded state) the state here
    is explicit, typed, and unbounded-by-design (one flag per key
    forever — the semantics an idempotent ingest ledger needs).

    Output = the distinct key set regardless of how the input splits
    into micro-batches, which is what makes a stateful operator
    oracle-checkable: the batch twin is ``SELECT DISTINCT key``.
    At scale, state is hash-partitioned by key across executors and
    checkpointed; emission is append-final (a key's row never
    retracts).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import StructField, StructType

    # output key type follows the input key column (a string doc_id
    # works as well as a bigint user_id)
    out_schema = StructType(
        [StructField("key", events.schema[key_col].dataType)]
    )

    def emit_first(key, pdf_iter, state: GroupState):
        # drain the batch iterator (required before the function
        # returns); emission depends only on state existence
        for _ in pdf_iter:
            pass
        if not state.exists:
            state.update((True,))
            yield pd.DataFrame({"key": [key[0]]})

    return (
        events.groupBy(F.col(key_col))
        .applyInPandasWithState(
            emit_first,
            outputStructType=out_schema,
            stateStructType="seen boolean",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .select(F.col("key").alias(key_col))
    )


def dedup_within_watermark(events: DataFrame, late: str = "10 minutes") -> DataFrame:
    """ST5: stateful stream dedup on event_id, state bounded by the
    watermark (exactly the LLM-pipeline 'seen this doc already?'
    check, but with bounded memory). Batch twin: dedup_exact."""
    return events.withWatermark("ts", late).dropDuplicatesWithinWatermark(["event_id"])


def run_to_vector_store(
    stream: DataFrame,
    out_path: str,
    checkpoint: str,
    partition_col: str = "event_type",
) -> StreamingQuery:
    """ST6: streaming sink via foreachBatch → the partitioned-parquet
    vector-store stand-in (reuses the batch writer path, S7/S8).
    AvailableNow: drain everything discoverable, then stop."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("append")
            .partitionBy(partition_col)
            .parquet(out_path)
        )

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_query_availablenow(
    df: DataFrame, checkpoint: str, sink_table: str, output_mode: str = "complete"
) -> StreamingQuery:
    """Drive any streaming transform to a memory sink until drained
    (test/inspection harness; default complete mode so windowed state
    is visible without waiting for watermark finalization — pass
    ``append`` for non-aggregated streams, which reject complete)."""
    return (
        df.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_stream_attribution(
    events: DataFrame, window: str = "1 hour", late: str = "10 minutes"
) -> DataFrame:
    """Stream-stream join: purchases joined to same-user clicks within
    the preceding ``window`` — the streaming twin of the batch
    ``join_range`` DQ (which is oracle-checked).

    Both sides carry watermarks and the join condition bounds event
    time on both inputs, so Spark can expire join state (otherwise a
    stream-stream join buffers forever). Inner join: purchases with at
    least one attributable click."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", late)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_event_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", late)
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {window}"))
        & (F.col("c_ts") <= F.col("p_ts"))
    )
    return purchases.join(clicks, cond, "inner").select(
        "p_event_id", "c_event_id", "p_user", "p_ts", "c_ts"
    )


def stream_static_enrich(
    events: DataFrame, dim: DataFrame, on: str = "event_type"
) -> DataFrame:
    """Stream-static dimension enrich — the most common production
    streaming join: each micro-batch broadcast-joins the static dim
    (re-read per batch for slowly-changing dims; no state store, no
    watermark requirement on the static side). At scale the dim stays
    on the driver/executors as a broadcast; the stream side never
    shuffles for the join."""
    return events.join(F.broadcast(dim), on, "left")


def sketch_state_path(out_dir: str) -> str | None:
    """Resolve the live sketch-state directory for a
    ``run_sketch_stream`` sink: reads the one-line ``CURRENT``
    manifest and returns the absolute path of the versioned state
    directory it points at (None before the first merge commits).
    Readers must go through this — the state directory name changes
    every merge; only the pointer is stable."""
    import os

    manifest = os.path.join(out_dir, "CURRENT")
    try:
        with open(manifest, encoding="utf-8") as f:
            name = f.read().strip()
    except OSError:
        return None
    path = os.path.join(out_dir, name)
    return path if name and os.path.exists(path) else None


def run_sketch_stream(
    stream: DataFrame,
    value_col: str,
    out_dir: str,
    checkpoint: str,
    width: int = 256,
    depth: int = 4,
    kind: str = "cms",
    p: int | None = None,
    m_bits: int | None = None,
    k: int | None = None,
    retain_versions: int = 2,
) -> StreamingQuery:
    """Streaming sketch maintenance — one harness for all three
    mergeable summaries (``kind``): ``"cms"`` token frequencies
    (cell-wise sum; geometry = ``width`` x ``depth``), ``"hll"``
    distinct cardinality (per-register max; geometry = ``p``,
    2^p registers, library default when None), ``"bloom"``
    seen-set (per-word bit_or; geometry = ``m_bits`` bits x ``k``
    probes, library defaults when None — r11 ADVICE: geometry is
    threaded through explicitly, not silently fixed to defaults
    while ``width`` appears to apply) — each micro-batch sketches its own
    rows (constant-size, partial-agg bounded) and MERGES into the
    sketch at rest. Mergeability is exactly what makes these the
    right streaming state: the accumulated table never grows (CMS:
    depth x width; HLL: ≤ 2^p registers; bloom: ≤ ⌈m/63⌉ words) no
    matter how long the stream runs — and for HLL/bloom the merge is
    additionally IDEMPOTENT, so even the batch_id replay guard below
    is belt-and-braces rather than load-bearing. foreachBatch is
    at-least-once, so a
    merge must be made idempotent EXPLICITLY: the last merged
    batch_id travels INSIDE the sketch parquet, and a replayed
    batch_id is skipped instead of double-counted — an append-style
    sink or a sidecar marker file would both re-add the delta on
    retry.

    Crash safety (r10 ADVICE): each merge writes a fresh VERSIONED
    state directory (``state_{batch_id}``), then commits it by
    atomically replacing the one-line ``CURRENT`` pointer manifest
    (write-temp + ``os.replace``). There is no window in which no
    committed state exists: a crash before the pointer swap leaves
    ``CURRENT`` on the previous state, and the checkpoint replays the
    failed batch against it. Read the state back via
    ``sketch_state_path(out_dir)``. The pointer swap relies on
    POSIX-atomic rename, so this sink targets a local / POSIX
    filesystem; on an object store, swap the manifest for a
    conditional-put. AvailableNow drains everything discoverable;
    the same call tails a live directory with the default trigger."""
    import os
    import shutil

    from ..functions import sketches as SK

    if kind == "cms":
        build = lambda df: SK.cms_build(df, value_col, width, depth)  # noqa: E731
        merge = SK.cms_merge
    elif kind == "hll":
        hll_p = SK.DEFAULT_HLL_P if p is None else p
        build = lambda df: SK.hll_build(df, value_col, hll_p)  # noqa: E731
        merge = SK.hll_merge
    elif kind == "bloom":
        bm = SK.DEFAULT_BLOOM_BITS if m_bits is None else m_bits
        bk = SK.DEFAULT_BLOOM_K if k is None else k
        build = lambda df: SK.bloom_build(df, value_col, bm, bk)  # noqa: E731
        merge = SK.bloom_merge
    else:
        raise ValueError(f"unknown sketch kind: {kind!r} (cms|hll|bloom)")
    if retain_versions < 1:
        raise ValueError(f"retain_versions must be >= 1, got {retain_versions}")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        delta = build(batch_df)
        cur_path = sketch_state_path(out_dir)
        if cur_path is not None:
            cur = spark.read.parquet(cur_path)
            last = cur.agg(F.max("last_batch_id")).collect()[0][0]
            if last is not None and batch_id <= last:
                return  # replay of an already-merged batch: skip
            merged = merge(cur.drop("last_batch_id"), delta)
        else:
            merged = delta
        merged = merged.withColumn("last_batch_id", F.lit(batch_id).cast("bigint"))
        state_name = f"state_{batch_id}"
        # overwrite handles a retry that crashed mid-write last time
        merged.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out_dir, state_name)
        )
        tmp_manifest = os.path.join(out_dir, f"_CURRENT_tmp_{batch_id}")
        with open(tmp_manifest, "w", encoding="utf-8") as f:
            f.write(state_name)
        os.replace(tmp_manifest, os.path.join(out_dir, "CURRENT"))
        # committed — GC superseded versions, RETAINING the most
        # recent `retain_versions` (current + predecessors): a reader
        # that resolved sketch_state_path just before the pointer
        # swap can still be mid-read in the previous version, so the
        # immediately-superseded dir must survive one more merge
        # cycle (r11 ADVICE)
        versions = sorted(
            (
                int(name.removeprefix("state_")), name
            )
            for name in os.listdir(out_dir)
            if name.startswith("state_") and name.removeprefix("state_").isdigit()
        )
        for _, name in versions[:-retain_versions]:
            shutil.rmtree(os.path.join(out_dir, name), ignore_errors=True)

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _fold_cdc_batch(
    batch_df: DataFrame,
    batch_id: int,
    root: str,
    id_col: str,
    op_col: str | None,
    cols: tuple[str, ...] | None,
    build,
    commit,
    compact,
    root_marker: bool = False,
) -> None:
    """The fold every store maintenance stream runs per micro-batch.

    One job classifies the batch: how many rows upsert and how many
    delete (``op_col == 'delete'``; every row upserts when ``op_col``
    is None). An empty batch mints nothing. A batch the root's
    ``_last_batch_id`` marker already covers is a replay and is
    skipped; the marker sits in the live version directory, or in the
    root when ``root_marker``. Upsert rows keep ``cols`` (all columns
    when None) and collapse to one per ``id_col`` (arbitrary winner;
    in a batch that also deletes, the segment writer's resolve does
    it in the same shuffle that drops the deleted ids).

    Before the first commit ``build(upserts)`` creates the root from
    the upserts minus the batch's deletes; a delete-only first batch
    is a no-op (nothing exists to delete). After it, ``commit(upserts,
    deletes)`` writes the batch as ONE segment and ONE version (either
    side None when the batch has none of it). The marker is written
    next, then ``compact(spark)`` runs the root's auto-compaction
    trigger, which carries the marker forward."""
    import os

    from ..functions import similarity as SIM

    is_del = (
        F.lit(False) if op_col is None
        else F.coalesce(F.col(op_col) == "delete", F.lit(False))
    )
    # coalesce(1): the two counts come from one task, so the global
    # aggregate needs no exchange and the classification is one job
    counts = (
        batch_df.select(is_del.alias("__del"))
        .coalesce(1)
        .agg(
            F.count_if(~F.col("__del")).alias("up"),
            F.count_if(F.col("__del")).alias("dels"),
        )
        .first()
    )
    if not counts["up"] and not counts["dels"]:
        return
    cur = SIM.index_current_path(root)
    if cur is not None:
        try:
            marker = os.path.join(root if root_marker else cur, "_last_batch_id")
            with open(marker, encoding="utf-8") as f:
                if batch_id <= int(f.read().strip()):
                    return  # replay of an already-folded batch
        except (OSError, ValueError):
            pass
    upserts = dels = None
    if counts["dels"]:
        dels = batch_df.filter(is_del).select(id_col)
    if counts["up"]:
        upserts = batch_df.filter(~is_del)
        if cols is not None:
            upserts = upserts.select(*cols)
        if dels is None:
            upserts = upserts.dropDuplicates([id_col])
        elif cur is None:
            res = SIM._resolve_cdc(upserts, dels, id_col)
            upserts = res.filter(~F.col("__del")).drop("__del")
        # else the segment writer's one resolve shuffle collapses
        # duplicate ids while it drops the deleted ones
    if cur is None:
        if upserts is None:
            return  # delete-only batch before the first build: no-op
        build(upserts)
    else:
        commit(upserts, dels)
    marker_dir = root if root_marker else SIM.index_current_path(root)
    with open(os.path.join(marker_dir, "_last_batch_id"), "w", encoding="utf-8") as f:
        f.write(str(batch_id))
    if compact is not None:
        compact(batch_df.sparkSession)


def run_index_maintenance_stream(
    stream: DataFrame,
    root: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int | None = None,
    positions: bool = False,
    max_segments: int | None = None,
    retain: int = 2,
    op_col: str | None = None,
) -> StreamingQuery:
    """Continuous lexical-index maintenance (r12): a document stream
    folds into the MANAGED postings root — the first micro-batch
    builds version v_000000, every later batch
    ``upsert_postings_index_versioned``s into a fresh version with
    the atomic ``CURRENT`` pointer swap, so a concurrent reader
    always serves a complete committed index and a crash mid-batch
    leaves the previous version live (the sketch-stream crash-safety
    argument, applied to the index). This is the production shape
    the reference's pipelines imply (documents arrive continuously;
    `add_documents` appends to a live store P:341–349) with replace
    semantics: a doc_id reappearing in a later batch REPLACES its
    postings/doclen — latest fetch wins.

    Within one micro-batch duplicate doc_ids are collapsed by
    ``dropDuplicates`` (arbitrary winner — order within a batch is
    not defined; put an ordering column upstream and pre-dedup when
    that matters). Replay safety is two-layered: a ``_last_batch_id``
    marker in the version directory skips an already-folded batch,
    and even a replay that slips past the marker is HARMLESS because
    upsert-by-replacement is idempotent — re-folding the same delta
    yields an identical index (unlike the additive CMS merge, where
    the guard is load-bearing).

    ``max_segments`` is the auto-compaction dial (r13 verdict #1):
    after a batch whose upsert pushes the live manifest past the
    bound, the SAME foreachBatch invocation folds the segment list
    via ``compact_index`` (marker carried, retention vacuum at
    ``retain``) — a 5-minute trigger interval otherwise mints 288
    segments/day and serve cost grows linearly with the list. Left
    None, segments accumulate by design and compaction is the
    caller's schedule (the pre-r14 contract). Since the fold runs
    inside foreachBatch, a slow compaction delays the NEXT
    micro-batch, never a concurrent reader (versions stay atomic).

    ``buckets``/``positions`` apply to the first build; later
    upserts inherit geometry from the live version's stats.

    ``op_col`` switches the fold to CDC semantics (r14): rows whose
    ``op_col`` equals ``'delete'`` delete their ``id_col`` (row-level
    delete — the takedown/robots-revocation event arriving ON the
    same stream as content); every other row upserts as before. A
    batch lands as ONE segment and ONE version
    (``upsert_postings_index_versioned(delete_ids=...)``): its
    documents are the upserts minus the ids the batch deletes, and its
    shadow set is upserts ∪ deletes, so a same-id conflict resolves to
    DELETED — the conservative order for compliance events — and a
    reader never sees half a batch. A delete-only batch is a
    tombstone (``delete_index_ids``). Deletes before the first build
    are no-ops (nothing exists to delete). Replay safety is
    unchanged: the marker lands on the batch's version, and the fold
    is idempotent."""
    from ..functions import similarity as SIM

    build_kw: dict = {"text_col": text_col, "id_col": id_col, "positions": positions}
    if buckets is not None:
        build_kw["buckets"] = buckets

    def commit(upserts, dels):
        if upserts is None:
            SIM.delete_index_ids(dels, root, id_col=id_col)
        else:
            SIM.upsert_postings_index_versioned(
                upserts, root, text_col=text_col, id_col=id_col, delete_ids=dels
            )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        _fold_cdc_batch(
            batch_df, batch_id, root, id_col, op_col, None,
            build=lambda up: SIM.build_postings_index_versioned(up, root, **build_kw),
            commit=commit,
            compact=None if max_segments is None else (
                lambda spark: SIM.maybe_compact_index(
                    spark, root, max_segments, retain=retain
                )
            ),
        )

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_ann_maintenance_stream(
    stream: DataFrame,
    root: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 3,
    n_tables: int = 6,
    metadata_cols: tuple[str, ...] = (),
    quantized: bool = False,
    max_segments: int | None = None,
    retain: int = 2,
    op_col: str | None = None,
) -> StreamingQuery:
    """Continuous VECTOR-index maintenance (r12 verdict #3) — the ANN
    mirror of ``run_index_maintenance_stream``: an embedding stream
    folds into the managed AnnStore root. The first micro-batch
    builds the base segment (``write_ann_store_versioned`` with the
    geometry/metadata given here); every later batch is an O(delta)
    ``upsert_ann_store_versioned`` — a NEW LSM segment plus a
    manifest naming old-segments + it, committed via the atomic
    ``CURRENT`` pointer swap, so a concurrent prober always serves a
    complete committed store and a crash mid-batch leaves the
    previous version live. Replace semantics: a ``vec_id``
    reappearing in a later batch shadows its old pointer copies in
    EVERY table (re-embed wins) — the production shape of the
    reference's continuous ``add_documents`` ingestion (pipeline.py
    P:341–349) on the vector side.

    Within one micro-batch duplicate ids collapse via
    ``dropDuplicates`` (arbitrary winner — pre-dedup upstream with an
    ordering column when it matters). Replay safety is the two-layer
    postings-stream contract: the ``_last_batch_id`` marker in the
    version directory skips an already-folded batch (and
    ``compact_ann_store`` carries it forward), and a replay slipping
    past the marker is harmless because upsert-by-replacement is
    idempotent. ``max_segments`` is the auto-compaction dial (r13
    verdict #1): after a batch that pushes the live manifest past
    the bound, the same foreachBatch invocation folds the list via
    ``compact_ann_store`` — probe cost is k·t·(1+flips) partition
    reads for k segments, so an unbounded fold loop pays the
    O(delta) write win back at serve time; for quantized roots the
    fold is also the global re-quantization (bounds-refresh) point.
    Left None, segments accumulate by design and compaction is the
    caller's schedule (the pre-r14 contract).

    Geometry args apply to the FIRST build only; later upserts
    inherit from the live version's manifest. ``quantized=True``
    builds an SQ8 base segment; every later micro-batch lands as a
    quantized delta segment carrying its OWN bounds (the per-segment
    contract), so a drifting embedding stream never forces a
    re-quantization — ``compact_ann_store`` is the bounds-refresh
    point. Probe the live version via ``probe_quantized`` /
    ``probe_batch_quantized``.

    ``op_col`` switches the fold to CDC semantics (r14, the lexical
    twin's contract): ``op_col == 'delete'`` rows delete their
    ``id_col`` (the vector column may be NULL — a takedown event
    carries only the id); other rows upsert. A batch lands as ONE
    segment and ONE version (``upsert_ann_store_versioned(
    delete_ids=...)``): its vectors are the upserts minus the ids the
    batch deletes and its ``ids/`` sidecar is upserts ∪ deletes, so a
    same-id conflict within one batch resolves to DELETED — the
    conservative order for compliance events. A delete-only batch is
    a tombstone (``delete_ann_ids``); deletes before the first build
    are no-ops; replay safety unchanged (marker on the batch's
    version, the fold idempotent)."""
    from ..functions import similarity as SIM

    def commit(upserts, dels):
        if upserts is None:
            SIM.delete_ann_ids(dels, root)
        else:
            SIM.upsert_ann_store_versioned(upserts, root, delete_ids=dels)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        _fold_cdc_batch(
            batch_df, batch_id, root, id_col, op_col,
            (id_col, vec_col, *metadata_cols),
            build=lambda up: SIM.write_ann_store_versioned(
                up,
                root,
                metadata_cols=metadata_cols,
                quantized=quantized,
                bits=bits,
                n_tables=n_tables,
                id_col=id_col,
                vec_col=vec_col,
            ),
            commit=commit,
            compact=None if max_segments is None else (
                lambda spark: SIM.maybe_compact_ann_store(
                    spark, root, max_segments, retain=retain
                )
            ),
        )

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_pq_maintenance_stream(
    stream: DataFrame,
    root: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    m: int = 8,
    k_pq: int = 256,
    max_fit_rows: int = 50_000,
    max_segments: int | None = None,
    op_col: str | None = None,
) -> StreamingQuery:
    """Continuous IVF-PQ maintenance — the third layout's streaming
    fold (postings: ``run_index_maintenance_stream``; LSH/SQ8 ANN:
    ``run_ann_maintenance_stream``). First micro-batch TRAINS and
    builds the base (``write_ivfpq_store`` with the geometry given
    here — the only batch that pays a k-means fit); every later batch
    is an O(delta) frozen-codebook ``upsert_ivfpq_store`` segment —
    replace semantics per id via last-wins shadowing. ``op_col``
    switches to CDC semantics: ``'delete'`` rows delete their id (the
    vector may be NULL), other rows upsert. A batch lands as ONE
    segment and ONE version (``upsert_ivfpq_store(delete_ids=...)``):
    its codes and raw rows are the upserts minus the ids the batch
    deletes and its ``ids/`` sidecar is upserts ∪ deletes (same-id
    conflict in one batch resolves DELETED — the
    compliance-conservative order). A delete-only batch is a
    tombstone (``delete_ivfpq_ids``); deletes before the first build
    are no-ops.

    Replay safety, two layers as everywhere: a ``_last_batch_id``
    marker in the root skips an already-folded batch, and a replay
    slipping past it lands a duplicate segment whose rows are
    immediately shadow-equivalent (last-wins is idempotent in
    serve-visible state — the duplicate is wasted bytes until
    compaction, never wrong answers).

    ``max_segments`` is the auto-compaction dial (the X1 trigger on
    this layout): past the bound the SAME foreachBatch invocation
    folds via ``maybe_compact_ivfpq_store`` — an IN-PLACE versioned
    commit (r14 verdict #1: atomic CURRENT swap + retention vacuum,
    no rename, so concurrent readers of the root stay safe) that also
    RE-TRAINS quantizers, so a drifting embedding stream gets its
    codebook refresh exactly when read amplification forces a fold
    anyway."""
    from ..functions import pq as PQ

    def commit(upserts, dels):
        if upserts is None:
            PQ.delete_ivfpq_ids(dels.sparkSession, root, dels)
        else:
            PQ.upsert_ivfpq_store(upserts, root, delete_ids=dels)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        # a pre-r15 monolithic root (_pq_meta.json, no CURRENT) must
        # refuse loudly here, not read as 'never built' and be
        # silently base-built over (r15 ADVICE)
        PQ._refuse_legacy_pq_root(root)
        _fold_cdc_batch(
            batch_df, batch_id, root, id_col, op_col, (id_col, vec_col),
            build=lambda up: PQ.write_ivfpq_store(
                up,
                root,
                n_cells=n_cells,
                m=m,
                k_pq=k_pq,
                max_fit_rows=max_fit_rows,
                id_col=id_col,
                vec_col=vec_col,
            ),
            commit=commit,
            # marker is root-level and the root never moves — replay
            # safety holds across the in-place fold with no carry
            compact=None if max_segments is None else (
                lambda spark: PQ.maybe_compact_ivfpq_store(spark, root, max_segments)
            ),
            root_marker=True,
        )

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_expectations_stream(
    stream: DataFrame,
    rules: list,
    out_dir: str,
    checkpoint: str,
) -> StreamingQuery:
    """Continuous data-quality gating — ``expectations.expect_report``
    applied per micro-batch, the audit rows appended to a parquet log
    (one row per rule per batch, stamped with ``batch_id``). This is
    how a live ingestion feed gets the same declarative gate the
    batch pipeline runs before export: the log is itself a DataFrame
    (alert on ``ok = false`` rows downstream, join batches over time
    to see a null-fraction trend). One aggregation pass per batch —
    the report costs one job regardless of rule count, and the
    append is a constant-size write (rule count rows)."""
    from ..functions.expectations import expect_report

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        expect_report(batch_df, rules).withColumn(
            "batch_id", F.lit(batch_id).cast("bigint")
        ).write.mode("append").parquet(out_dir)

    return (
        stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_novelty_stream(
    stream: DataFrame,
    root: str,
    out_dir: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    max_segments: int | None = None,
) -> StreamingQuery:
    """Continuous incremental-crawl dedup — the band store's
    streaming fold (r16; the fourth managed layout joins the
    maintenance-stream family beside postings/ANN/PQ): each
    micro-batch of crawled documents gates against the AT-REST band
    store (``novelty_gate_indexed`` — pre-computed signatures, the
    at-rest text never re-shingled), the ADMITTED rows land in
    ``out_dir`` (the curation pipeline's input), and their bands fold
    into the store as an O(delta) segment (``upsert_band_store``) so
    the NEXT batch gates against them too. The first batch bootstraps
    the store (everything is novel against an empty generation; the
    ``shingle_n/num_hashes/band_size`` given here are recorded in the
    manifest and every later batch uses the manifest's values).
    ``max_segments=`` bounds read amplification (r16 verdict #2): the
    fold appends one segment per batch, so after each upsert the
    foreachBatch runs ``maybe_compact_band_store`` — the
    ``run_index_maintenance_stream(max_segments=...)`` discipline on
    the fourth layout.

    Replay safety, three layers (r16 ADVICE made the output sink
    idempotent): the root-level ``_last_batch_id`` marker skips an
    already-folded batch; the output lands as
    ``out_dir/batch_id=N/`` with mode=overwrite (the standard
    foreachBatch exactly-once pattern — a replayed batch OVERWRITES
    its own partition instead of appending duplicates, closing the
    crash window between the output write and the store fold); and a
    replay that slips past both admits NOTHING — the batch's own
    fingerprints are at rest from the first run, so every document
    collides with itself (the gate is its own idempotence proof).
    Readers see a ``batch_id`` partition column on ``out_dir`` —
    crawl-batch lineage for free.

    Batch-INTERNAL duplicates are not collapsed here (the
    ``novelty_gate`` contract — run the self-dedup family on the
    admitted corpus downstream)."""
    import os

    from ..functions import dedup as DD
    from ..functions import similarity as SIM

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        built = SIM.index_current_path(root) is not None
        marker = os.path.join(root, "_last_batch_id")
        batch_out = os.path.join(out_dir, f"batch_id={batch_id}")
        if built:
            try:
                with open(marker, encoding="utf-8") as f:
                    if batch_id <= int(f.read().strip()):
                        return  # replay of an already-folded batch
            except (OSError, ValueError):
                pass
        if built:
            # materialize the gate once — isEmpty/output-write/band
            # upsert would otherwise each re-run the band joins
            admitted = DD.novelty_gate_indexed(
                batch_df, root, text_col=text_col, id_col=id_col
            ).localCheckpoint(eager=True)
            if admitted.isEmpty():
                with open(marker, "w", encoding="utf-8") as f:
                    f.write(str(batch_id))
                return
            admitted.write.mode("overwrite").parquet(batch_out)
            DD.upsert_band_store(admitted, root)
        else:
            batch_df.write.mode("overwrite").parquet(batch_out)
            DD.write_band_store(
                batch_df, root, text_col=text_col, id_col=id_col,
                shingle_n=shingle_n, num_hashes=num_hashes,
                band_size=band_size,
            )
        if max_segments is not None:
            DD.maybe_compact_band_store(
                batch_df.sparkSession, root, max_segments
            )
        with open(marker, "w", encoding="utf-8") as f:
            f.write(str(batch_id))

    return (
        stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
