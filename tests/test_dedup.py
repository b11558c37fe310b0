

def test_jaccard_hot_shingle_cap_default_on(spark):
    """Production entry point caps hot shingles BY DEFAULT: a shingle
    shared by every doc (a 'stopword shingle') must not create pairs
    on its own, while genuinely similar pairs survive capping."""
    from pyspark.sql import Row

    from data_ingestion_spark.functions.dedup import (
        DEFAULT_MAX_DOC_FREQ,
        ngram_jaccard_pairs,
    )

    hot = "the quick brown"  # one 3-gram every doc shares
    rows = [Row(doc_id=i, text=f"{hot} tail{i} unique{i} words{i} here{i}") for i in range(12)]
    # docs 100/101: real near-duplicates (share many shingles)
    rows += [
        Row(doc_id=100, text=f"{hot} alpha beta gamma delta epsilon zeta"),
        Row(doc_id=101, text=f"{hot} alpha beta gamma delta epsilon eta"),
    ]
    df = spark.createDataFrame(rows)

    # cap of 4 < 14 docs: the ubiquitous shingle is dropped
    capped = ngram_jaccard_pairs(
        df, "text", "doc_id", shingle_n=3, threshold=0.1, max_doc_freq=4
    ).collect()
    capped_pairs = {(r.id_a, r.id_b) for r in capped}
    assert (100, 101) in capped_pairs  # real near-dups survive
    assert all({a, b} == {100, 101} for a, b in capped_pairs)  # hot-only pairs gone

    # uncapped: the shared shingle alone creates pairs between unrelated docs
    uncapped = ngram_jaccard_pairs(
        df, "text", "doc_id", shingle_n=3, threshold=0.1, max_doc_freq=None
    ).collect()
    assert len(uncapped) > len(capped)

    # and the default IS capped (not None)
    assert DEFAULT_MAX_DOC_FREQ is not None
    import inspect

    sig = inspect.signature(ngram_jaccard_pairs)
    assert sig.parameters["max_doc_freq"].default == DEFAULT_MAX_DOC_FREQ


def test_minhash_bucket_cap_default_on(spark):
    """LSH bucket guard: a flooded band bucket (many identical docs)
    must not expand to b²/2 pairs in the production fast path; small
    near-dup groups still pair up. Uncapped form recovers everything."""
    from pyspark.sql import Row

    from data_ingestion_spark.functions.dedup import (
        DEFAULT_MAX_BUCKET,
        minhash_lsh_candidates_fast,
    )

    hot = "all these documents share exactly the same words forever"
    rows = [Row(doc_id=i, text=hot) for i in range(30)]
    rows += [
        Row(doc_id=100, text="alpha beta gamma delta epsilon zeta eta theta"),
        Row(doc_id=101, text="alpha beta gamma delta epsilon zeta eta iota"),
    ]
    df = spark.createDataFrame(rows)

    capped = minhash_lsh_candidates_fast(df, "text", "doc_id", max_bucket=8).collect()
    capped_pairs = {(r.id_a, r.id_b) for r in capped}
    assert (100, 101) in capped_pairs
    assert all({a, b} == {100, 101} for a, b in capped_pairs)  # hot bucket dropped

    uncapped = minhash_lsh_candidates_fast(df, "text", "doc_id", max_bucket=None).collect()
    assert len({(r.id_a, r.id_b) for r in uncapped}) >= 30 * 29 // 2  # b²/2 blowup is real

    import inspect

    sig = inspect.signature(minhash_lsh_candidates_fast)
    assert sig.parameters["max_bucket"].default == DEFAULT_MAX_BUCKET


def test_repeated_passage_spans_semantics(spark):
    """Planted boilerplate is found on every carrier doc; a corpus of
    all-distinct texts reports nothing; stride=1 finds a superset of
    stride=16's carriers."""
    from data_ingestion_spark.functions.dedup import repeated_passage_spans

    rows = [
        (0, "COMMON LICENSE HEADER " * 4 + "unique tail zero " * 6),
        (1, "COMMON LICENSE HEADER " * 4 + "completely different body one " * 5),
        (2, "no shared passages here at all, " * 8),
        (3, "another entirely distinct document body text, " * 6),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.n_shared_spans for r in repeated_passage_spans(df).collect()}
    assert set(got) == {0, 1} and all(v >= 1 for v in got.values())

    distinct_only = spark.createDataFrame(rows[2:], "doc_id long, text string")
    assert repeated_passage_spans(distinct_only).count() == 0

    wide = {r.doc_id for r in repeated_passage_spans(df, stride=1).collect()}
    assert wide >= set(got)


def test_repeated_passage_spans_column_clash_raises(spark):
    import pytest

    from data_ingestion_spark.functions.dedup import repeated_passage_spans

    df = spark.createDataFrame([(1, "x" * 80, "y")], "doc_id long, text string, __text string")
    with pytest.raises(ValueError, match="__text"):
        repeated_passage_spans(df)


def test_moved_content_pairs_banding_complete_and_exact(spark):
    """Pigeonhole banding finds EVERY pair a naive all-pairs hamming
    filter finds (completeness), identical moved content scores
    hamming 0, unrelated content does not pair, and the anti-join
    framing keeps still-present URLs out of both sides."""
    from pyspark.sql import functions as F

    from data_ingestion_spark.functions.dedup import (
        _hamming16,
        moved_content_pairs,
        simhash16,
    )

    texts = {
        "a": "alpha beta gamma delta epsilon zeta eta theta",
        "b": "totally different words about ducks and bread crumbs",
        "c": "alpha beta gamma delta epsilon zeta eta thetaX",  # near a
    }
    old = spark.createDataFrame(
        [("https://o/a", texts["a"]), ("https://o/b", texts["b"]),
         ("https://o/keep", "kept page words here")],
        "url string, text string",
    )
    new = spark.createDataFrame(
        [("https://n/a", texts["a"]),      # moved: identical
         ("https://n/c", texts["c"]),      # near-moved variant of a
         ("https://o/keep", "kept page words here"),  # unchanged URL
         ("https://n/z", "fresh unrelated content entirely new")],
        "url string, text string",
    )
    got = {
        (r.new_url, r.old_url): r.hamming
        for r in moved_content_pairs(old, new, max_hamming=3).collect()
    }
    assert got[("https://n/a", "https://o/a")] == 0  # identical -> 0
    # completeness vs naive all-pairs at the same threshold
    added = ["https://n/a", "https://n/c", "https://n/z"]
    removed = ["https://o/a", "https://o/b"]
    sig = {
        r.url: r.sh
        for r in new.unionByName(old)
        .select("url", simhash16(F.col("text")).alias("sh")).collect()
    }
    naive = {
        (a, r)
        for a in added
        for r in removed
        if sum(x != y for x, y in zip(sig[a], sig[r])) <= 3
    }
    assert set(got) == naive
    # kept URL appears on neither side
    assert not any("keep" in a or "keep" in b for a, b in got)
    # hamming kernel sanity
    df = spark.createDataFrame([("1111000011110000", "1111000011110001")], "a string, b string")
    assert df.select(_hamming16(F.col("a"), F.col("b")).alias("h")).collect()[0].h == 1


def test_decontaminate_fuzzy_catches_paraphrase_not_unrelated(spark):
    """r12 fuzzy decontamination: a suffix-perturbed copy of a corpus
    doc is caught (near-dup leakage), an unrelated eval item is not,
    and the integer cross-multiplied threshold matches exact Jaccard
    arithmetic on the shingle sets. The eval band table broadcasts
    (plan-asserted) — candidate generation is linear in corpus
    shingles, never corpus x eval."""
    from pyspark.sql import functions as F

    from data_ingestion_spark.functions.corpus import decontaminate_fuzzy

    corpus = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    ev = spark.createDataFrame(
        [
            # near-dup of doc 0: its text + a short suffix
            (9001, corpus.filter(F.col("doc_id") == 0).head().text + " tiny suffix"),
            (9002, "completely unrelated benchmark question about nothing shared"),
        ],
        "doc_id bigint, text string",
    )
    out = decontaminate_fuzzy(corpus, ev, "text", "doc_id")
    rows = {(r.doc_id, r.eval_id): (r.n_inter, r.n_union) for r in out.collect()}
    assert (0, 9001) in rows
    n_i, n_u = rows[(0, 9001)]
    assert n_i * 1_000_000 >= 500_000 * n_u  # threshold honored
    assert not any(e == 9002 for _, e in rows)  # unrelated never flagged

    # exact jaccard cross-check for the caught pair
    def sh(t, n=3):
        w = t.split(" ")
        return {" ".join(w[i:i + n]) for i in range(max(len(w) - n + 1, 1))}

    a = sh(corpus.filter(F.col("doc_id") == 0).head().text)
    b = sh(ev.filter(F.col("doc_id") == 9001).head().text)
    assert (n_i, n_u) == (len(a & b), len(a | b))

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # eval side broadcasts


def test_decontaminate_fuzzy_refuses_large_eval_side(spark):
    """r13 (r12 verdict #5): the eval side broadcasts (bands,
    shingles, sizes) — a corpus-sized "eval" frame must refuse
    loudly up front, not OOM the driver three joins deep; a real
    eval set under the cap still works."""
    import pytest

    from data_ingestion_spark.functions.corpus import decontaminate_fuzzy

    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon doc {i}") for i in range(50)],
        "doc_id bigint, text string",
    )
    ev = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon doc 7")],
        "doc_id bigint, text string",
    )
    with pytest.raises(ValueError, match="broadcasts the EVAL side"):
        decontaminate_fuzzy(corpus, corpus, "text", "doc_id", max_eval_rows=10)
    out = decontaminate_fuzzy(corpus, ev, "text", "doc_id", max_eval_rows=10)
    # the paraphrase-identical doc 7 is found; the guard changed nothing
    assert any(r.doc_id == 7 for r in out.collect())


def test_remove_repeated_lines_keep_first_and_short_path(spark):
    """r14 Y-series: corpus-level exact line dedup — keep-first
    semantics, short-line exemption, ordered reassembly, and the
    all-boilerplate-doc drop are pinned against a hand-computed
    fixture."""
    from data_ingestion_spark.functions.dedup import remove_repeated_lines

    docs = spark.createDataFrame(
        [
            (1, "the shared boilerplate line\nunique-to-doc-one line\n--"),
            (2, "doc two opening line here\nthe shared boilerplate line\n--"),
            # every long line of doc 3 is a later occurrence -> drops out
            (3, "the shared boilerplate line"),
            (4, "unique-to-doc-one line\ndoc four keeps this line"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: r.text
        for r in remove_repeated_lines(docs, "text", "doc_id").collect()
    }
    # doc 1 wins both its long lines (first occurrence by (id, pos))
    assert out[1] == "the shared boilerplate line\nunique-to-doc-one line\n--"
    # doc 2 loses the boilerplate, keeps its own line and the short "--"
    assert out[2] == "doc two opening line here\n--"
    # doc 3's only line is a repeat -> the document drops out entirely
    assert 3 not in out
    # doc 4 loses the line doc 1 already owns
    assert out[4] == "doc four keeps this line"


def test_remove_repeated_lines_column_clash_raises(spark):
    import pytest

    from data_ingestion_spark.functions.dedup import remove_repeated_lines

    df = spark.createDataFrame(
        [(1, "a", "x")], "doc_id bigint, text string, __pos string"
    )
    with pytest.raises(ValueError, match="collides"):
        remove_repeated_lines(df, "text", "doc_id")


def test_fuzzy_join_blocked_edit_kinds(spark):
    from data_ingestion_spark.functions.dedup import fuzzy_join_blocked

    left = spark.createDataFrame(
        [
            (1, "chocolate"),   # exact
            (2, "chocolte"),    # deletion at pos 6
            (3, "chocolatte"),  # insertion
            (4, "choXolate"),   # substitution past the prefix
            (5, "Xhocolate"),   # edit INSIDE the 2-char block prefix
            (6, "totally-different"),
        ],
        "lid long, lname string",
    )
    right = spark.createDataFrame([(7, "chocolate")], "rid long, rname string")
    got = {
        (r.lid, r.rid, r.dist)
        for r in fuzzy_join_blocked(left, right, "lname", "rname", max_dist=1).collect()
    }
    # 5 is the documented recall boundary (prefix edit); 6 is out of range.
    assert got == {(1, 7, 0), (2, 7, 1), (3, 7, 1), (4, 7, 1)}


def test_fuzzy_join_blocked_length_band_and_nulls(spark):
    from data_ingestion_spark.functions.dedup import fuzzy_join_blocked

    left = spark.createDataFrame(
        [(1, "abcd"), (2, "abcdef"), (3, None)], "lid long, lname string"
    )
    right = spark.createDataFrame(
        [(10, "abcde"), (11, None)], "rid long, rname string"
    )
    # dist 1 from both sides of the length band; NULLs never join.
    got = {
        (r.lid, r.rid, r.dist)
        for r in fuzzy_join_blocked(left, right, "lname", "rname", max_dist=1).collect()
    }
    assert got == {(1, 10, 1), (2, 10, 1)}

    # max_dist=2 widens the band symmetrically.
    got2 = {
        (r.lid, r.rid, r.dist)
        for r in fuzzy_join_blocked(left, right, "lname", "rname", max_dist=2).collect()
    }
    assert got2 == {(1, 10, 1), (2, 10, 1)}


def test_fuzzy_join_blocked_contracts(spark):
    import pytest

    from data_ingestion_spark.functions.dedup import fuzzy_join_blocked

    df = spark.createDataFrame([(1, "x")], "i long, s string")
    with pytest.raises(ValueError, match="max_dist"):
        fuzzy_join_blocked(df, df, "s", "s", max_dist=-1)
    with pytest.raises(ValueError, match="block_prefix_len"):
        fuzzy_join_blocked(df, df, "s", "s", block_prefix_len=0)
    clash = spark.createDataFrame([(1, "x", 0)], "i long, s string, dist int")
    with pytest.raises(ValueError, match="reserves column"):
        fuzzy_join_blocked(clash, df, "s", "s")


def test_fuzzy_join_blocked_overlap_refusal_and_hot_block_guard(spark):
    """r14 ADVICE (shared columns -> ambiguous refs) + r14 verdict #3
    (the hot-block pre-pass refuses a low-entropy-prefix fixture with
    the block_prefix_len fix in the message)."""
    import pytest

    from pyspark.sql import functions as F

    from data_ingestion_spark.functions.dedup import fuzzy_join_blocked

    df = spark.createDataFrame([(1, "abc")], "i long, s string")
    # the natural-but-broken self-dedup call refuses up front
    with pytest.raises(ValueError, match="share column"):
        fuzzy_join_blocked(df, df, "s", "s")
    other = spark.createDataFrame([(2, "abd")], "i long, t string")
    with pytest.raises(ValueError, match="share column"):
        fuzzy_join_blocked(df, other, "s", "t")  # shared non-key 'i'

    # hot block: every name shares prefix AND length -> one cell,
    # 500*500 = 250k pairs (x3 for the length fan-out on matches)
    left = spark.range(500).select(
        F.col("id").alias("lid"),
        F.format_string("aa%03d", F.col("id")).alias("lname"),
    )
    right = spark.range(500).select(
        F.col("id").alias("rid"),
        F.format_string("aa%03d", F.col("id")).alias("rname"),
    )
    with pytest.raises(ValueError, match="block_prefix_len"):
        fuzzy_join_blocked(left, right, "lname", "rname", max_dist=1,
                           max_block_pairs=100_000)
    # raising the prefix splits the cell; same call now passes and
    # still finds the exact matches
    ok = fuzzy_join_blocked(left, right, "lname", "rname", max_dist=1,
                            block_prefix_len=4, max_block_pairs=100_000)
    assert ok.where(F.col("dist") == 0).count() == 500
    # guard off: the coarse blocking is allowed through unguarded
    assert fuzzy_join_blocked(
        left, right, "lname", "rname", max_dist=0, max_block_pairs=None
    ).count() == 500


def test_novelty_gate_planted_cohorts(spark):
    """r16 incremental novelty gate: exact re-entries drop at the
    fingerprint tier, tail-edited near-dups drop at the band tier,
    genuinely new text survives — and batch-internal duplicates
    pass through by documented design (self-dedup runs after)."""
    from data_ingestion_spark.functions.dedup import novelty_gate

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rest = spark.createDataFrame(
        [(1, base), (2, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (100, base),                      # exact copy of at-rest 1
            (101, base + " tail"),            # near-dup of at-rest 1
            (102, "totally different words nothing shared here at all ok"),
            (103, "totally different words nothing shared here at all ok"),
            # ^ batch-internal dup of 102: BOTH survive (gate is vs
            #   at-rest only)
        ],
        "doc_id long, text string",
    )
    got = sorted(
        r.doc_id for r in novelty_gate(new, rest, "text", "doc_id").collect()
    )
    assert got == [102, 103]

    # empty at-rest: everything is novel
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert novelty_gate(new, empty, "text", "doc_id").count() == 4


def test_band_store_lifecycle(spark, tmp_path):
    """r16 at-rest band store: indexed gate ≡ inline gate, O(delta)
    upsert folds a new generation in, version pinning serves the
    pre-upsert generation, vacuum honors retention, and non-band
    roots refuse loudly."""
    import pytest

    from data_ingestion_spark.functions.dedup import (
        novelty_gate,
        novelty_gate_indexed,
        upsert_band_store,
        vacuum_band_store,
        write_band_store,
    )
    from data_ingestion_spark.functions.similarity import index_current_path

    g1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    g2 = spark.createDataFrame(
        [(2, "one two three four five six seven eight nine")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of g1
            (101, "one two three four five six seven eight nine ok"),  # near g2
            (102, "totally fresh words never seen in any generation"),
        ],
        "doc_id long, text string",
    )
    root = str(tmp_path / "band_root")
    write_band_store(g1, root)
    v0 = index_current_path(root)
    upsert_band_store(g2, root)

    got = sorted(
        r.doc_id for r in novelty_gate_indexed(new, root).collect()
    )
    want = sorted(
        r.doc_id
        for r in novelty_gate(new, g1.unionByName(g2), "text", "doc_id").collect()
    )
    assert got == want == [102]  # store-served ≡ inline, both tiers bite

    # pinned at v0: g2's bands are invisible -> 101 is admitted
    import os

    v0_name = os.path.basename(v0.rstrip("/"))
    pinned = sorted(
        r.doc_id
        for r in novelty_gate_indexed(new, root, version=v0_name).collect()
    )
    assert pinned == [101, 102]

    # vacuum retention: retain=1 drops v0; the pinned read then refuses
    vacuum_band_store(root, retain=1)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        novelty_gate_indexed(new, root, version=v0_name)
    # live pointer still serves
    assert sorted(
        r.doc_id for r in novelty_gate_indexed(new, root).collect()
    ) == [102]

    # refusals: never-built root; non-band (postings) root
    with pytest.raises(FileNotFoundError, match="CURRENT"):
        novelty_gate_indexed(new, str(tmp_path / "nowhere"))
    from data_ingestion_spark.functions.similarity import (
        build_postings_index_versioned,
    )

    proot = str(tmp_path / "postings_root")
    build_postings_index_versioned(g1, proot)
    with pytest.raises(ValueError, match="not a band store"):
        novelty_gate_indexed(new, proot)
    with pytest.raises(ValueError, match="not a band store"):
        upsert_band_store(g2, proot)
    with pytest.raises(ValueError, match="retain"):
        vacuum_band_store(root, retain=0)


def _distinct_texts(n, seed=7):
    """n mutually-dissimilar texts (no shared 3-shingles across ids),
    so band collisions in these tests come only from planted copies."""
    import random

    rng = random.Random(seed)
    vocab = "zq xv yw uu ab cd ef gh ij kl mn op qr st".split()
    return {
        i: " ".join(
            rng.choice(vocab) + str(rng.randint(0, 99999)) for _ in range(12)
        )
        for i in range(1, n + 1)
    }


def test_band_store_delete_resurrect_redelete(spark, tmp_path):
    """r17 tombstones on the band store (r16 verdict #3): a takedown
    retires its fingerprints, so an identical resubmission is
    admitted again; a later upsert re-banding the content shadows the
    tombstone (resurrect); a redelete retires it once more. Build
    refusal on an already-committed root (r16 ADVICE) rides along."""
    import pytest

    from data_ingestion_spark.functions.dedup import (
        delete_band_ids,
        novelty_gate_indexed,
        upsert_band_store,
        write_band_store,
    )

    texts = _distinct_texts(20)
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    root = str(tmp_path / "band_del_root")
    write_band_store(docs.filter("doc_id <= 10"), root)
    with pytest.raises(ValueError, match="upsert_band_store"):
        write_band_store(docs.filter("doc_id <= 10"), root)
    upsert_band_store(docs.filter("doc_id > 10"), root)

    new = spark.createDataFrame(
        [(103, texts[3]), (115, texts[15]), (99, "brand new text qq zz pp")],
        "doc_id long, text string",
    )

    def admitted():
        return sorted(
            r.doc_id for r in novelty_gate_indexed(new, root).collect()
        )

    assert admitted() == [99]  # both resubmissions collide at rest

    # delete doc 3's fingerprints -> its identical resubmission enters
    delete_band_ids(spark.createDataFrame([(3,)], "doc_id long"), root)
    assert admitted() == [99, 103]

    # resurrect: the re-cleared content is upserted back (as 103) and
    # the same text is refused again
    upsert_band_store(new.filter("doc_id = 103"), root)
    assert admitted() == [99]

    # redelete both copies -> admitted once more; deleting an id the
    # store never saw is a harmless no-op
    delete_band_ids(
        spark.createDataFrame([(3,), (103,), (424242,)], "doc_id long"), root
    )
    assert admitted() == [99, 103]


def test_band_store_compact_and_report(spark, tmp_path):
    """r17 compaction on the band store (r16 verdict #2/#4): the fold
    resolves tombstone shadowing into ONE segment (gate row-identical
    before/after; dead bands physically dropped), maybe_compact
    triggers only past max_segments, and index_report's bands branch
    shows exact per-segment kind/rows/shadowed counts in the uniform
    five-layout schema."""
    import os

    from data_ingestion_spark.functions.dedup import (
        band_table,
        compact_band_store,
        delete_band_ids,
        maybe_compact_band_store,
        novelty_gate_indexed,
        upsert_band_store,
        write_band_store,
    )
    from data_ingestion_spark.functions.similarity import (
        _read_manifest,
        index_current_path,
        index_report,
    )

    texts = _distinct_texts(20)
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    root = str(tmp_path / "band_cmp_root")
    write_band_store(docs.filter("doc_id <= 10"), root)       # s_0: 10 docs
    upsert_band_store(docs.filter("doc_id > 10"), root)       # s_1: 10 docs
    delete_band_ids(
        spark.createDataFrame([(3,), (15,)], "doc_id long"), root
    )                                                         # s_2: 2 ids

    # report: exact rows (4 bands/doc), kinds, shadowed counts
    rep = {
        r.segment: r
        for r in index_report(spark, root).collect()
    }
    assert set(rep) == {
        "segments/s_000000", "segments/s_000001", "segments/s_000002",
    }
    assert [rep[f"segments/s_{i:06d}"].kind for i in range(3)] == [
        "data", "data", "tombstone",
    ]
    assert all(r.layout == "bands" for r in rep.values())
    assert rep["segments/s_000000"].rows == 40
    assert rep["segments/s_000001"].rows == 40
    assert rep["segments/s_000002"].rows == 2
    # one id of each data segment is tombstoned by the newer s_2
    assert rep["segments/s_000000"].shadowed_ids == 1
    assert rep["segments/s_000001"].shadowed_ids == 1
    assert rep["segments/s_000002"].shadowed_ids == 0

    new = spark.createDataFrame(
        [(103, texts[3]), (115, texts[15]), (104, texts[4]),
         (99, "brand new text qq zz pp")],
        "doc_id long, text string",
    )
    before = sorted(
        r.doc_id for r in novelty_gate_indexed(new, root).collect()
    )
    assert before == [99, 103, 115]  # deleted ids re-enter, 104 refused

    # within bounds -> no-op; past bounds -> fold
    assert maybe_compact_band_store(spark, root, max_segments=3) is None
    assert maybe_compact_band_store(spark, root, max_segments=2) is not None
    m = _read_manifest(index_current_path(root))
    assert len(m["segments"]) == 1 and m["tombstones"] == [False]
    # gate row-identical across the fold
    assert sorted(
        r.doc_id for r in novelty_gate_indexed(new, root).collect()
    ) == before
    # tombstoned ids physically gone; folded rows = 18 docs x 4 bands
    folded = spark.read.parquet(os.path.join(root, m["segments"][0]))
    assert folded.count() == 72 == m["seg_rows"][0]
    live_ids = {r.id for r in folded.select("id").distinct().collect()}
    assert 3 not in live_ids and 15 not in live_ids and 4 in live_ids
    # folded segment rows ≡ band_table over the surviving corpus
    expect = band_table(
        docs.filter("doc_id NOT IN (3, 15)"), "text", "doc_id", 3, 8, 2
    )
    assert folded.exceptAll(expect).count() == 0
    assert expect.exceptAll(folded).count() == 0


def _shingles_reference(text, n):
    """Pure-Python twin of ``word_shingles``: word n-grams over a
    single-space split (empty words kept), at least one shingle, first
    occurrence order; null text shingles like an empty word list."""
    words = [] if text is None else text.split(" ")
    grams = [
        " ".join(words[i : i + n]) for i in range(max(len(words) - (n - 1), 1))
    ]
    return list(dict.fromkeys(grams))


def test_word_shingles_match_python_ngrams(spark):
    import random

    from pyspark.sql import functions as F

    from data_ingestion_spark.functions.dedup import word_shingles

    rng = random.Random(3)
    vocab = ["a", "b", "spark", "数据", ""]
    texts = ["", "a", "a b", None, "a  b   c ", "   ", "a b a b a b"]
    texts += [" ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))) for _ in range(40)]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, t string")
    for n in (1, 2, 3, 5):
        for r in df.select("i", word_shingles(F.col("t"), n).alias("s")).collect():
            assert r.s == _shingles_reference(texts[r.i], n), (n, texts[r.i])
