"""Keyword serving over the at-rest lexical index: the JVM-only side
frames, the one bounded read of the caller's query batch, the job
budget of a one-query call, and job-group inheritance of the stores'
overlapped writes."""

from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL, jobs_in_group

from data_ingestion_spark.functions import similarity as SIM


def _docs(spark):
    return (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(120)
    )


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    """A monolithic index and a three-segment managed root (base +
    upsert + tombstone) over the same documents, plus the live corpus
    each one serves."""
    base = tmp_path_factory.mktemp("kw")
    docs = _docs(spark)
    mono = str(base / "mono")
    SIM.build_postings_index(docs, mono)
    root = str(base / "root")
    SIM.build_postings_index_versioned(docs, root)
    rows = docs.collect()
    # re-crawl: ten docs change text, two are new; then two takedowns
    delta = [(r.doc_id, r.text[::-1] + " spark") for r in rows[:10]]
    delta += [(10_000_001, "spark vector merge"), (10_000_002, "order order customer")]
    SIM.upsert_postings_index_versioned(
        spark.createDataFrame(delta, "doc_id long, text string"), root
    )
    gone = [rows[20].doc_id, 10_000_002]
    SIM.delete_index_ids(spark.createDataFrame([(g,) for g in gone], "doc_id long"), root)
    live = {r.doc_id: r.text for r in rows}
    live.update(dict(delta))
    for g in gone:
        live.pop(g)
    seg = SIM.index_current_path(root)
    assert len(SIM.IndexReader(spark, seg).seg_paths) == 3
    seg_docs = spark.createDataFrame(list(live.items()), "doc_id long, text string")
    return {"mono": (mono, docs), "seg3": (seg, seg_docs)}


def test_local_frame_round_trips_bit_identically(spark):
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("d", DoubleType()),
            StructField("l", LongType()),
            StructField("s", StringType()),
            StructField("ad", ArrayType(DoubleType())),
            StructField("aad", ArrayType(ArrayType(DoubleType()))),
            StructField("al", ArrayType(LongType())),
        ]
    )
    doubles = [math.nan, math.inf, -math.inf, -0.0, 0.0, 5e-324, 0.1, 1.7976931348623157e308]
    longs = [2**53 + 1, 2**63 - 1, -(2**63), -1, 0, 9007199254740993, 12345678901234567, None]
    strings = ['a"b', "back\\slash", "é", "\U0001f600 \U0001d11e", "'quote'\n\t", "", None, "\\u0041"]
    arrays = [doubles, doubles[::-1], [None, 5e-324, None], [], None, [-0.0], [math.nan, None], [0.1]]
    nested = [[doubles, [], None, [None, -math.inf]], [], None, [[5e-324]], [[]], [None], [doubles[:3]], [[-0.0, math.inf]]]
    long_arrays = [longs, [], None, [None], [2**53 + 1, -(2**53) - 1], [-(2**63)], [2**63 - 1, None], [0]]
    rows = list(zip(doubles, longs, strings, arrays, nested, long_arrays))
    rows.append((None,) * 6)
    df = SIM.local_frame(spark, rows, schema)
    assert df.schema.fieldNames() == ["d", "l", "s", "ad", "aad", "al"]
    assert [f.dataType for f in df.schema.fields] == [f.dataType for f in schema.fields]
    assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()
    got = df.collect()

    def bits(v):
        # doubles compare by their IEEE bits (nan == nan, -0.0 != 0.0)
        if isinstance(v, list):
            return [bits(x) for x in v]
        return None if v is None else struct.pack(">d", v)

    assert [bits(r.d) for r in got] == [bits(r[0]) for r in rows]
    assert [r.l for r in got] == [r[1] for r in rows]
    assert [r.s for r in got] == [r[2] for r in rows]
    assert [bits(r.ad) for r in got] == [bits(r[3]) for r in rows]
    assert [bits(r.aad) for r in got] == [bits(r[4]) for r in rows]
    assert [r.al for r in got] == [r[5] for r in rows]

    empty = SIM.local_frame(spark, [], schema)
    assert empty.schema == df.schema and empty.collect() == []


_QUERY_ROWS = [
    ('q"1', "Spark VECTOR!"),
    ("é'x\\", "customer, merge & order"),
    ("q3", "!!! ..."),  # token-less: absent from the output
    ("q4", ""),
    ("q5", None),
]


@pytest.mark.parametrize("layout", ["mono", "seg3"])
def test_bm25_indexed_matches_inline_for_string_ids_and_empty_batches(
    spark, indexes, layout
):
    path, docs = indexes[layout]
    qs = spark.createDataFrame(_QUERY_ROWS, "query_id string, query_text string")
    got = SIM.bm25_rank_batch_indexed(spark, qs, path, topk=10)
    assert got.columns == ["query_id", "doc_id", "score", "rank"]
    key = lambda r: (r.query_id, r.doc_id, r.score, r.rank)
    at_rest = sorted(map(key, got.collect()))
    # the inline ranker over the live corpus shares the scoring tail
    # and, like the index, ranks only documents holding a query term
    inline = sorted(map(key, SIM.bm25_rank_batch(qs, docs, topk=10).collect()))
    assert at_rest == inline
    assert {r[0] for r in at_rest} == {'q"1', "é'x\\"}

    empty = spark.createDataFrame([], "query_id int, query_text string")
    out = SIM.bm25_rank_batch_indexed(spark, empty, path)
    assert out.columns == ["query_id", "doc_id", "score", "rank"]
    assert out.collect() == []


@pytest.mark.parametrize("layout,budget", [("mono", 6), ("seg3", 11)])
def test_one_query_job_budget_and_no_python_rdd_in_plan(spark, indexes, layout, budget):
    """A one-query call reads the caller's frame once (one bounded
    collect) and builds its side frames in the JVM: the call runs at
    most ``budget`` Spark jobs, and the returned plan scans no
    Python RDD."""
    path, _ = indexes[layout]
    for i, text in enumerate(["spark vector", "customer merge order"]):
        qs = spark.createDataFrame([(0, text)], "query_id int, query_text string")
        plans = []

        def call():
            out = SIM.bm25_rank_batch_indexed(spark, qs, path, topk=5)
            assert out.collect()
            plans.append(out._jdf.queryExecution().executedPlan().toString())

        n, outside = jobs_in_group(spark, call, f"kw-{layout}-{i}")
        assert outside == set()
        assert 0 < n <= budget, (layout, text, n)
        assert "ExistingRDD" not in plans[0]


def test_bool_and_phrase_plans_scan_no_python_rdd(spark, tmp_path):
    docs = _docs(spark)
    idx = str(tmp_path / "pos")
    SIM.build_postings_index(docs, idx, positions=True)
    bq = spark.createDataFrame(
        [(1, ["spark"], ["vector", None], ["order"]), (2, None, ["customer"], [])],
        "query_id int, must array<string>, should array<string>, must_not array<string>",
    )
    pq = spark.createDataFrame([(1, "the customer"), (2, "")], "query_id int, query_text string")
    for out in (
        SIM.bool_search_indexed(spark, bq, idx),
        SIM.phrase_match(spark, pq, idx, with_positions=True),
        SIM.phrase_snippets(spark, pq, idx, docs.limit(0)),
    ):
        assert "ExistingRDD" not in out._jdf.queryExecution().executedPlan().toString()
        out.collect()


def test_query_batch_bound_refuses_with_named_error(spark, indexes, monkeypatch):
    """Past ``MAX_QUERY_TERM_ROWS`` (query, term) rows the serving
    paths refuse with ``QueryBatchTooLargeError`` (a ValueError) that
    tells the caller to split the batch; at the bound they serve."""
    path, _ = indexes["mono"]
    assert SIM.MAX_QUERY_TERM_ROWS == 100_000
    qs = spark.createDataFrame(
        [(1, "spark vector"), (2, "merge")], "query_id int, query_text string"
    )
    monkeypatch.setattr(SIM, "MAX_QUERY_TERM_ROWS", 2)
    with pytest.raises(SIM.QueryBatchTooLargeError, match="Split the batch") as e:
        SIM.bm25_rank_batch_indexed(spark, qs, path)
    assert isinstance(e.value, ValueError) and "MAX_QUERY_TERM_ROWS" in str(e.value)
    monkeypatch.setattr(SIM, "MAX_QUERY_TERM_ROWS", 3)
    assert SIM.bm25_rank_batch_indexed(spark, qs, path).count() > 0


def test_overlapped_store_writes_run_in_the_callers_job_group(spark, tmp_path):
    """Every job of a store write — including the ones its thread pool
    starts — runs in the caller's job group."""
    from data_ingestion_spark.functions.pq import write_ivfpq_store

    docs = _docs(spark)
    root = str(tmp_path / "root")
    vecs = spark.range(1, 81).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda j: F.sin(F.col("id") * (j + F.lit(1.37))).cast("double"),
        ).alias("embedding"),
    )
    ops = {
        "postings-build": lambda: SIM.build_postings_index_versioned(docs, root),
        "postings-upsert": lambda: SIM.upsert_postings_index_versioned(docs.limit(5), root),
        "postings-compact": lambda: SIM.compact_index(spark, root),
        "ann-sq8": lambda: SIM.write_ann_store_versioned(
            vecs, str(tmp_path / "ann"), quantized=True, n_tables=2
        ),
        "ivfpq": lambda: write_ivfpq_store(
            vecs, str(tmp_path / "pq"), n_cells=2, m=4, k_pq=16, iters=2
        ),
    }
    for name, op in ops.items():
        n, outside = jobs_in_group(spark, op, f"grp-{name}")
        assert n > 0 and outside == set(), (name, n, sorted(outside))
