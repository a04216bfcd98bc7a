"""Unit tests for the MapReduce-core operators (SURVEY.md §2a)."""

from __future__ import annotations

from pyspark.sql import Row

from mapreduce_system_spark.operators import mapreduce as MR
from mapreduce_system_spark.sources.tables import load_table


def docs_df(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(rows)])


def test_word_count_golden(spark):
    """README.MD:25-53 golden shape: Hello 2 / is 2 / my 1 / name 3."""
    df = docs_df(spark, ["Hello my name is", "name name Hello is"])
    got = [(r.word, r.cnt) for r in MR.word_count(df).collect()]
    assert got == [("hello", 2), ("is", 2), ("my", 1), ("name", 3)]


def test_word_count_empty_tokens_dropped(spark):
    df = docs_df(spark, ["  a,,b  !! a"])
    got = dict((r.word, r.cnt) for r in MR.word_count(df).collect())
    assert got == {"a": 2, "b": 1}


def test_grep(spark):
    df = docs_df(spark, ["spark table scan", "nothing here", "table sort fast"])
    got = sorted(r.doc_id for r in MR.grep(df, "table (scan|sort)").collect())
    assert got == [0, 2]


def test_distributed_sort_is_globally_ordered(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_extendedprice"])
    rows = MR.distributed_sort(li, ["l_extendedprice"], ascending=False).limit(50).collect()
    prices = [r.l_extendedprice for r in rows]
    assert prices == sorted(prices, reverse=True)


def test_inverted_index(spark):
    df = docs_df(spark, ["cat dog", "dog fish", "dog cat"])
    idx = {r.word: (list(r.postings), r.df) for r in MR.inverted_index(df).collect()}
    assert idx["cat"] == ([0, 2], 2)
    assert idx["dog"] == ([0, 1, 2], 3)
    assert idx["fish"] == ([1], 1)


def test_per_key_fold_sorted_full_list(spark):
    df = spark.createDataFrame([(1, 3), (1, 1), (1, 2), (2, 9)], ["k", "v"])
    got = {r.k: (r.folded, r.n_values) for r in MR.per_key_fold(df, "k", "v").collect()}
    assert got == {1: ("1,2,3", 3), 2: ("9", 1)}


def test_generic_map_reduce_word_count(spark):
    """The reference's (mapf, reducef) contract end-to-end (worker.go:51)."""
    df = spark.createDataFrame(
        [("f1", "Hello my name is"), ("f2", "name name Hello is")], ["file", "content"]
    )

    def mapf(fname, content):
        import re

        return [(w, "1") for w in re.split(r"\W+", content.lower()) if w]

    def reducef(key, values):
        return str(len(values))

    out = {r.key: r.value for r in MR.map_reduce(spark, df, mapf, reducef, n_reduce=4).collect()}
    assert out == {"hello": "2", "is": "2", "my": "1", "name": "3"}


def test_map_reduce_scalable_matches_rdd_variant(spark):
    """Arrow-batched generic engine ≡ RDD fidelity engine on the same job."""
    df = spark.createDataFrame(
        [("f1", "Hello my name is"), ("f2", "name name Hello is")], ["file", "content"]
    )

    def mapf(fname, content):
        import re

        return [(w, "1") for w in re.split(r"\W+", content.lower()) if w]

    def reducef(key, values):
        return str(len(values))

    scalable = {r.key: r.value for r in MR.map_reduce_scalable(df, mapf, reducef).collect()}
    rdd_based = {r.key: r.value for r in MR.map_reduce(spark, df, mapf, reducef, n_reduce=4).collect()}
    assert scalable == rdd_based == {"hello": "2", "is": "2", "my": "1", "name": "3"}


def test_map_reduce_scalable_sorted_value_echo_matches_rdd_variant(spark):
    """Both engines hand reducef the SAME sorted value list per key. The
    reducef here ECHOES its value list, so ordering drift (not just
    count drift) would fail."""
    df = spark.createDataFrame(
        [("f1", "b a c a"), ("f2", "a c b b")], ["file", "content"]
    )

    def mapf(fname, content):
        return [(w, f"{fname}:{i}") for i, w in enumerate(content.split())]

    def reducef(key, values):
        return "|".join(values)  # sorted order is part of the contract

    scalable = {
        r.key: r.value
        for r in MR.map_reduce_scalable(df, mapf, reducef).collect()
    }
    rdd_based = {
        r.key: r.value
        for r in MR.map_reduce(spark, df, mapf, reducef, n_reduce=4).collect()
    }
    assert scalable == rdd_based
    assert scalable["a"] == "f1:1|f1:3|f2:0"


def test_generic_contract_mapf_tolerates_null_text():
    """A NULL documents.text row must map to zero pairs (the oracle's
    unnest-over-NULL), not crash the Arrow map stage."""
    from mapreduce_system_spark.queries.mrcore import _wc_mapf

    assert _wc_mapf("f", None) == []
    assert _wc_mapf("f", "A b!") == [("a", "1"), ("b", "1")]
