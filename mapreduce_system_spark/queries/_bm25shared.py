"""BM25 query-set constants AND the one BM25 DataFrame chain, shared by
fresh7b (txt_bm25_topk) and fresh11 (txt_rrf_fusion, which fuses that
registered ranking).

A separate NON-REGISTERING module on purpose: registration order is
load-bearing (queries/__init__.py), so a query module must never
import another query module at top level — the imported module's
@register calls would fire at the importer's position and silently
re-seat its queries in the driver window (found when fresh11's draft
import of fresh7b did exactly that). Constants live here; since r18 the
BM25 CHAIN does too (:func:`bm25_chain` — moved verbatim from fresh7b
so the fusion query can reuse its ``tf`` postings table instead of
re-tokenizing the corpus, guide §2.3/§2.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mapreduce_system_spark.functions.text import tokens
from mapreduce_system_spark.sources.tables import load_table

# (query, term) pairs; terms drawn from the fixture vocabulary, including
# one rare term ("dup" — planted by the near-dup fixtures) so the idf
# spread is exercised, not just uniform-frequency terms.
BM25_QUERIES: list[tuple[str, str]] = [
    ("fast table scan", "fast"),
    ("fast table scan", "table"),
    ("fast table scan", "scan"),
    ("hash join merge", "hash"),
    ("hash join merge", "join"),
    ("hash join merge", "merge"),
    ("dup stream", "dup"),
    ("dup stream", "stream"),
]

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10

BM25_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in BM25_QUERIES)


def bm25_chain(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The ONE BM25 construction: returns ``(ranked, tf)`` where
    ``ranked`` is the top-k (query, doc_id, rank, score) frame
    ``txt_bm25_topk`` registers and ``tf`` is the (doc_id, word, tf)
    postings aggregate it scores from — exposed so ``txt_rrf_fusion``
    can derive its term-coverage system from the SAME postings pass
    instead of tokenizing the corpus a second time (tf holds exactly
    one row per distinct (doc_id, word), so a coverage count over
    tf ≡ the count over the distinct exploded postings). Body moved
    VERBATIM from fresh7b.q_bm25_topk (r18): same expressions, same
    parenthesization, same broadcast structure — the oracle-parity
    float discipline is unchanged.
    """
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("word"))
    # one tokenize pass: dl and df both derive from the tf table (dlen =
    # sum of a doc's term frequencies), so the corpus is exploded once
    tf = tok.groupBy("doc_id", "word").agg(F.count("*").cast("double").alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dlen"))
    corpus = dl.agg(
        F.avg("dlen").alias("avgdl"), F.count("*").cast("double").alias("n")
    )
    df = tf.groupBy("word").agg(F.count("*").cast("double").alias("df"))
    q = spark.createDataFrame(BM25_QUERIES, ["query", "word"])
    # Pre-filter the df aggregate down to the query terms BEFORE it is
    # broadcast: the full vocabulary of a web-scale corpus is tens of
    # millions of rows and must never ride a forced broadcast hint. The
    # (tiny) query term list is the broadcast side of the semi-reduction,
    # so the build relation below is bounded by |query terms|, not |vocab|.
    dfq = df.join(F.broadcast(q.select("word").distinct()), "word")

    k1, b = F.lit(BM25_K1), F.lit(BM25_B)
    idf = F.log(1 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tfnorm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dlen") / F.col("avgdl"))
    )
    scored = (
        F.broadcast(q)
        .join(tf, "word")
        .join(F.broadcast(dfq), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .groupBy("query", "doc_id")
        .agg(F.sum(idf * tfnorm).alias("score"))
    )
    win = W.partitionBy("query").orderBy(F.desc("score"), "doc_id")
    ranked = (
        scored.select(
            "query",
            "doc_id",
            F.row_number().over(win).alias("rank"),
            F.round("score", 4).alias("score"),
        )
        .where(F.col("rank") <= BM25_TOPK)
        .orderBy("query", "rank")
    )
    return ranked, tf
