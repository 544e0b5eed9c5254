"""Hybrid retrieval: reciprocal-rank fusion of the lexical (BM25) and
semantic (embedding-cosine) arms.

RRF (Cormack, Clarke & Buettcher, "Reciprocal Rank Fusion outperforms
Condorcet and individual Rank Learning Methods", SIGIR 2009):
``score(d) = Σ_arms 1 / (k + rank_arm(d))`` with the standard k = 60 —
the fusion every hybrid search stack (sparse+dense retrieval in front
of a RAG pipeline) runs, valued precisely because it needs only RANKS,
never the arms' incomparable score scales.

The synthetic corpus convention: ``vec_id`` in ``embeddings`` is the
embedding of the same-numbered ``doc_id`` in ``documents`` (the
curated-corpus layout where the embedding table is derived 1:1 from
the document table).

Engine determinism: each arm's candidate list is a bounded TakeOrdered
(top ``_ARM_N`` by rounded score, id tie-break — the round-before-rank
convention), ranks are integers from a window over that ≤ ``_ARM_N``-row
relation, and the fused score is a TWO-term float sum evaluated in the
same literal order on both engines, rounded before the final ranking.

Scale shape: the BM25 arm is bounded by the query terms' posting
lists (broadcast DF/corpus dims); the semantic arm here is the exact
scan baseline (one broadcast-query pass + TakeOrdered) — at corpus
scale the drop-in is the bucket-pruned LSH/IVF-PQ probe the ANN family
already provides, which changes candidate generation only. The fusion
itself joins two ≤ ``_ARM_N``-row relations: free at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import similarity as S
from ..sources import load_table
from .llm_similarity import _cosine_sql

_RRF_K = 60
_ARM_N = 50
_FUSED_TOP = 10
_QUERY_VEC_ID = 0  # the semantic arm's query document (llm_similarity)
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERY = ("spark", "join", "window")


def bm25_from_index(postings: DataFrame, doclen: DataFrame) -> DataFrame:
    """BM25 scoring from an INDEX representation — shared by the batch
    lexical arm (which derives both relations from one TF pass) and the
    streaming inverted-index twin (``streaming/bm25_index.py``), whose
    insert-only state holds exactly these two relations:

    - ``postings``: (term, doc_id, tf) restricted to the query terms —
      per-term df re-derives from it (a query term's df is the length
      of its own posting list, so full-vocabulary df state is never
      needed);
    - ``doclen``: (doc_id, dl) — the catalog the corpus stats (n_docs,
      avgdl) aggregate from.

    The vocabulary-sized df and one-row corpus relations reach the
    score join as broadcasts. Scores are ``round(x, 6)``-ed BEFORE
    ranking on both engines, so a final-ulp difference between Java's
    ``Math.log`` and DuckDB's ``ln`` cannot reorder the top-k."""
    df_rel = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    corpus = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (
        F.col("tf")
        * (_BM25_K1 + 1.0)
        / (
            F.col("tf")
            + _BM25_K1
            * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        postings.join(F.broadcast(df_rel), "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(idf * tf_part), 6).alias("bm25"),
            F.count(F.lit(1)).alias("n_query_terms_hit"),
        )
    )


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, bm25, n_query_terms_hit) lexical arm for the fixed
    query, PRE-limit: whitespace tokenization, one (doc_id, term) TF
    shuffle, then :func:`bm25_from_index` over the query terms' posting
    lists — bounded by those lists, never corpus-sized. The
    tokenize+explode is CPU-dense pre-shuffle, so the scan is
    spread-guarded."""
    from ..operators.spread import spread_for_compute

    docs = spread_for_compute(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    # outer explode: null rows fail the != '' filter; avoids the
    # Generate guard re-computing the split.
    tokens = docs.select(
        "doc_id",
        F.explode_outer(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("term"),
    ).filter(F.col("term") != "")
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    doclen = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    postings = tf.filter(F.col("term").isin(*_BM25_QUERY))
    return bm25_from_index(postings, doclen)


def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 fused results: per-arm rank (NULL when an arm did not
    retrieve the document in its top-``_ARM_N``) and the RRF score."""
    return rrf_fused(
        bm25_scores(spark, sf_dir),
        load_table(spark, sf_dir, "embeddings"),
    )


def rrf_fused(lex_scores: DataFrame, emb: DataFrame) -> DataFrame:
    """The fusion readout over any pre-limit (doc_id, bm25, ...) lexical
    scoring and embedding table — shared by the batch query above and
    the streaming inverted-index twin (``stream_hybrid_rrf``), whose
    maintained postings/doclen state reproduces the same lexical
    relation for any batch split."""
    lex = (
        lex_scores
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_ARM_N)
    )
    # rank windows run on the ≤ _ARM_N-row TakeOrdered output — the
    # single partition is bounded by construction.
    w_lex = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex_r = lex.select(
        "doc_id", F.row_number().over(w_lex).alias("rank_lex")
    )
    sem = S.brute_force_topk(emb, _QUERY_VEC_ID, _ARM_N)
    w_sem = Window.orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
    sem_r = sem.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(w_sem).alias("rank_sem"),
    )
    fused = lex_r.join(sem_r, "doc_id", "full_outer")
    rrf = F.round(
        F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("rank_lex")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("rank_sem")), F.lit(0.0)),
        6,
    )
    return (
        fused.select("doc_id", "rank_lex", "rank_sem", rrf.alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(_FUSED_TOP)
    )


def _rrf_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_QUERY)
    return rf"""
WITH tf AS (
    SELECT doc_id, term, count(*) AS tf
    FROM (SELECT doc_id,
                 unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
          FROM documents)
    WHERE term <> ''
    GROUP BY doc_id, term
),
doclen AS (
    SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id
),
df_rel AS (
    SELECT term, count(*) AS df FROM tf GROUP BY term
),
corpus AS (
    SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doclen
),
bm_scored AS (
    SELECT tf.doc_id,
           round(sum(
               ln(1.0 + (corpus.n_docs - df_rel.df + 0.5)
                        / (df_rel.df + 0.5))
               * tf.tf * (1.2 + 1.0)
                 / (tf.tf + 1.2 * (1.0 - 0.75
                                   + 0.75 * doclen.dl / corpus.avgdl))
           ), 6) AS bm25
    FROM tf
    JOIN df_rel USING (term)
    JOIN doclen ON tf.doc_id = doclen.doc_id
    CROSS JOIN corpus
    WHERE tf.term IN ({terms})
    GROUP BY tf.doc_id
),
lex AS (
    SELECT doc_id, bm25 FROM bm_scored
    ORDER BY bm25 DESC, doc_id LIMIT {_ARM_N}
),
lex_r AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_lex
    FROM lex
),
q AS (
    SELECT embedding AS query_emb FROM embeddings
    WHERE vec_id = {_QUERY_VEC_ID}
),
sem AS (
    SELECT vec_id AS doc_id,
           round({_cosine_sql('embedding', 'query_emb')}, 6) AS cosine_sim
    FROM embeddings, q
    WHERE vec_id != {_QUERY_VEC_ID}
    ORDER BY cosine_sim DESC, vec_id LIMIT {_ARM_N}
),
sem_r AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY cosine_sim DESC, doc_id) AS rank_sem
    FROM sem
)
SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
       l.rank_lex,
       s.rank_sem,
       round(coalesce(1.0 / ({_RRF_K} + l.rank_lex), 0.0)
             + coalesce(1.0 / ({_RRF_K} + s.rank_sem), 0.0), 6)
           AS rrf_score
FROM lex_r l FULL OUTER JOIN sem_r s ON l.doc_id = s.doc_id
ORDER BY rrf_score DESC, doc_id LIMIT {_FUSED_TOP}
"""


QUERIES = {"hybrid_rrf_retrieval": hybrid_rrf_retrieval}
ORACLES = {"hybrid_rrf_retrieval": _rrf_sql()}
