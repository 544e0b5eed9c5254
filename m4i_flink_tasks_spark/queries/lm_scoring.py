"""N-gram language-model scoring — the CCNet-style perplexity filter of
a pretraining-data pipeline (Wenzek et al., "CCNet: Extracting High
Quality Monolingual Datasets from Web Crawl Data", LREC 2020): train a
small LM on the corpus, score every document's perplexity under it, and
bucket documents head/middle/tail so downstream sampling can prefer the
low-perplexity head. CCNet uses a KenLM 5-gram; the in-repo stand-in is
an add-one-smoothed word BIGRAM model, which keeps the exact same
pipeline shape (two passes: count model → score) while staying
expressible as native expressions both engines evaluate identically.

Scale shape (the part that matters at 100 TB):

- Pass 1 trains the model with two hash aggregations over the exploded
  corpus — unigram and bigram counts, both map-side combinable, both
  sublinear outputs (Heaps' law: the bigram type count grows ~n^0.8).
- Pass 2 re-explodes the corpus and joins the model back: the unigram
  table is broadcast (vocabulary-sized); the bigram join shuffles by
  bigram key — the one corpus-sized shuffle, co-partitioned with the
  counting aggregation so AQE can reuse the exchange.
- No Python anywhere; perplexity is exp(-mean log p), a per-doc
  aggregate of per-bigram expression arithmetic.

Determinism: log-prob sums are double accumulations whose order differs
across engines; outputs are rounded to 4 decimals (margin ~1e9 × the
accumulated ulp error) and the head/middle/tail split orders by the
ROUNDED perplexity with doc_id tiebreak, per the repo's
round-before-ranking rule.

No reference analogue (the reference has no text surface — SURVEY
§2.6); north-star LLM-pipeline scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table

_BUCKETS = 3  # CCNet's head / middle / tail


def ngram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM perplexity + head/middle/tail bucket.

    p(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V)   (add-one smoothing)
    ppl(doc) = exp(-mean over the doc's bigram occurrences of log p)
    """
    from ..operators.spread import spread_for_compute

    # Tokenize + bigram transform is CPU-dense pre-shuffle; spread-
    # guard the compact scan (r5 thirteenth-wave cliff: 6.18 s ->
    # 2.75 s at sf1).
    docs = spread_for_compute(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("t")
    ).filter(F.size("t") >= 2)

    # corpus bigram occurrences (doc_id kept: pass 2 reuses this frame)
    # explode_outer + isNotNull: an inner Generate gets a Catalyst
    # size(...)>0 guard that re-evaluates the whole bigram transform
    # (and the collapsed split) per row in a separate operator; struct
    # elements are never null, so the null-filter drops exactly the
    # empty-array rows the inner form dropped.
    occ = (
        toks.select(
            "doc_id",
            F.explode_outer(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(t[i-1] AS w1, t[i] AS w2))"
                )
            ).alias("b"),
        )
        .filter(F.col("b").isNotNull())
        .select("doc_id", "b.w1", "b.w2")
    )

    # pass 1: the model (two hash aggregates + one scalar)
    unigrams = (
        toks.select(F.explode_outer("t").alias("w"))
        .filter(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    vocab_size = unigrams.agg(
        F.count(F.lit(1)).cast("double").alias("v")
    )
    bigrams = occ.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))

    # pass 2: score every bigram occurrence under the model
    scored = (
        occ.join(bigrams, ["w1", "w2"])  # shuffle join on the bigram key
        .join(F.broadcast(unigrams.withColumnRenamed("w", "w1")), "w1")
        .join(F.broadcast(vocab_size))
        .select(
            "doc_id",
            (F.log((F.col("cb") + 1) / (F.col("cu") + F.col("v")))).alias(
                "logp"
            ),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.exp(-F.avg("logp")), 4).alias("ppl"),
    )
    tile = F.ntile(_BUCKETS).over(Window.orderBy("ppl", "doc_id"))
    bucket = (
        F.when(tile == 1, "head").when(tile == 2, "middle").otherwise("tail")
    )
    return per_doc.select(
        "doc_id", "n_bigrams", "ppl", bucket.alias("lm_bucket")
    ).orderBy("doc_id")


NGRAM_LM_SQL = r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
    FROM documents
), toks2 AS (
    SELECT * FROM toks WHERE len(t) >= 2
), occ AS (
    SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
    FROM toks2, unnest(range(1, len(t))) AS u(i)
), unigrams AS (
    SELECT w, count(*) AS cu
    FROM (SELECT unnest(t) AS w FROM toks2)
    GROUP BY w
), v AS (
    SELECT count(*)::DOUBLE AS v FROM unigrams
), bigrams AS (
    SELECT w1, w2, count(*) AS cb FROM occ GROUP BY w1, w2
), scored AS (
    SELECT occ.doc_id,
           ln((cb + 1) / (cu + v.v)) AS logp
    FROM occ
    JOIN bigrams USING (w1, w2)
    JOIN unigrams ON unigrams.w = occ.w1
    CROSS JOIN v
), per_doc AS (
    SELECT doc_id, count(*) AS n_bigrams,
           round(exp(-avg(logp)), 4) AS ppl
    FROM scored GROUP BY doc_id
)
SELECT doc_id, n_bigrams, ppl,
       CASE ntile(3) OVER (ORDER BY ppl, doc_id)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
       END AS lm_bucket
FROM per_doc
ORDER BY doc_id
"""


def lm_head_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed CCNet step: keep only head-bucket documents, then
    take the cross-engine deterministic hash-gated half of them — the
    'sample the best-scoring slice' move a corpus build performs after
    scoring. Reuses the scorer above end-to-end, so the driver row
    proves the full two-stage pipeline."""
    from ..operators import text as T

    scored = ngram_lm_perplexity(spark, sf_dir)
    head = scored.filter(F.col("lm_bucket") == "head")
    gate = T.scrambled_hash(
        F.concat(F.lit("lm:"), F.col("doc_id").cast("string"))
    )
    return (
        head.withColumn("gate", gate % 2)
        .filter(F.col("gate") == 0)
        .select("doc_id", "n_bigrams", "ppl")
        .orderBy("doc_id")
    )


def _lm_head_sample_sql() -> str:
    from .sketches import _scrambled_hash_sql

    gate = _scrambled_hash_sql("'lm:' || doc_id::VARCHAR")
    return f"""
WITH scored AS ({NGRAM_LM_SQL.replace("ORDER BY doc_id", "")})
SELECT doc_id, n_bigrams, ppl
FROM scored
WHERE lm_bucket = 'head' AND {gate} % 2 = 0
ORDER BY doc_id
"""


QUERIES = {
    "ngram_lm_perplexity": ngram_lm_perplexity,
    "lm_head_sample": lm_head_sample,
}

ORACLES = {
    "ngram_lm_perplexity": NGRAM_LM_SQL,
    "lm_head_sample": _lm_head_sample_sql(),
}


# --------------------------------------------------------------------------
# Selection ablation: does the curated corpus beat the raw corpus?
# --------------------------------------------------------------------------
# The experiment every data-selection pipeline exists to run: fit the
# LM once on the RAW train split and once on the CURATED train split
# (corpus_build_manifest's gate chain: rule filters + perplexity cut +
# classifier keep), score both models on the same held-out splits, and
# report corpus-level perplexity side by side. Two model fits and two
# scoring passes, each the base query's scale shape (two train-side hash
# aggregates, one bigram-keyed shuffle on the eval side, vocabulary
# broadcast); unseen bigrams survive through add-one smoothing, so the
# bigram attach is a LEFT join;
# the curated doc set arrives as a doc_id semi-join (broadcast-sized
# against the corpus at any scale, duplicate of the manifest's own
# output relation).


def selection_ablation_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(model, split, n_docs, n_bigrams, oov_rate, corpus_ppl) for
    model ∈ {raw_train, curated_train} × split ∈ {val, test}.
    corpus_ppl = exp(-sum logp / n_bigrams) over ALL held-out bigram
    occurrences (token-weighted, the standard eval convention)."""
    from .llm_corpus import corpus_build_manifest, corpus_sampling_splits

    splits = corpus_sampling_splits(spark, sf_dir).select(
        "doc_id", "split"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = (
        docs.join(splits, "doc_id")
        .select(
            "doc_id",
            "split",
            F.split(F.trim(F.lower("text")), r"\s+").alias("t"),
        )
        .filter(F.size("t") >= 2)
    )
    # outer + isNotNull: see ngram_lm_perplexity occ comment.
    occ = (
        toks.select(
            "doc_id",
            "split",
            F.explode_outer(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(t[i-1] AS w1, t[i] AS w2))"
                )
            ).alias("b"),
        )
        .filter(F.col("b").isNotNull())
        .select("doc_id", "split", "b.w1", "b.w2")
    )
    eval_occ = occ.filter(F.col("split") != "train")

    curated = corpus_build_manifest(spark, sf_dir).select("doc_id")

    def scores(train_toks, train_occ, model: str):
        unigrams = (
            train_toks.select(F.explode_outer("t").alias("w"))
        .filter(F.col("w").isNotNull())
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("cu"))
        )
        vocab_size = unigrams.agg(
            F.count(F.lit(1)).cast("double").alias("v")
        )
        bigrams = train_occ.groupBy("w1", "w2").agg(
            F.count(F.lit(1)).alias("cb")
        )
        scored = (
            eval_occ.join(bigrams, ["w1", "w2"], "left")
            .join(
                F.broadcast(unigrams.withColumnRenamed("w", "w1")),
                "w1",
                "left",
            )
            .join(F.broadcast(vocab_size))
            .select(
                "doc_id",
                "split",
                F.coalesce("cb", F.lit(0)).alias("cb0"),
                (
                    F.log(
                        (F.coalesce("cb", F.lit(0)) + 1)
                        / (F.coalesce("cu", F.lit(0)) + F.col("v"))
                    )
                ).alias("logp"),
            )
        )
        return scored.groupBy("split").agg(
            F.lit(model).alias("model"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum((F.col("cb0") == 0).cast("long"))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("oov_rate"),
            F.round(
                F.exp(-F.sum("logp") / F.count(F.lit(1))), 4
            ).alias("corpus_ppl"),
        )

    raw_toks = toks.filter(F.col("split") == "train")
    raw_occ = occ.filter(F.col("split") == "train")
    cur_toks = raw_toks.join(curated, "doc_id")
    cur_occ = raw_occ.join(curated, "doc_id")

    return (
        scores(raw_toks, raw_occ, "raw_train")
        .unionByName(scores(cur_toks, cur_occ, "curated_train"))
        .select(
            "model", "split", "n_docs", "n_bigrams", "oov_rate",
            "corpus_ppl",
        )
        .orderBy("model", "split")
    )


def _selection_ablation_sql() -> str:
    from .llm_corpus import _corpus_build_manifest_sql, _sampling_splits_sql

    splits = _sampling_splits_sql().replace("ORDER BY doc_id", "")
    manifest = _corpus_build_manifest_sql().replace(
        "ORDER BY a.doc_id", ""
    )

    def scores(train_gate: str, model: str) -> str:
        return f"""
SELECT '{model}' AS model, s.split,
       count(DISTINCT s.doc_id)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_bigrams,
       round(sum(CASE WHEN s.cb0 = 0 THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS oov_rate,
       round(exp(-sum(s.logp) / count(*)), 4) AS corpus_ppl
FROM (
    SELECT o.doc_id, o.split,
           coalesce(b.cb, 0) AS cb0,
           ln((coalesce(b.cb, 0) + 1)
              / (coalesce(u.cu, 0) + v.v)) AS logp
    FROM occ o
    LEFT JOIN (
        SELECT i.w1, i.w2, count(*) AS cb
        FROM occ i WHERE i.split = 'train' AND {train_gate}
        GROUP BY i.w1, i.w2
    ) b ON b.w1 = o.w1 AND b.w2 = o.w2
    LEFT JOIN (
        SELECT i.w, count(*) AS cu
        FROM (
            SELECT doc_id, unnest(t) AS w FROM toks2
            WHERE split = 'train'
        ) i
        WHERE {train_gate}
        GROUP BY i.w
    ) u ON u.w = o.w1
    CROSS JOIN (
        SELECT count(DISTINCT i.w)::DOUBLE AS v
        FROM (
            SELECT doc_id, unnest(t) AS w FROM toks2
            WHERE split = 'train'
        ) i
        WHERE {train_gate}
    ) v
    WHERE o.split <> 'train'
) s
GROUP BY s.split
"""

    raw_gate = "TRUE"
    cur_gate = "i.doc_id IN (SELECT doc_id FROM curated)"
    return rf"""
WITH split_out AS ({splits}),
curated AS (SELECT doc_id FROM ({manifest})),
toks AS (
    SELECT d.doc_id, s.split,
           string_split_regex(trim(lower(d.text)), '\s+') AS t
    FROM documents d JOIN split_out s ON s.doc_id = d.doc_id
), toks2 AS (
    SELECT * FROM toks WHERE len(t) >= 2
), occ AS (
    SELECT doc_id, split, t[i] AS w1, t[i + 1] AS w2
    FROM toks2, unnest(range(1, len(t))) AS u(i)
)
{scores(raw_gate, 'raw_train')}
UNION ALL
{scores(cur_gate, 'curated_train')}
ORDER BY model, split
"""


QUERIES["selection_ablation_report"] = selection_ablation_report
ORACLES["selection_ablation_report"] = _selection_ablation_sql()
