"""Training-corpus hygiene queries: benchmark decontamination,
entropy-based quality scoring, and cross-split near-duplicate leakage.

North-star LLM-pipeline scope (no reference analogue — the reference
ends at metadata sync; these are the curation steps a 100 TB corpus
needs before training). Decontamination and entropy scoring are
expression-native single-scan plans; the only broadcast is the
benchmark n-gram set, which is small by construction (eval sets are MBs
against a TB-scale corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.materialize import materialize

from ..operators import decontam as DC
from ..operators import text as T
from ..sources import load_table

# Benchmark membership: deterministic slice of the corpus standing in
# for a held-out eval set. Real pipelines use 8-13-gram overlap; this
# synthetic corpus draws ~30 vocabulary words, so 3-grams give the
# realistic hit DISTRIBUTION (some docs clean, some with 1-4 hits)
# that 8-grams give on natural text. The operator takes n as a
# parameter; nothing below depends on n=3.
_BENCH_MOD = 97
_NGRAM_N = 3


def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training docs sharing any word 3-gram with the benchmark
    slice (doc_id % 97 == 0) — the GPT-3-style n-gram overlap
    decontamination step. Benchmark n-grams broadcast; the corpus side
    aggregates locally, so the plan is one corpus scan + one narrow
    per-doc-count shuffle regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % _BENCH_MOD == 0)
    train = docs.filter(F.col("doc_id") % _BENCH_MOD != 0)
    grams = DC.benchmark_ngram_set(bench, "text", _NGRAM_N)
    return DC.contamination_counts(
        train, grams, "doc_id", "text", _NGRAM_N
    ).orderBy("doc_id")


DECONTAMINATION_SQL = f"""
WITH words AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
), bench AS (
    SELECT DISTINCT array_to_string(w[i:i+{_NGRAM_N - 1}], ' ') AS ng
    FROM words, unnest(range(1, len(w) - {_NGRAM_N - 1} + 1)) AS t(i)
    WHERE doc_id % {_BENCH_MOD} = 0
), train AS (
    SELECT doc_id,
           len(w) - {_NGRAM_N - 1} AS n_ngrams,
           unnest(list_distinct(list_transform(
               range(1, len(w) - {_NGRAM_N - 1} + 1),
               i -> array_to_string(w[i:i+{_NGRAM_N - 1}], ' ')))) AS ng
    FROM words
    WHERE doc_id % {_BENCH_MOD} != 0
)
SELECT doc_id,
       n_ngrams,
       count(*) AS n_overlap,
       round(count(*)::DOUBLE / n_ngrams, 6) AS overlap_rate
FROM train JOIN bench USING (ng)
GROUP BY doc_id, n_ngrams
ORDER BY doc_id
"""


def word_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc lexical statistics + Shannon entropy of the word
    distribution — the perplexity-proxy quality filter. Entirely inside
    codegen (no explode): one scan scores the whole corpus."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.lower(F.col("text")))
    n = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        F.round(n_distinct / n, 6).alias("ttr"),
        F.round(T.word_entropy(F.col("text")), 6).alias("entropy_bits"),
    ).orderBy("doc_id")


# The DuckDB fold mirrors operators/text.py::word_entropy term-for-term:
# probabilities over the SORTED distinct-token list, sequential
# list_reduce sum, so the float accumulation order is identical.
WORD_ENTROPY_SQL = """
WITH words AS (
    SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
), stats AS (
    SELECT doc_id, w,
           len(w) AS n_tokens,
           len(list_distinct(w)) AS n_distinct,
           list_sort(list_distinct(w)) AS d
    FROM words
)
SELECT doc_id,
       n_tokens,
       n_distinct,
       round(n_distinct::DOUBLE / n_tokens, 6) AS ttr,
       round(-list_reduce(
           list_prepend(0.0::DOUBLE,
               list_transform(d,
                   x -> (len(list_filter(w, t -> t = x))::DOUBLE / n_tokens)
                        * log2(len(list_filter(w, t -> t = x))::DOUBLE / n_tokens))),
           (acc, v) -> acc + v), 6) AS entropy_bits
FROM stats
ORDER BY doc_id
"""


QUERIES = {
    "benchmark_decontamination": benchmark_decontamination,
    "word_entropy_quality": word_entropy_quality,
}

ORACLES = {
    "benchmark_decontamination": DECONTAMINATION_SQL,
    "word_entropy_quality": WORD_ENTROPY_SQL,
}


# --------------------------------------------------------------------------
# Cross-split near-duplicate leakage (decontamination by near-dup)
# --------------------------------------------------------------------------
# benchmark_decontamination catches EXACT n-gram overlap with an eval
# set; this is its near-duplicate complement — the Dolma/Pile-style
# audit for train documents that are ~the same text as a val/test
# document (train/eval leakage inflates benchmark scores without any
# verbatim n-gram hit). Pairs are found with the same AllPairs/PPJoin
# prefix-filter THEOREM (Bayardo et al. 2007; Xiao et al. 2008),
# applied bipartite: the canonical token order (global df asc, token)
# is computed over the UNION of both sides, so the prefix argument
# holds for each side independently and the candidate join is
# train-prefix x eval-prefix — never all-pairs, no false negatives.
# The leakage threshold is deliberately LOWER than the dedup threshold
# (3/5 vs 4/5): an audit wants the gray zone, and the verify predicate
# stays pure integer cross-multiplication (8c >= 3(n_a + n_b)).

_LEAK_T_NUM, _LEAK_T_DEN = 3, 5


def cross_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 3/5 pairs between train docs and val/test docs
    of the sampled corpus (split assignment = corpus_sampling_splits'
    deterministic hash gates). Oracle runs the brute-force bipartite
    definition, so a hash match proves the prefix filter's
    completeness on this corpus."""
    from pyspark.sql import Window

    from ..operators import dedup as D
    from .llm_corpus import sampling_split_exprs

    # Split assignment is a pure function of (doc_id, lang) — compute
    # it INLINE on the corpus scan instead of joining
    # corpus_sampling_splits back by doc_id. The join form cost a
    # corpus exchange and, worse, placed the shingle projection in a
    # different codegen stage from the explode-inferred
    # size(shingles)>0 filter, so the whole shingle transform ran
    # TWICE per row (measured: toks pass 5.9 s join form vs 2.6 s
    # fused, sf0.1). Guide §2.4 (remove shuffles outright).
    _, sample_bucket, rate, split = sampling_split_exprs()
    # The compact testdata plans the documents scan as ONE split, so
    # the CPU-dense shingle transform would serialize on a single core
    # (measured: toks pass 3.8-5.2 s on 1 of 32 tasks). Spread the RAW
    # text rows (post-filter, pre-shingle — only doc_id/lang/text cross
    # the narrow exchange) so the shingle+explode stage fans out;
    # no-op on a well-laid-out table (guide §2.5 input skew).
    from ..operators.spread import spread_for_compute

    docs = spread_for_compute(
        load_table(spark, sf_dir, "documents")
        .filter(sample_bucket < rate)
        .select("doc_id", "lang", "text")
    ).select(
        "doc_id",
        split.alias("split"),
        D.shingles(F.col("text")).alias("sh"),
    )
    toks = (
        # explode_outer + isNotNull instead of inner explode: Catalyst
        # guards an inner Generate with a size(sh)>0 filter that
        # re-evaluates the WHOLE shingle HOF per row in a separate
        # operator (measured 2.4-4.2 s vs 0.4-0.6 s for the outer form
        # at sf0.1 — identical 186,755 output rows; the null-filter on
        # the generated column replaces the empty-array drop exactly:
        # shingle strings are never null).
        docs.select("doc_id", "split", F.explode_outer("sh").alias("tok"))
        .filter(F.col("tok").isNotNull())
        # The exploded token relation feeds FIVE consumers keyed three
        # different ways (doc_id for sizes/prefix, tok for df/cand,
        # (id, tok) twice for the overlap count) — Catalyst has no
        # cross-branch subtree reuse, so without materialization the
        # scan + shingle explode executes five times (measured: 5
        # duplicate subtrees in the r10 before-plan). materialize()
        # computes it ONCE per invocation — eager, inside the
        # timed region, recomputed on every run (no cross-run cache;
        # guide §5 "cheaper way to cut lineage"). The strategy is
        # config-gated (spark.m4i.materialize.strategy): localCheckpoint
        # locally, persist/reliable checkpoint on clusters where
        # non-replicated checkpoint blocks are a liability.
        .transform(materialize)
    )
    sizes = toks.groupBy("doc_id").agg(
        F.first("split").alias("split"), F.count(F.lit(1)).alias("n")
    ).transform(materialize)
    # Global canonical order over BOTH sides: shingle df is
    # near-linear in corpus size — aggregated, never broadcast.
    df_rel = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    prefix = (
        toks.join(df_rel, "tok")
        .join(sizes.select("doc_id", "n"), "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= F.col("n")
            - F.expr(
                f"({_LEAK_T_NUM} * n + {_LEAK_T_DEN} - 1) "
                f"DIV {_LEAK_T_DEN}"
            )
            + 1
        )
        .select("doc_id", "split", "tok", "n")
        # Two consumers (the train and eval sides of the candidate
        # join) — materialize so the df-join + window run once.
        .transform(materialize)
    )
    pa = prefix.filter(F.col("split") == "train").alias("pa")
    pb = prefix.filter(F.col("split") != "train").alias("pb")
    cand = (
        pa.join(
            pb,
            (F.col("pa.tok") == F.col("pb.tok"))
            # AllPairs length filter: t*|A| <= |B| <= |A|/t, integer form
            & (
                _LEAK_T_DEN * F.col("pb.n")
                >= _LEAK_T_NUM * F.col("pa.n")
            )
            & (
                _LEAK_T_DEN * F.col("pa.n")
                >= _LEAK_T_NUM * F.col("pb.n")
            ),
        )
        .select(
            F.col("pa.doc_id").alias("id_train"),
            F.col("pb.doc_id").alias("id_eval"),
        )
        .distinct()
    )
    # Overlap only for candidates, compound (id_eval, tok) join key —
    # so no candidate fans out over its full token list.
    co = (
        cand.join(
            toks.select(F.col("doc_id").alias("id_train"), "tok"),
            "id_train",
        )
        .join(
            toks.select(F.col("doc_id").alias("id_eval"), "tok"),
            ["id_eval", "tok"],
        )
        .groupBy("id_train", "id_eval")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    na = sizes.select(
        F.col("doc_id").alias("id_train"), F.col("n").alias("n_train")
    )
    nb = sizes.select(
        F.col("doc_id").alias("id_eval"),
        F.col("split").alias("eval_split"),
        F.col("n").alias("n_eval"),
    )
    return (
        co.join(na, "id_train")
        .join(nb, "id_eval")
        .filter(
            (_LEAK_T_NUM + _LEAK_T_DEN) * F.col("n_shared")
            >= _LEAK_T_NUM * (F.col("n_train") + F.col("n_eval"))
        )
        .select(
            "id_train",
            "id_eval",
            "eval_split",
            "n_shared",
            "n_train",
            "n_eval",
            F.round(
                F.col("n_shared")
                / (F.col("n_train") + F.col("n_eval") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("id_train", "id_eval")
    )


def _cross_split_leakage_sql() -> str:
    # Shingle CTEs sliced from the ppjoin oracle so the 3-gram
    # definition cannot drift between the two audits; split CTE from
    # the sampling-splits oracle for the same reason.
    from .llm_corpus import _sampling_splits_sql
    from .llm_dedup import PPJOIN_SQL

    shingle_ctes = PPJOIN_SQL.split("sizes AS")[0].strip().rstrip(",")
    splits = _sampling_splits_sql().replace("ORDER BY doc_id", "")
    return f"""
{shingle_ctes},
split_out AS ({splits}),
stoks AS (
    SELECT t.doc_id, s.split, t.tok
    FROM toks t JOIN split_out s ON s.doc_id = t.doc_id
),
sizes AS (
    SELECT doc_id, any_value(split) AS split, count(*) AS n
    FROM stoks GROUP BY doc_id
),
co AS (
    SELECT a.doc_id AS id_train, b.doc_id AS id_eval,
           count(*) AS n_shared
    FROM stoks a JOIN stoks b
      ON a.tok = b.tok AND a.split = 'train' AND b.split <> 'train'
    GROUP BY 1, 2
)
SELECT co.id_train, co.id_eval,
       sb.split AS eval_split,
       co.n_shared,
       sa.n AS n_train, sb.n AS n_eval,
       round(co.n_shared::DOUBLE / (sa.n + sb.n - co.n_shared), 6)
           AS jaccard
FROM co
JOIN sizes sa ON sa.doc_id = co.id_train
JOIN sizes sb ON sb.doc_id = co.id_eval
WHERE ({_LEAK_T_NUM + _LEAK_T_DEN}) * co.n_shared
      >= {_LEAK_T_NUM} * (sa.n + sb.n)
ORDER BY co.id_train, co.id_eval
"""


QUERIES["cross_split_leakage"] = cross_split_leakage
ORACLES["cross_split_leakage"] = _cross_split_leakage_sql()
