"""Corpus-curation queries for large-scale training-data pipelines
(north-star extension; no reference counterpart — the reference is a
metadata-governance ETL, see SURVEY.md §2.6).

The stages a 100 TB pretraining-corpus pipeline runs between raw
ingest and tokenization — deterministic sampling and splits, mixture
sampling, BPE training and encoding, split-drift and length-batching
reports, snapshot diffs, WARC extraction, and the build manifest — all
expressed so Catalyst keeps them at scan speed and every shuffle is a
map-side-combinable aggregation.

Sampling and splits (``corpus_sampling_splits``) gate on the
cross-engine polynomial hash (operators/text.py), so the exact same rows
are selected on any cluster size, any partitioning, and in the DuckDB
oracle. Hash-gating replaces ``sampleBy`` because reproducibility is a
correctness requirement for training corpora (rerunning the pipeline
must yield the same split).

All metrics are ratios of exact integers (or fixed-precision rounds of
them) so Spark and DuckDB agree bit-for-bit after round(…, 6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.local_frame import local_frame

from ..operators import text as T
from ..sources import load_table

# --------------------------------------------------------------------------
# shared DuckDB fragments
# --------------------------------------------------------------------------


def _poly_hash_sql(expr: str) -> str:
    """DuckDB form of operators.text.poly_hash over an arbitrary string
    expression (same fold, same constants)."""
    return (
        "list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(string_split({expr}, ''), c -> ascii(c)::BIGINT)), "
        "(acc, ch) -> (acc * 31 + ch) % 1000000007)"
    )


# --------------------------------------------------------------------------
# deterministic sampling + splits
# --------------------------------------------------------------------------

# Per-language keep-rate (percent). English is downsampled to rebalance
# the mixture; German mildly; everything else kept. Literal map so the
# identical CASE embeds in the oracle.
_SAMPLE_RATES = {"en": 40, "de": 75}
_DEFAULT_RATE = 100

_TRAIN_UPPER = 80  # bucket < 80        -> train  (80%)
_VAL_UPPER = 90    # 80 <= bucket < 90  -> val    (10%)
#                   bucket >= 90        -> test   (10%)


def sampling_split_exprs() -> tuple[Column, Column, Column, Column]:
    """The split/sampling gate as COLUMN EXPRESSIONS over a documents
    row: ``(split_bucket, sample_bucket, keep_rate, split)``.

    Both gates are pure functions of (doc_id, lang), so consumers that
    only need the split label of a document can compute it inline on
    their own scan instead of joining ``corpus_sampling_splits`` back
    to the corpus — that join costs a corpus-wide exchange AND splits
    the consumer's projection across two codegen stages, defeating
    codegen subexpression elimination of expensive per-row work (the
    r10 cross_split_leakage plan computed the shingle transform twice
    per row because of exactly this)."""
    split_bucket = T.poly_hash(
        F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
    ) % 100
    sample_bucket = T.poly_hash(
        F.concat(
            F.lit("sample:"),
            F.col("lang"),
            F.lit(":"),
            F.col("doc_id").cast("string"),
        )
    ) % 100
    rate = F.lit(_DEFAULT_RATE)
    for lang, r in sorted(_SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == lang, r).otherwise(rate)
    split = (
        F.when(split_bucket < _TRAIN_UPPER, "train")
        .when(split_bucket < _VAL_UPPER, "val")
        .otherwise("test")
    )
    return split_bucket, sample_bucket, rate, split


def corpus_sampling_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic split assignment + stratified downsampling.

    Both gates hash a salted key with the cross-engine polynomial hash:
    the split bucket hashes ``split:<doc_id>`` and the sampling bucket
    hashes ``sample:<lang>:<doc_id>`` — independent salts so sampling
    does not bias the split. Hash-gating (not ``sampleBy``/rand) means
    the selection is a pure function of the row: stable under
    re-partitioning, re-runs, cluster resizes, and reproducible by the
    SQL oracle. Narrow projection + filter only — no shuffle at all;
    the orderBy exists solely for the deterministic driver hash.
    """
    docs = load_table(spark, sf_dir, "documents")
    split_bucket, sample_bucket, rate, _ = sampling_split_exprs()
    return (
        docs.select(
            "doc_id",
            "lang",
            "source",
            split_bucket.alias("split_bucket"),
            sample_bucket.alias("sample_bucket"),
            rate.alias("keep_rate"),
        )
        .filter(F.col("sample_bucket") < F.col("keep_rate"))
        .select(
            "doc_id",
            "lang",
            "source",
            "split_bucket",
            "sample_bucket",
            F.when(F.col("split_bucket") < _TRAIN_UPPER, "train")
            .when(F.col("split_bucket") < _VAL_UPPER, "val")
            .otherwise("test")
            .alias("split"),
        )
        .orderBy("doc_id")
    )


def _sampling_splits_sql() -> str:
    rate_cases = " ".join(
        f"WHEN lang = '{lang}' THEN {r}"
        for lang, r in sorted(_SAMPLE_RATES.items())
    )
    split_hash = _poly_hash_sql("'split:' || doc_id::VARCHAR")
    sample_hash = _poly_hash_sql(
        "'sample:' || lang || ':' || doc_id::VARCHAR"
    )
    return f"""
WITH hashed AS (
    SELECT doc_id, lang, source,
           {split_hash} % 100 AS split_bucket,
           {sample_hash} % 100 AS sample_bucket,
           CASE {rate_cases} ELSE {_DEFAULT_RATE} END AS keep_rate
    FROM documents
)
SELECT doc_id, lang, source, split_bucket, sample_bucket,
       CASE WHEN split_bucket < {_TRAIN_UPPER} THEN 'train'
            WHEN split_bucket < {_VAL_UPPER} THEN 'val'
            ELSE 'test' END AS split
FROM hashed
WHERE sample_bucket < keep_rate
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# PII scrubbing
# --------------------------------------------------------------------------

# Patterns restricted to the Java-regex ∩ RE2 common subset (character
# classes, bounded repetition, \b): no lookaround, no backreferences.
# The streaming corpus ingest (streaming/corpus_ingest.py) scrubs with
# them and its DuckDB oracle embeds them.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b\d{3}-\d{4}\b"


def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training: the first 12 BPE merges learned from the
    corpus (operators/bpe.py). Oracle: a DuckDB RECURSIVE CTE twin
    (``BPE_MERGE_SQL``) whose working table is the evolving vocabulary
    — per iteration it takes the argmax pair by (count desc, pair asc)
    and replays the left-to-right greedy merge relationally
    (candidate-run parity via window functions, because a greedy merge
    at position i consumes i+1 and so only every other candidate in a
    contiguous run fires). Also pinned merge-for-merge against an
    independent pure-Python BPE model (tests/test_bpe.py). The
    per-iteration ``collect`` is ONE argmax row (dimension-sized
    control flow, like the PageRank loop)."""
    from ..operators.bpe import train_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges, _vocab = train_bpe(spark, docs, n_merges=12)
    return local_frame(
        spark, merges, "rank int, left string, right string, pair_count bigint"
    ).orderBy("rank")


# --------------------------------------------------------------------------
# weighted sampling without replacement (Efraimidis–Spirakis)
# --------------------------------------------------------------------------

_WRS_K = 100


def weighted_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted corpus sample without replacement: k documents
    drawn with inclusion odds proportional to token count — the
    source/quality-weighted mixing step of a training-data pipeline.

    Efraimidis–Spirakis (2006) priority sampling: each row gets
    ``key = u ** (1/w)`` for a uniform ``u`` and weight ``w``; the k
    LARGEST keys are exactly a weighted sample without replacement.
    ``u`` comes from the cross-engine scrambled hash of the salted
    doc id (``(h+1)/M`` ∈ (0,1]), so the draw is a pure function of the
    row — stable under re-partitioning, re-runs and cluster resizes,
    and reproducible by the SQL oracle. The key is rounded before
    ranking (house rule: cross-engine ``pow`` ulp noise must not
    reorder the cut) with doc_id as the total-order tie-break.

    Scale: one scan, zero shuffles — weight, hash and key are
    whole-stage-codegen expressions and the global top-k is
    TakeOrdered (per-partition heaps of k, driver merges k×partitions
    rows). The priority-key trick is also how the sample stays
    MERGEABLE: top-k-by-key of a union of per-partition top-ks equals
    the top-k of the whole, the same set property the bottom-k
    quantile state exploits.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        es_keyed(docs)
        .orderBy(F.desc("sample_key"), "doc_id")
        .limit(_WRS_K)
    )


def es_keyed(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, n_tokens, sample_key) — the ES priority-key
    projection shared by the batch query above and the streaming
    reservoir (streaming/weighted_sample_state.py)."""
    w = F.greatest(T.token_count(F.col("text")), F.lit(1))
    h = T.scrambled_hash(
        F.concat(F.lit("wrs:"), F.col("doc_id").cast("string"))
    )
    u = (h + 1).cast("double") / F.lit(float(T.HASH_MOD))
    key = F.round(F.pow(u, 1.0 / w.cast("double")), 9)
    return docs.select(
        "doc_id",
        "lang",
        w.alias("n_tokens"),
        key.alias("sample_key"),
    )


def _weighted_sample_sql() -> str:
    scramble = _scrambled_hash_sql_local("'wrs:' || doc_id::VARCHAR")
    return rf"""
WITH keyed AS (
    SELECT doc_id, lang,
           greatest(len(string_split_regex(trim(text), '\s+')), 1)
               AS n_tokens,
           ({scramble} + 1)::DOUBLE / {T.HASH_MOD} AS u
    FROM documents
)
SELECT doc_id, lang, n_tokens,
       round(pow(u, 1.0 / n_tokens::DOUBLE), 9) AS sample_key
FROM keyed
ORDER BY sample_key DESC, doc_id
LIMIT {_WRS_K}
"""


def _scrambled_hash_sql_local(expr: str) -> str:
    return f"(({_poly_hash_sql(expr)}) * {T.MIX_MULT}) % {T.HASH_MOD}"


# --------------------------------------------------------------------------
# temperature-scaled mixture sampling
# --------------------------------------------------------------------------

_TEMP_ALPHA = 0.5
_TEMP_K = 100


def temperature_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened corpus mix: draw K documents with
    per-language quotas proportional to ``n_lang ** alpha`` — the
    sampling-temperature reweighting LLM data recipes use to keep a
    dominant language/source from swamping the mix (alpha=1 is natural
    proportions, alpha=0 uniform; 0.5 here flattens the testdata's
    ~40% English share to ~30%).

    Real-valued quotas become integer ones by largest-remainder
    apportionment (floor everyone, hand the leftover seats to the
    largest fractional parts — fractions rounded before ranking per
    the house cross-engine rule, language as tie-break), capped at the
    stratum size. Within a language, membership is the first
    ``k_lang`` documents by scrambled salted hash — a pure row
    function, so the draw is stable under re-partitioning and re-runs.

    Scale: the apportionment runs on the |languages|-row aggregate
    (driver-trivial); the pick is one keyed shuffle for the per-stratum
    row_number with the quota dimension broadcast back. At extreme
    stratum sizes swap the full sort for a k-th-hash pre-filter: keep
    only rows whose hash falls under each stratum's k-th smallest.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    everything = Window.partitionBy()
    quotas = (
        counts.withColumn(
            "w", F.pow(F.col("n_docs").cast("double"), F.lit(_TEMP_ALPHA))
        )
        .withColumn(
            "q", F.lit(_TEMP_K) * F.col("w") / F.sum("w").over(everything)
        )
        .withColumn("base", F.floor("q").cast("int"))
        .withColumn("frac", F.round(F.col("q") - F.floor("q"), 9))
        .withColumn("rem", F.lit(_TEMP_K) - F.sum("base").over(everything))
        .withColumn(
            "fr",
            F.row_number().over(
                Window.partitionBy().orderBy(F.desc("frac"), "lang")
            ),
        )
        .select(
            "lang",
            F.least(
                F.col("base")
                + (F.col("fr") <= F.col("rem")).cast("int"),
                F.col("n_docs").cast("int"),
            ).alias("k_lang"),
        )
    )
    h = T.scrambled_hash(
        F.concat(F.lit("tmix:"), F.col("doc_id").cast("string"))
    )
    per_lang = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", "lang", h.alias("h"))
        .withColumn("rn", F.row_number().over(per_lang))
        .join(F.broadcast(quotas), "lang")
        .filter(F.col("rn") <= F.col("k_lang"))
        .select("lang", "doc_id", "k_lang")
        .orderBy("lang", "doc_id")
    )


def _temperature_mixture_sql() -> str:
    scramble = _scrambled_hash_sql_local("'tmix:' || doc_id::VARCHAR")
    return f"""
WITH counts AS (
    SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1
), quota AS (
    SELECT lang, n_docs,
           {_TEMP_K} * pow(n_docs::DOUBLE, {_TEMP_ALPHA})
               / sum(pow(n_docs::DOUBLE, {_TEMP_ALPHA})) OVER () AS q
    FROM counts
), parts AS (
    SELECT lang, n_docs,
           CAST(floor(q) AS INT) AS base,
           round(q - floor(q), 9) AS frac
    FROM quota
), alloc AS (
    SELECT lang, n_docs, base,
           {_TEMP_K} - sum(base) OVER () AS rem,
           row_number() OVER (ORDER BY frac DESC, lang) AS fr
    FROM parts
), quotas AS (
    SELECT lang,
           least(base + CASE WHEN fr <= rem THEN 1 ELSE 0 END,
                 CAST(n_docs AS INT)) AS k_lang
    FROM alloc
), ranked AS (
    SELECT lang, doc_id,
           row_number() OVER (
               PARTITION BY lang ORDER BY {scramble}, doc_id) AS rn
    FROM documents
)
SELECT r.lang, r.doc_id, q.k_lang
FROM ranked r JOIN quotas q USING (lang)
WHERE r.rn <= q.k_lang
ORDER BY r.lang, r.doc_id
"""


# The DuckDB twin of train_bpe (operators/bpe.py): a recursive CTE whose
# working table is the evolving vocabulary (word, freq, symbols). Each
# iteration cross-joins the single-row argmax pair (count desc, pair asc
# tie-break — identical to the Spark trainer), then applies the
# left-to-right greedy merge relationally: a position is a merge START
# iff it is a candidate (symbols[i]=L, symbols[i+1]=R) and an EVEN number
# of consecutive candidates immediately precede it (a merge consumes the
# next position, so only every other candidate in a contiguous run
# fires — the window max-over-preceding finds the run start, lag() marks
# consumed positions). Recursion stops when no pair reaches
# min_pair_count=2 or after 12 merges, exactly like the trainer.
# NOTE: deliberately avoids list_reduce — DuckDB 1.0 mis-evaluates
# VARCHAR-struct accumulators in lambda folds (verified repro), so the
# rewrite is pure window/group relational algebra instead.
BPE_MERGE_SQL = r"""
WITH RECURSIVE base AS (
    SELECT word, count(*)::BIGINT AS freq,
           list_append(string_split_regex(word, ''), '</w>') AS symbols
    FROM (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
        FROM documents
    )
    WHERE word <> ''
    GROUP BY word
),
steps(it, word, freq, symbols, ml, mr, mc) AS (
    SELECT 0, word, freq, symbols,
           NULL::VARCHAR, NULL::VARCHAR, NULL::BIGINT
    FROM base
    UNION ALL
    SELECT f.it + 1, f.word, f.freq, f.syms, f.bl, f.br, f.bc
    FROM (
        SELECT p.it, p.word, p.freq, p.bl, p.br, p.bc,
               list(CASE WHEN p.is_start THEN p.bl || p.br ELSE p.sym END
                    ORDER BY p.pos) AS syms
        FROM (
            SELECT *,
                   coalesce(lag(is_start) OVER
                       (PARTITION BY word ORDER BY pos), FALSE) AS after_start
            FROM (
                SELECT *,
                       cand AND (pos - coalesce(max(CASE WHEN NOT cand THEN pos
                           END) OVER (PARTITION BY word ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           0) - 1) % 2 = 0 AS is_start
                FROM (
                    SELECT s.it, s.word, s.freq, ii.i AS pos,
                           s.symbols[ii.i] AS sym, b.bl, b.br, b.bc,
                           ii.i < len(s.symbols)
                           AND s.symbols[ii.i] = b.bl
                           AND s.symbols[ii.i + 1] = b.br AS cand
                    FROM steps s,
                         unnest(range(1, len(s.symbols) + 1)) AS ii(i),
                         (SELECT pl AS bl, pr AS br, pc AS bc FROM (
                             SELECT s2.symbols[jj.j] AS pl,
                                    s2.symbols[jj.j + 1] AS pr,
                                    sum(s2.freq) AS pc
                             FROM steps s2,
                                  unnest(range(1, len(s2.symbols))) AS jj(j)
                             GROUP BY 1, 2
                             HAVING sum(s2.freq) >= 2
                             ORDER BY pc DESC, pl, pr
                             LIMIT 1
                         )) b
                )
            )
        ) p
        WHERE p.is_start OR NOT p.after_start
        GROUP BY p.it, p.word, p.freq, p.bl, p.br, p.bc
    ) f
    WHERE f.it < 12
)
SELECT DISTINCT (it - 1)::INT AS rank, ml AS "left", mr AS "right",
       mc AS pair_count
FROM steps
WHERE ml IS NOT NULL
ORDER BY rank
"""

def bpe_corpus_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION — the token-budgeting pass that follows
    ``bpe_merge_table``'s training pass: encode every document with the
    learned 12-merge BPE and report per-document word count, BPE token
    count and fertility (tokens per word — the standard tokenizer-fit
    metric; Sennrich et al. 2016).

    The scale shape is classic BPE's own, inherited from
    ``operators/bpe.py``: encoding runs on the VOCABULARY (sublinear in
    corpus size, Heaps' law), never the corpus — the corpus is touched
    exactly once, exploded to words and joined against the broadcast
    (word → n_subwords) map, then one map-side-combinable per-doc sum.
    At 100 TB the corpus pass is embarrassingly parallel; the merge
    replay stays a vocabulary-sized job regardless of data volume.

    Oracle: the same DuckDB RECURSIVE CTE that replays the merge
    training (``BPE_MERGE_SQL``), read out at its FINAL iteration — the
    recursion's working table IS the evolving vocabulary, so the
    encode oracle is the trainer oracle's last state joined back onto
    the exploded corpus. Fertility is a ratio of exact integers, so
    both engines agree bit-for-bit after round(…, 6)."""
    from ..operators.bpe import bpe_token_counts, train_bpe

    docs = load_table(spark, sf_dir, "documents")
    _merges, vocab = train_bpe(spark, docs, n_merges=12)
    counts = bpe_token_counts(docs, vocab)
    # outer explode: null word rows (empty arrays) fail word != ''
    # exactly like the inner form's dropped rows; avoids the Generate
    # guard re-computing the split per row.
    words = docs.select(
        "doc_id",
        F.explode_outer(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("word"),
    ).filter(F.col("word") != "")
    n_words = words.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words")
    )
    return (
        n_words.join(counts, "doc_id")
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            F.round(
                F.col("n_bpe_tokens").cast("double") / F.col("n_words"), 6
            ).alias("fertility"),
        )
        .orderBy("doc_id")
    )


def _bpe_encode_sql() -> str:
    # Reuse the trainer recursion verbatim; everything before its final
    # SELECT is the evolving-vocabulary state machine.
    recursion = BPE_MERGE_SQL.split("SELECT DISTINCT")[0]
    return (
        recursion
        + r"""
, final_vocab AS (
    SELECT word, len(symbols)::BIGINT AS n_subwords
    FROM steps
    WHERE it = (SELECT max(it) FROM steps)
),
doc_words AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
    FROM documents
)
SELECT w.doc_id,
       count(*)::BIGINT AS n_words,
       sum(v.n_subwords)::BIGINT AS n_bpe_tokens,
       round(sum(v.n_subwords)::DOUBLE / count(*), 6) AS fertility
FROM doc_words w
JOIN final_vocab v USING (word)
WHERE w.word <> ''
GROUP BY w.doc_id
ORDER BY w.doc_id
"""
    )


def corpus_build_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone composition: the final training-corpus MANIFEST a
    data build emits, produced by running EVERY round-4 selection stage
    in one dataflow — the rule-based gate chain (near-dup / language /
    quality / length via corpus_filter_audit), the bigram-LM perplexity
    head/middle cut (CCNet's shape: drop the tail bucket), the hashed
    linear classifier keep, and the deterministic split assignment.
    Output: one row per surviving document with its scores and split —
    what downstream tokenization reads.

    Plan shape: each stage is the already-proven dataflow (one scan +
    its own dimension-sized broadcasts); the stages meet in doc_id
    equi-joins. At 100 TB you would persist each stage's verdict column
    once and join on the shared doc_id partitioning — exactly what AQE
    arranges here."""
    from .llm_text import corpus_filter_audit
    from .lm_scoring import ngram_lm_perplexity
    from .quality_classifier import quality_classifier_scores

    audit = corpus_filter_audit(spark, sf_dir).filter(F.col("kept")).select(
        "doc_id"
    )
    lm = ngram_lm_perplexity(spark, sf_dir).filter(
        F.col("lm_bucket") != "tail"
    ).select("doc_id", "ppl", "lm_bucket")
    clf = quality_classifier_scores(spark, sf_dir).filter(
        F.col("keep")
    ).select("doc_id", F.col("score").alias("clf_score"))
    splits = corpus_sampling_splits(spark, sf_dir).select(
        "doc_id", "lang", "split"
    )
    return (
        audit.join(lm, "doc_id")
        .join(clf, "doc_id")
        .join(splits, "doc_id")
        .select("doc_id", "lang", "split", "ppl", "lm_bucket", "clf_score")
        .orderBy("doc_id")
    )


def _corpus_build_manifest_sql() -> str:
    from .llm_text import ORACLES as TEXT_ORACLES
    from .lm_scoring import NGRAM_LM_SQL
    from .quality_classifier import ORACLES as CLF_ORACLES

    audit = TEXT_ORACLES["corpus_filter_audit"].replace("ORDER BY doc_id", "")
    lm = NGRAM_LM_SQL.replace("ORDER BY doc_id", "")
    clf = CLF_ORACLES["quality_classifier_scores"].replace(
        "ORDER BY doc_id", ""
    )
    splits = _sampling_splits_sql().replace("ORDER BY doc_id", "")
    return f"""
WITH audit_out AS ({audit}),
lm_out AS ({lm}),
clf_out AS ({clf}),
split_out AS ({splits})
SELECT a.doc_id, s.lang, s.split, l.ppl, l.lm_bucket, c.score AS clf_score
FROM audit_out a
JOIN lm_out l USING (doc_id)
JOIN clf_out c USING (doc_id)
JOIN split_out s USING (doc_id)
WHERE a.kept AND l.lm_bucket <> 'tail' AND c.keep
ORDER BY a.doc_id
"""


QUERIES = {
    "bpe_merge_table": bpe_merge_table,
    "bpe_corpus_encode": bpe_corpus_encode,
    "weighted_corpus_sample": weighted_corpus_sample,
    "temperature_mixture_sample": temperature_mixture_sample,
    "corpus_sampling_splits": corpus_sampling_splits,
    "corpus_build_manifest": corpus_build_manifest,
}

ORACLES = {
    "bpe_merge_table": BPE_MERGE_SQL,
    "bpe_corpus_encode": _bpe_encode_sql(),
    "weighted_corpus_sample": _weighted_sample_sql(),
    "temperature_mixture_sample": _temperature_mixture_sql(),
    "corpus_sampling_splits": _sampling_splits_sql(),
    "corpus_build_manifest": _corpus_build_manifest_sql(),
}


# ---------------------------------------------------------------------------
# Split drift monitor (PSI)
# ---------------------------------------------------------------------------

_PSI_BUCKETS = 8
_PSI_WIDTH = 16  # token-count bucket width


def split_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the token-length distribution
    between the train split and each held-out split — the standard
    drift monitor a corpus pipeline runs before trusting an eval split
    (PSI < 0.1 stable, 0.1–0.25 shifting, > 0.25 drifted; a
    deterministic hash split should sit near 0, so a high value here
    means the split gate leaked a correlate).

    Distributions are add-one-smoothed over the fixed bucket space so
    empty buckets stay finite; per-bucket contributions are rounded
    before the total (round-before-sum keeps the cross-engine ln ulp
    noise out of the hash). Scale shape: one narrow scan → one
    (split, bucket) count aggregate (|splits|×|buckets| rows), the
    rest is arithmetic on the report."""
    docs = load_table(spark, sf_dir, "documents")
    split_bucket = T.poly_hash(
        F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
    ) % 100
    split = (
        F.when(split_bucket < _TRAIN_UPPER, "train")
        .when(split_bucket < _VAL_UPPER, "val")
        .otherwise("test")
    )
    n_tokens = F.size(F.split(F.trim(F.lower("text")), r"\s+"))
    bucket = F.least(F.lit(_PSI_BUCKETS - 1), (n_tokens / _PSI_WIDTH).cast("int"))
    counts = (
        docs.select(split.alias("split"), bucket.alias("bucket"))
        .groupBy("split", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    spine = (
        spark.range(_PSI_BUCKETS)
        .select(F.col("id").cast("int").alias("bucket"))
        .crossJoin(
            local_frame(
                spark, [("train",), ("val",), ("test",)], "split string"
            )
        )
    )
    filled = (
        spine.join(counts, ["split", "bucket"], "left")
        .select("split", "bucket", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    totals = filled.groupBy("split").agg(F.sum("c").alias("n"))
    probs = filled.join(F.broadcast(totals), "split").select(
        "split",
        "bucket",
        "c",
        ((F.col("c") + 1) / (F.col("n") + _PSI_BUCKETS)).alias("p"),
    )
    train = probs.filter(F.col("split") == "train").select(
        "bucket", F.col("c").alias("n_train"), F.col("p").alias("p_train")
    )
    held = probs.filter(F.col("split") != "train")
    joined = held.join(F.broadcast(train), "bucket").select(
        "split",
        "bucket",
        "n_train",
        F.col("c").alias("n_split"),
        F.round(
            (F.col("p") - F.col("p_train")) * F.log(F.col("p") / F.col("p_train")),
            6,
        ).alias("psi_contrib"),
    )
    w = Window.partitionBy("split")
    return joined.select(
        "split",
        "bucket",
        "n_train",
        "n_split",
        "psi_contrib",
        F.round(F.sum("psi_contrib").over(w), 6).alias("psi_total"),
    ).orderBy("split", "bucket")


def _split_drift_sql() -> str:
    split_hash = _poly_hash_sql("'split:' || doc_id::VARCHAR")
    return rf"""
WITH assigned AS (
    SELECT CASE WHEN ({split_hash}) % 100 < {_TRAIN_UPPER} THEN 'train'
                WHEN ({split_hash}) % 100 < {_VAL_UPPER} THEN 'val'
                ELSE 'test' END AS split,
           least({_PSI_BUCKETS - 1},
                 (len(string_split_regex(trim(lower(text)), '\s+'))
                  // {_PSI_WIDTH})::INT) AS bucket
    FROM documents
), counts AS (
    SELECT split, bucket, count(*) AS c FROM assigned GROUP BY 1, 2
), spine AS (
    SELECT s.split, r.range::INT AS bucket
    FROM (VALUES ('train'), ('val'), ('test')) s(split),
         range({_PSI_BUCKETS}) r
), filled AS (
    SELECT sp.split, sp.bucket, coalesce(c.c, 0) AS c
    FROM spine sp LEFT JOIN counts c USING (split, bucket)
), probs AS (
    SELECT split, bucket, c,
           (c + 1) / (sum(c) OVER (PARTITION BY split) + {_PSI_BUCKETS}) AS p
    FROM filled
), train AS (
    SELECT bucket, c AS n_train, p AS p_train FROM probs WHERE split = 'train'
), joined AS (
    SELECT h.split, h.bucket, t.n_train, h.c AS n_split,
           round((h.p - t.p_train) * ln(h.p / t.p_train), 6) AS psi_contrib
    FROM probs h JOIN train t USING (bucket)
    WHERE h.split <> 'train'
)
SELECT split, bucket, n_train, n_split, psi_contrib,
       round(sum(psi_contrib) OVER (PARTITION BY split), 6) AS psi_total
FROM joined
ORDER BY split, bucket
"""


QUERIES["split_drift_psi"] = split_drift_psi
ORACLES["split_drift_psi"] = _split_drift_sql()


# --------------------------------------------------------------------------
# length-bucketed batching (padding-waste report)
# --------------------------------------------------------------------------

_BATCH_B = 8  # docs per training batch


def length_bucketed_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch scheduling — the training-efficiency op
    that groups similar-length sequences so per-batch padding (to the
    batch max) wastes the least compute. Buckets are power-of-two
    length bands; within a bucket docs order by (n_tokens, doc_id) and
    chunk into batches of B=8; per batch the report states max/sum
    tokens and the padding-waste ratio 1 - sum/(n*max).

    Scale shape: one scan computes lengths; the only shuffle is the
    per-bucket window (partitioned by the bucket key, so each band
    sorts independently — at cluster scale each band is its own
    parallel sort, and a production scheduler would batch per
    partition within the band rather than globally; the semantics here
    are the deterministic global variant the oracle can state)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(T.tokens(F.col("text")))
    base = docs.select("doc_id", n_tok.alias("n_tokens"))
    bucket = F.when(F.col("n_tokens") < 16, F.lit(16)) \
        .when(F.col("n_tokens") < 32, F.lit(32)) \
        .when(F.col("n_tokens") < 64, F.lit(64)) \
        .when(F.col("n_tokens") < 128, F.lit(128)) \
        .when(F.col("n_tokens") < 256, F.lit(256)) \
        .otherwise(F.lit(0))
    w = Window.partitionBy("bucket").orderBy("n_tokens", "doc_id")
    ranked = base.withColumn("bucket", bucket).withColumn(
        "batch_id", ((F.row_number().over(w) - 1) / _BATCH_B).cast("long")
    )
    return (
        ranked.groupBy("bucket", "batch_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .withColumn(
            "waste_ratio",
            F.round(
                1
                - F.col("sum_tokens")
                / (F.col("n_docs") * F.col("max_tokens")),
                6,
            ),
        )
        .orderBy("bucket", "batch_id")
    )


LENGTH_BATCHING_SQL = f"""
WITH base AS (
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+')) AS n_tokens
    FROM documents
),
bucketed AS (
    SELECT doc_id, n_tokens,
           CASE WHEN n_tokens < 16 THEN 16
                WHEN n_tokens < 32 THEN 32
                WHEN n_tokens < 64 THEN 64
                WHEN n_tokens < 128 THEN 128
                WHEN n_tokens < 256 THEN 256
                ELSE 0 END AS bucket
    FROM base
),
ranked AS (
    SELECT bucket, n_tokens,
           (row_number() OVER (PARTITION BY bucket
                               ORDER BY n_tokens, doc_id) - 1)
               // {_BATCH_B} AS batch_id
    FROM bucketed
)
SELECT bucket, batch_id,
       count(*) AS n_docs,
       max(n_tokens) AS max_tokens,
       sum(n_tokens)::BIGINT AS sum_tokens,
       round(1 - sum(n_tokens)::DOUBLE
                 / (count(*) * max(n_tokens)), 6) AS waste_ratio
FROM ranked
GROUP BY bucket, batch_id
ORDER BY bucket, batch_id
"""

QUERIES["length_bucketed_batching"] = length_bucketed_batching
ORACLES["length_bucketed_batching"] = LENGTH_BATCHING_SQL


# --------------------------------------------------------------------------
# corpus snapshot diff (dataset-version comparison)
# --------------------------------------------------------------------------


def corpus_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — the reference's entity-diff kernel
    (operators/diff.py; reference: m4i_flink_tasks/determine_change)
    lifted to dataset level: given two corpus versions, classify every
    document added / removed / changed / unchanged by content
    fingerprint and report counts + token mass per (source, status) —
    the report a data team reads before retraining on a new snapshot.

    v2 is derived deterministically from v1 (the test-fixture stand-in
    for a real second snapshot): doc_id % 17 == 0 removed,
    % 17 == 5 edited (suffix), % 17 == 11 cloned to a new doc_id.

    Scale shape: ONE full-outer join on doc_id (both sides key-
    partitioned — the canonical snapshot-diff plan at 100 TB);
    fingerprints are computed in-scan, and the report aggregate is
    dimension-sized (sources x 4 statuses)."""
    from ..operators.spread import spread_for_compute

    # The whole-text fingerprint fold is CPU-dense pre-join; spread-
    # guard the compact scan (r5 thirteenth-wave cliff: 2.44 s ->
    # 1.16 s at sf1).
    docs = spread_for_compute(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
    )
    fp = T.poly_hash(F.col("text"))
    n_tok = F.size(T.tokens(F.col("text")))
    v1 = docs.select(
        "doc_id", F.col("source").alias("src1"),
        fp.alias("fp1"), n_tok.alias("nt1"),
    )
    edited = F.concat(F.col("text"), F.lit(" v2"))
    v2 = (
        docs.filter(F.col("doc_id") % 17 != 0)
        .select(
            "doc_id",
            F.col("source").alias("src2"),
            F.when(F.col("doc_id") % 17 == 5, T.poly_hash(edited))
            .otherwise(fp)
            .alias("fp2"),
            F.when(
                F.col("doc_id") % 17 == 5, F.size(T.tokens(edited))
            )
            .otherwise(n_tok)
            .alias("nt2"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 17 == 11).select(
                (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"),
                F.col("source").alias("src2"),
                fp.alias("fp2"),
                n_tok.alias("nt2"),
            )
        )
    )
    joined = v1.join(v2, ["doc_id"], "full_outer")
    status = (
        F.when(F.col("fp1").isNull(), F.lit("added"))
        .when(F.col("fp2").isNull(), F.lit("removed"))
        .when(F.col("fp1") == F.col("fp2"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        joined.select(
            F.coalesce("src1", "src2").alias("source"),
            status.alias("status"),
            F.coalesce("nt1", F.lit(0)).alias("nt1"),
            F.coalesce("nt2", F.lit(0)).alias("nt2"),
        )
        .groupBy("source", "status")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nt1").alias("n_tokens_v1"),
            F.sum("nt2").alias("n_tokens_v2"),
        )
        .orderBy("source", "status")
    )


CORPUS_DIFF_SQL = f"""
WITH v1 AS (
    SELECT doc_id, source,
           {_poly_hash_sql("text")} AS fp1,
           len(string_split_regex(trim(text), '\\s+')) AS nt1
    FROM documents
),
v2 AS (
    SELECT doc_id, source,
           CASE WHEN doc_id % 17 = 5
                THEN {_poly_hash_sql("text || ' v2'")}
                ELSE {_poly_hash_sql("text")} END AS fp2,
           CASE WHEN doc_id % 17 = 5
                THEN len(string_split_regex(trim(text || ' v2'), '\\s+'))
                ELSE len(string_split_regex(trim(text), '\\s+')) END AS nt2
    FROM documents WHERE doc_id % 17 <> 0
    UNION ALL
    SELECT doc_id + 1000000000 AS doc_id, source,
           {_poly_hash_sql("text")} AS fp2,
           len(string_split_regex(trim(text), '\\s+')) AS nt2
    FROM documents WHERE doc_id % 17 = 11
),
joined AS (
    SELECT coalesce(v1.source, v2.source) AS source,
           CASE WHEN v1.fp1 IS NULL THEN 'added'
                WHEN v2.fp2 IS NULL THEN 'removed'
                WHEN v1.fp1 = v2.fp2 THEN 'unchanged'
                ELSE 'changed' END AS status,
           coalesce(v1.nt1, 0) AS nt1,
           coalesce(v2.nt2, 0) AS nt2
    FROM v1 FULL OUTER JOIN v2 USING (doc_id)
)
SELECT source, status,
       count(*) AS n_docs,
       sum(nt1)::BIGINT AS n_tokens_v1,
       sum(nt2)::BIGINT AS n_tokens_v2
FROM joined
GROUP BY source, status
ORDER BY source, status
"""

QUERIES["corpus_version_diff"] = corpus_version_diff
ORACLES["corpus_version_diff"] = CORPUS_DIFF_SQL


def warc_response_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-archive ingest: extract per-response facts from .warc.gz
    payloads (one synthesized CommonCrawl-style archive per document) —
    the record walk every crawl-corpus pipeline starts from. The
    mechanics are real (operators/warc.py): concatenated gzip members
    split with the decompressobj unused_data loop, WARC named-field
    parse, Content-Length-exact payload slicing, HTTP envelope strip;
    non-response records are filtered exactly as a text pipeline does.
    Map-only over the binary column (Arrow-batched), no shuffle until
    the downstream consumer — the shape that lets a 100 TB crawl shard
    split by gzip-member boundaries. The oracle states every fact as a
    closed form of (doc_id, rec_index)."""
    from ..operators.warc import attach_warc_payload, extract_warc_records

    docs = load_table(spark, sf_dir, "documents")
    return extract_warc_records(attach_warc_payload(docs)).orderBy(
        "doc_id", "rec_index"
    )


WARC_EXTRACTION_SQL = """
WITH recs AS (
    SELECT doc_id, UNNEST(range(1 + doc_id % 3)) AS i FROM documents
), facts AS (
    SELECT doc_id, i, 5 + (doc_id + 3 * i) % 20 AS n FROM recs
)
SELECT doc_id,
       CAST(i AS INT) AS rec_index,
       'http://synth.example/' || doc_id || '/' || i AS url,
       CAST(45 + n * (4 + length(CAST(doc_id AS VARCHAR)))
            + (LEAST(n, 10) + 2 * GREATEST(n - 10, 0))
            + (n - 1) AS BIGINT) AS content_length,
       CAST(n AS INT) AS n_body_tokens
FROM facts
ORDER BY doc_id, rec_index
"""

QUERIES["warc_response_extraction"] = warc_response_extraction
ORACLES["warc_response_extraction"] = WARC_EXTRACTION_SQL


def warc_text_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CommonCrawl→training-corpus path END TO END in one dataflow:
    WARC record walk (real concatenated-gzip-member split + HTTP
    envelope strip, ``operators/warc.py``) → WET-style tag strip and
    link-density measurement (the same JVM regex extraction as
    ``markup_text_extraction``) → corpus quality gates (too-short and
    link-heavy, the first two filters every web-corpus recipe applies).

    Spark shape: the ONLY Python is the Arrow-batched byte walk that
    bytes demand; markup stripping, hashing, and gating are codegen'd
    string expressions over its output column — map-only, no shuffle
    until the final presentation sort, so a 100 TB crawl splits by
    gzip-member boundaries and runs at scan speed. The oracle never
    parses an archive: it rebuilds each response's extracted text in
    closed form of (doc_id, rec_index) and restates both gates, so a
    bug anywhere in the member walk, envelope strip, tag regex, or
    gate logic breaks the hash."""
    from ..operators.warc import attach_warc_html_payload, extract_warc_html

    docs = load_table(spark, sf_dir, "documents")
    recs = extract_warc_html(attach_warc_html_payload(docs))
    return wet_gate_records(recs).orderBy("doc_id", "rec_index")


def wet_gate_records(recs: DataFrame) -> DataFrame:
    """WET extraction + quality gates over (doc_id, rec_index, url,
    html) rows — pure codegen'd string expressions, shared by the batch
    capstone and the streaming crawl-ingest twin so both paths are
    guaranteed the same dataflow (and the same oracle)."""
    stripped = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("html"), "<[^>]+>", " "), r"\s+", " "
        )
    )
    anchor_text = F.array_join(
        F.regexp_extract_all(F.col("html"), F.lit("<a[^>]*>([^<]*)</a>"), 1),
        " ",
    )
    scored = recs.select(
        "doc_id",
        "rec_index",
        "url",
        # extracted text is "doc <body tokens>": title survives the strip
        (F.size(F.split(stripped, " ")) - 1).alias("n_body_tokens"),
        F.length(stripped).alias("n_extracted_chars"),
        T.poly_hash(stripped).alias("extracted_hash"),
        F.round(F.length(anchor_text) / F.length(stripped), 6).alias(
            "link_density"
        ),
    )
    return scored.withColumn(
        "drop_reason",
        F.when(F.col("n_body_tokens") < 8, F.lit("too_short")).when(
            F.col("link_density") > 0.6, F.lit("link_heavy")
        ),
    ).withColumn("keep", F.col("drop_reason").isNull())


# anchor block size — must equal operators/warc.py::_HTML_BLOCK
_HTML_BLOCK_SQL = 10

_WARC_POLY = r"""list_reduce(list_prepend(0::BIGINT,
    list_transform(string_split({expr}, ''), c -> ascii(c)::BIGINT)),
    (acc, ch) -> (acc * 31 + ch) % 1000000007)"""

WARC_TEXT_PIPELINE_SQL = f"""
WITH recs AS (
    SELECT doc_id, UNNEST(range(1 + doc_id % 3)) AS i FROM documents
), facts AS (
    SELECT doc_id, i, 5 + (doc_id + 3 * i) % 20 AS n FROM recs
), toks AS (
    SELECT doc_id, i, n,
           list_transform(range(n),
               j -> 'w' || doc_id || 'x' || i || 'n' || j) AS tk
    FROM facts
), ext AS (
    SELECT doc_id, i, n,
           'doc ' || array_to_string(tk, ' ') AS extracted,
           array_to_string(list_slice(tk, 1, least({_HTML_BLOCK_SQL}, n)),
                           ' ') AS anchor
    FROM toks
), m AS (
    SELECT doc_id, i, n, extracted,
           round(length(anchor)::DOUBLE / length(extracted), 6)
               AS link_density
    FROM ext
)
SELECT doc_id,
       CAST(i AS INT) AS rec_index,
       'http://synth.example/' || doc_id || '/' || i AS url,
       CAST(n AS INT) AS n_body_tokens,
       CAST(length(extracted) AS INT) AS n_extracted_chars,
       {_WARC_POLY.format(expr='extracted')} AS extracted_hash,
       link_density,
       CASE WHEN n < 8 THEN 'too_short'
            WHEN link_density > 0.6 THEN 'link_heavy' END AS drop_reason,
       (n >= 8 AND link_density <= 0.6) AS keep
FROM m
ORDER BY doc_id, rec_index
"""

QUERIES["warc_text_pipeline"] = warc_text_pipeline
ORACLES["warc_text_pipeline"] = WARC_TEXT_PIPELINE_SQL


def warc_ingest_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl ingest with the dead-letter contract closed executor-side:
    archives of ``doc_id % 17 == 3`` arrive TRUNCATED (deterministic
    fixture), the member walk raises, and the walk quarantines the
    archive as one ``dead_letter`` row instead of failing the task —
    the binary-ingest twin of ``corrupt_record_quarantine``. Healthy
    archives aggregate to per-archive ingest facts the oracle states in
    closed form, so a quarantine bug in EITHER direction (a poison
    archive leaking rows, or a healthy archive mis-quarantined) breaks
    the hash. Map-only Arrow stage; no shuffle until the sort."""
    from ..operators.warc import (
        attach_corrupted_warc_payload,
        extract_warc_with_quarantine,
    )

    docs = load_table(spark, sf_dir, "documents")
    return extract_warc_with_quarantine(
        attach_corrupted_warc_payload(docs)
    ).orderBy("doc_id")


WARC_QUARANTINE_SQL = """
WITH recs AS (
    SELECT doc_id, UNNEST(range(1 + doc_id % 3)) AS i FROM documents
), tok AS (
    SELECT doc_id,
           COUNT(*) AS nr,
           SUM(5 + (doc_id + 3 * i) % 20) AS nt
    FROM recs GROUP BY doc_id
)
SELECT d.doc_id,
       CASE WHEN d.doc_id % 17 = 3 THEN 'dead_letter' ELSE 'ok' END
           AS status,
       CAST(CASE WHEN d.doc_id % 17 = 3 THEN 0 ELSE tok.nr END AS INT)
           AS n_records,
       CAST(CASE WHEN d.doc_id % 17 = 3 THEN 0 ELSE tok.nt END AS BIGINT)
           AS n_body_tokens_total
FROM documents d JOIN tok ON d.doc_id = tok.doc_id
ORDER BY d.doc_id
"""

QUERIES["warc_ingest_quarantine"] = warc_ingest_quarantine
ORACLES["warc_ingest_quarantine"] = WARC_QUARANTINE_SQL


# --------------------------------------------------------------------------
# Tokenizer-fairness audit (Petrov et al., "Language Model Tokenizers
# Introduce Unfairness Between Languages", NeurIPS 2023): the same
# tokenizer fragments different languages into different token counts
# per word, which silently reprices context windows and compute across
# languages. The audit ships per-language fertility (BPE tokens per
# word), chars per token, and the parity ratio against the
# best-tokenized language — the table a multilingual data build
# publishes next to its tokenizer.
# --------------------------------------------------------------------------


def tokenizer_fertility_by_language(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language tokenizer-fertility report under the corpus's own
    12-merge BPE (trained by operators/bpe.py exactly as
    bpe_corpus_encode does — vocabulary-sized replay, corpus touched
    once): docs, words, BPE tokens, fertility = tokens/words,
    chars_per_token, and parity = fertility / min(fertility) over
    languages. The final parity window runs over the language-count-
    sized aggregate (3 rows), not the corpus."""
    from ..operators.bpe import bpe_token_counts, train_bpe

    docs = load_table(spark, sf_dir, "documents")
    _merges, vocab = train_bpe(spark, docs, n_merges=12)
    counts = bpe_token_counts(docs, vocab)
    per_doc = (
        docs.select(
            "doc_id",
            "lang",
            F.length("text").alias("n_chars"),
            F.size(
                F.filter(
                    F.split(F.trim(F.lower("text")), r"\s+"),
                    lambda w: w != "",
                )
            ).alias("n_words"),
        )
        .join(counts, "doc_id")
    )
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        F.sum("n_bpe_tokens").alias("n_bpe_tokens"),
        F.sum("n_chars").alias("n_chars"),
    )
    fert = F.round(
        F.col("n_bpe_tokens").cast("double") / F.col("n_words"), 6
    )
    scored = agg.select(
        "lang",
        "n_docs",
        "n_words",
        "n_bpe_tokens",
        fert.alias("fertility"),
        F.round(
            F.col("n_chars").cast("double") / F.col("n_bpe_tokens"), 6
        ).alias("chars_per_token"),
    )
    from pyspark.sql.window import Window as W

    parity = F.round(
        F.col("fertility") / F.min("fertility").over(W.partitionBy()), 6
    )
    return scored.select(
        "lang",
        "n_docs",
        "n_words",
        "n_bpe_tokens",
        "fertility",
        "chars_per_token",
        parity.alias("parity_ratio"),
    ).orderBy("lang")


def _tokenizer_fertility_sql() -> str:
    recursion = BPE_MERGE_SQL.split("SELECT DISTINCT")[0]
    return (
        recursion
        + r"""
, final_vocab AS (
    SELECT word, len(symbols)::BIGINT AS n_subwords
    FROM steps
    WHERE it = (SELECT max(it) FROM steps)
),
doc_words AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
    FROM documents
),
doc_tokens AS (
    SELECT w.doc_id,
           count(*)::BIGINT AS n_words,
           sum(v.n_subwords)::BIGINT AS n_bpe_tokens
    FROM doc_words w
    JOIN final_vocab v USING (word)
    WHERE w.word <> ''
    GROUP BY w.doc_id
),
per_lang AS (
    SELECT d.lang,
           count(*)::BIGINT AS n_docs,
           sum(t.n_words)::BIGINT AS n_words,
           sum(t.n_bpe_tokens)::BIGINT AS n_bpe_tokens,
           round(sum(t.n_bpe_tokens)::DOUBLE / sum(t.n_words), 6)
               AS fertility,
           round(sum(length(d.text))::DOUBLE / sum(t.n_bpe_tokens), 6)
               AS chars_per_token
    FROM documents d JOIN doc_tokens t USING (doc_id)
    GROUP BY d.lang
)
SELECT lang, n_docs, n_words, n_bpe_tokens, fertility, chars_per_token,
       round(fertility / min(fertility) OVER (), 6) AS parity_ratio
FROM per_lang
ORDER BY lang
"""
    )


QUERIES["tokenizer_fertility_by_language"] = tokenizer_fertility_by_language
ORACLES["tokenizer_fertility_by_language"] = _tokenizer_fertility_sql()
