"""Text-analysis gate queries over ``documents`` (north-star extension:
language-ID, quality scoring, token counting, fingerprinting).

Every oracle reproduces the Spark column expressions with DuckDB list
lambdas in the same evaluation order, so integer hashes match exactly and
double scores match after rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text as T
from ..sources import load_table


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens + chars."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        F.size(T.regex_tokens(F.col("text"))).alias("n_regex_tokens"),
        F.length("text").alias("n_chars_computed"),
    ).orderBy("doc_id")


TOKEN_STATS_SQL = r"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+')) AS n_tokens,
       len(regexp_extract_all(text, '(\w+|[^\w\s])')) AS n_regex_tokens,
       length(text) AS n_chars_computed
FROM documents
ORDER BY doc_id
"""


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-heuristic language ID vs the labeled lang column."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        T.lang_id(F.col("text")).alias("predicted_lang"),
    ).orderBy("doc_id")


def _stopword_list_sql(code: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in T.STOPWORDS[code]) + "]"


_LANG_SCORE_SQL = ", ".join(
    f"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), "
    f"t -> list_contains({_stopword_list_sql(code)}, t))) AS score_{code}"
    for code in sorted(T.STOPWORDS)
)

LANGUAGE_ID_SQL = f"""
WITH scored AS (
    SELECT doc_id, lang, {_LANG_SCORE_SQL}
    FROM documents
)
SELECT doc_id, lang,
       CASE
           WHEN greatest(score_de, score_en, score_es) = 0 THEN 'und'
           WHEN score_de >= score_en AND score_de >= score_es THEN 'de'
           WHEN score_en >= score_es THEN 'en'
           ELSE 'es'
       END AS predicted_lang
FROM scored
ORDER BY doc_id
"""


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality heuristic (length/diversity/stopword/punct)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(T.quality_score(F.col("text")), 6).alias("quality"),
        F.round(T.stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
        F.round(T.distinct_token_ratio(F.col("text")), 6).alias("distinct_ratio"),
    ).orderBy("doc_id")


_ALL_STOPWORDS_SQL = "[" + ", ".join(f"'{w}'" for w in T.DEFAULT_STOPWORDS) + "]"

QUALITY_SQL = rf"""
WITH feat AS (
    SELECT doc_id,
           string_split_regex(trim(text), '\s+')        AS toks,
           string_split_regex(trim(lower(text)), '\s+') AS ltoks,
           length(text)                                  AS n_chars,
           length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
    FROM documents
), ratios AS (
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_filter(ltoks, t -> list_contains({_ALL_STOPWORDS_SQL}, t)))::DOUBLE
               / greatest(len(ltoks), 1) AS sw_ratio,
           len(list_distinct(ltoks))::DOUBLE / greatest(len(ltoks), 1) AS d_ratio,
           n_punct::DOUBLE / greatest(n_chars, 1) AS p_ratio
    FROM feat
)
SELECT doc_id,
       round(0.4 * least(n_tokens / 50.0, 1.0)
           + 0.3 * d_ratio
           + 0.3 * least(sw_ratio * 5, 1.0)
           - 0.2 * least(p_ratio * 10, 1.0), 6) AS quality,
       round(sw_ratio, 6) AS stopword_ratio,
       round(d_ratio, 6)  AS distinct_ratio
FROM ratios
ORDER BY doc_id
"""


def document_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprint per document + dup-group count."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id", T.fingerprint(F.col("text")).alias("fingerprint")
    )
    return fp.orderBy("doc_id")


FINGERPRINT_SQL = r"""
SELECT doc_id,
       list_reduce(
           list_prepend(
               0::BIGINT,
               list_transform(
                   string_split_regex(trim(text), '\s+'),
                   w -> list_reduce(
                            list_prepend(0::BIGINT,
                                list_transform(string_split(w, ''), c -> ascii(c)::BIGINT)),
                            (acc, ch) -> (acc * 31 + ch) % 1000000007)
               )
           ),
           (acc, h) -> (acc * 31 + h) % 1000000007
       ) AS fingerprint
FROM documents
ORDER BY doc_id
"""


def training_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end selection pass a training-data pipeline runs over
    a raw corpus, composed from the already-proven kernels in ONE
    dataflow: near-duplicate removal (MinHash-LSH verified pairs — the
    higher doc_id of each pair drops, keep-first survivorship), a
    language gate (stopword lang_id != 'und'), a quality floor, and a
    token-length band. One documents scan feeds the gates; the LSH
    pipeline adds its banded candidate join (never O(n²)); the drop
    set applies as a broadcast anti-join."""
    from ..operators import dedup as D
    from ..sources.tables import table_num_rows
    from .llm_dedup import _JACCARD_THRESHOLD

    docs = load_table(spark, sf_dir, "documents")
    dupes = (
        D.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=_JACCARD_THRESHOLD,
            rows_hint=table_num_rows(sf_dir, "documents"),
        )
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    scored = docs.select(
        "doc_id",
        T.lang_id(F.col("text")).alias("predicted_lang"),
        T.token_count(F.col("text")).alias("n_tokens"),
        F.round(T.quality_score(F.col("text")), 6).alias("quality"),
    )
    return (
        scored.join(F.broadcast(dupes), "doc_id", "left_anti")
        .filter(
            (F.col("predicted_lang") != "und")
            & (F.col("quality") >= 0.5)
            & F.col("n_tokens").between(5, 1000)
        )
        .orderBy("doc_id")
    )


def _training_corpus_sql() -> str:
    from .llm_dedup import _JACCARD_THRESHOLD, _PAIRS_SQL

    return rf"""
WITH pairs AS ({_PAIRS_SQL}),
dupes AS (SELECT DISTINCT id_b AS doc_id FROM pairs),
lang_scored AS (
    SELECT doc_id, {_LANG_SCORE_SQL}
    FROM documents
), lang AS (
    SELECT doc_id,
           CASE
               WHEN greatest(score_de, score_en, score_es) = 0 THEN 'und'
               WHEN score_de >= score_en AND score_de >= score_es THEN 'de'
               WHEN score_en >= score_es THEN 'en'
               ELSE 'es'
           END AS predicted_lang
    FROM lang_scored
), feat AS (
    SELECT doc_id,
           string_split_regex(trim(text), '\s+')        AS toks,
           string_split_regex(trim(lower(text)), '\s+') AS ltoks,
           length(text)                                  AS n_chars,
           length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
    FROM documents
), ratios AS (
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_filter(ltoks, t -> list_contains({_ALL_STOPWORDS_SQL}, t)))::DOUBLE
               / greatest(len(ltoks), 1) AS sw_ratio,
           len(list_distinct(ltoks))::DOUBLE / greatest(len(ltoks), 1) AS d_ratio,
           n_punct::DOUBLE / greatest(n_chars, 1) AS p_ratio
    FROM feat
), qual AS (
    SELECT doc_id, n_tokens,
           round(0.4 * least(n_tokens / 50.0, 1.0)
               + 0.3 * d_ratio
               + 0.3 * least(sw_ratio * 5, 1.0)
               - 0.2 * least(p_ratio * 10, 1.0), 6) AS quality
    FROM ratios
)
SELECT lang.doc_id, lang.predicted_lang, qual.n_tokens, qual.quality
FROM lang JOIN qual USING (doc_id)
WHERE doc_id NOT IN (SELECT doc_id FROM dupes)
  AND predicted_lang <> 'und'
  AND quality >= 0.5
  AND n_tokens BETWEEN 5 AND 1000
ORDER BY doc_id
"""


def corpus_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document filter LINEAGE for the selection pass: which gate
    each document hit, in gate-priority order (near-dup > language >
    quality > length), plus the final keep flag. This is the audit
    table a pipeline operator reads to understand drop rates before
    touching thresholds — the same gates as ``training_corpus_filter``
    (one scan + the LSH candidate join + a broadcast dup set), emitted
    as flags instead of filtered away."""
    from ..operators import dedup as D
    from ..sources.tables import table_num_rows
    from .llm_dedup import _JACCARD_THRESHOLD

    docs = load_table(spark, sf_dir, "documents")
    dupes = (
        D.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=_JACCARD_THRESHOLD,
            rows_hint=table_num_rows(sf_dir, "documents"),
        )
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("is_near_dup", F.lit(True))
    )
    scored = docs.select(
        "doc_id",
        T.lang_id(F.col("text")).alias("predicted_lang"),
        T.token_count(F.col("text")).alias("n_tokens"),
        F.round(T.quality_score(F.col("text")), 6).alias("quality"),
    )
    flagged = scored.join(F.broadcast(dupes), "doc_id", "left").select(
        "doc_id",
        F.coalesce("is_near_dup", F.lit(False)).alias("is_near_dup"),
        (F.col("predicted_lang") != "und").alias("lang_ok"),
        (F.col("quality") >= 0.5).alias("quality_ok"),
        F.col("n_tokens").between(5, 1000).alias("length_ok"),
    )
    kept = (
        ~F.col("is_near_dup")
        & F.col("lang_ok")
        & F.col("quality_ok")
        & F.col("length_ok")
    )
    reason = (
        F.when(F.col("is_near_dup"), "near_duplicate")
        .when(~F.col("lang_ok"), "language")
        .when(~F.col("quality_ok"), "quality")
        .when(~F.col("length_ok"), "length")
    )
    return flagged.select(
        "doc_id", "is_near_dup", "lang_ok", "quality_ok", "length_ok",
        kept.alias("kept"), reason.alias("drop_reason"),
    ).orderBy("doc_id")


def _corpus_filter_audit_sql() -> str:
    from .llm_dedup import _PAIRS_SQL

    return rf"""
WITH pairs AS ({_PAIRS_SQL}),
dupes AS (SELECT DISTINCT id_b AS doc_id FROM pairs),
lang_scored AS (
    SELECT doc_id, {_LANG_SCORE_SQL}
    FROM documents
), lang AS (
    SELECT doc_id,
           CASE
               WHEN greatest(score_de, score_en, score_es) = 0 THEN 'und'
               WHEN score_de >= score_en AND score_de >= score_es THEN 'de'
               WHEN score_en >= score_es THEN 'en'
               ELSE 'es'
           END AS predicted_lang
    FROM lang_scored
), feat AS (
    SELECT doc_id,
           string_split_regex(trim(text), '\s+')        AS toks,
           string_split_regex(trim(lower(text)), '\s+') AS ltoks,
           length(text)                                  AS n_chars,
           length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
    FROM documents
), ratios AS (
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_filter(ltoks, t -> list_contains({_ALL_STOPWORDS_SQL}, t)))::DOUBLE
               / greatest(len(ltoks), 1) AS sw_ratio,
           len(list_distinct(ltoks))::DOUBLE / greatest(len(ltoks), 1) AS d_ratio,
           n_punct::DOUBLE / greatest(n_chars, 1) AS p_ratio
    FROM feat
), qual AS (
    SELECT doc_id, n_tokens,
           round(0.4 * least(n_tokens / 50.0, 1.0)
               + 0.3 * d_ratio
               + 0.3 * least(sw_ratio * 5, 1.0)
               - 0.2 * least(p_ratio * 10, 1.0), 6) AS quality
    FROM ratios
), flagged AS (
    SELECT lang.doc_id,
           lang.doc_id IN (SELECT doc_id FROM dupes) AS is_near_dup,
           predicted_lang <> 'und' AS lang_ok,
           quality >= 0.5 AS quality_ok,
           n_tokens BETWEEN 5 AND 1000 AS length_ok
    FROM lang JOIN qual USING (doc_id)
)
SELECT doc_id, is_near_dup, lang_ok, quality_ok, length_ok,
       (NOT is_near_dup AND lang_ok AND quality_ok AND length_ok) AS kept,
       CASE WHEN is_near_dup THEN 'near_duplicate'
            WHEN NOT lang_ok THEN 'language'
            WHEN NOT quality_ok THEN 'quality'
            WHEN NOT length_ok THEN 'length'
       END AS drop_reason
FROM flagged
ORDER BY doc_id
"""


QUERIES = {
    "token_stats": token_stats,
    "language_id": language_id,
    "quality_scores": quality_scores,
    "document_fingerprints": document_fingerprints,
    "training_corpus_filter": training_corpus_filter,
    "corpus_filter_audit": corpus_filter_audit,
}

ORACLES = {
    "token_stats": TOKEN_STATS_SQL,
    "language_id": LANGUAGE_ID_SQL,
    "quality_scores": QUALITY_SQL,
    "document_fingerprints": FINGERPRINT_SQL,
    "training_corpus_filter": _training_corpus_sql(),
    "corpus_filter_audit": _corpus_filter_audit_sql(),
}


def language_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the language-ID heuristic against the
    labeled lang column — the accuracy report a pipeline reads before
    trusting the classifier's gate decisions (per-cell counts + the
    row fraction within each true label). One scan + one
    labels²-bounded aggregate; the fraction is an exact integer ratio
    rounded at the boundary."""
    from ..operators.spread import spread_for_compute

    # The stopword-argmax is CPU-dense per row; guard the JVM stage
    # against a compact scan's split count (r5 sf1 rehearsal: 5.2x at
    # 10x data on a 2-split documents file, 5.5x back from the spread).
    docs = spread_for_compute(
        load_table(spark, sf_dir, "documents").select("lang", "text")
    )
    cells = (
        docs.select("lang", T.lang_id(F.col("text")).alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    totals = cells.groupBy("lang").agg(F.sum("n_docs").alias("n_lang"))
    return (
        cells.join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "predicted_lang",
            "n_docs",
            F.round(F.col("n_docs") / F.col("n_lang"), 6).alias("row_frac"),
            (F.col("lang") == F.col("predicted_lang")).alias("is_correct"),
        )
        .orderBy("lang", "predicted_lang")
    )


LANGUAGE_CONFUSION_SQL = f"""
WITH pred AS ({LANGUAGE_ID_SQL.replace("ORDER BY doc_id", "")}),
cells AS (
    SELECT lang, predicted_lang, count(*) AS n_docs
    FROM pred GROUP BY 1, 2
), totals AS (
    SELECT lang, sum(n_docs)::BIGINT AS n_lang FROM cells GROUP BY lang
)
SELECT c.lang, c.predicted_lang, c.n_docs,
       round(c.n_docs / t.n_lang, 6) AS row_frac,
       c.lang = c.predicted_lang AS is_correct
FROM cells c JOIN totals t USING (lang)
ORDER BY c.lang, c.predicted_lang
"""


QUERIES["language_confusion_matrix"] = language_confusion_matrix
ORACLES["language_confusion_matrix"] = LANGUAGE_CONFUSION_SQL


_CHUNK_C = 32  # tokens per chunk
_CHUNK_S = 24  # stride (8-token overlap)


def document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the RAG/pretraining prep step
    that turns documents into overlapping token windows. Chunk count
    k = 1 if n <= C else 1 + ceil((n-C)/S); chunk i covers tokens
    [i*S, min(i*S+C, n)), so every token is covered and consecutive
    chunks overlap by C-S tokens.

    Everything is JVM-native array arithmetic (split / sequence /
    slice / concat_ws + the cross-engine polynomial hash as the chunk
    fingerprint): one explode, no Python, no shuffle except the
    presentation sort — at 100 TB this is a pure map fan-out whose
    output-to-input row ratio is n/S."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("toks")).withColumn(
        "n_tokens", F.size("toks")
    )
    k = F.when(F.col("n_tokens") <= _CHUNK_C, F.lit(1)).otherwise(
        (
            (F.col("n_tokens") - _CHUNK_C + _CHUNK_S - 1)
            / F.lit(_CHUNK_S)
        ).cast("long")
        + 1
    )
    chunks = (
        base.withColumn("n_chunks", k)
        .withColumn(
            "chunk_id", F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1))
        )
        .withColumn("start_token", F.col("chunk_id") * _CHUNK_S)
        .withColumn(
            "n_chunk_tokens",
            F.least(
                F.lit(_CHUNK_C), F.col("n_tokens") - F.col("start_token")
            ),
        )
        .withColumn(
            "chunk_hash",
            T.poly_hash(
                F.concat_ws(
                    " ",
                    F.slice(
                        F.col("toks"),
                        F.col("start_token") + 1,
                        F.lit(_CHUNK_C),
                    ),
                )
            ),
        )
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("start_token").cast("int").alias("start_token"),
        F.col("n_chunk_tokens").cast("int").alias("n_chunk_tokens"),
        F.col("n_chunks").cast("int").alias("n_chunks"),
        "chunk_hash",
    ).orderBy("doc_id", "chunk_id")


_POLY_SQL = r"""list_reduce(list_prepend(0::BIGINT,
    list_transform(string_split({expr}, ''), c -> ascii(c)::BIGINT)),
    (acc, ch) -> (acc * 31 + ch) % 1000000007)"""

DOCUMENT_CHUNKING_SQL = f"""
WITH base AS (
    SELECT doc_id,
           string_split_regex(trim(text), '\\s+') AS toks,
           len(string_split_regex(trim(text), '\\s+')) AS n_tokens
    FROM documents
),
counted AS (
    SELECT doc_id, toks, n_tokens,
           CASE WHEN n_tokens <= {_CHUNK_C} THEN 1
                ELSE (n_tokens - {_CHUNK_C} + {_CHUNK_S} - 1) // {_CHUNK_S} + 1
           END AS n_chunks
    FROM base
),
chunks AS (
    SELECT doc_id, toks, n_tokens, n_chunks,
           u.chunk_id,
           u.chunk_id * {_CHUNK_S} AS start_token
    FROM counted, LATERAL (
        SELECT unnest(range(n_chunks)) AS chunk_id
    ) u
)
SELECT doc_id,
       chunk_id::INT AS chunk_id,
       start_token::INT AS start_token,
       least({_CHUNK_C}, n_tokens - start_token)::INT AS n_chunk_tokens,
       n_chunks::INT AS n_chunks,
       {_POLY_SQL.format(expr=f"array_to_string(list_slice(toks, start_token + 1, least(start_token + {_CHUNK_C}, n_tokens)), ' ')")} AS chunk_hash
FROM chunks
ORDER BY doc_id, chunk_id
"""

QUERIES["document_chunking"] = document_chunking
ORACLES["document_chunking"] = DOCUMENT_CHUNKING_SQL


_BLOCK = 10  # tokens per markup block


def markup_text_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET-style text extraction from markup — the CommonCrawl-shaped
    step a web corpus runs before any quality gate: strip tags,
    normalize whitespace, and measure link density (anchor chars /
    extracted chars), the classic boilerplate signal.

    Each document is wrapped in deterministic HTML (title + one anchor
    block + <p> blocks of 10 tokens) ENTIRELY with JVM array/string
    expressions, and the extraction side then runs REAL tag-stripping
    regexes over that markup (strip tags -> collapse whitespace ->
    trim; anchors re-extracted with a capture group; paragraphs
    counted with regexp_count). The oracle never parses: it states
    every output as closed-form string arithmetic over the token
    array, so any extraction bug (greedy tag match, whitespace
    handling, anchor capture) breaks the hash. Map-only at scale."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("toks")).withColumn(
        "n_tokens", F.size("toks")
    )
    n_blocks = ((F.col("n_tokens") + _BLOCK - 1) / _BLOCK).cast("int")
    block = lambda i: F.concat_ws(  # noqa: E731
        " ", F.slice(F.col("toks"), i * _BLOCK + 1, _BLOCK)
    )
    wrapped = F.transform(
        F.sequence(F.lit(0), n_blocks - 1),
        lambda i: F.when(
            i == 0, F.concat(F.lit('<a href="#">'), block(i), F.lit("</a>"))
        ).otherwise(F.concat(F.lit("<p>"), block(i), F.lit("</p>"))),
    )
    markup = F.concat(
        F.lit("<html><head><title>doc</title></head><body>"),
        F.array_join(wrapped, ""),
        F.lit("</body></html>"),
    )
    with_markup = base.withColumn("markup", markup)
    stripped = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("markup"), "<[^>]+>", " "), "\\s+", " "
        )
    )
    anchor_text = F.array_join(
        F.regexp_extract_all(F.col("markup"), F.lit("<a[^>]*>([^<]*)</a>"), 1),
        " ",
    )
    return (
        with_markup.select(
            "doc_id",
            F.length("markup").alias("n_markup_chars"),
            F.length(stripped).alias("n_extracted_chars"),
            T.poly_hash(stripped).alias("extracted_hash"),
            F.round(
                F.length(anchor_text) / F.length(stripped), 6
            ).alias("link_density"),
            F.regexp_count(F.col("markup"), F.lit("<p>")).alias(
                "n_paragraphs"
            ),
        )
        .orderBy("doc_id")
    )


MARKUP_EXTRACTION_SQL = f"""
WITH base AS (
    SELECT doc_id,
           string_split_regex(trim(text), '\\s+') AS toks,
           len(string_split_regex(trim(text), '\\s+')) AS n
    FROM documents
),
m AS (
    SELECT doc_id, toks, n,
           (n + {_BLOCK} - 1) // {_BLOCK} AS n_blocks,
           len(array_to_string(toks, '')) AS sum_len,
           'doc ' || array_to_string(toks, ' ') AS extracted,
           array_to_string(list_slice(toks, 1, least({_BLOCK}, n)), ' ')
               AS anchor
    FROM base
)
SELECT doc_id,
       -- 43 head + 14 tail + 16 anchor-tag + 7 per <p> block + body text
       (43 + 14 + 16 + 7 * (n_blocks - 1) + sum_len + (n - n_blocks))::INT
           AS n_markup_chars,
       len(extracted)::INT AS n_extracted_chars,
       {_POLY_SQL.format(expr="extracted")} AS extracted_hash,
       round(len(anchor)::DOUBLE / len(extracted), 6) AS link_density,
       (n_blocks - 1)::INT AS n_paragraphs
FROM m
ORDER BY doc_id
"""

QUERIES["markup_text_extraction"] = markup_text_extraction
ORACLES["markup_text_extraction"] = MARKUP_EXTRACTION_SQL


# --------------------------------------------------------------------------
# Zipf-law fit of the token frequency spectrum
# --------------------------------------------------------------------------
# The standard corpus-health diagnostic: natural text follows
# freq(rank) ~ rank^-s with s ~ 1; a slope far from -1 or a poor fit
# flags synthetic/boilerplate-heavy corpora before training. The
# frequency table is ONE corpus-sized token aggregate (map-side
# combined); ranking and the OLS closed form then run on the
# VOCABULARY relation — dimension-sized by Heaps' law, so the global
# rank window is a deliberate single-partition pass over a small
# relation, not a corpus sort.


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS fit of ln(freq) on ln(rank) over the corpus vocabulary
    (rank = freq desc, token asc). One row: type/token counts, slope,
    intercept, R^2 — engine-exact after round(…, 6) because every sum
    is over identical doubles of identical integer inputs."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    freqs = (
        docs.select(
            F.explode_outer(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return zipf_from_freqs(freqs)


def zipf_from_freqs(freqs: DataFrame) -> DataFrame:
    """Rank + closed-form OLS readout over a (tok, freq) relation —
    shared by the batch query and the streaming token-frequency state
    twin, so the stream's readout is the batch definition verbatim."""
    from pyspark.sql import Window

    ranked = freqs.withColumn(
        "r",
        F.row_number().over(
            Window.orderBy(F.desc("freq"), "tok")
        ),
    ).select(
        F.log("r").alias("x"),
        F.log("freq").alias("y"),
        "freq",
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("v"),
        F.sum("freq").alias("n_tokens"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    v = F.col("v").cast("double")
    cov_xy = F.col("sxy") - F.col("sx") * F.col("sy") / v
    var_x = F.col("sxx") - F.col("sx") * F.col("sx") / v
    var_y = F.col("syy") - F.col("sy") * F.col("sy") / v
    slope = cov_xy / var_x
    return agg.select(
        F.col("v").alias("n_types"),
        "n_tokens",
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / v, 6
        ).alias("zipf_intercept"),
        F.round(cov_xy * cov_xy / (var_x * var_y), 6).alias("r_squared"),
    )


ZIPF_FIT_SQL = r"""
WITH freqs AS (
    SELECT tok, count(*)::BIGINT AS freq
    FROM (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
            AS tok
        FROM documents
    )
    WHERE tok <> ''
    GROUP BY tok
),
ranked AS (
    SELECT ln(row_number() OVER (ORDER BY freq DESC, tok)) AS x,
           ln(freq) AS y,
           freq
    FROM freqs
),
agg AS (
    SELECT count(*)::BIGINT AS v,
           sum(freq)::BIGINT AS n_tokens,
           sum(x) AS sx, sum(y) AS sy,
           sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
    FROM ranked
)
SELECT v AS n_types,
       n_tokens,
       round((sxy - sx * sy / v) / (sxx - sx * sx / v), 6) AS zipf_slope,
       round((sy - ((sxy - sx * sy / v) / (sxx - sx * sx / v)) * sx) / v, 6)
           AS zipf_intercept,
       round((sxy - sx * sy / v) * (sxy - sx * sy / v)
             / ((sxx - sx * sx / v) * (syy - sy * sy / v)), 6) AS r_squared
FROM agg
"""

QUERIES["zipf_fit"] = zipf_fit
ORACLES["zipf_fit"] = ZIPF_FIT_SQL


# --------------------------------------------------------------------------
# Gopher quality rules (Rae et al., "Scaling Language Models: Methods,
# Analysis & Insights from Training Gopher", 2021 — Appendix A quality
# filtering) — the published rule set real corpus builds start from,
# beside corpus_filter_audit's repo-specific gates. Adapted to the
# synthetic corpus: the line-structure rules (bullet/ellipsis line
# ratios) are omitted because the documents carry no newlines; the
# word-level rules are implemented verbatim. Every measure is integer
# arithmetic or a single final division, so the verdict cliffs are
# engine-identical.
# --------------------------------------------------------------------------

_GOPHER_MIN_WORDS = 50
_GOPHER_MAX_WORDS = 100_000
_GOPHER_MIN_MEAN_LEN = 3.0
_GOPHER_MAX_MEAN_LEN = 10.0
_GOPHER_MAX_SYMBOL_RATIO = 0.1
_GOPHER_MIN_ALPHA_RATIO = 0.8
_GOPHER_MIN_STOPWORDS = 2


def gopher_report(docs: DataFrame) -> DataFrame:
    """The per-document Gopher rule report over any (doc_id, text)
    relation — shared by the batch query below and the streaming twin
    (``stream_gopher_quality``): the measures are pure per-document
    expressions, so the per-batch fold trivially equals the batch scan
    for any batch split."""
    t = F.split(F.trim(F.lower("text")), r"\s+")
    n_words = F.size(t)
    sum_len = F.aggregate(
        F.transform(t, lambda x: F.length(x)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_alpha = F.size(F.filter(t, lambda x: x.rlike("[a-z]")))
    sw = F.array(*[F.lit(w) for w in T.DEFAULT_STOPWORDS])
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(sw, x)))
    n_hash = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    n_ell = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("...")))
    ) / F.lit(3)
    scored = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(sum_len / n_words, 4).alias("mean_word_len"),
        F.round((n_hash + n_ell) / n_words, 4).alias("symbol_ratio"),
        F.round(n_alpha / n_words, 4).alias("alpha_word_ratio"),
        n_stop.alias("n_stopwords"),
    )
    kept = (
        F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
        & F.col("mean_word_len").between(
            _GOPHER_MIN_MEAN_LEN, _GOPHER_MAX_MEAN_LEN
        )
        & (F.col("symbol_ratio") <= _GOPHER_MAX_SYMBOL_RATIO)
        & (F.col("alpha_word_ratio") >= _GOPHER_MIN_ALPHA_RATIO)
        & (F.col("n_stopwords") >= _GOPHER_MIN_STOPWORDS)
    )
    return scored.select("*", kept.alias("kept"))


def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher rule report: word-count bounds, mean word
    length band, #/ellipsis symbol ratio, alphabetic-word ratio, and
    the >= 2-stopword requirement, plus the conjunctive ``kept`` gate.

    Plan: one tokenize pass, all measures as higher-order-function
    folds over the token array (JVM codegen, no shuffle at all —
    map-only at any scale; the report is the per-document grain a
    curation run persists)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_report(docs).orderBy("doc_id")


GOPHER_RULES_SQL = rf"""
WITH toks AS (
    SELECT doc_id, text,
           string_split_regex(trim(lower(text)), '\s+') AS t
    FROM documents
), scored AS (
    SELECT doc_id,
           len(t) AS n_words,
           round(list_sum(list_transform(t, x -> len(x)))::DOUBLE
                 / len(t), 4) AS mean_word_len,
           round(((len(text) - len(replace(text, '#', '')))
                  + (len(text) - len(replace(text, '...', ''))) / 3.0)
                 / len(t), 4) AS symbol_ratio,
           round(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))::DOUBLE
                 / len(t), 4) AS alpha_word_ratio,
           len(list_filter(t, x -> list_contains({_ALL_STOPWORDS_SQL}, x)))
               AS n_stopwords
    FROM toks
)
SELECT *,
       (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
        AND mean_word_len BETWEEN {_GOPHER_MIN_MEAN_LEN} AND {_GOPHER_MAX_MEAN_LEN}
        AND symbol_ratio <= {_GOPHER_MAX_SYMBOL_RATIO}
        AND alpha_word_ratio >= {_GOPHER_MIN_ALPHA_RATIO}
        AND n_stopwords >= {_GOPHER_MIN_STOPWORDS}) AS kept
FROM scored
ORDER BY doc_id
"""

QUERIES["gopher_quality_rules"] = gopher_quality_rules
ORACLES["gopher_quality_rules"] = GOPHER_RULES_SQL


def intra_doc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style intra-document repetition removal (Raffel et al.,
    "Exploring the Limits of Transfer Learning with a Unified
    Text-to-Text Transformer", JMLR 2020 — the within-page dedup step
    every curation recipe applies before cross-document dedup): split
    each document into '. '-delimited spans, keep only each span's
    FIRST occurrence, rebuild the document in original order, and
    report the per-document repetition profile plus the cleaned text's
    deterministic fingerprint (the shared poly-hash kernel, so the
    cleaned CONTENT — not just its length — is oracle-verified).

    Plan: one shuffle on (doc_id, span) for the first-occurrence
    reduce, one on doc_id for the ordered rebuild — both keyed by
    document, so the operator is embarrassingly parallel at any corpus
    size (no cross-document state)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return span_dedup_report(docs).orderBy("doc_id")


def span_dedup_report(docs: DataFrame) -> DataFrame:
    """The C4 span-dedup report over any (doc_id, text) relation —
    shared by the batch query above and the streaming twin
    (``stream_intra_doc_dedup``): every shuffle is doc-keyed, so the
    per-batch fold equals the batch answer for any batching of whole
    documents."""
    # posexplode_outer + isNotNull: the inner Generate's size(...)>0
    # guard re-evaluates the full-text split per row in a separate
    # operator; split never yields an empty array and spans are only
    # null for null text, which the inner form dropped too.
    spans = docs.select(
        "doc_id",
        F.posexplode_outer(F.split("text", r"\. ")).alias("pos", "span"),
    ).filter(F.col("span").isNotNull())
    firsts = spans.groupBy("doc_id", "span").agg(
        F.min("pos").alias("p"),
        F.count(F.lit(1)).alias("occurrences"),
    )
    rebuilt = firsts.groupBy("doc_id").agg(
        F.sum("occurrences").alias("n_spans"),
        F.count(F.lit(1)).alias("n_unique_spans"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("p"), F.col("span")))
                ),
                lambda x: x["span"],
            ),
            ". ",
        ).alias("cleaned"),
    )
    return rebuilt.select(
        "doc_id",
        "n_spans",
        "n_unique_spans",
        F.round(
            1 - F.col("n_unique_spans") / F.col("n_spans"), 6
        ).alias("repetition_ratio"),
        T.poly_hash(F.col("cleaned")).alias("cleaned_fingerprint"),
    ).orderBy("doc_id")


def _intra_doc_dedup_sql() -> str:
    from .sketches import _poly_hash_sql

    return rf"""
WITH spans AS (
    SELECT doc_id, string_split(text, '. ')[i] AS span, i AS pos
    FROM documents,
         unnest(range(1, len(string_split(text, '. ')) + 1)) AS u(i)
), firsts AS (
    SELECT doc_id, span, min(pos) AS p, count(*) AS occurrences
    FROM spans GROUP BY doc_id, span
), rebuilt AS (
    SELECT doc_id,
           sum(occurrences)::BIGINT AS n_spans,
           count(*) AS n_unique_spans,
           array_to_string(list(span ORDER BY p), '. ') AS cleaned
    FROM firsts GROUP BY doc_id
)
SELECT doc_id, n_spans, n_unique_spans,
       round(1 - n_unique_spans::DOUBLE / n_spans, 6)
           AS repetition_ratio,
       {_poly_hash_sql('cleaned')} AS cleaned_fingerprint
FROM rebuilt
ORDER BY doc_id
"""


QUERIES["intra_doc_span_dedup"] = intra_doc_span_dedup
ORACLES["intra_doc_span_dedup"] = _intra_doc_dedup_sql()


# --------------------------------------------------------------------------
# Cross-document span scrub — the CROSS-corpus generalization of the
# intra-document kernel above, i.e. C4's actual dedup rule (Raffel et
# al. 2020 remove every occurrence of a repeated span but one,
# CORPUS-wide, not per page): each '. '-delimited span keeps exactly
# its globally FIRST occurrence (lexicographically smallest
# (doc_id, position)); every other occurrence — including later
# repeats inside the same document — is scrubbed, and each document is
# rebuilt from its surviving spans in original order.
#
# Winner selection is integer-exact in both engines: the occurrence
# key is doc_id * 2^20 + position (documents here are far below 2^20
# spans; the bound is asserted in tests), so "first occurrence" is one
# min() over a span-keyed group. Plan: one span-keyed shuffle for the
# winners, one span-keyed join to filter occurrences (the winner
# relation is distinct-span-sized — NOT broadcastable at corpus
# scale, so it stays a shuffle join), one doc-keyed rebuild. Common
# spans make big groups, but min() is map-side combinable, so skew
# cost is bounded by combiner output (one row per span per map task).
# --------------------------------------------------------------------------

_SCRUB_POS_BOUND = 1 << 20


def cross_doc_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document report of the corpus-wide span scrub (module-note
    above): original span count, surviving span count, scrub ratio,
    and the poly-hash fingerprint of the rebuilt content (so the
    cleaned CONTENT is oracle-verified, as in the intra-doc row)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # outer + isNotNull: see span_dedup_report comment.
    spans = docs.select(
        "doc_id",
        F.posexplode_outer(F.split("text", r"\. ")).alias("pos", "span"),
    ).filter(F.col("span").isNotNull()).withColumn(
        "okey",
        F.col("doc_id") * F.lit(_SCRUB_POS_BOUND) + F.col("pos"),
    )
    winners = spans.groupBy("span").agg(F.min("okey").alias("wkey"))
    kept = spans.join(winners, "span").filter(
        F.col("okey") == F.col("wkey")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("span")))
                ),
                lambda x: x["span"],
            ),
            ". ",
        ).alias("cleaned"),
    )
    totals = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans")
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.round(
                1
                - F.coalesce(F.col("n_kept"), F.lit(0))
                / F.col("n_spans"),
                6,
            ).alias("scrub_ratio"),
            T.poly_hash(F.coalesce(F.col("cleaned"), F.lit(""))).alias(
                "cleaned_fingerprint"
            ),
        )
        .orderBy("doc_id")
    )


def _cross_doc_scrub_sql() -> str:
    from .sketches import _poly_hash_sql

    return rf"""
WITH spans AS (
    SELECT doc_id, string_split(text, '. ')[i] AS span, i AS pos,
           doc_id * {_SCRUB_POS_BOUND} + i AS okey
    FROM documents,
         unnest(range(1, len(string_split(text, '. ')) + 1)) AS u(i)
), winners AS (
    SELECT span, min(okey) AS wkey FROM spans GROUP BY span
), kept AS (
    SELECT s.doc_id, s.pos, s.span
    FROM spans s JOIN winners w ON s.span = w.span AND s.okey = w.wkey
), rebuilt AS (
    SELECT doc_id,
           count(*) AS n_kept,
           array_to_string(list(span ORDER BY pos), '. ') AS cleaned
    FROM kept GROUP BY doc_id
), totals AS (
    SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id
)
SELECT t.doc_id, t.n_spans,
       coalesce(r.n_kept, 0) AS n_kept,
       round(1 - coalesce(r.n_kept, 0)::DOUBLE / t.n_spans, 6)
           AS scrub_ratio,
       {_poly_hash_sql("coalesce(r.cleaned, '')")} AS cleaned_fingerprint
FROM totals t LEFT JOIN rebuilt r USING (doc_id)
ORDER BY t.doc_id
"""


QUERIES["cross_doc_span_scrub"] = cross_doc_span_scrub
ORACLES["cross_doc_span_scrub"] = _cross_doc_scrub_sql()
