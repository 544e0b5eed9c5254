"""Deduplication gate queries over ``documents`` (north-star extension).

The MinHash/LSH pipeline keeps the exact cross-engine-deterministic
arithmetic of operators/dedup.py; the oracles rebuild the same signatures
with DuckDB list lambdas, so candidate sets — not just final pairs —
must agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import dedup as D
from ..operators import text as T
from ..sources import load_table
from ..sources.tables import table_num_rows

_JACCARD_THRESHOLD = 0.5


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text: survivors + copy counts."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        D.exact_dedup(docs, "text", "doc_id")
        .orderBy("survivor_id")
    )


DEDUP_EXACT_SQL = """
SELECT min(doc_id) AS survivor_id, count(*) AS n_copies
FROM documents
GROUP BY lower(trim(text))
ORDER BY survivor_id
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by 3-gram shingle Jaccard ≥ 0.5, MinHash-LSH
    candidate generation (never O(n²))."""
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=_JACCARD_THRESHOLD,
        rows_hint=table_num_rows(sf_dir, "documents"),
    ).orderBy("id_a", "id_b")


# The oracle verifies the *semantics* (all pairs above threshold) with a
# brute-force O(n²) join — if LSH misses a true pair above threshold the
# hash-match fails, which is exactly the recall property we want checked.
# (At 16 hashes / 4 bands / rows=4, P[candidate | j=0.5] per band = j^4,
# overall 1-(1-j^4)^4 ≈ 0.23 … so bands are tuned for j≥0.8 pairs; to make
# the gate exact we verify candidates from the SAME banding in SQL.)
_A_LIST = "[" + ", ".join(str(a) for a in D.MINHASH_A) + "]"
_B_LIST = "[" + ", ".join(str(b) for b in D.MINHASH_B) + "]"

_PAIRS_SQL = rf"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
    FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 0) + 1),
               i -> array_to_string(w[i:i+2], ' ')
           )) AS shingle_strs
    FROM toks
), shh AS (
    SELECT doc_id,
           list_transform(shingle_strs,
               s -> list_reduce(
                        list_prepend(0::BIGINT,
                            list_transform(string_split(s, ''), c -> ascii(c)::BIGINT)),
                        (acc, ch) -> (acc * 31 + ch) % 1000000007)
           ) AS sh
    FROM sh
    WHERE len(shingle_strs) > 0
), sig AS (
    SELECT doc_id, sh,
           list_transform(range(1, 17),
               j -> list_aggregate(
                        list_transform(sh, h -> ({_A_LIST}[j] * h + {_B_LIST}[j]) % 1000000007),
                        'min')
           ) AS signature
    FROM shh
), bands AS (
    SELECT doc_id, sh, band_idx,
           list_reduce(
               list_prepend(0::BIGINT, signature[band_idx*4+1 : band_idx*4+4]),
               (acc, v) -> (acc * 31 + v) % 1000000007
           ) AS band_key
    FROM sig, (SELECT unnest(range(0, 4)) AS band_idx)
), cand AS (
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
           any_value(l.sh) AS sh_a, any_value(r.sh) AS sh_b
    FROM bands l
    JOIN bands r
      ON l.band_idx = r.band_idx AND l.band_key = r.band_key
     AND l.doc_id < r.doc_id
    GROUP BY l.doc_id, r.doc_id
)
SELECT id_a, id_b,
       round(len(list_intersect(sh_a, sh_b))::DOUBLE
             / greatest(len(list_distinct(sh_a || sh_b)), 1), 6) AS jaccard_sim
FROM cand
WHERE round(len(list_intersect(sh_a, sh_b))::DOUBLE
             / greatest(len(list_distinct(sh_a || sh_b)), 1), 6) >= {_JACCARD_THRESHOLD}
"""

DEDUP_JACCARD_SQL = _PAIRS_SQL + "ORDER BY id_a, id_b\n"


def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: the LSH pair graph collapsed into connected
    components (operators/components.py) — component_id = min doc_id of
    the group, the survivor a dedup pass would keep; n_members = group
    size. The oracle recomputes the same pairs in SQL and labels them
    with a recursive transitive-closure CTE."""
    from pyspark.sql.window import Window

    from ..operators.components import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=_JACCARD_THRESHOLD,
        rows_hint=table_num_rows(sf_dir, "documents"),
    )
    cc = connected_components(pairs, "id_a", "id_b")
    w = Window.partitionBy("component_id")
    return (
        cc.select(F.col("node").alias("doc_id"), "component_id")
        .withColumn("n_members", F.count(F.lit(1)).over(w))
        .orderBy("doc_id")
    )


NEARDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE pairs AS ({_PAIRS_SQL}),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
),
reach(a, b) AS (
    SELECT src, src FROM edges
    UNION
    SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
labeled AS (
    SELECT a AS doc_id, min(b) AS component_id
    FROM reach
    GROUP BY a
)
SELECT doc_id, component_id,
       count(*) OVER (PARTITION BY component_id) AS n_members
FROM labeled
ORDER BY doc_id
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash value per document (near-dup docs get close hashes; the
    pair query is hamming ≤ 3 on these)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", D.simhash(F.col("text")).alias("simhash")
    ).orderBy("doc_id")


SIMHASH_SQL = r"""
WITH th AS (
    SELECT doc_id,
           list_transform(
               string_split_regex(trim(text), '\s+'),
               w -> list_reduce(
                        list_prepend(0::BIGINT,
                            list_transform(string_split(w, ''), c -> ascii(c)::BIGINT)),
                        (acc, ch) -> (acc * 31 + ch) % 1000000007)
           ) AS token_hashes
    FROM documents
), votes AS (
    SELECT doc_id,
           list_transform(range(0, 30),
               i -> list_reduce(
                        list_prepend(0::BIGINT,
                            list_transform(token_hashes,
                                h -> CASE WHEN ((h >> i) & 1) = 1
                                          THEN 1::BIGINT ELSE -1::BIGINT END)),
                        (acc, v) -> acc + v)
           ) AS bit_votes
    FROM th
)
SELECT doc_id,
       list_reduce(
           list_prepend(0::BIGINT,
               list_transform(range(0, 30),
                   i -> CASE WHEN bit_votes[i+1] > 0
                             THEN (1::BIGINT << i) ELSE 0::BIGINT END)),
           (acc, v) -> acc + v
       ) AS simhash
FROM votes
ORDER BY doc_id
"""


def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures surfaced directly (first 4 components) — pins
    the signature arithmetic itself, independent of banding."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", D.shingle_hashes(F.col("text"), 3).alias("sh")
    ).filter(F.size("sh") > 0)
    sig = sh.select("doc_id", D.minhash_signature(F.col("sh")).alias("sig"))
    return sig.select(
        "doc_id",
        *[F.element_at("sig", j + 1).alias(f"mh_{j}") for j in range(4)],
    ).orderBy("doc_id")


MINHASH_SIG_SQL = rf"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
    FROM documents
), sh AS (
    SELECT doc_id,
           list_transform(
               list_distinct(list_transform(
                   range(1, greatest(len(w) - 2, 0) + 1),
                   i -> array_to_string(w[i:i+2], ' ')
               )),
               s -> list_reduce(
                        list_prepend(0::BIGINT,
                            list_transform(string_split(s, ''), c -> ascii(c)::BIGINT)),
                        (acc, ch) -> (acc * 31 + ch) % 1000000007)
           ) AS shl
    FROM toks
)
SELECT doc_id,
       list_aggregate(list_transform(shl, h -> ({_A_LIST}[1] * h + {_B_LIST}[1]) % 1000000007), 'min') AS mh_0,
       list_aggregate(list_transform(shl, h -> ({_A_LIST}[2] * h + {_B_LIST}[2]) % 1000000007), 'min') AS mh_1,
       list_aggregate(list_transform(shl, h -> ({_A_LIST}[3] * h + {_B_LIST}[3]) % 1000000007), 'min') AS mh_2,
       list_aggregate(list_transform(shl, h -> ({_A_LIST}[4] * h + {_B_LIST}[4]) % 1000000007), 'min') AS mh_3
FROM sh
WHERE len(shl) > 0
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# span-level exact dedup (Lee et al., "Deduplicating Training Data Makes
# Language Models Better", ACL 2022 — exact-substring dedup, the step
# document-level dedup misses: boilerplate/quote spans repeated across
# otherwise-distinct documents)
# --------------------------------------------------------------------------

SPAN_K = 8  # tokens per window (the paper uses 50; the corpus is short)


# second-level base for combining per-token hashes into a window hash
# (prime; acc*B2 + th stays < 1e9 * 1e6.01 + 1e9 < 2^63, exact BIGINT)
SPAN_B2 = 1_000_003


def _span_windows(docs: DataFrame, k: int = SPAN_K) -> DataFrame:
    """(doc_id, pos, h): every k-token window, keyed by a two-level
    cross-engine hash — each TOKEN is polynomial-hashed once, then each
    window combines its k token hashes with a second fold. O(tokens)
    windows per doc; the window hash is the shuffle key, so finding
    repeats is ONE corpus-sized hash aggregation (the paper's suffix
    array plays this role; the hash-group formulation is the
    shuffle-native equivalent).

    Why two-level: hashing each window's JOINED TEXT repeats every
    character k times through an interpreted HOF fold — measured ~14 s
    for 2.4M windows at the sf1 rehearsal. Per-token hashing costs each
    character once and the per-window fold is k tiny integer steps
    (~6x less interpreted work, same dedup semantics — the hash is an
    opaque key mirrored exactly by the DuckDB twin). Swap xxhash64 for
    the whole thing when cross-engine determinism is not required."""
    from ..operators.spread import spread_for_compute

    # The per-token hash fold is CPU-dense pre-shuffle; guard the JVM
    # stage against a compact scan's split count (r5 thirteenth-wave
    # cliff: 6.15 s -> 1.53 s at sf1 from this one line).
    toks = spread_for_compute(docs.select("doc_id", "text")).select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("t")
    ).filter(F.size("t") >= k)
    th = F.transform(F.col("t"), lambda w: T.poly_hash(w))
    # explode_outer + isNotNull instead of inner explode: Catalyst
    # guards an inner Generate with a size(...)>0 filter that re-runs
    # the whole window-hash transform per row in a separate operator
    # (~7x on the csl shingle explode); win structs are never null.
    return (
        toks.withColumn("th", th)
        .select(
            "doc_id",
            F.explode_outer(
                F.expr(
                    f"transform(sequence(1, size(t) - {k} + 1), "
                    f"i -> struct(i AS pos, "
                    f"aggregate(slice(th, i, {k}), 0L, "
                    f"(acc, x) -> (acc * {SPAN_B2} + x) % {T.HASH_MOD})"
                    f" AS h))"
                )
            ).alias("win"),
        )
        .filter(F.col("win").isNotNull())
        .select("doc_id", "win.pos", "win.h")
    )


def duplicate_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document span-duplication profile: how many of its k-token
    windows also occur in ANOTHER document (the spans the paper would
    cut). Windows → hash-group to find cross-doc repeats → broadcast the
    repeated-hash relation back (it is the duplicate surface, far
    smaller than the corpus) → per-doc aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    wins = _span_windows(docs)
    rep = (
        wins.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    flagged = wins.join(rep, "h").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_windows"),
        F.min("pos").alias("first_dup_pos"),
    )
    totals = wins.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_windows"))
    return (
        totals.join(flagged, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.round(
                F.coalesce(F.col("n_dup_windows"), F.lit(0))
                / F.col("n_windows"),
                6,
            ).alias("dup_span_frac"),
            "first_dup_pos",
        )
        .orderBy("doc_id")
    )


def _poly_hash_sql(expr: str) -> str:
    return (
        "list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(string_split({expr}, ''), c -> ascii(c)::BIGINT)), "
        "(acc, ch) -> (acc * 31 + ch) % 1000000007)"
    )


# the same two-level window hash in DuckDB: per-token poly hashes, then
# a k-step combining fold over each window's slice
_SPAN_WINS_SQL = rf"""toks AS (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
    FROM documents
), toks2 AS (
    SELECT doc_id, t,
           list_transform(t, w -> {_poly_hash_sql("w")}) AS th
    FROM toks WHERE len(t) >= {SPAN_K}
), wins AS (
    SELECT doc_id, i AS pos,
           list_reduce(
               list_prepend(0::BIGINT, th[i : i + {SPAN_K} - 1]),
               (acc, x) -> (acc * {SPAN_B2} + x) % 1000000007) AS h
    FROM toks2, unnest(range(1, len(t) - {SPAN_K} + 2)) AS u(i)
)"""


DUPLICATE_SPAN_SQL = rf"""
WITH {_SPAN_WINS_SQL}, rep AS (
    SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2
), flagged AS (
    SELECT doc_id, count(*) AS n_dup_windows, min(pos) AS first_dup_pos
    FROM wins JOIN rep USING (h) GROUP BY doc_id
), totals AS (
    SELECT doc_id, count(*) AS n_windows FROM wins GROUP BY doc_id
)
SELECT t.doc_id, t.n_windows,
       coalesce(f.n_dup_windows, 0) AS n_dup_windows,
       round(coalesce(f.n_dup_windows, 0)::DOUBLE / t.n_windows, 6)
           AS dup_span_frac,
       f.first_dup_pos
FROM totals t LEFT JOIN flagged f USING (doc_id)
ORDER BY t.doc_id
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "neardup_components": neardup_components,
    "dedup_simhash": dedup_simhash,
    "dedup_minhash_signatures": dedup_minhash_signatures,
    "duplicate_span_stats": duplicate_span_stats,
}

ORACLES = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": DEDUP_JACCARD_SQL,
    "neardup_components": NEARDUP_COMPONENTS_SQL,
    "dedup_simhash": SIMHASH_SQL,
    "dedup_minhash_signatures": MINHASH_SIG_SQL,
    "duplicate_span_stats": DUPLICATE_SPAN_SQL,
}


_CONTAINMENT_THRESHOLD = 0.6


def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup by n-gram containment |A∩B|/|A| over the
    same MinHash-LSH candidates as the Jaccard pass — catches
    subset/quote relations a symmetric Jaccard misses (a short doc
    embedded in a long one has low Jaccard but containment 1.0 on the
    short side). Emits both directions + the Jaccard for comparison."""
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_containment_pairs(
        docs, "doc_id", "text", n=3, threshold=_CONTAINMENT_THRESHOLD,
        rows_hint=table_num_rows(sf_dir, "documents"),
    ).orderBy("id_a", "id_b")


_CAND_PREFIX_SQL = _PAIRS_SQL.split("SELECT id_a, id_b,")[0]

CONTAINMENT_SQL = rf"""{_CAND_PREFIX_SQL}
SELECT * FROM (
    SELECT id_a, id_b,
           round(len(list_intersect(sh_a, sh_b))::DOUBLE
                 / greatest(len(list_distinct(sh_a || sh_b)), 1), 6)
               AS jaccard_sim,
           round(len(list_intersect(sh_a, sh_b))::DOUBLE
                 / greatest(len(sh_a), 1), 6) AS containment_a,
           round(len(list_intersect(sh_a, sh_b))::DOUBLE
                 / greatest(len(sh_b), 1), 6) AS containment_b
    FROM cand
)
WHERE greatest(containment_a, containment_b) >= {_CONTAINMENT_THRESHOLD}
ORDER BY id_a, id_b
"""


QUERIES["dedup_ngram_containment"] = dedup_ngram_containment
ORACLES["dedup_ngram_containment"] = CONTAINMENT_SQL


def dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What would near-dedup actually remove: the cluster-size
    histogram of the LSH component graph plus the singleton mass — the
    one-page report a curation run reads before committing a dedup
    pass (n_removable = every cluster keeps its min-id survivor).

    Pure aggregation over the components output (dimension-sized);
    the corpus scan cost is the components query itself."""
    cc = neardup_components(spark, sf_dir)
    clusters = cc.select("component_id", "n_members").distinct()
    hist = (
        clusters.groupBy(F.col("n_members").alias("cluster_size"))
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )
    docs = load_table(spark, sf_dir, "documents")
    totals = docs.agg(F.count(F.lit(1)).alias("total_docs"))
    clustered = cc.agg(F.count(F.lit(1)).alias("clustered_docs"))
    singletons = (
        totals.crossJoin(F.broadcast(clustered))
        .select(
            F.lit(1).cast("int").alias("cluster_size"),
            (F.col("total_docs") - F.col("clustered_docs")).alias("n_clusters"),
        )
    )
    return (
        hist.select(F.col("cluster_size").cast("int"), "n_clusters")
        .unionByName(singletons)
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters")).alias(
                "n_removable"
            ),
        )
        .orderBy("cluster_size")
    )


_COMPONENTS_CORE_SQL = NEARDUP_COMPONENTS_SQL.replace("ORDER BY doc_id", "")

DEDUP_IMPACT_SQL = f"""
WITH comp AS ({_COMPONENTS_CORE_SQL}),
clusters AS (
    SELECT DISTINCT component_id, n_members FROM comp
), hist AS (
    SELECT n_members::INT AS cluster_size, count(*) AS n_clusters
    FROM clusters GROUP BY 1
    UNION ALL
    SELECT 1,
           (SELECT count(*) FROM documents) - (SELECT count(*) FROM comp)
)
SELECT cluster_size, n_clusters,
       (cluster_size * n_clusters)::BIGINT AS n_docs,
       ((cluster_size - 1) * n_clusters)::BIGINT AS n_removable
FROM hist
ORDER BY cluster_size
"""


QUERIES["dedup_impact_report"] = dedup_impact_report
ORACLES["dedup_impact_report"] = DEDUP_IMPACT_SQL


def image_perceptual_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup via average hash (operators/image_hash.py):
    REAL 24-bit BMP decode -> 8x8 mean-pooled aHash in one Arrow-batched
    map-only stage, then duplicate grouping by hash equality (one
    shuffle on the 16-byte hash key — never pixels). The patterned
    synth repeats every 40 doc_ids, so duplicate groups exist by
    construction; the oracle RECONSTRUCTS every pixel independently and
    recomputes the hash with the same integer arithmetic, so any
    raster-walk bug (row order, padding, channel order, cell bounds)
    flips bits and breaks the driver hash."""
    from ..operators.image_hash import (
        attach_pattern_payload,
        extract_ahash,
        perceptual_dup_groups,
    )

    docs = load_table(spark, sf_dir, "documents")
    hashed = extract_ahash(attach_pattern_payload(docs))
    return perceptual_dup_groups(hashed).select(
        "doc_id", "ahash_hi", "ahash_lo", "group_size", "keep_doc_id",
        "is_dup",
    ).orderBy("doc_id")


# Pixel-level reconstruction: same pattern, same integer bit rule
# (cell mean > image mean cleared of division: 64*cell_sum > total).
IMAGE_AHASH_SQL = """
WITH img AS (
    SELECT doc_id, doc_id % 40 AS g FROM documents WHERE doc_id % 3 = 0
),
px AS (
    SELECT doc_id,
           x.x AS x, y.y AS y,
           ((1 + g % 7) * x.x + (1 + g % 5) * y.y + (g * 37) % 256) % 256 AS v
    FROM img CROSS JOIN range(16) x(x) CROSS JOIN range(16) y(y)
),
tot AS (SELECT doc_id, sum(v) AS total FROM px GROUP BY doc_id),
cells AS (
    SELECT doc_id, y // 2 AS i, x // 2 AS j, sum(v) AS cs
    FROM px GROUP BY doc_id, y // 2, x // 2
),
bits AS (
    SELECT c.doc_id, i, j,
           CASE WHEN 64 * cs > total THEN 1 ELSE 0 END AS bit
    FROM cells c JOIN tot USING (doc_id)
),
hashes AS (
    SELECT doc_id,
           sum(CASE WHEN i * 8 + j >= 32
                    THEN bit::BIGINT << (i * 8 + j - 32) ELSE 0 END)::BIGINT
               AS ahash_hi,
           sum(CASE WHEN i * 8 + j < 32
                    THEN bit::BIGINT << (i * 8 + j) ELSE 0 END)::BIGINT
               AS ahash_lo
    FROM bits GROUP BY doc_id
)
SELECT doc_id, ahash_hi, ahash_lo,
       count(*) OVER w AS group_size,
       min(doc_id) OVER w AS keep_doc_id,
       doc_id <> min(doc_id) OVER w AS is_dup
FROM hashes
WINDOW w AS (PARTITION BY ahash_hi, ahash_lo)
ORDER BY doc_id
"""

QUERIES["image_perceptual_dedup"] = image_perceptual_dedup
ORACLES["image_perceptual_dedup"] = IMAGE_AHASH_SQL


_HAMMING_T = 12  # near-dup threshold (of 64 bits)


def image_perceptual_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual NEAR-dup pairs via Hamming-banded LSH over aHash:
    the 64-bit hash splits into four 16-bit bands; hash pairs sharing
    any band become candidates (the image-domain mirror of the MinHash
    band join) and survive if 1 <= hamming <= 12 — distance 0 is the
    exact-dup surface `image_perceptual_dedup` already owns.

    Scale shape: docs collapse to DISTINCT hashes first (one tiny
    aggregate), so the band self-join runs on the collapsed hash
    dimension — candidate generation never touches doc rows or pixels,
    and the LSH recall/precision trade is honest: the oracle mirrors
    band candidacy, so a pair the bands miss is absent on BOTH sides."""
    from ..operators.image_hash import attach_pattern_payload, extract_ahash

    docs = load_table(spark, sf_dir, "documents")
    hashed = extract_ahash(attach_pattern_payload(docs))
    groups = hashed.groupBy("ahash_hi", "ahash_lo").agg(
        F.count("*").alias("n_docs")
    )
    band_val = (
        F.when(F.col("band_id") == 0, F.col("ahash_lo").bitwiseAND(65535))
        .when(
            F.col("band_id") == 1,
            F.shiftright("ahash_lo", 16).bitwiseAND(65535),
        )
        .when(F.col("band_id") == 2, F.col("ahash_hi").bitwiseAND(65535))
        .otherwise(F.shiftright("ahash_hi", 16).bitwiseAND(65535))
    )
    bands = groups.withColumn(
        "band_id", F.explode(F.sequence(F.lit(0), F.lit(3)))
    ).withColumn("band_val", band_val)
    a, b = bands.alias("a"), bands.alias("b")
    lex_lt = (F.col("a.ahash_hi") < F.col("b.ahash_hi")) | (
        (F.col("a.ahash_hi") == F.col("b.ahash_hi"))
        & (F.col("a.ahash_lo") < F.col("b.ahash_lo"))
    )
    cand = (
        a.join(b, ["band_id", "band_val"])
        .filter(lex_lt)
        .select(
            F.col("a.ahash_hi").alias("hi_a"),
            F.col("a.ahash_lo").alias("lo_a"),
            F.col("b.ahash_hi").alias("hi_b"),
            F.col("b.ahash_lo").alias("lo_b"),
            F.col("a.n_docs").alias("n_docs_a"),
            F.col("b.n_docs").alias("n_docs_b"),
        )
        .distinct()
    )
    dist = F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    ) + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    return (
        cand.withColumn("hamming_dist", dist.cast("int"))
        .filter(
            (F.col("hamming_dist") >= 1)
            & (F.col("hamming_dist") <= _HAMMING_T)
        )
        .orderBy("hi_a", "lo_a", "hi_b", "lo_b")
    )


_AHASH_HASHES_CORE = IMAGE_AHASH_SQL.split("SELECT doc_id, ahash_hi, ahash_lo,")[0].rstrip().rstrip(")") + ")"

IMAGE_NEARDUP_SQL = (
    _AHASH_HASHES_CORE
    + f""",
groups AS (
    SELECT ahash_hi, ahash_lo, count(*) AS n_docs
    FROM hashes GROUP BY ahash_hi, ahash_lo
),
bands AS (
    SELECT ahash_hi, ahash_lo, n_docs, b.band_id,
           CASE b.band_id
               WHEN 0 THEN ahash_lo & 65535
               WHEN 1 THEN (ahash_lo >> 16) & 65535
               WHEN 2 THEN ahash_hi & 65535
               ELSE (ahash_hi >> 16) & 65535
           END AS band_val
    FROM groups CROSS JOIN range(4) b(band_id)
),
cand AS (
    SELECT DISTINCT
           a.ahash_hi AS hi_a, a.ahash_lo AS lo_a,
           b.ahash_hi AS hi_b, b.ahash_lo AS lo_b,
           a.n_docs AS n_docs_a, b.n_docs AS n_docs_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_val = b.band_val
     AND (a.ahash_hi < b.ahash_hi
          OR (a.ahash_hi = b.ahash_hi AND a.ahash_lo < b.ahash_lo))
)
SELECT hi_a, lo_a, hi_b, lo_b, n_docs_a, n_docs_b,
       (bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)))::INT
           AS hamming_dist
FROM cand
WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b))
      BETWEEN 1 AND {_HAMMING_T}
ORDER BY hi_a, lo_a, hi_b, lo_b
"""
)

QUERIES["image_perceptual_neardup"] = image_perceptual_neardup
ORACLES["image_perceptual_neardup"] = IMAGE_NEARDUP_SQL


# Exact-similarity threshold as a fraction (4/5 = 0.8): kept rational so
# the verify predicate is pure integer arithmetic on both engines.
_PPJOIN_T_NUM, _PPJOIN_T_DEN = 4, 5


def ppjoin_exact_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT similarity self-join with prefix filtering (AllPairs /
    PPJoin, Bayardo et al. 2007) — the no-false-negative complement to
    the MinHash-LSH path: LSH candidates are probabilistic; the prefix
    filter is a THEOREM. Docs are 3-gram shingle sets; J(A,B) >= 4/5.

    Why it works: J >= t implies the overlap c >= ceil(t*|A|), so the
    common tokens cannot all hide in A's last ceil(t*|A|)-1 tokens of a
    canonical order — A and B must share a token inside the first
    |A| - ceil(t*|A|) + 1 tokens (the "prefix"). Ordering every doc's
    tokens rarest-first (global df ascending, token tiebreak) makes
    those prefixes maximally selective, so the candidate join is on
    rare tokens only and never enumerates all pairs.

    The verify predicate is integer cross-multiplication
    (9c >= 4(na+nb) for t=4/5), so the threshold cliff is engine-exact;
    the DuckDB oracle runs the brute-force DEFINITION (full token
    co-join, no prefix) — a hash match therefore proves completeness,
    not just precision.

    Scale posture: the df relation is vocabulary-sized (Heaps-sublinear,
    broadcast); the per-doc prefix pick is a window over the doc's own
    tokens; the candidate join carries (doc_id, token) pairs keyed by
    RARE tokens (bounded fan-out by construction); the overlap count
    joins only candidate pairs. This is the standard exact-join
    counterpart deployed when dedup decisions must be auditable.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", D.shingles(F.col("text")).alias("sh")
    )
    toks = docs.select(
        "doc_id", F.explode_outer("sh").alias("tok")
    ).filter(
        F.col("tok").isNotNull()
    )  # shingles() already dedups per doc; outer+notnull avoids the
    #    Generate guard re-computing the shingle transform per row
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # SHINGLE vocabulary is near-linear in corpus size (unlike a word
    # vocabulary) — it must NOT broadcast. The df aggregate and the
    # df-attach join share the tok key, so the exchange is reused.
    df_rel = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    prefix = (
        toks.join(df_rel, "tok")
        .join(sizes, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= F.col("n")
            - F.expr(
                f"({_PPJOIN_T_NUM} * n + {_PPJOIN_T_NUM}) "
                f"DIV {_PPJOIN_T_DEN}"
            )
            + 1
        )
        .select("doc_id", "tok", "n")
    )
    # Candidate generation adds the AllPairs LENGTH filter as a join
    # residual: J >= t forces t*|A| <= |B| <= |A|/t, so wildly
    # different-sized docs sharing one rare token are pruned before
    # the distinct — integer arithmetic, engine-exact.
    cand = (
        prefix.alias("pa")
        .join(
            prefix.alias("pb"),
            (F.col("pa.tok") == F.col("pb.tok"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            & (
                _PPJOIN_T_DEN * F.col("pb.n")
                >= _PPJOIN_T_NUM * F.col("pa.n")
            )
            & (
                _PPJOIN_T_DEN * F.col("pa.n")
                >= _PPJOIN_T_NUM * F.col("pb.n")
            ),
        )
        .select(
            F.col("pa.doc_id").alias("id_a"),
            F.col("pb.doc_id").alias("id_b"),
        )
        .distinct()
    )
    # Overlap counts ONLY for candidate pairs, with every equality a
    # JOIN KEY: expand each pair by side A's tokens (sum over pairs of
    # |A| rows — bounded by the prefix filter), then hash-join on the
    # COMPOUND (id_b, tok) key. No token-keyed all-docs join (hot
    # shingles would fan out df_a x df_b) and no post-join filter (an
    # |A| x |B| intermediate) can occur.
    co = (
        cand.join(
            toks.select(
                F.col("doc_id").alias("id_a"), F.col("tok")
            ),
            "id_a",
        )
        .join(
            toks.select(
                F.col("doc_id").alias("id_b"), F.col("tok")
            ),
            ["id_b", "tok"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        co.join(na, "id_a")
        .join(nb, "id_b")
        .filter(
            (_PPJOIN_T_NUM + _PPJOIN_T_DEN) * F.col("n_shared")
            >= _PPJOIN_T_NUM * (F.col("n_a") + F.col("n_b"))
        )
        .select(
            "id_a",
            "id_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("id_a", "id_b")
    )


PPJOIN_SQL = rf"""
WITH words AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
    FROM documents
),
toks AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 0) + 1),
               i -> array_to_string(w[i:i+2], ' ')))) AS tok
    FROM words
),
sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
co AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
    FROM toks a JOIN toks b
      ON a.tok = b.tok AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT co.id_a, co.id_b, co.n_shared,
       sa.n AS n_a, sb.n AS n_b,
       round(co.n_shared::DOUBLE / (sa.n + sb.n - co.n_shared), 6)
           AS jaccard
FROM co
JOIN sizes sa ON sa.doc_id = co.id_a
JOIN sizes sb ON sb.doc_id = co.id_b
WHERE ({_PPJOIN_T_NUM + _PPJOIN_T_DEN}) * co.n_shared
      >= {_PPJOIN_T_NUM} * (sa.n + sb.n)
ORDER BY co.id_a, co.id_b
"""

QUERIES["ppjoin_exact_jaccard"] = ppjoin_exact_jaccard
ORACLES["ppjoin_exact_jaccard"] = PPJOIN_SQL


# --------------------------------------------------------------------------
# Leakage-safe split assignment (the PREVENTION paired with the
# cross_split_leakage DETECTION audit in queries/llm_decontam.py)
# --------------------------------------------------------------------------
# Assign train/val/test by NEAR-DUP CLUSTER, not by document: every
# document hashes its group id (connected component of the LSH
# near-dup graph; singleton docs are their own group), so a cluster of
# near-duplicates lands in ONE split by construction — the group-aware
# splitting discipline (GroupKFold / Dolma's cluster-then-split) that
# makes the leakage audit come back empty. Same salted cross-engine
# poly-hash gates and 80/10/10 thresholds as corpus_sampling_splits,
# under an independent salt so the two assignments stay uncorrelated.


def leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, group_id, split) with split a pure function of
    the near-dup GROUP. Scale shape = neardup_components (LSH bands +
    fixpoint components on the pair graph — never all-pairs) plus one
    left join and codegen hash gates; the component relation is
    duplicate-bounded, far smaller than the corpus."""
    from .llm_corpus import _TRAIN_UPPER, _VAL_UPPER

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    comp = neardup_components(spark, sf_dir).select(
        "doc_id", "component_id"
    )
    grouped = docs.join(comp, "doc_id", "left").withColumn(
        "group_id", F.coalesce("component_id", F.col("doc_id"))
    )
    bucket = T.poly_hash(
        F.concat(F.lit("gsplit:"), F.col("group_id").cast("string"))
    ) % 100
    return (
        grouped.select(
            "doc_id",
            "lang",
            "group_id",
            F.when(bucket < _TRAIN_UPPER, "train")
            .when(bucket < _VAL_UPPER, "val")
            .otherwise("test")
            .alias("split"),
        )
        .orderBy("doc_id")
    )


def _leakage_safe_splits_sql() -> str:
    from .llm_corpus import _TRAIN_UPPER, _VAL_UPPER

    h = _poly_hash_sql("'gsplit:' || group_id::VARCHAR")
    return f"""
WITH RECURSIVE comp AS ({_COMPONENTS_CORE_SQL}),
grouped AS (
    SELECT d.doc_id, d.lang,
           coalesce(c.component_id, d.doc_id) AS group_id
    FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
)
SELECT doc_id, lang, group_id,
       CASE WHEN {h} % 100 < {_TRAIN_UPPER} THEN 'train'
            WHEN {h} % 100 < {_VAL_UPPER} THEN 'val'
            ELSE 'test' END AS split
FROM grouped
ORDER BY doc_id
"""


QUERIES["leakage_safe_splits"] = leakage_safe_splits
ORACLES["leakage_safe_splits"] = _leakage_safe_splits_sql()


# --------------------------------------------------------------------------
# Dedup threshold sensitivity curve
# --------------------------------------------------------------------------
# The tuning sweep a curation run does before fixing tau: at each
# candidate threshold, how many near-dup pairs fire and how much of
# the corpus is touched. All per-threshold work runs on the PAIR
# relation (duplicate-bounded, far smaller than the corpus) from the
# same MinHash-LSH candidate path as dedup_ngram_jaccard; the corpus
# is scanned once by that path and once for the denominator count.

_CURVE_THRESHOLDS = (50, 60, 70, 80, 90)  # percent


def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(threshold_pct, n_pairs, n_docs_affected, affected_rate) for
    each candidate tau — the removal-mass curve that picks the dedup
    operating point."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=_JACCARD_THRESHOLD,
        rows_hint=table_num_rows(sf_dir, "documents"),
    )
    ths = F.explode(
        F.array(*[F.lit(t) for t in _CURVE_THRESHOLDS])
    ).alias("threshold_pct")
    qualifying = (
        pairs.select("id_a", "id_b", "jaccard_sim", ths)
        .filter(F.col("jaccard_sim") >= F.col("threshold_pct") / 100.0)
    )
    pair_counts = qualifying.groupBy("threshold_pct").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    doc_counts = (
        qualifying.select(
            "threshold_pct",
            F.explode(F.array("id_a", "id_b")).alias("doc_id"),
        )
        .distinct()
        .groupBy("threshold_pct")
        .agg(F.count(F.lit(1)).alias("n_docs_affected"))
    )
    total = docs.agg(F.count(F.lit(1)).alias("total_docs"))
    return (
        pair_counts.join(doc_counts, "threshold_pct")
        .join(F.broadcast(total))
        .select(
            "threshold_pct",
            "n_pairs",
            "n_docs_affected",
            F.round(
                F.col("n_docs_affected")
                / F.col("total_docs").cast("double"),
                6,
            ).alias("affected_rate"),
        )
        .orderBy("threshold_pct")
    )


def _dedup_curve_sql() -> str:
    ths = ", ".join(str(t) for t in _CURVE_THRESHOLDS)
    return f"""
WITH pairs AS ({_PAIRS_SQL}),
q AS (
    SELECT t.t AS threshold_pct, p.id_a, p.id_b
    FROM pairs p, (SELECT unnest([{ths}]) AS t) t
    WHERE p.jaccard_sim >= t.t / 100.0
),
pair_counts AS (
    SELECT threshold_pct, count(*)::BIGINT AS n_pairs
    FROM q GROUP BY threshold_pct
),
doc_counts AS (
    SELECT threshold_pct, count(DISTINCT d)::BIGINT AS n_docs_affected
    FROM (
        SELECT threshold_pct, unnest([id_a, id_b]) AS d FROM q
    )
    GROUP BY threshold_pct
),
total AS (SELECT count(*)::BIGINT AS total_docs FROM documents)
SELECT p.threshold_pct, p.n_pairs, d.n_docs_affected,
       round(d.n_docs_affected::DOUBLE / t.total_docs, 6)
           AS affected_rate
FROM pair_counts p
JOIN doc_counts d ON d.threshold_pct = p.threshold_pct
CROSS JOIN total t
ORDER BY p.threshold_pct
"""


QUERIES["dedup_threshold_curve"] = dedup_threshold_curve
ORACLES["dedup_threshold_curve"] = _dedup_curve_sql()


# --------------------------------------------------------------------------
# Dedup execution manifest
# --------------------------------------------------------------------------
# dedup_exact / neardup_components / dedup_impact_report answer "what
# would dedup do"; this is the artifact the PASS ITSELF emits: one row
# per document with its verdict and survivor — what downstream
# tokenization filters on and what an audit replays. Exact duplicates
# are a subset of the LSH components (J=1 collides in every band), so
# the group relation is the component graph with singletons as their
# own group; the verdict distinguishes exact copies of the survivor
# (normalized-text equality) from near-duplicates. One corpus scan +
# the (duplicate-bounded) components join; the survivor-text attach is
# a survivor-keyed join, survivor-count-sized.


def dedup_execution_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, survivor_id, verdict ∈ kept|exact_dup|near_dup),
    survivor = min doc_id of the near-dup group (singletons keep
    themselves)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.trim("text")).alias("norm")
    )
    comp = neardup_components(spark, sf_dir).select(
        "doc_id", "component_id"
    )
    grouped = docs.join(comp, "doc_id", "left").withColumn(
        "group_id", F.coalesce("component_id", F.col("doc_id"))
    )
    surv = grouped.groupBy("group_id").agg(
        F.min("doc_id").alias("survivor_id")
    )
    surv_norm = docs.select(
        F.col("doc_id").alias("survivor_id"),
        F.col("norm").alias("surv_norm"),
    )
    return (
        grouped.join(surv, "group_id")
        .join(surv_norm, "survivor_id")
        .select(
            "doc_id",
            "survivor_id",
            F.when(F.col("doc_id") == F.col("survivor_id"), "kept")
            .when(F.col("norm") == F.col("surv_norm"), "exact_dup")
            .otherwise("near_dup")
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


DEDUP_EXECUTION_SQL = f"""
WITH RECURSIVE comp AS ({_COMPONENTS_CORE_SQL}),
norm AS (SELECT doc_id, lower(trim(text)) AS norm FROM documents),
grouped AS (
    SELECT n.doc_id, n.norm,
           coalesce(c.component_id, n.doc_id) AS group_id
    FROM norm n LEFT JOIN comp c ON c.doc_id = n.doc_id
),
surv AS (
    SELECT group_id, min(doc_id) AS survivor_id
    FROM grouped GROUP BY group_id
)
SELECT g.doc_id, s.survivor_id,
       CASE WHEN g.doc_id = s.survivor_id THEN 'kept'
            WHEN g.norm = sn.norm THEN 'exact_dup'
            ELSE 'near_dup' END AS verdict
FROM grouped g
JOIN surv s ON s.group_id = g.group_id
JOIN norm sn ON sn.doc_id = s.survivor_id
ORDER BY g.doc_id
"""

QUERIES["dedup_execution_manifest"] = dedup_execution_manifest
ORACLES["dedup_execution_manifest"] = DEDUP_EXECUTION_SQL


# --------------------------------------------------------------------------
# LSH parameter planner — the (bands, rows) tuning table every MinHash
# deployment ships before committing a layout (Leskovec/Rajaraman/
# Ullman, "Mining of Massive Datasets" §3.4's S-curve analysis, made
# operational): for each banding of the k=16 signature it reports the
# ANALYTIC selectivity (threshold tau* = (1/b)^(1/r) and the collision
# probability 1-(1-j^r)^b at a reference Jaccard) NEXT TO the MEASURED
# candidate workload on this corpus (pair count, colliding buckets,
# max bucket) — the two numbers a tuning decision actually weighs.
#
# Scale shape: candidate pairs are counted from bucket SIZES
# (sum n·(n-1)/2 over the (config, band, key) group-by) — pairs are
# never enumerated, so the planner costs one signature scan + one
# aggregate regardless of how quadratic the worst config's candidate
# set would be. All four configs ride ONE explode of the same
# signature array.
# --------------------------------------------------------------------------

_LSH_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8))
_LSH_REF_J = 0.5  # reference Jaccard for the analytic collision column


def lsh_parameter_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Arrow signature kernel, not the HOF expression form: the first
    # arrival measurement of this planner (HOF lambdas) read 7.2x at
    # 10x data — the interpretive-lambda CPU wall minhash_frame's
    # docstring documents; the kernel swap keeps bit-identical integer
    # arithmetic (the oracle below IS the expression form, so the hash
    # match re-proves kernel == expression every round).
    sig = D.signature_frame(docs, "doc_id", "text", n=3)
    band_structs = []
    for b, r in _LSH_CONFIGS:
        for i in range(b):
            band_structs.append(
                F.struct(
                    F.lit(b).alias("bands"),
                    F.lit(r).alias("rows_per_band"),
                    F.lit(i).alias("band"),
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice("sig", i * r + 1, r),
                            lambda x: x.cast("string"),
                        ),
                    ).alias("key"),
                )
            )
    exploded = sig.select(
        F.explode(F.array(*band_structs)).alias("e")
    ).select("e.bands", "e.rows_per_band", "e.band", "e.key")
    buckets = exploded.groupBy(
        "bands", "rows_per_band", "band", "key"
    ).agg(F.count(F.lit(1)).alias("n"))
    measured = buckets.groupBy("bands", "rows_per_band").agg(
        F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long").alias(
            "candidate_pairs"
        ),
        F.sum((F.col("n") > 1).cast("long")).alias("colliding_buckets"),
        F.max("n").alias("max_bucket"),
    )
    b = F.col("bands").cast("double")
    r = F.col("rows_per_band").cast("double")
    return measured.select(
        "bands",
        "rows_per_band",
        F.round(F.pow(1.0 / b, 1.0 / r), 6).alias("tau_star"),
        F.round(
            1.0 - F.pow(1.0 - F.pow(F.lit(_LSH_REF_J), r), b), 6
        ).alias(f"p_collide_at_{str(_LSH_REF_J).replace('.', '')}"),
        "candidate_pairs",
        "colliding_buckets",
        "max_bucket",
    ).orderBy("bands")


def _lsh_planner_sql() -> str:
    sig = (
        "list_transform(range(1, 17), j -> "
        f"list_aggregate(list_transform(shl, h -> ({_A_LIST}[j] * h "
        f"+ {_B_LIST}[j]) % 1000000007), 'min'))"
    )
    selects = []
    for b, r in _LSH_CONFIGS:
        selects.append(
            f"""SELECT {b} AS bands, {r} AS rows_per_band, bb.i AS band,
       array_to_string(sig[(bb.i * {r} + 1):(bb.i * {r} + {r})], ',')
           AS key
FROM sigs, range(0, {b}) AS bb(i)"""
        )
    union = "\nUNION ALL\n".join(selects)
    return rf"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
    FROM documents
), sh AS (
    SELECT doc_id,
           list_transform(
               list_distinct(list_transform(
                   range(1, greatest(len(w) - 2, 0) + 1),
                   i -> array_to_string(w[i:i+2], ' ')
               )),
               s -> list_reduce(
                        list_prepend(0::BIGINT,
                            list_transform(string_split(s, ''), c -> ascii(c)::BIGINT)),
                        (acc, ch) -> (acc * 31 + ch) % 1000000007)
           ) AS shl
    FROM toks
), sigs AS (
    SELECT doc_id, {sig} AS sig
    FROM sh WHERE len(shl) > 0
), bandkeys AS (
{union}
), buckets AS (
    SELECT bands, rows_per_band, band, key, count(*) AS n
    FROM bandkeys
    GROUP BY 1, 2, 3, 4
)
SELECT bands, rows_per_band,
       round(pow(1.0 / bands, 1.0 / rows_per_band), 6) AS tau_star,
       round(1.0 - pow(1.0 - pow({_LSH_REF_J}, rows_per_band),
                       bands), 6)
           AS p_collide_at_{str(_LSH_REF_J).replace('.', '')},
       sum(n * (n - 1) // 2)::BIGINT AS candidate_pairs,
       sum(CASE WHEN n > 1 THEN 1 ELSE 0 END)::BIGINT
           AS colliding_buckets,
       max(n) AS max_bucket
FROM buckets
GROUP BY bands, rows_per_band
ORDER BY bands
"""


QUERIES["lsh_parameter_planner"] = lsh_parameter_planner
ORACLES["lsh_parameter_planner"] = _lsh_planner_sql()


# --------------------------------------------------------------------------
# ExactSubstr cut plan — the REMOVAL step the window-flagging queries
# above stop short of (Lee et al. 2021, "Deduplicating Training Data
# Makes Language Models Better", §4.1 ExactSubstr): every occurrence
# of a duplicated k-token window EXCEPT the global first is cut; the
# flagged windows are merged into maximal disjoint token ranges per
# document (overlapping/adjacent windows coalesce), and each document
# is reported with its cut ranges, cut ratio, and a fingerprint of the
# surviving tokens so the cleaned CONTENT — not just the counts — is
# oracle-verified.
#
# "Global first occurrence" is integer-exact in both engines via the
# same okey = doc_id * 2^20 + pos trick as llm_text's corpus scrub
# (positions are far below 2^20; asserted in tests). Plan: one
# window-hash shuffle finds duplicated hashes with their min okey
# (map-side-combinable min+count), one hash-keyed join flags the
# non-first occurrences (the repeated-hash relation is
# duplicate-surface-sized — data-dependent, so it stays a shuffle
# join and AQE may demote it to broadcast when small), then islands
# are doc-keyed window functions (partitions stay document-sized) and
# the rebuild is one doc-keyed join against the token arrays. The
# kept-text fingerprint is a char-linear interpreted fold — the same
# cost class as document_fingerprints, measured at the scale
# rehearsal.
# --------------------------------------------------------------------------

_ESS_POS_BOUND = 1 << 20


def exact_substr_cut_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document ExactSubstr removal plan (module note above):
    token count, number of maximal cut ranges, tokens cut, cut ratio,
    and the poly-hash fingerprint of the surviving tokens rejoined
    with single spaces."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("t")
    )
    keyed = _span_windows(docs).withColumn(
        "okey", F.col("doc_id") * F.lit(_ESS_POS_BOUND) + F.col("pos")
    )
    rep = (
        keyed.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"), F.min("okey").alias("first_okey"))
        .filter(F.col("n") >= 2)
        .select("h", "first_okey")
    )
    flagged = (
        keyed.join(rep, "h")
        .filter(F.col("okey") != F.col("first_okey"))
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = flagged.withColumn(
        "brk",
        F.when(
            F.col("pos") - F.lag("pos").over(w) <= F.lit(SPAN_K), F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn(
        "island",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ranges = isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("rstart"),
        (F.max("pos") + F.lit(SPAN_K - 1)).alias("rend"),
    )
    per_doc = ranges.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_cut_ranges"),
        F.sum(F.col("rend") - F.col("rstart") + 1).alias("tokens_cut"),
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rstart", "rend"))),
                lambda s: F.sequence(s["rstart"], s["rend"]),
            )
        ).alias("cut_pos"),
    )
    return (
        toks.join(per_doc, "doc_id", "left")
        .withColumn(
            "cp",
            F.coalesce("cut_pos", F.expr("CAST(array() AS array<int>)")),
        )
        .select(
            "doc_id",
            F.size("t").alias("n_tokens"),
            F.coalesce("n_cut_ranges", F.lit(0)).alias("n_cut_ranges"),
            F.coalesce("tokens_cut", F.lit(0)).alias("tokens_cut"),
            F.round(
                F.coalesce("tokens_cut", F.lit(0)) / F.size("t"), 6
            ).alias("cut_ratio"),
            T.poly_hash(
                F.expr(
                    "array_join(transform("
                    "array_except(sequence(1, size(t)), cp), "
                    "j -> element_at(t, j)), ' ')"
                )
            ).alias("kept_fingerprint"),
        )
        .orderBy("doc_id")
    )


def _exact_substr_sql() -> str:
    return rf"""
WITH {_SPAN_WINS_SQL}, keyed AS (
    SELECT doc_id, pos, h, doc_id * {_ESS_POS_BOUND} + pos AS okey
    FROM wins
), rep AS (
    SELECT h, min(okey) AS first_okey
    FROM keyed GROUP BY h HAVING count(*) >= 2
), flagged AS (
    SELECT k.doc_id, k.pos
    FROM keyed k JOIN rep r ON k.h = r.h AND k.okey <> r.first_okey
), brk AS (
    SELECT doc_id, pos,
           CASE WHEN pos - lag(pos) OVER
                    (PARTITION BY doc_id ORDER BY pos) <= {SPAN_K}
                THEN 0 ELSE 1 END AS brk
    FROM flagged
), isl AS (
    SELECT doc_id, pos,
           sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
    FROM brk
), ranges AS (
    SELECT doc_id, island, min(pos) AS rstart,
           max(pos) + {SPAN_K} - 1 AS rend
    FROM isl GROUP BY doc_id, island
), per_doc AS (
    SELECT doc_id, count(*) AS n_cut_ranges,
           sum(rend - rstart + 1) AS tokens_cut
    FROM ranges GROUP BY doc_id
), cutpos AS (
    SELECT doc_id, j
    FROM ranges, unnest(range(rstart, rend + 1)) AS u(j)
), tokpos AS (
    SELECT doc_id, j, t[j] AS w
    FROM toks, unnest(range(1, len(t) + 1)) AS u(j)
), kept AS (
    SELECT tp.doc_id,
           array_to_string(list(tp.w ORDER BY tp.j), ' ') AS kept_text
    FROM tokpos tp
    LEFT JOIN cutpos c ON tp.doc_id = c.doc_id AND tp.j = c.j
    WHERE c.doc_id IS NULL
    GROUP BY tp.doc_id
), totals AS (
    SELECT doc_id, len(t) AS n_tokens FROM toks
)
SELECT tt.doc_id, tt.n_tokens,
       coalesce(p.n_cut_ranges, 0) AS n_cut_ranges,
       coalesce(p.tokens_cut, 0)::BIGINT AS tokens_cut,
       round(coalesce(p.tokens_cut, 0)::DOUBLE / tt.n_tokens, 6)
           AS cut_ratio,
       {_poly_hash_sql("coalesce(k.kept_text, '')")} AS kept_fingerprint
FROM totals tt
LEFT JOIN per_doc p USING (doc_id)
LEFT JOIN kept k USING (doc_id)
ORDER BY tt.doc_id
"""


QUERIES["exact_substr_cut_plan"] = exact_substr_cut_plan
ORACLES["exact_substr_cut_plan"] = _exact_substr_sql()
