"""Similarity-search gate queries over ``embeddings`` (north-star
extension: ANN over an ``array<float>`` column).

Doubles are folded sequentially on both engines (zip_with+aggregate vs
list_transform+list_reduce) so cosine values are IEEE-identical before
the defensive round(6).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity as S
from ..sources import load_table

_QUERY_VEC_ID = 0
_TOPK = 10
_PAIR_THRESHOLD = 0.4
# LSH bit-width for the GATE queries: b ≈ log2(n / target_bucket_size).
# At sf0.01 (500 vectors) 4 bits → ~30-vector buckets, so the top-10
# rerank is a real selection instead of a 1-row bucket (the operator's
# 8-bit default is the larger-corpus setting; at 100 TB you'd size b the
# same way, just bigger).
_GATE_LSH_BITS = 4

# Sequential-fold dot/norm in DuckDB, exactly mirroring S.dot/S.norm.
_DOT_SQL = """
list_reduce(
    list_prepend(0.0::DOUBLE,
        list_transform(range(1, len({a}) + 1),
            i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)),
    (acc, v) -> acc + v)
"""


def _cosine_sql(a: str, b: str) -> str:
    dot = _DOT_SQL.format(a=a, b=b)
    na = _DOT_SQL.format(a=a, b=a)
    nb = _DOT_SQL.format(a=b, b=b)
    return f"({dot}) / (sqrt({na}) * sqrt({nb}))"


def ann_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors of vec_id=0 — the ANN baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, _QUERY_VEC_ID, _TOPK)


ANN_BRUTE_SQL = f"""
WITH q AS (
    SELECT embedding AS query_emb FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}
)
SELECT vec_id,
       round({_cosine_sql('embedding', 'query_emb')}, 6) AS cosine_sim
FROM embeddings, q
WHERE vec_id != {_QUERY_VEC_ID}
ORDER BY cosine_sim DESC, vec_id
LIMIT {_TOPK}
"""


def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-sampling-LSH ANN: candidates restricted to the query's
    sign-bit bucket (the 100 TB path: bucket-pruned scan), exact cosine
    rerank, top-10."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.lsh_bucketed_topk(emb, _QUERY_VEC_ID, _TOPK, bits=_GATE_LSH_BITS)


_BUCKET_SQL = f"""
list_reduce(
    list_prepend(0::BIGINT,
        list_transform({{e}}[1:{_GATE_LSH_BITS}],
            x -> CASE WHEN x > 0 THEN 1::BIGINT ELSE 0::BIGINT END)),
    (acc, b) -> acc * 2 + b)
"""

ANN_LSH_SQL = f"""
WITH b AS (
    SELECT vec_id, embedding,
           {_BUCKET_SQL.format(e='embedding')} AS bucket
    FROM embeddings
), q AS (
    SELECT embedding AS query_emb, bucket AS query_bucket
    FROM b WHERE vec_id = {_QUERY_VEC_ID}
)
SELECT vec_id,
       round({_cosine_sql('embedding', 'query_emb')}, 6) AS cosine_sim
FROM b, q
WHERE vec_id != {_QUERY_VEC_ID} AND bucket = query_bucket
ORDER BY cosine_sim DESC, vec_id
LIMIT {_TOPK}
"""


def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.4) within LSH buckets —
    the embedding-space analogue of document near-dedup."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.cosine_pairs_above(emb, _PAIR_THRESHOLD, bits=_GATE_LSH_BITS).orderBy(
        "id_a", "id_b"
    )


PAIRS_SQL = f"""
WITH b AS (
    SELECT vec_id, embedding,
           {_BUCKET_SQL.format(e='embedding')} AS bucket
    FROM embeddings
)
SELECT l.vec_id AS id_a,
       r.vec_id AS id_b,
       round({_cosine_sql('l.embedding', 'r.embedding')}, 6) AS cosine_sim
FROM b l
JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
WHERE round({_cosine_sql('l.embedding', 'r.embedding')}, 6) >= {_PAIR_THRESHOLD}
ORDER BY id_a, id_b
"""


def ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: probe the 2 nearest coarse clusters (label = k-means
    assignment), exact cosine rerank within them — the partition-pruned
    scale path beside the LSH variant."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ivf_probe_topk(emb, _QUERY_VEC_ID, _TOPK, n_probe=2)


_C_TERM = "sum(embedding[{i}]::DOUBLE) / count(*)"
_CENT_COLS = ", ".join(
    f"{_C_TERM.format(i=i + 1)} AS c{i}" for i in range(64)
)
_DOT_QC = " + ".join(f"c{i} * qe[{i + 1}]::DOUBLE" for i in range(64))
_NORM_C = " + ".join(f"c{i} * c{i}" for i in range(64))
_NORM_Q = " + ".join(f"qe[{i + 1}]::DOUBLE * qe[{i + 1}]::DOUBLE" for i in range(64))

ANN_IVF_SQL = f"""
WITH q AS (
    SELECT embedding AS qe FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}
), cent AS (
    SELECT label, {_CENT_COLS}
    FROM embeddings WHERE vec_id != {_QUERY_VEC_ID}
    GROUP BY label
), probe AS (
    SELECT label,
           round(({_DOT_QC}) / (sqrt({_NORM_C}) * sqrt({_NORM_Q})), 6) AS centroid_sim
    FROM cent, q
    ORDER BY centroid_sim DESC, label
    LIMIT 2
)
SELECT vec_id,
       label,
       round({_cosine_sql('embedding', 'qe')}, 6) AS cosine_sim
FROM embeddings, q
WHERE vec_id != {_QUERY_VEC_ID} AND label IN (SELECT label FROM probe)
ORDER BY cosine_sim DESC, vec_id
LIMIT {_TOPK}
"""


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (dimension reduction)
# --------------------------------------------------------------------------

_JL_IN_DIM = 64
_JL_OUT_DIM = 16


def _jl_signs() -> list[list[int]]:
    """The ±1 projection matrix, derived from the cross-engine hash so
    it is a deterministic constant (seeded at build time, inlined as
    literals into BOTH the Spark expressions and the oracle SQL —
    no runtime randomness anywhere)."""
    from ..operators.text import HASH_BASE, HASH_MOD, MIX_MULT

    def h(s: str) -> int:
        acc = 0
        for ch in s:
            acc = (acc * HASH_BASE + ord(ch)) % HASH_MOD
        return (acc * MIX_MULT) % HASH_MOD

    return [
        [1 if h(f"jl:{j}:{i}") % 2 == 0 else -1 for i in range(_JL_IN_DIM)]
        for j in range(_JL_OUT_DIM)
    ]


def jl_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project the 64-dim embeddings to 16 dims with a ±1
    Achlioptas/JL matrix — the dimension-reduction step that makes
    IVF/LSH indexes cheaper while approximately preserving pairwise
    distances (guaranteed within 1±eps for eps ~ sqrt(ln n / d_out);
    pinned empirically by tests). Output exploded to (vec_id, dim_idx,
    value) rows so the driver hash covers every component.

    Plan: pure scan-stage projection — each output dim is a
    sequential fold over the input array inside codegen, no shuffle
    at all before the presentational sort. The fold order is pinned
    ascending so the float sum is bit-identical to the oracle's
    list_reduce. At much larger d, the same projection becomes one
    Arrow-batched Pandas UDF against a broadcast numpy matrix — same
    contract, vectorized kernel."""
    emb = load_table(spark, sf_dir, "embeddings")
    signs = _jl_signs()
    scale = 1.0 / (_JL_OUT_DIM ** 0.5)
    dims = [
        F.round(
            F.aggregate(
                F.sequence(F.lit(1), F.lit(_JL_IN_DIM)),
                F.lit(0.0),
                lambda acc, i: acc
                + F.element_at("embedding", i).cast("double")
                * F.element_at(F.array(*[F.lit(s) for s in signs[j]]), i),
            )
            * F.lit(scale),
            6,
        ).alias(f"d{j}")
        for j in range(_JL_OUT_DIM)
    ]
    wide = emb.select("vec_id", "label", *dims)
    pairs = F.array(
        *[
            F.struct(
                F.lit(j).alias("dim_idx"), F.col(f"d{j}").alias("value")
            )
            for j in range(_JL_OUT_DIM)
        ]
    )
    return (
        wide.select("vec_id", "label", F.explode(pairs).alias("p"))
        .select("vec_id", "label", "p.dim_idx", "p.value")
        .orderBy("vec_id", "dim_idx")
    )


def _jl_projection_sql() -> str:
    signs = _jl_signs()
    scale = 1.0 / (_JL_OUT_DIM ** 0.5)
    terms = ",\n        ".join(
        "round(list_reduce(list_prepend(0.0::DOUBLE, "
        "list_transform(range(1, {n} + 1), i -> embedding[i]::DOUBLE * "
        "([{s}]::BIGINT[])[i])), (a, b) -> a + b) * {scale}, 6)".format(
            n=_JL_IN_DIM,
            s=", ".join(str(s) for s in signs[j]),
            scale=scale,
        )
        for j in range(_JL_OUT_DIM)
    )
    return f"""
WITH wide AS (
    SELECT vec_id, label,
           [{terms}] AS proj
    FROM embeddings
)
SELECT vec_id, label, i - 1 AS dim_idx, proj[i] AS value
FROM wide, unnest(range(1, {_JL_OUT_DIM} + 1)) AS t(i)
ORDER BY vec_id, dim_idx
"""


QUERIES = {
    "jl_random_projection": jl_random_projection,
    "ann_brute_force_topk": ann_brute_force_topk,
    "ann_lsh_bucketed": ann_lsh_bucketed,
    "ann_ivf_probe": ann_ivf_probe,
    "embedding_neardup_pairs": embedding_neardup_pairs,
}

ORACLES = {
    "jl_random_projection": _jl_projection_sql(),
    "ann_brute_force_topk": ANN_BRUTE_SQL,
    "ann_lsh_bucketed": ANN_LSH_SQL,
    "ann_ivf_probe": ANN_IVF_SQL,
    "embedding_neardup_pairs": PAIRS_SQL,
}


# --------------------------------------------------------------------------
# Product quantization (Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011) — the 100 TB ANN memory path: 64-dim
# float vectors compress to 8 one-byte codes (32x), and search scans
# CODES with per-subspace lookup tables (ADC) instead of raw vectors.
# --------------------------------------------------------------------------

_PQ_M = 8        # subspaces
_PQ_DSUB = 8     # dims per subspace (8 x 8 = 64)
_PQ_K = 16       # codes per subspace
# Codebook training samples 1-in-N vectors (integer LCG on vec_id) —
# the FAISS discipline: Lloyd passes must not scan the full corpus.
# Below the floor, corpora train on everything: sampling a small
# corpus starves the 16 centroids per subspace (FAISS guidance is
# ~256 points per centroid), and r5 measured that below ~10^5 vectors
# the sampled aggregates save less than the sample bookkeeping costs
# (ivfpq_adc_topk 4.6 s -> 5.8 s at sf0.1 with an eager 4096 floor).
# The floor check rides a broadcast one-row count, never a driver
# round-trip; both engines state predicate and floor verbatim, so
# oracle parity holds whichever branch is live (the sampled branch is
# parity-pinned by test_pq_sampled_training_parity with a lowered
# floor). At 100 TB a deployment would cap the absolute sample count
# instead — same predicate, different threshold.
_PQ_TRAIN_MOD = 4
_PQ_TRAIN_FLOOR = 65536


def _pq_subvectors(
    emb: DataFrame, id_col: str = "vec_id", emb_col: str = "embedding"
) -> DataFrame:
    """(id, s, sub): the corpus exploded into per-subspace slices,
    cast to double once. One narrow scan-stage projection."""
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.transform(
                    F.slice(emb_col, s * _PQ_DSUB + 1, _PQ_DSUB),
                    lambda x: x.cast("double"),
                ).alias("sub"),
            )
            for s in range(_PQ_M)
        ]
    )
    return emb.select(id_col, F.explode(subs).alias("p")).select(
        id_col, "p.s", "p.sub"
    )


def _pq_sqdist(sub: Column, cent: Column) -> Column:
    """Pinned ascending fold of squared L2 — IEEE-identical to the
    oracle's list_reduce, rounded at use sites."""
    return F.aggregate(
        F.zip_with(sub, cent, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_centroids(assigned: DataFrame, code_col: str) -> DataFrame:
    """(s, code, cent): per-subspace centroids of the given assignment,
    each component rounded to 6 so every downstream distance starts
    from literally identical numbers in both engines."""
    return (
        assigned.groupBy("s", F.col(code_col).alias("code"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.element_at("sub", i + 1)).alias(f"s{i}")
                for i in range(_PQ_DSUB)
            ],
        )
        .select(
            "s",
            "code",
            F.array(
                *[
                    F.round(F.col(f"s{i}") / F.col("n"), 6)
                    for i in range(_PQ_DSUB)
                ]
            ).alias("cent"),
        )
    )


def _pq_assign(subs: DataFrame, cents: DataFrame, out_col: str) -> DataFrame:
    """argmin-distance code per (vec_id, s): equi-join on the subspace
    (codebook broadcast — it is m x k x dsub doubles by construction,
    KB-sized at any corpus scale), distances rounded before the argmin
    so ties resolve identically cross-engine (then by smallest code)."""
    d = F.round(_pq_sqdist(F.col("sub"), F.col("cent")), 6)
    return (
        subs.join(F.broadcast(cents), "s")
        .select("vec_id", "s", "sub", "code", d.alias("d"))
        .groupBy("vec_id", "s")
        .agg(
            F.min_by(
                "code", F.struct(F.col("d"), F.col("code"))
            ).alias(out_col),
            F.first("sub").alias("sub"),
        )
    )


def _pq_model(
    emb: DataFrame, n_vecs: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """Train the codebook (hash-seeded init + one Lloyd iteration) on a
    deterministic 1-in-\\_PQ_TRAIN_MOD sample — unless the corpus is
    under \\_PQ_TRAIN_FLOOR vectors, where sampling would starve the
    centroids and everything trains — then encode the FULL corpus. This
    is the FAISS training discipline: codebooks converge on a bounded
    sample, so the Lloyd passes must not scan 100 TB per iteration; only
    the single encode pass touches every vector. The sample predicate is
    a deterministic integer LCG on vec_id (no RNG, no sort), so the
    oracle states it verbatim; callers that already know the corpus size
    pass ``n_vecs`` to skip the count job.
    Returns (final centroids, codes). Every stage is a single scan plus
    a dimension-sized aggregate; nothing corpus-sized ever broadcasts."""
    from ..operators import text as T

    subs = _pq_subvectors(emb)
    # Plan-time floor decision: ONE driver-side count (parquet-metadata
    # cheap, bounded-scalar precedent as in bpe.py's per-merge argmax)
    # keeps the full-training plan completely free of sampling
    # machinery — an in-plan one-row-broadcast variant re-executed the
    # count per branch and measured 25-40% slower at sf0.1. The
    # sampled branch filters on an integer LCG over vec_id (closed
    # under 64-bit, stated verbatim in the oracle), evaluated BEFORE
    # the 8x subspace explode.
    if n_vecs is None:
        n_vecs = emb.count()
    if n_vecs <= _PQ_TRAIN_FLOOR:
        train = subs
    else:
        h = (
            (F.col("vec_id") % 1000003) * 1103515245 + 12345
        ) % 2147483647
        train = _pq_subvectors(emb.filter(h % _PQ_TRAIN_MOD == 0))
    seeded = train.withColumn(
        "b",
        T.scrambled_hash(
            F.concat(F.lit("pq:"), F.col("vec_id").cast("string"))
        )
        % _PQ_K,
    )
    init = _pq_centroids(
        seeded.select("s", "sub", F.col("b").alias("c0")), "c0"
    )
    refined = _pq_assign(train, init, "code0")
    final = _pq_centroids(
        refined.select("s", "sub", F.col("code0").alias("c1")), "c1"
    )
    codes = _pq_assign(subs, final, "code")
    return final, codes


def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codes for every vector: 8 bytes replacing 256 — the
    compressed representation an ADC scan reads. Codebook: 16 centroids
    per subspace, hash-seeded then refined with one Lloyd iteration
    (deterministic end to end, so the full train+encode pipeline is
    oracle-checkable)."""
    emb = load_table(spark, sf_dir, "embeddings")
    _final, codes = _pq_model(emb)
    agg = [
        F.max(F.when(F.col("s") == s, F.col("code"))).alias(f"c{s}")
        for s in range(_PQ_M)
    ]
    return codes.groupBy("vec_id").agg(*agg).orderBy("vec_id")


def _adc_rank(
    codes: DataFrame,
    final: DataFrame,
    q_subs: DataFrame,
    exclude_id: int,
    k: int,
) -> DataFrame:
    """ADC top-k readout shared by the batch query and the streamed PQ
    index probe (streaming/pq_index.py): broadcast m x k lookup table
    from the query's subvectors, per-vector fixed-order 8-entry sum."""
    lut = (
        final.join(
            F.broadcast(q_subs.select("s", F.col("sub").alias("qsub"))), "s"
        )
        .select(
            "s",
            "code",
            F.round(_pq_sqdist(F.col("qsub"), F.col("cent")), 6).alias("ld"),
        )
    )
    per_s = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .groupBy("vec_id")
        .agg(
            *[
                F.max(F.when(F.col("s") == s, F.col("ld"))).alias(f"l{s}")
                for s in range(_PQ_M)
            ]
        )
    )
    total = F.round(
        sum((F.col(f"l{s}") for s in range(_PQ_M)), F.lit(0.0)), 6
    )
    return (
        per_s.filter(F.col("vec_id") != exclude_id)
        .select("vec_id", total.alias("approx_dist"))
        .orderBy("approx_dist", "vec_id")
        .limit(k)
    )


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric distance computation: the query vector stays exact,
    every corpus vector is its 8 codes, and distance = a fixed-order
    sum of 8 lookup-table entries (query subvector -> that subspace's
    centroid). The scan touches only codes + a broadcast m x k table —
    the memory shape that makes billion-vector ANN feasible."""
    emb = load_table(spark, sf_dir, "embeddings")
    final, codes = _pq_model(emb)
    q_subs = _pq_subvectors(emb.filter(F.col("vec_id") == _QUERY_VEC_ID))
    return _adc_rank(codes, final, q_subs, _QUERY_VEC_ID, _TOPK)


def _pq_sql_parts() -> str:
    """Shared CTE chain of the DuckDB PQ twin (train + encode)."""
    from ..operators import text as T

    def cent_cols() -> str:
        return ", ".join(
            f"round(avg(sub[{i + 1}]), 6)" for i in range(_PQ_DSUB)
        )

    poly = (
        "list_reduce(list_prepend(0::BIGINT, "
        "list_transform(string_split('pq:' || vec_id::VARCHAR, ''), "
        "c -> ascii(c)::BIGINT)), "
        f"(acc, ch) -> (acc * {T.HASH_BASE} + ch) % {T.HASH_MOD})"
    )
    sqd = (
        "round(list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, {_PQ_DSUB} + 1), "
        "i -> (sub[i] - cent[i]) * (sub[i] - cent[i]))), "
        "(a, b) -> a + b), 6)"
    )
    return f"""
subs AS (
    SELECT vec_id, t.s,
           list_transform(
               embedding[{_PQ_DSUB} * t.s + 1 : {_PQ_DSUB} * t.s + {_PQ_DSUB}],
               x -> x::DOUBLE) AS sub
    FROM embeddings, unnest(range(0, {_PQ_M})) AS t(s)
), train AS (
    SELECT * FROM subs
    WHERE ((vec_id % 1000003) * 1103515245 + 12345) % 2147483647
             % {_PQ_TRAIN_MOD} = 0
       OR (SELECT count(*) FROM embeddings) <= {_PQ_TRAIN_FLOOR}
), seeded AS (
    SELECT *, (({poly}) * {T.MIX_MULT}) % {T.HASH_MOD} % {_PQ_K} AS b
    FROM train
), init AS (
    SELECT s, b AS code, [{cent_cols()}] AS cent
    FROM seeded GROUP BY s, b
), scored0 AS (
    SELECT vec_id, s, sub, code, {sqd} AS d
    FROM train JOIN init USING (s)
), code0 AS (
    SELECT vec_id, s, sub, code AS c0 FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY d, code) AS rn
        FROM scored0
    ) WHERE rn = 1
), final AS (
    SELECT s, c0 AS code, [{cent_cols()}] AS cent
    FROM code0 GROUP BY s, c0
), scored1 AS (
    SELECT vec_id, s, sub, code, {sqd} AS d
    FROM subs JOIN final USING (s)
), codes AS (
    SELECT vec_id, s, code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY d, code) AS rn
        FROM scored1
    ) WHERE rn = 1
)"""


def _pq_encode_sql() -> str:
    cols = ", ".join(
        f"max(CASE WHEN s = {s} THEN code END) AS c{s}"
        for s in range(_PQ_M)
    )
    return f"""
WITH {_pq_sql_parts()}
SELECT vec_id, {cols}
FROM codes GROUP BY vec_id ORDER BY vec_id
"""


def _pq_adc_sql() -> str:
    lcols = ", ".join(
        f"max(CASE WHEN s = {s} THEN ld END) AS l{s}" for s in range(_PQ_M)
    )
    total = " + ".join(f"l{s}" for s in range(_PQ_M))
    qsqd = (
        "round(list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, {_PQ_DSUB} + 1), "
        "i -> (qsub[i] - cent[i]) * (qsub[i] - cent[i]))), "
        "(a, b) -> a + b), 6)"
    )
    return f"""
WITH {_pq_sql_parts()}, qsubs AS (
    SELECT s, sub AS qsub FROM subs WHERE vec_id = {_QUERY_VEC_ID}
), lut AS (
    SELECT s, code, {qsqd} AS ld
    FROM final JOIN qsubs USING (s)
), per_s AS (
    SELECT vec_id, {lcols}
    FROM codes JOIN lut USING (s, code)
    GROUP BY vec_id
)
SELECT vec_id, round(0.0 + {total}, 6) AS approx_dist
FROM per_s
WHERE vec_id != {_QUERY_VEC_ID}
ORDER BY approx_dist, vec_id
LIMIT {_TOPK}
"""


QUERIES["pq_encode"] = pq_encode
QUERIES["pq_adc_topk"] = pq_adc_topk
ORACLES["pq_encode"] = _pq_encode_sql()
ORACLES["pq_adc_topk"] = _pq_adc_sql()


# --------------------------------------------------------------------------
# IVF-PQ (the FAISS IVFPQ composition): coarse inverted lists + product
# quantization of the RESIDUALS. The billion-vector architecture —
# a probe touches n_probe/n_clusters of the codes, and each candidate
# costs 8 table lookups instead of a 64-dim distance.
# --------------------------------------------------------------------------

_IVFPQ_NPROBE = 2
_IVFPQ_DIM = 64


def _coarse_centroids(emb: DataFrame) -> DataFrame:
    """(label, ccent): per-cluster mean vector, every component rounded
    to 6 so residuals start from identical numbers in both engines. The
    ``label`` column plays the k-means build output, as in
    ``ann_ivf_probe``."""
    cents = emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.element_at("embedding", i + 1).cast("double")).alias(
                f"s{i}"
            )
            for i in range(_IVFPQ_DIM)
        ],
    )
    return cents.select(
        "label",
        F.array(
            *[
                F.round(F.col(f"s{i}") / F.col("n"), 6)
                for i in range(_IVFPQ_DIM)
            ]
        ).alias("ccent"),
    )


def _residual(vec: Column, cent: Column) -> Column:
    return F.zip_with(
        F.transform(vec, lambda x: x.cast("double")),
        cent,
        lambda x, y: x - y,
    )


# FAISS train/add/search split for the BATCH server (the streaming twin
# in streaming/pq_index.py already freezes its codebook this way): the
# index — coarse centroids, residual PQ codebook, and the encoded
# corpus — is built ONCE per (session, sf_dir) and frozen; every
# subsequent search pays only probe + ADC. Without this, each bench
# repetition re-ran k-means training + the full-corpus encode, so the
# recorded ivfpq row measured index BUILD, not serving (r6 verdict
# item 4). Cache contents: two dimension-sized local row lists
# (n_clusters x 64 and m x k x 8 doubles — KB at any corpus scale,
# same bounded-collect class the plan audit already admits) and one
# persisted corpus-sized code table ((vec_id, label, s, code) — the
# 8-bytes-per-vector compressed representation a real ANN server keeps
# resident by design).
_IVFPQ_INDEX_CACHE: dict = {}


def _ivfpq_index(
    spark: SparkSession, sf_dir: str, emb: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (coarse centroids, PQ codebook, labeled codes), training
    on first use per (session, sf_dir) and serving frozen thereafter.
    Determinism: centroid components are rounded to 6 at training time,
    so collect + createDataFrame round-trips the exact doubles and a
    cold and warm call hash identically."""
    hit = _IVFPQ_INDEX_CACHE.get(sf_dir)
    if hit is not None and hit[0] is spark:
        return hit[1], hit[2], hit[3]
    coarse = _coarse_centroids(emb)
    resid = emb.join(F.broadcast(coarse), "label").select(
        "vec_id",
        _residual(F.col("embedding"), F.col("ccent")).alias("embedding"),
    )
    final, codes = _pq_model(resid, n_vecs=emb.count())
    labeled = codes.join(emb.select("vec_id", "label"), "vec_id").select(
        "vec_id", "label", "s", "code"
    )
    # local_frame -> LocalRelation: the serving path crosses these
    # KB-sized frames several times per query; the RDD-backed
    # createDataFrame form scheduled 32 near-empty tasks per stage
    # (measured ~0.4-0.5 s/serve of scheduling overhead, A/B identical
    # results).
    from ..operators.local_frame import local_frame

    coarse_f = local_frame(
        spark, coarse.collect(), "label int, ccent array<double>"
    )
    final_f = local_frame(
        spark, final.collect(), "s int, code int, cent array<double>"
    )
    labeled = labeled.persist()
    labeled.count()
    _IVFPQ_INDEX_CACHE[sf_dir] = (spark, coarse_f, final_f, labeled)
    return coarse_f, final_f, labeled


def ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search: probe the ``n_probe`` nearest coarse cells by
    exact L2 to the (broadcast, rounded) coarse centroids, then rank
    the probed cells' vectors by ADC over a PQ codebook trained on the
    RESIDUALS (vector minus its cell centroid) — residuals concentrate
    near zero, which is why FAISS quantizes them instead of raw
    vectors. Per probed cell the query's residual differs, so the
    lookup table is keyed (cell, subspace, code) — still
    n_probe × m × k rows, broadcast.

    Plan: coarse centroids and the codebook are dimension-sized
    aggregates; the corpus appears only in (a) the residual projection
    (scan-stage), (b) the PQ encode joins (codebook broadcast), and
    (c) one vec_id-keyed join re-attaching the cell label to the codes
    (at cluster scale the label rides the code table so this join
    disappears — kept here to reuse the label-free PQ kernel
    verbatim). The probe semi-join and the LUT join are broadcasts."""
    emb = load_table(spark, sf_dir, "embeddings")
    coarse, final, labeled = _ivfpq_index(spark, sf_dir, emb)

    q = emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("embedding").alias("q_emb")
    )
    qdist = F.round(
        F.aggregate(
            F.zip_with(
                F.transform(F.col("q_emb"), lambda x: x.cast("double")),
                F.col("ccent"),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    probed = (
        coarse.crossJoin(F.broadcast(q))
        .select("label", "ccent", "q_emb", qdist.alias("d"))
        .orderBy("d", "label")
        .limit(_IVFPQ_NPROBE)
    )
    qr_subs = _pq_subvectors(
        probed.select(
            "label", _residual(F.col("q_emb"), F.col("ccent")).alias("qr")
        ),
        id_col="label",
        emb_col="qr",
    ).withColumnRenamed("sub", "qsub")
    lut = final.join(F.broadcast(qr_subs), "s").select(
        "label",
        "s",
        "code",
        F.round(_pq_sqdist(F.col("qsub"), F.col("cent")), 6).alias("ld"),
    )
    per_s = (
        labeled.join(F.broadcast(lut), ["label", "s", "code"])
        .groupBy("vec_id")
        .agg(
            F.max("label").alias("label"),
            *[
                F.max(F.when(F.col("s") == s, F.col("ld"))).alias(f"l{s}")
                for s in range(_PQ_M)
            ],
        )
    )
    total = F.round(
        sum((F.col(f"l{s}") for s in range(_PQ_M)), F.lit(0.0)), 6
    )
    return (
        per_s.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .select("vec_id", "label", total.alias("approx_dist"))
        .orderBy("approx_dist", "vec_id")
        .limit(_TOPK)
    )


def _ivfpq_sql() -> str:
    dim = _IVFPQ_DIM
    ccent_cols = ", ".join(
        f"round(avg(embedding[{i + 1}]::DOUBLE), 6)" for i in range(dim)
    )
    l2_q_cc = (
        "round(list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, {dim} + 1), "
        "i -> (q_emb[i]::DOUBLE - ccent[i]) * (q_emb[i]::DOUBLE - ccent[i]))), "
        "(a, b) -> a + b), 6)"
    )
    lcols = ", ".join(
        f"max(CASE WHEN s = {s} THEN ld END) AS l{s}" for s in range(_PQ_M)
    )
    total = " + ".join(f"l{s}" for s in range(_PQ_M))
    qsqd = (
        "round(list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, {_PQ_DSUB} + 1), "
        "i -> (qsub[i] - cent[i]) * (qsub[i] - cent[i]))), "
        "(a, b) -> a + b), 6)"
    )
    # the shared PQ chain, retargeted at the residual relation
    pq_chain = _pq_sql_parts().replace("FROM embeddings,", "FROM resid,")
    return f"""
WITH coarse AS (
    SELECT label, [{ccent_cols}] AS ccent
    FROM embeddings GROUP BY label
), resid AS (
    SELECT e.vec_id,
           list_transform(range(1, {dim} + 1),
                          i -> e.embedding[i]::DOUBLE - c.ccent[i])
               AS embedding
    FROM embeddings e JOIN coarse c USING (label)
), {pq_chain}, qv AS (
    SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}
), probed AS (
    SELECT label, ccent, q_emb FROM (
        SELECT label, ccent, q_emb, {l2_q_cc} AS d
        FROM coarse CROSS JOIN qv
        ORDER BY d, label LIMIT {_IVFPQ_NPROBE}
    )
), qr_subs AS (
    SELECT label, t.s,
           list_transform(
               list_transform(range(1, {dim} + 1),
                              i -> q_emb[i]::DOUBLE - ccent[i])
               [{_PQ_DSUB} * t.s + 1 : {_PQ_DSUB} * t.s + {_PQ_DSUB}],
               x -> x) AS qsub
    FROM probed, unnest(range(0, {_PQ_M})) AS t(s)
), lut AS (
    SELECT label, s, code, {qsqd} AS ld
    FROM final JOIN qr_subs USING (s)
), labeled AS (
    SELECT c.vec_id, e.label, c.s, c.code
    FROM codes c JOIN embeddings e USING (vec_id)
), per_s AS (
    SELECT vec_id, max(label) AS label, {lcols}
    FROM labeled JOIN lut USING (label, s, code)
    GROUP BY vec_id
)
SELECT vec_id, label, round(0.0 + {total}, 6) AS approx_dist
FROM per_s
WHERE vec_id != {_QUERY_VEC_ID}
ORDER BY approx_dist, vec_id
LIMIT {_TOPK}
"""


QUERIES["ivfpq_adc_topk"] = ivfpq_adc_topk
ORACLES["ivfpq_adc_topk"] = _ivfpq_sql()


# --------------------------------------------------------------------------
# SQ8 scalar quantization — the third compression family next to PQ and
# IVF-PQ: per-dimension affine int8 codes (4x), the format FAISS calls
# ScalarQuantizer and vector DBs ship as "int8 embeddings".
# --------------------------------------------------------------------------


def sq8_reconstruction_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the per-dimension affine quantizer (min/max over the
    corpus — one tiny aggregate, broadcast back), encode every vector
    to 64 uint8 codes, reconstruct, and report per-vector error
    (max abs + MSE). This is the evaluation a pipeline runs before
    switching its ANN serving tier to int8.

    Determinism: min/max of float32 values are exact in double; codes
    use floor(x + 0.5) — NOT round(), whose half-way tie rule differs
    between engines (Spark HALF_UP vs DuckDB half-even); error sums are
    pinned ascending folds. The trained (min, scale) pairs live in one
    broadcast 64-element array at any corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = 64
    stats = emb.agg(
        *[
            F.min(F.element_at("embedding", i + 1).cast("double")).alias(
                f"lo{i}"
            )
            for i in range(dim)
        ],
        *[
            F.max(F.element_at("embedding", i + 1).cast("double")).alias(
                f"hi{i}"
            )
            for i in range(dim)
        ],
    ).select(
        F.array(*[F.col(f"lo{i}") for i in range(dim)]).alias("lo"),
        F.array(
            *[
                # degenerate dims (hi == lo) quantize to code 0 via a
                # guard scale of 1
                F.when(
                    F.col(f"hi{i}") > F.col(f"lo{i}"),
                    (F.col(f"hi{i}") - F.col(f"lo{i}")) / 255.0,
                ).otherwise(F.lit(1.0)).alias(f"s{i}")
                for i in range(dim)
            ]
        ).alias("scale"),
    )
    joined = emb.crossJoin(F.broadcast(stats))
    code = F.expr(
        "transform(sequence(1, 64), i -> "
        "least(255L, greatest(0L, cast(floor("
        "(embedding[i - 1] - lo[i - 1]) / scale[i - 1] + 0.5d) as bigint))))"
    )
    recon_err = F.expr(
        "aggregate(sequence(1, 64), cast(0.0 as double), (acc, i) -> "
        "acc + pow(embedding[i - 1] - "
        "(lo[i - 1] + code[i - 1] * scale[i - 1]), 2))"
    )
    max_err = F.expr(
        "aggregate(sequence(1, 64), cast(0.0 as double), (acc, i) -> "
        "greatest(acc, abs(embedding[i - 1] - "
        "(lo[i - 1] + code[i - 1] * scale[i - 1]))))"
    )
    return (
        joined.withColumn("code", code)
        .select(
            "vec_id",
            F.round((recon_err / 64).alias("x"), 9).alias("mse"),
            F.round(max_err, 9).alias("max_abs_err"),
            F.element_at("code", 1).alias("c0"),
            F.element_at("code", 64).alias("c63"),
        )
        .orderBy("vec_id")
    )


def _sq8_sql() -> str:
    dim = 64
    lo = ", ".join(
        f"min(embedding[{i + 1}]::DOUBLE)" for i in range(dim)
    )
    hi = ", ".join(
        f"CASE WHEN max(embedding[{i + 1}]::DOUBLE) >"
        f" min(embedding[{i + 1}]::DOUBLE)"
        f" THEN (max(embedding[{i + 1}]::DOUBLE) -"
        f" min(embedding[{i + 1}]::DOUBLE)) / 255.0 ELSE 1.0 END"
        for i in range(dim)
    )
    return f"""
WITH stats AS (
    SELECT [{lo}] AS lo, [{hi}] AS scale FROM embeddings
), coded AS (
    SELECT vec_id, embedding, lo, scale,
           list_transform(range(1, {dim} + 1), i ->
               least(255, greatest(0, CAST(floor(
                   (embedding[i]::DOUBLE - lo[i]) / scale[i] + 0.5)
                   AS BIGINT)))) AS code
    FROM embeddings CROSS JOIN stats
)
SELECT vec_id,
       round(list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(range(1, {dim} + 1), i ->
               pow(embedding[i]::DOUBLE - (lo[i] + code[i] * scale[i]), 2))),
           (a, b) -> a + b) / {dim}, 9) AS mse,
       round(list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(range(1, {dim} + 1), i ->
               abs(embedding[i]::DOUBLE - (lo[i] + code[i] * scale[i])))),
           (a, b) -> greatest(a, b)) , 9) AS max_abs_err,
       code[1] AS c0,
       code[{dim}] AS c63
FROM coded
ORDER BY vec_id
"""


QUERIES["sq8_reconstruction_error"] = sq8_reconstruction_error
ORACLES["sq8_reconstruction_error"] = _sq8_sql()


# --------------------------------------------------------------------------
# SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
# through semantic deduplication", 2023) — semantic near-dup removal
# scoped to k-means clusters, + ANN quality evaluation (recall@k) and
# multi-probe LSH (Lv et al., "Multi-Probe LSH", VLDB 2007).
# --------------------------------------------------------------------------

_SEM_TAU = 0.3


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication: pairwise cosine is computed only
    WITHIN each k-means cluster (the given ``label`` assignment), and a
    vector is a duplicate iff some lower-id vector in its cluster sits
    at cosine >= tau (keep-first — the same deterministic survivor rule
    as the text dedup family).

    Scale posture: the paper's exact trick — the self-join is keyed by
    the cluster id, so pairwise work is bounded by the largest cluster
    (~n/k rows), never corpus-O(n^2); one shuffle on ``label``, one
    keyed aggregate, and the verdict joins back on the embedding PK.
    Emits every vector with its nearest lower-id in-cluster similarity
    so downstream can re-gate at a different tau without recomputing.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    left = emb.select(
        F.col("vec_id").alias("l_id"),
        F.col("label").alias("l_label"),
        F.col("embedding").alias("l_emb"),
    )
    right = emb.select(
        F.col("vec_id").alias("r_id"),
        F.col("label").alias("r_label"),
        F.col("embedding").alias("r_emb"),
    )
    nn = (
        left.join(
            right,
            (F.col("l_label") == F.col("r_label"))
            & (F.col("l_id") < F.col("r_id")),
        )
        .select(
            F.col("r_id").alias("vec_id"),
            F.round(S.cosine(F.col("l_emb"), F.col("r_emb")), 6).alias("sim"),
        )
        .groupBy("vec_id")
        .agg(F.max("sim").alias("sim_max"))
    )
    return (
        emb.join(nn, "vec_id", "left")
        .select(
            "vec_id",
            "label",
            F.coalesce(F.col("sim_max"), F.lit(-1.0)).alias("nn_sim"),
            (F.coalesce(F.col("sim_max"), F.lit(-1.0)) >= F.lit(_SEM_TAU)).alias(
                "is_dup"
            ),
        )
        .orderBy("vec_id")
    )


SEMANTIC_DEDUP_SQL = f"""
WITH nn AS (
    SELECT r.vec_id AS vec_id,
           max(round({_cosine_sql('l.embedding', 'r.embedding')}, 6)) AS sim_max
    FROM embeddings l
    JOIN embeddings r ON l.label = r.label AND l.vec_id < r.vec_id
    GROUP BY r.vec_id
)
SELECT e.vec_id,
       e.label,
       coalesce(nn.sim_max, -1.0) AS nn_sim,
       coalesce(nn.sim_max, -1.0) >= {_SEM_TAU} AS is_dup
FROM embeddings e
LEFT JOIN nn ON e.vec_id = nn.vec_id
ORDER BY e.vec_id
"""


def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH-bucketed ANN against the exact scan — the
    evaluation harness every approximate index needs before it replaces
    the brute-force path in production. One row: |approx ∩ exact| / k.

    Both sides are the already-proven operators (`brute_force_topk`,
    `lsh_bucketed_topk`); the intersection is a 10-row broadcast join,
    so the eval costs one exact scan + one bucket probe."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = S.brute_force_topk(emb, _QUERY_VEC_ID, _TOPK).select("vec_id")
    approx = S.lsh_bucketed_topk(
        emb, _QUERY_VEC_ID, _TOPK, bits=_GATE_LSH_BITS
    ).select("vec_id")
    return (
        exact.join(approx, "vec_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            F.lit(_TOPK).alias("k"),
            "n_hits",
            F.round(F.col("n_hits") / F.lit(_TOPK), 6).alias("recall"),
        )
    )


ANN_RECALL_SQL = f"""
WITH exact_topk AS ({ANN_BRUTE_SQL.strip()}),
approx_topk AS ({ANN_LSH_SQL.strip()})
SELECT {_TOPK} AS k,
       count(*) AS n_hits,
       round(count(*) / {_TOPK}.0, 6) AS recall
FROM exact_topk e JOIN approx_topk a ON e.vec_id = a.vec_id
"""


def ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (Lv et al. 2007): probe the query's sign-bit
    bucket AND every bucket at Hamming distance 1 (flip each of the b
    bits), exact-cosine rerank, top-k. The recall/cost knob between the
    single-bucket probe (1/2^b of the data) and the exact scan: b+1
    buckets scanned instead of 1, recall provably >= the single probe.

    The probe set is derived from the one-row query by XOR, exploded,
    and broadcast — the corpus side still prunes on bucket equality, so
    at 100 TB this reads (b+1)/2^b of a bucket-partitioned table."""
    emb = load_table(spark, sf_dir, "embeddings")
    bits = _GATE_LSH_BITS
    with_bucket = emb.withColumn(
        "bucket", S.bit_sample_bucket(F.col("embedding"), bits)
    )
    probes = (
        with_bucket.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select(
            F.col("embedding").alias("query_emb"),
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("long"))
                        for i in range(bits)
                    ],
                )
            ).alias("probe_bucket"),
        )
    )
    return (
        with_bucket.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .join(F.broadcast(probes), F.col("bucket") == F.col("probe_bucket"))
        .select(
            "vec_id",
            F.round(
                S.cosine(F.col("embedding"), F.col("query_emb")), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), "vec_id")
        .limit(_TOPK)
    )


_MULTIPROBE_LIST = ", ".join(
    ["query_bucket"]
    + [f"xor(query_bucket, {1 << i})" for i in range(_GATE_LSH_BITS)]
)

ANN_MULTIPROBE_SQL = f"""
WITH b AS (
    SELECT vec_id, embedding,
           {_BUCKET_SQL.format(e='embedding')} AS bucket
    FROM embeddings
), q AS (
    SELECT embedding AS query_emb, bucket AS query_bucket
    FROM b WHERE vec_id = {_QUERY_VEC_ID}
), probes AS (
    SELECT query_emb, unnest(list_value({_MULTIPROBE_LIST})) AS probe_bucket
    FROM q
)
SELECT vec_id,
       round({_cosine_sql('embedding', 'query_emb')}, 6) AS cosine_sim
FROM b JOIN probes ON b.bucket = probes.probe_bucket
WHERE vec_id != {_QUERY_VEC_ID}
ORDER BY cosine_sim DESC, vec_id
LIMIT {_TOPK}
"""


QUERIES["semantic_dedup"] = semantic_dedup
QUERIES["ann_recall_at_k"] = ann_recall_at_k
QUERIES["ann_multiprobe_topk"] = ann_multiprobe_topk
ORACLES["semantic_dedup"] = SEMANTIC_DEDUP_SQL
ORACLES["ann_recall_at_k"] = ANN_RECALL_SQL
ORACLES["ann_multiprobe_topk"] = ANN_MULTIPROBE_SQL


def embedding_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-pipeline health monitor: per-label vector counts, norm
    distribution (mean/min/max of per-vector L2 norms) and the average
    per-dimension variance (E[|x|^2]/d - |mu|^2/d) — the collapse /
    anisotropy signal read before trusting an embedding batch. One scan,
    one dimension-sized aggregate (labels x 64 running sums); per-vector
    norms use the same sequential fold the ANN oracles mirror, so both
    engines agree bit-for-bit before rounding."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = 64
    vnorm = F.round(S.norm(F.col("embedding")), 6)
    base = emb.select(
        "label",
        vnorm.alias("vnorm"),
        S.dot(F.col("embedding"), F.col("embedding")).alias("sq"),
        *[
            F.element_at("embedding", i + 1).cast("double").alias(f"x{i}")
            for i in range(dim)
        ],
    )
    agg = base.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("vnorm").alias("sum_norm"),
        F.min("vnorm").alias("min_norm"),
        F.max("vnorm").alias("max_norm"),
        F.sum("sq").alias("sum_sq"),
        *[F.sum(f"x{i}").alias(f"s{i}") for i in range(dim)],
    )
    mu_sq = sum(
        (F.col(f"s{i}") / F.col("n_vectors"))
        * (F.col(f"s{i}") / F.col("n_vectors"))
        for i in range(dim)
    )
    avg_var = (F.col("sum_sq") / F.col("n_vectors") - mu_sq) / F.lit(dim)
    return agg.select(
        "label",
        "n_vectors",
        F.round(F.col("sum_norm") / F.col("n_vectors"), 6).alias("mean_norm"),
        "min_norm",
        "max_norm",
        F.round(avg_var, 6).alias("avg_dim_variance"),
    ).orderBy("label")


_SELF_DOT = _DOT_SQL.format(a="embedding", b="embedding")

_MU_SQ_TERMS = " + ".join(
    f"(sum(embedding[{i + 1}]::DOUBLE) / count(*))"
    f" * (sum(embedding[{i + 1}]::DOUBLE) / count(*))"
    for i in range(64)
)

EMBEDDING_HEALTH_SQL = f"""
WITH v AS (
    SELECT label,
           round(sqrt({_SELF_DOT}), 6) AS vnorm,
           {_SELF_DOT} AS sq,
           embedding
    FROM embeddings
)
SELECT label,
       count(*) AS n_vectors,
       round(sum(vnorm) / count(*), 6) AS mean_norm,
       min(vnorm) AS min_norm,
       max(vnorm) AS max_norm,
       round((sum(sq) / count(*) - ({_MU_SQ_TERMS})) / 64, 6)
           AS avg_dim_variance
FROM v
GROUP BY label
ORDER BY label
"""

QUERIES["embedding_health_report"] = embedding_health_report
ORACLES["embedding_health_report"] = EMBEDDING_HEALTH_SQL


# --------------------------------------------------------------------------
# PCA by distributed Gram + driver-side power iteration — the embedding
# WHITENING/compaction prep step (top principal directions of the
# embedding cloud; e.g. ABQ/OPQ rotation training, SemDeDup centering,
# drift monitoring of the embedding space).
#
# Scale shape: the corpus is touched ONCE to build the d x d covariance
# (O(n * d^2) flops, but the shuffle is d^2 partial sums per task — 4096
# rows here, never corpus-sized; this is exactly RowMatrix
# .computeGramianMatrix's contract). The eigen-solve then runs on the
# DIMENSION-sized matrix with deterministic power iteration + one
# deflation — driver math, same discipline as the BPE argmax and the
# PageRank fixpoint. At d where d^2 stops being "dimension-sized"
# (d ≳ 10^4) you switch to randomized SVD sketches; for embedding
# tables (d = 64..4096) this is the plan you want.
#
# Cross-engine determinism: BOTH engines round the covariance to 6 dp
# and then run the SAME fixed-iteration recursion from the same
# all-0.125 start vector, so parity does not depend on convergence —
# only the (identical) arithmetic. Sign is fixed by making the
# largest-|loading| entry positive; component 1 is re-rounded before
# deflation so component 2 also starts from bit-identical state.
# --------------------------------------------------------------------------

_PCA_DIM = 64
# The synthetic embeddings have a near-flat covariance spectrum
# (Marchenko–Pastur bulk: top ratios ~0.98), so power iteration needs
# T with 0.98^T << tol. 800 puts the component-1 residual at ~4e-5
# (pinned against numpy in tests/test_pca.py). Parity does not depend
# on convergence — both engines run the SAME T from the same rounded
# covariance — and per-step work is dimension-sized (64 dots of 64).
_PCA_ITERS = 800


def _pca_matvec(G: list[list[float]], v: list[float]) -> list[float]:
    # left-to-right accumulation: the deterministic order the oracle's
    # list_dot_product mirrors
    out = []
    for row in G:
        acc = 0.0
        for g, x in zip(row, v):
            acc += g * x
        out.append(acc)
    return out


def _pca_dot(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _pca_top_component(
    G: list[list[float]], iters: int
) -> tuple[list[float], float]:
    """One power-iteration eigenpair: fixed iteration count, fixed
    start, sign fixed by the largest-|loading| entry, rounded to 6 dp."""
    import math

    d = len(G)
    v = [0.125] * d  # 1/sqrt(64), exactly representable
    for _ in range(iters):
        u = _pca_matvec(G, v)
        nrm = math.sqrt(_pca_dot(u, u))
        v = [x / nrm for x in u]
    lam = _pca_dot(_pca_matvec(G, v), v)
    mx = max(abs(x) for x in v)
    k = min(i for i in range(d) if abs(v[i]) == mx)
    s = -1.0 if v[k] < 0 else 1.0
    return [round(s * x, 6) for x in v], round(lam, 6)


def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal components of the embedding cloud (loading per
    dimension + eigenvalue), via one distributed covariance pass and a
    deterministic driver-side power iteration with deflation. The two
    ``collect`` sites are dimension-sized (1 row of d sums; d^2 = 4096
    moment rows), never corpus-sized."""
    G, _mu = _pca_cov_and_mu(spark, sf_dir)
    return pca_readout(spark, G)


def _pca_cov_and_mu(
    spark: SparkSession, sf_dir: str
) -> tuple[list[list[float]], list[float]]:
    """(rounded covariance, mean vector) from one distributed pass —
    shared by the loading query and the projection query."""
    d = _PCA_DIM
    emb = load_table(spark, sf_dir, "embeddings")

    # Per-partition BLAS Gram (X^T X) via Arrow — the vectorized form
    # of RowMatrix.computeGramianMatrix's treeAggregate. Measured at
    # the synthesized sf1 (20k vectors, 1 input split): JVM
    # posexplode 12.6 s, posexplode + spread 1.2 s, mapInPandas+numpy
    # 0.35 s — the d^2-per-row explosion materializes 82M rows where
    # dgemm does the same flops in microseconds. spread_for_compute
    # keeps a few-split scan from pinning all Arrow batches on one
    # worker (no-op when the scan already has enough splits).
    #
    # The count and the column sums ride the SAME pass (positions
    # d^2..d^2+d-1 hold the sums, d^2+d the count): the r10 before
    # shape ran a separate d-column JVM aggregate first, i.e. two full
    # scans of the embedding table for one covariance (guide §1.2 —
    # remove unnecessary passes). The per-partition partials are summed
    # in float64 either way.
    from ..operators.spread import spread_for_compute

    def _gram_parts(it):
        import numpy as np
        import pandas as pd

        acc = None
        s1 = None
        n_rows = 0
        for pdf in it:
            if not len(pdf):
                continue
            X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            g = X.T @ X
            acc = g if acc is None else acc + g
            cs = X.sum(axis=0)
            s1 = cs if s1 is None else s1 + cs
            n_rows += len(X)
        if acc is not None:
            yield pd.DataFrame(
                {
                    "pos": np.arange(acc.size + len(s1) + 1, dtype=np.int64),
                    "s": np.concatenate(
                        [acc.ravel(), s1, np.array([float(n_rows)])]
                    ),
                }
            )

    mom_rows = (
        spread_for_compute(emb.select("embedding"))
        .mapInPandas(_gram_parts, "pos long, s double")
        .groupBy("pos")
        .agg(F.sum("s").alias("s"))
        .collect()
    )
    S2 = [[0.0] * d for _ in range(d)]
    S1 = [0.0] * d
    n = 0.0
    for r in mom_rows:
        pos = r["pos"]
        if pos < d * d:
            S2[pos // d][pos % d] = r["s"]
        elif pos < d * d + d:
            S1[pos - d * d] = r["s"]
        else:
            n = r["s"]
    mu = [s / n for s in S1]

    G = [
        [round(S2[i][j] / n - mu[i] * mu[j], 6) for j in range(d)]
        for i in range(d)
    ]
    return G, mu


def pca_components(
    G: list[list[float]],
) -> tuple[list[float], float, list[float], float]:
    """(v1, lam1, v2, lam2) of a rounded covariance — the shared
    deterministic iteration + deflation."""
    d = len(G)
    v1, lam1 = _pca_top_component(G, _PCA_ITERS)
    G2 = [
        [G[i][j] - lam1 * v1[i] * v1[j] for j in range(d)]
        for i in range(d)
    ]
    v2, lam2 = _pca_top_component(G2, _PCA_ITERS)
    return v1, lam1, v2, lam2


def pca_readout(spark: SparkSession, G: list[list[float]]) -> DataFrame:
    """Top-2 eigenpairs of a (rounded) covariance matrix as the
    standard result frame — shared by the batch query and the
    streaming moment-state twin so both ends run the identical
    deterministic iteration."""
    d = len(G)
    v1, lam1, v2, lam2 = pca_components(G)
    rows = [
        (1, i + 1, v1[i], lam1) for i in range(d)
    ] + [
        (2, i + 1, v2[i], lam2) for i in range(d)
    ]
    # LocalRelation freeze (operators/local_frame.py): the 2d-row
    # readout as a 32-slice RDD frame paid a full-width range exchange
    # for the orderBy.
    from ..operators.local_frame import local_frame

    return local_frame(
        spark, rows, "component int, pos int, loading double, eigenvalue double"
    ).orderBy("component", "pos")


def _pca_cov_sql_front() -> str:
    """The raw-float covariance CTE chain (ends with ``cov``), shared
    by the loading oracle and the projection oracle."""
    d = _PCA_DIM
    # MATERIALIZED is load-bearing: DuckDB inlines CTE references, so
    # without it the corpus-sized `moments` scan would re-run inside
    # every recursion step (g is referenced from the recursive term).
    return f"""
WITH RECURSIVE moments AS MATERIALIZED (
    SELECT ii.i AS i, jj.j AS j,
           sum(e.embedding[ii.i]::DOUBLE * e.embedding[jj.j]::DOUBLE) AS s
    FROM embeddings e, range(1, {d + 1}) AS ii(i), range(1, {d + 1}) AS jj(j)
    GROUP BY ii.i, jj.j
),
mu AS MATERIALIZED (
    SELECT ii.i AS i, sum(e.embedding[ii.i]::DOUBLE) / count(*) AS m
    FROM embeddings e, range(1, {d + 1}) AS ii(i)
    GROUP BY ii.i
),
nrow AS (SELECT count(*)::DOUBLE AS n FROM embeddings),
cov AS MATERIALIZED (
    SELECT mo.i, mo.j, round(mo.s / nrow.n - ma.m * mb.m, 6) AS c
    FROM moments mo, nrow, mu ma, mu mb
    WHERE ma.i = mo.i AND mb.i = mo.j
),
"""


def _pca_power_sql() -> str:
    return f"""{_pca_cov_sql_front()}{_pca_eigen_sql_tail()}
"""


def _pca_eigen_sql_core() -> str:
    """Everything downstream of a CTE named ``cov`` (columns i, j, c —
    the ROUNDED covariance) up to the rounded component CTEs ``c1f`` /
    ``c2f``: matrix assembly, the two fixed-iteration power recursions
    with deflation and the sign fix. Shared by the batch oracle, the
    quantized streaming oracle and the projection oracle so all three
    replay the identical iteration."""
    d = _PCA_DIM
    t = _PCA_ITERS
    return f"""gmat AS MATERIALIZED (SELECT i, list(c ORDER BY j) AS grow FROM cov GROUP BY i),
g AS MATERIALIZED (SELECT list(grow ORDER BY i) AS G FROM gmat),
pw1(it, v) AS (
    SELECT 0, list_transform(range(1, {d + 1}), x -> 0.125::DOUBLE)
    UNION ALL
    SELECT it + 1,
        (SELECT list_transform(u, x -> x / sqrt(list_dot_product(u, u)))
         FROM (SELECT [list_dot_product(r, pw1.v) for r in g.G] AS u))
    FROM pw1, g WHERE it < {t}
),
c1 AS (SELECT v FROM pw1 WHERE it = {t}),
c1rows AS (SELECT ii.i AS i, c1.v[ii.i] AS x FROM c1, range(1, {d + 1}) ii(i)),
c1sign AS (
    SELECT CASE WHEN (SELECT x FROM c1rows ORDER BY abs(x) DESC, i LIMIT 1)
                < 0 THEN -1.0 ELSE 1.0 END AS s
),
c1lam AS (
    SELECT list_dot_product(
               [list_dot_product(r, c1.v) for r in g.G], c1.v) AS lam
    FROM c1, g
),
c1f AS (
    SELECT list_transform(c1.v, x -> round(sg.s * x, 6)) AS v,
           round(l.lam, 6) AS lam
    FROM c1, c1sign sg, c1lam l
),
g2 AS MATERIALIZED (
    SELECT list_transform(range(1, {d + 1}), i ->
               list_transform(range(1, {d + 1}), j ->
                   g.G[i][j] - c1f.lam * c1f.v[i] * c1f.v[j])) AS G
    FROM g, c1f
),
pw2(it, v) AS (
    SELECT 0, list_transform(range(1, {d + 1}), x -> 0.125::DOUBLE)
    UNION ALL
    SELECT it + 1,
        (SELECT list_transform(u, x -> x / sqrt(list_dot_product(u, u)))
         FROM (SELECT [list_dot_product(r, pw2.v) for r in g2.G] AS u))
    FROM pw2, g2 WHERE it < {t}
),
c2 AS (SELECT v FROM pw2 WHERE it = {t}),
c2rows AS (SELECT ii.i AS i, c2.v[ii.i] AS x FROM c2, range(1, {d + 1}) ii(i)),
c2sign AS (
    SELECT CASE WHEN (SELECT x FROM c2rows ORDER BY abs(x) DESC, i LIMIT 1)
                < 0 THEN -1.0 ELSE 1.0 END AS s
),
c2lam AS (
    SELECT list_dot_product(
               [list_dot_product(r, c2.v) for r in g2.G], c2.v) AS lam
    FROM c2, g2
),
c2f AS (
    SELECT list_transform(c2.v, x -> round(sg.s * x, 6)) AS v,
           round(l.lam, 6) AS lam
    FROM c2, c2sign sg, c2lam l
)
"""


def _pca_eigen_sql_tail() -> str:
    """The core plus the loading readout — the batch/stream oracle
    shape."""
    d = _PCA_DIM
    return f"""{_pca_eigen_sql_core()}
SELECT 1 AS component, ii.i AS pos, c1f.v[ii.i] AS loading,
       c1f.lam AS eigenvalue
FROM c1f, range(1, {d + 1}) ii(i)
UNION ALL
SELECT 2 AS component, ii.i AS pos, c2f.v[ii.i] AS loading,
       c2f.lam AS eigenvalue
FROM c2f, range(1, {d + 1}) ii(i)
ORDER BY component, pos
"""


QUERIES["embedding_pca_power"] = embedding_pca_power
ORACLES["embedding_pca_power"] = _pca_power_sql()


# --------------------------------------------------------------------------
# Prototypicality-based data pruning (Sorscher et al., "Beyond neural
# scaling laws: beating power law scaling via data pruning", NeurIPS
# 2022): in the abundant-data regime the EASIEST examples — those
# closest to their cluster prototype — teach the least, so rank every
# vector by cosine to its cluster centroid and mark the most
# prototypical fraction per cluster for pruning. The self-supervised
# prototype is the k-means centroid (here the given ``label``
# assignment, the repo's k-means stand-in).
#
# Scale shape: centroids are ONE map-side-combinable aggregate with a
# dimension-sized output (k x 64 doubles, broadcast back); scoring is a
# scan-stage expression; the only corpus-sized exchange is the
# per-cluster rank window (shuffle by label — cluster-count-bounded
# keys; a 100 TB run replaces the exact rank with a per-cluster
# similarity-quantile threshold so the window never materializes, at
# the cost of an approximate prune fraction).
# --------------------------------------------------------------------------

_PRUNE_FRACTION = 0.2  # prune the 20% most prototypical per cluster


def prototypicality_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector prototypicality verdict: cosine to own-cluster
    centroid (components rounded to 6 pre-ranking so both engines rank
    identical numbers), dense-ordered rank within cluster (vec_id
    tiebreak), pruned = rank <= ceil(0.2 * cluster size)."""
    from pyspark.sql.window import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    dim = 64
    cents = (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.element_at("embedding", i + 1).cast("double")).alias(
                    f"s{i}"
                )
                for i in range(dim)
            ],
        )
        .select(
            "label",
            "n",
            F.array(
                *[
                    F.round(F.col(f"s{i}") / F.col("n"), 6)
                    for i in range(dim)
                ]
            ).alias("cent"),
        )
    )
    sim = F.round(
        S.cosine(
            F.transform("embedding", lambda x: x.cast("double")),
            F.col("cent"),
        ),
        6,
    )
    scored = emb.join(F.broadcast(cents), "label").select(
        "vec_id", "label", "n", sim.alias("proto_sim")
    )
    w = W.partitionBy("label").orderBy(F.desc("proto_sim"), "vec_id")
    return (
        scored.withColumn("proto_rank", F.row_number().over(w))
        .select(
            "vec_id",
            "label",
            "proto_sim",
            "proto_rank",
            (
                F.col("proto_rank")
                <= F.ceil(F.col("n") * F.lit(_PRUNE_FRACTION))
            ).alias("pruned"),
        )
        .orderBy("label", "proto_rank")
    )


def _prototypicality_sql() -> str:
    dim = 64
    cent_cols = ", ".join(
        f"round(sum(embedding[{i + 1}]::DOUBLE) / count(*), 6) AS c{i}"
        for i in range(dim)
    )
    dot = " + ".join(f"embedding[{i + 1}]::DOUBLE * c{i}" for i in range(dim))
    norm_e = " + ".join(
        f"embedding[{i + 1}]::DOUBLE * embedding[{i + 1}]::DOUBLE"
        for i in range(dim)
    )
    norm_c = " + ".join(f"c{i} * c{i}" for i in range(dim))
    return f"""
WITH cent AS (
    SELECT label, count(*) AS n, {cent_cols}
    FROM embeddings GROUP BY label
), scored AS (
    SELECT e.vec_id, e.label, cent.n,
           round(({dot}) / (sqrt({norm_e}) * sqrt({norm_c})), 6)
               AS proto_sim
    FROM embeddings e JOIN cent USING (label)
), ranked AS (
    SELECT vec_id, label, n, proto_sim,
           row_number() OVER (PARTITION BY label
                              ORDER BY proto_sim DESC, vec_id)
               AS proto_rank
    FROM scored
)
SELECT vec_id, label, proto_sim, proto_rank::INT AS proto_rank,
       proto_rank <= ceil(n * {_PRUNE_FRACTION}) AS pruned
FROM ranked
ORDER BY label, proto_rank
"""


QUERIES["prototypicality_pruning"] = prototypicality_pruning
ORACLES["prototypicality_pruning"] = _prototypicality_sql()


# --------------------------------------------------------------------------
# MMR diverse retrieval (Carbonell & Goldstein, "The Use of MMR,
# Diversity-Based Reranking for Reordering Documents and Producing
# Summaries", SIGIR 1998): rerank a relevance top-N into a top-k that
# trades relevance against redundancy —
#     pick argmax_c [ lambda*rel(c) - (1-lambda)*max_{s in S} sim(c,s) ]
# — the standard second stage of a served retrieval stack (RAG,
# recommendation, snippet selection) on top of this module's ANN
# first stage.
#
# Scale shape: the first stage is the existing candidate generation
# (here brute-force top-N for oracle-exactness; at scale the IVF-PQ
# probe) — the rerank then runs on the k-SIZED candidate list by
# definition: N=20 candidates, one broadcast self-join for the N x N
# pair sims, and a driver-side greedy over the collected pair table
# (bounded: 20 rel rows + 400 sim rows — the same dimension-bounded
# collect class as the Gram partials). No corpus-sized stage exists
# beyond candidate generation.
#
# Determinism: rel and pair sims round to 6 IN-ENGINE with the proven
# cross-engine cosine fold; the greedy score 0.7*rel - 0.3*maxsim is
# then identical IEEE arithmetic on identical doubles in Python and
# DuckDB, so no further rounding is needed before the argmax
# (vec_id breaks exact ties).
# --------------------------------------------------------------------------

_MMR_LAMBDA = 0.7
_MMR_N = 20
_MMR_K = 10


def mmr_rerank(
    spark: SparkSession, emb: DataFrame, cand: DataFrame, k: int = _MMR_K
) -> DataFrame:
    """The k-sized rerank stage, shared by the batch query and the
    streaming-index twin: candidates (vec_id, cosine_sim) get their
    N x N pair sims via one broadcast self-join (rounded to 6
    in-engine with the proven cross-engine cosine fold), then the
    greedy argmax runs driver-side on the bounded tables."""
    cand_emb = cand.join(emb.select("vec_id", "embedding"), "vec_id")
    pairs = (
        cand_emb.alias("l")
        .join(F.broadcast(cand_emb.alias("r")))
        .filter(F.col("l.vec_id") != F.col("r.vec_id"))
        .select(
            F.col("l.vec_id").alias("a"),
            F.col("r.vec_id").alias("b"),
            F.round(
                S.cosine(F.col("l.embedding"), F.col("r.embedding")), 6
            ).alias("sim"),
        )
    )
    rel = {r["vec_id"]: r["cosine_sim"] for r in cand.collect()}
    sim = {(r["a"], r["b"]): r["sim"] for r in pairs.collect()}

    picks: list[int] = []
    remaining = set(rel)
    out_rows = []
    for _ in range(min(k, len(rel))):
        best = None
        for c in sorted(remaining):
            ms = max((sim[(c, s)] for s in picks), default=0.0)
            score = _MMR_LAMBDA * rel[c] - (1.0 - _MMR_LAMBDA) * ms
            if best is None or score > best[0]:
                best = (score, c)
        score, c = best
        picks.append(c)
        remaining.discard(c)
        # 0.7*rel - 0.3*maxsim on 6-decimal inputs has EXACTLY 7
        # decimal digits, so round-to-7 sits on the value itself —
        # tie-free in every rounding mode (round-to-6 hit a .5 tie that
        # Python and DuckDB break differently).
        out_rows.append(
            (len(picks), c, rel[c], round(score, 7))
        )
    from ..operators.local_frame import local_frame

    return local_frame(
        spark,
        out_rows,
        "mmr_rank int, vec_id long, rel_sim double, mmr_score double",
    ).orderBy("mmr_rank")


def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cand = S.brute_force_topk(emb, _QUERY_VEC_ID, _MMR_N)
    return mmr_rerank(spark, emb, cand)


def _mmr_sql() -> str:
    lam = _MMR_LAMBDA
    return f"""
WITH RECURSIVE q AS (
    SELECT embedding AS query_emb FROM embeddings
    WHERE vec_id = {_QUERY_VEC_ID}
), cand AS (
    SELECT vec_id, embedding,
           round({_cosine_sql('embedding', 'query_emb')}, 6) AS rel
    FROM embeddings, q
    WHERE vec_id != {_QUERY_VEC_ID}
    ORDER BY rel DESC, vec_id
    LIMIT {_MMR_N}
), pair AS (
    SELECT l.vec_id AS a, r.vec_id AS b,
           round({_cosine_sql('l.embedding', 'r.embedding')}, 6) AS sim
    FROM cand l, cand r
    WHERE l.vec_id != r.vec_id
), steps(it, picks, pick, rel, score) AS (
    SELECT 0, []::BIGINT[], NULL::BIGINT, NULL::DOUBLE, NULL::DOUBLE
    UNION ALL
    SELECT s.it + 1,
           list_append(s.picks, w.vec_id),
           w.vec_id, w.rel, w.score
    FROM steps s, LATERAL (
        SELECT c.vec_id, c.rel,
               {lam} * c.rel - (1.0 - {lam}) * coalesce(
                   (SELECT max(p.sim) FROM pair p
                    WHERE p.a = c.vec_id
                      AND list_contains(s.picks, p.b)), 0.0) AS score
        FROM cand c
        WHERE NOT list_contains(s.picks, c.vec_id)
        ORDER BY score DESC, c.vec_id
        LIMIT 1
    ) w
    WHERE s.it < {_MMR_K}
)
SELECT it::INT AS mmr_rank, pick AS vec_id, rel AS rel_sim,
       round(score, 7) AS mmr_score
FROM steps
WHERE pick IS NOT NULL
ORDER BY mmr_rank
"""


QUERIES["mmr_diverse_topk"] = mmr_diverse_topk
ORACLES["mmr_diverse_topk"] = _mmr_sql()
