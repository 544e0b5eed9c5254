"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (100 TB of documents):
- exact dedup is a hash-aggregate on a fingerprint column — one shuffle
  on the fingerprint, no text comparison;
- near-dup never goes O(n²): MinHash signatures → LSH band buckets →
  self-join *within buckets only* → exact Jaccard verify on candidates.
  Band-bucket join keys are small longs, so the shuffle is narrow;
- all hashing is the cross-engine polynomial hash (operators/text.py) so
  the DuckDB oracle reproduces signatures bit-for-bit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .text import HASH_BASE, HASH_MOD, poly_hash, tokens

# Fixed affine MinHash coefficients: h_j(x) = (A_j * x + B_j) mod P.
# Deterministic small-prime progressions (public-textbook construction,
# e.g. Leskovec/Rajaraman/Ullman, "Mining of Massive Datasets" ch. 3) so
# the oracle can embed the same literals.
MINHASH_K = 16
MINHASH_A = tuple(2 * j + 3 for j in range(MINHASH_K))  # odd, coprime-ish
MINHASH_B = tuple(7 * j + 1 for j in range(MINHASH_K))


def shingles(text: Column, n: int = 3) -> Column:
    """n-gram word shingles as strings; distinct set."""
    toks = tokens(text)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


def shingle_hashes(text: Column, n: int = 3) -> Column:
    return F.transform(shingles(text, n), poly_hash)


def minhash_signature(shingle_hash_col: Column, k: int = MINHASH_K) -> Column:
    """k-permutation MinHash signature over a shingle-hash array."""

    def perm_min(j: int) -> Column:
        # NB: single-arg lambda — a two-arg lambda would make F.transform
        # pass the element index as the second argument.
        return F.array_min(
            F.transform(
                shingle_hash_col,
                lambda h: (MINHASH_A[j] * h + MINHASH_B[j]) % HASH_MOD,
            )
        )

    return F.array(*[perm_min(j) for j in range(k)])


def jaccard(a: Column, b: Column) -> Column:
    """Set Jaccard over two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter / F.greatest(union, F.lit(1))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup keyed on normalized text; survivor = min id.

    At scale, group on a fingerprint hash instead of the raw text so the
    shuffle key is 8 bytes; collision-check inside the group is free
    because we also carry the text through ``min_by``.
    """
    norm = F.lower(F.trim(F.col(text_col)))
    return (
        df.groupBy(norm.alias("norm_text"))
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("norm_text")
    )


def _gather_shingles(texts, n: int):
    """Flatten every doc's DISTINCT n-gram shingle strings into one
    list, remembering per-doc [start, end) slices (None for null docs).
    Insertion order per doc matches the reference loop (dict keeps
    first-seen order)."""
    all_shingles: list[str] = []
    doc_slices: list[tuple[int, int] | None] = []
    for text in texts:
        if text is None:
            doc_slices.append(None)
            continue
        toks = text.strip().split()
        seen: dict[str, None] = {}
        for i in range(max(len(toks) - (n - 1), 0)):
            seen.setdefault(" ".join(toks[i : i + n]), None)
        start = len(all_shingles)
        all_shingles.extend(seen)
        doc_slices.append((start, len(all_shingles)))
    return all_shingles, doc_slices


def _poly_hash_strs(strs: list[str]):
    """Vectorized polynomial hash of many strings at once: Horner over
    a padded codepoint matrix — O(max_len) NumPy passes instead of a
    per-character Python loop (~10x on shingle-sized strings; exact
    same (acc*31 + codepoint) % HASH_MOD integer arithmetic, so values
    are bit-identical to the reference loop and the DuckDB oracle)."""
    import numpy as np

    if not strs:
        return np.empty(0, dtype=np.int64)
    maxlen = max(len(s) for s in strs)
    if maxlen == 0:
        return np.zeros(len(strs), dtype=np.int64)
    mat = (
        np.array(strs, dtype=f"U{maxlen}")
        .view(np.uint32)
        .reshape(len(strs), maxlen)
        .astype(np.int64)
    )
    lens = np.fromiter((len(s) for s in strs), dtype=np.int64, count=len(strs))
    acc = np.zeros(len(strs), dtype=np.int64)
    for j in range(maxlen):
        # acc*31 + codepoint stays < 2^63 (acc < 1e9+7, cp < 2^21)
        step = (acc * HASH_BASE + mat[:, j]) % HASH_MOD
        np.copyto(acc, step, where=lens > j)
    return acc


def _minhash_bands_batch(texts, n: int, k: int, bands: int, rows: int):
    """Per-document shingle hashes + LSH band keys, plain-int arithmetic
    identical to the signature's column-expression form (and the DuckDB
    oracle).

    Vectorized (guide §4.2): shingle strings are gathered per doc in
    Python, but the polynomial char hash, the k affine permutations +
    per-doc min, and the band folds all run as whole-batch NumPy int64
    array ops — same values, ~4x less Python-side CPU than the
    per-row/per-char loops this replaces (the expression forms remain
    the semantic reference, pinned by tests)."""
    import numpy as np

    all_shingles, doc_slices = _gather_shingles(texts, n)
    h = _poly_hash_strs(all_shingles)
    nonempty = [sl for sl in doc_slices if sl is not None and sl[0] < sl[1]]
    keys_list: list[list[int]] = []
    if nonempty:
        a = np.array(MINHASH_A[:k], dtype=np.int64)[:, None]
        b = np.array(MINHASH_B[:k], dtype=np.int64)[:, None]
        # k x N permuted hashes; max intermediate A_max*h < 2^63
        perm = (a * h[None, :] + b) % HASH_MOD
        starts = np.array([s for s, _ in nonempty], dtype=np.int64)
        sig = np.minimum.reduceat(perm, starts, axis=1)  # k x n_docs
        keys = np.empty((bands, sig.shape[1]), dtype=np.int64)
        for bi in range(bands):
            acc = np.zeros(sig.shape[1], dtype=np.int64)
            for r in range(rows):
                acc = (acc * 31 + sig[bi * rows + r]) % HASH_MOD
            keys[bi] = acc
        keys_list = keys.T.tolist()
    hlist = h.tolist()
    out_sh: list[list[int] | None] = []
    out_bands: list[list[int] | None] = []
    di = 0
    for sl in doc_slices:
        if sl is None:
            out_sh.append(None)
            out_bands.append(None)
        elif sl[0] == sl[1]:
            out_sh.append([])
            out_bands.append([])
        else:
            out_sh.append(hlist[sl[0] : sl[1]])
            out_bands.append(keys_list[di])
            di += 1
    return out_sh, out_bands


# Docs per signature task: small enough that a full-width cluster stays
# busy on any real corpus, large enough that Arrow/pandas per-task setup
# (~10-30 ms) never dominates the kernel itself. Measured: the signature
# kernel costs ~0.2 ms/row on ~300-char docs, so 128 rows ≈ 25 ms of
# compute per task — at parity with setup, the break-even below which
# extra tasks stop paying for themselves.
SIGNATURE_ROWS_PER_TASK = 128


def signature_partitions(df: DataFrame, rows_hint: int | None = None) -> int:
    """Task count for the CPU-bound MinHash signature stage.

    Small parquet inputs arrive as one partition, and AQE's byte-based
    coalescing would collapse this stage to one task (tiny bytes, heavy
    compute) — so repartition explicitly BEFORE the signature UDF. No
    fixed ceiling: the width is the larger of cluster parallelism and
    the input's own partitioning, so a 1000-executor cluster never
    idles on its most CPU-bound stage (a cap like 16 would).

    ``rows_hint`` (parquet-footer row count, see
    ``sources.tables.table_num_rows``) bounds the fan-out from below by
    work: a corpus smaller than ``SIGNATURE_ROWS_PER_TASK`` per core
    gets proportionally fewer tasks, since per-task Arrow setup would
    otherwise exceed the hashing work itself. With no hint the stage
    defaults to full cluster width (the safe choice at scale).
    """
    width = max(
        2,
        df.sparkSession.sparkContext.defaultParallelism,
        df.rdd.getNumPartitions(),
    )
    if rows_hint is None:
        return width
    ideal = max(2, -(-rows_hint // SIGNATURE_ROWS_PER_TASK))
    return min(width, ideal)


def _signatures_batch(texts, n: int, k: int):
    """Full k-component MinHash signatures — plain-int arithmetic
    identical to the ``minhash_signature`` expression form (and the
    DuckDB oracles that restate it). Vectorized the same way as
    ``_minhash_bands_batch`` (shared gather + NumPy Horner hash +
    reduceat min)."""
    import numpy as np

    all_shingles, doc_slices = _gather_shingles(texts, n)
    h = _poly_hash_strs(all_shingles)
    nonempty = [sl for sl in doc_slices if sl is not None and sl[0] < sl[1]]
    sig_list: list[list[int]] = []
    if nonempty:
        a = np.array(MINHASH_A[:k], dtype=np.int64)[:, None]
        b = np.array(MINHASH_B[:k], dtype=np.int64)[:, None]
        perm = (a * h[None, :] + b) % HASH_MOD
        starts = np.array([s for s, _ in nonempty], dtype=np.int64)
        sig_list = np.minimum.reduceat(perm, starts, axis=1).T.tolist()
    out: list[list[int] | None] = []
    di = 0
    for sl in doc_slices:
        if sl is None:
            out.append(None)
        elif sl[0] == sl[1]:
            out.append([])
        else:
            out.append(sig_list[di])
            di += 1
    return out


def signature_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = MINHASH_K,
    rows_hint: int | None = None,
) -> DataFrame:
    """``(doc_id, sig)`` — the raw k-component signature via the Arrow
    kernel, for consumers that band the signature THEMSELVES (e.g. the
    LSH parameter planner sweeping several (bands, rows) layouts over
    one signature pass). Same 100x-over-HOF rationale as
    ``minhash_frame``."""

    @F.pandas_udf("array<bigint>")
    def sig_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(_signatures_batch(texts, n, k))

    n_parts = signature_partitions(df, rows_hint=rows_hint)
    return (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
        .repartition(n_parts, "doc_id")
        .select("doc_id", sig_udf(F.col("_text")).alias("sig"))
        .filter(F.size("sig") > 0)
    )


def minhash_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    rows_hint: int | None = None,
) -> DataFrame:
    """``(doc_id, sh, bands)`` for every doc with at least one shingle —
    the shared signature stage of batch AND streaming near-dedup.

    The signature kernel runs as ONE Arrow-batched pandas UDF rather
    than nested transform/aggregate lambdas: Catalyst evaluates
    higher-order-function lambdas interpretively (outside whole-stage
    codegen), which measured ~50ms/doc — the vectorized batch loop is
    ~100× faster and keeps bit-identical integer arithmetic. The
    expression forms (shingle_hashes/minhash_signature) remain the
    semantic reference for the signature and are pinned to the UDF by
    tests.
    """
    @F.pandas_udf("struct<sh: array<bigint>, bands: array<bigint>>")
    def minhash_udf(texts: pd.Series) -> pd.DataFrame:
        sh, band_keys = _minhash_bands_batch(texts, n, MINHASH_K, 4, 4)
        return pd.DataFrame({"sh": sh, "bands": band_keys})

    n_parts = signature_partitions(df, rows_hint=rows_hint)
    return (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
        .repartition(n_parts, "doc_id")
        .select("doc_id", minhash_udf(F.col("_text")).alias("mh"))
        .select("doc_id", F.col("mh.sh").alias("sh"), F.col("mh.bands").alias("bands"))
        .filter(F.size("sh") > 0)
    )


def candidate_pairs_with_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    rows_hint: int | None = None,
) -> DataFrame:
    """LSH candidate pairs with both shingle-hash sets attached —
    the shared front half of every pairwise near-dup scorer
    (Jaccard, containment): MinHash band buckets generate candidates
    (no O(n²) cross join), signatures re-attach after candidate dedup.
    At 100 TB the band-bucket shuffle is the only wide operation.
    Returns (id_a, id_b, sh_a, sh_b)."""
    sh = (
        minhash_frame(df, id_col, text_col, n=n, rows_hint=rows_hint)
        # Both the band join and the verify join read the signatures;
        # persist so the UDF kernel runs once (signatures are ~1% the
        # size of the text, so the cache is cheap at scale — the cluster
        # equivalent is persisting the signature table). persist() beats
        # localCheckpoint() here: it is lazy (no extra eager job) and
        # spill-safe via MEMORY_AND_DISK.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Band join carries ONLY (doc_id, band) — the shingle arrays are
    # re-attached after candidate dedup, so the wide self-join shuffles
    # 16-byte rows instead of full signature arrays, and each signature
    # crosses the wire once per *distinct* candidate pair instead of once
    # per shared band.
    banded = sh.select(
        "doc_id", F.posexplode("bands").alias("band_idx", "band_key")
    )
    left = banded.alias("l")
    right = banded.alias("r")
    candidates = (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sigs = sh.select("doc_id", "sh")
    verified = (
        candidates.join(
            sigs.select(
                F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")
            ),
            "id_a",
        )
        .join(
            sigs.select(
                F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")
            ),
            "id_b",
        )
    )
    return verified


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    rows_hint: int | None = None,
) -> DataFrame:
    """All-pairs near-dup by n-gram Jaccard, LSH-accelerated (see
    ``candidate_pairs_with_shingles`` for the candidate machinery)."""
    verified = candidate_pairs_with_shingles(
        df, id_col, text_col, n=n, rows_hint=rows_hint
    )
    return (
        verified.select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    rows_hint: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup by n-gram CONTAINMENT: |A∩B| / |A| (and
    /|B|) over the same LSH candidates. Containment catches
    subset/quote relations a symmetric Jaccard misses — a short
    document fully embedded in a long one has low Jaccard (union is
    large) but containment 1.0 on the short side. Emits pairs whose
    larger-side containment clears the threshold, with both directions
    and the Jaccard for comparison."""
    verified = candidate_pairs_with_shingles(
        df, id_col, text_col, n=n, rows_hint=rows_hint
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    scored = verified.select(
        "id_a",
        "id_b",
        F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard_sim"),
        F.round(
            inter / F.greatest(F.size("sh_a"), F.lit(1)), 6
        ).alias("containment_a"),
        F.round(
            inter / F.greatest(F.size("sh_b"), F.lit(1)), 6
        ).alias("containment_b"),
    )
    return scored.filter(
        F.greatest(F.col("containment_a"), F.col("containment_b")) >= threshold
    )


def simhash(text: Column, bits: int = 30) -> Column:
    """SimHash over token polynomial hashes: bit i of the result is the
    sign of sum over tokens of ±1 per token-hash bit i.

    Bit extraction uses power-of-two arithmetic (hash < 2^30, exact in
    doubles) rather than shift builtins so the identical expression runs
    in the DuckDB oracle.
    """
    token_hashes = F.transform(tokens(text), poly_hash)

    def bit_of(h: Column, i: Column) -> Column:
        return F.floor(h / F.pow(F.lit(2.0), i)).cast("long") % 2

    bit_votes = F.transform(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        lambda i: F.aggregate(
            token_hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(bit_of(h, i) == 1, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    return F.aggregate(
        F.zip_with(
            bit_votes,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda vote, i: F.when(
                vote > 0, F.pow(F.lit(2.0), i).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
