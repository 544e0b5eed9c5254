"""Approximate-aggregate queries: KMV distinct-count sketches,
hash-sampled frequency estimation, and exact group quantiles.

SURVEY §2.6 lists approximate aggregates among the capabilities the
reference lacks (its only aggregation is the per-entity diff kernel);
at 100 TB they are how a pipeline answers "how many distinct users /
which tokens dominate" without an exact global aggregate. Spark ships
HLL++ (``approx_count_distinct``) and GK (``percentile_approx``), but
their estimates are engine-specific, so a DuckDB oracle cannot
reproduce them bit-for-bit. These queries therefore implement the
sketches themselves from the cross-engine polynomial hash
(operators/text.py): every number is deterministic integer arithmetic,
identical in both engines, while keeping the sketch properties that
matter at scale — bounded size and mergeability.

No reference analogue (north-star scope); closest reference surface is
the audit aggregation in `m4i_flink_tasks/synchronize_app_search/`
which is exact and per-entity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import text as T
from ..sources import load_table

_MOD = T.HASH_MOD


def _poly_hash_sql(expr: str) -> str:
    """DuckDB form of operators.text.poly_hash (same fold, same
    constants)."""
    return (
        "list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(string_split({expr}, ''), c -> ascii(c)::BIGINT)), "
        "(acc, ch) -> (acc * 31 + ch) % 1000000007)"
    )


def _scrambled_hash_sql(expr: str) -> str:
    """DuckDB form of operators.text.scrambled_hash — the dispersive
    variant order-statistics sketches need (see that docstring)."""
    return f"(({_poly_hash_sql(expr)}) * {T.MIX_MULT}) % {_MOD}"


# --------------------------------------------------------------------------
# KMV distinct-count sketch (k minimum values)
# --------------------------------------------------------------------------

_KMV_K = 64
_KMV_SHARDS = 4


def approx_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customers per order priority via a KMV sketch, built
    shard-wise and merged — the estimate is ``(k-1) * M / h_k`` where
    ``h_k`` is the k-th smallest distinct hash (Bar-Yossef et al. 2002).

    The scale story is the build shape, not this tiny result: each
    shard keeps only its k smallest distinct hashes (bounded k rows per
    (group, shard) regardless of input size), and merging sketches is
    union → distinct → re-take-k — never a rescan. On a 1000-executor
    cluster the per-shard stage is the map side, the merge moves
    ``shards * k`` 16-byte rows per group, and sketches for yesterday's
    partitions never need recomputing. ``exact_distinct`` is joined in
    here only to let the proof row exhibit the error; a production run
    drops it (that join is the exact aggregate the sketch avoids).

    Every value is integer arithmetic (exact ``div``), so the DuckDB
    oracle reproduces the estimate bit-for-bit.
    """
    orders = load_table(spark, sf_dir, "orders")
    hashed = orders.select(
        F.col("o_orderpriority").alias("priority"),
        T.scrambled_hash(
            F.concat(F.lit("kmv:"), F.col("o_custkey"))
        ).alias("h"),
        (F.col("o_custkey") % _KMV_SHARDS).alias("shard"),
    ).distinct()
    # per-shard partial sketch: k smallest distinct hashes
    shard_w = Window.partitionBy("priority", "shard").orderBy("h")
    partial = (
        hashed.withColumn("rn", F.row_number().over(shard_w))
        .filter(F.col("rn") <= _KMV_K)
        .drop("rn", "shard")
    )
    # merge: union of partials -> distinct hashes -> global k-th min
    merge_w = Window.partitionBy("priority").orderBy("h")
    kth = (
        partial.distinct()
        .withColumn("rn", F.row_number().over(merge_w))
        .filter(F.col("rn") == _KMV_K)
        .select("priority", F.col("h").alias("kth_hash"))
    )
    exact = orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.countDistinct("o_custkey").alias("exact_distinct")
    )
    est = F.expr(f"({_KMV_K - 1} * {_MOD}L) div kth_hash")
    return (
        kth.join(F.broadcast(exact), "priority")
        .select(
            "priority",
            F.lit(_KMV_K).alias("k"),
            "kth_hash",
            est.alias("est_distinct"),
            "exact_distinct",
            F.round(
                (est - F.col("exact_distinct")) * 100.0
                / F.col("exact_distinct"),
                6,
            ).alias("rel_error_pct"),
        )
        .orderBy("priority")
    )


APPROX_DISTINCT_KMV_SQL = f"""
WITH hashed AS (
    SELECT DISTINCT o_orderpriority AS priority,
           {_scrambled_hash_sql("'kmv:' || o_custkey::VARCHAR")} AS h,
           o_custkey % {_KMV_SHARDS} AS shard
    FROM orders
), partial AS (
    SELECT priority, h
    FROM (
        SELECT priority, shard, h,
               row_number() OVER (PARTITION BY priority, shard ORDER BY h)
                   AS rn
        FROM hashed
    )
    WHERE rn <= {_KMV_K}
), kth AS (
    SELECT priority, h AS kth_hash
    FROM (
        SELECT priority, h,
               row_number() OVER (PARTITION BY priority ORDER BY h) AS rn
        FROM (SELECT DISTINCT priority, h FROM partial)
    )
    WHERE rn = {_KMV_K}
), exact AS (
    SELECT o_orderpriority AS priority,
           count(DISTINCT o_custkey) AS exact_distinct
    FROM orders
    GROUP BY o_orderpriority
)
SELECT priority,
       {_KMV_K} AS k,
       kth_hash,
       ({_KMV_K - 1}::BIGINT * {_MOD}) // kth_hash AS est_distinct,
       exact_distinct,
       round((({_KMV_K - 1}::BIGINT * {_MOD}) // kth_hash - exact_distinct)
             * 100.0 / exact_distinct, 6) AS rel_error_pct
FROM kth JOIN exact USING (priority)
ORDER BY priority
"""


# --------------------------------------------------------------------------
# hash-sampled token frequency (approximate vocabulary statistics)
# --------------------------------------------------------------------------

_SAMPLE_DENOM = 20  # 5% document sample
_VOCAB_TOP = 50


def sampled_token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-token frequency table estimated from a deterministic 5%
    document sample — the vocabulary-statistics pass of corpus curation
    run at 1/20th the cost.

    The sample gate is a salted cross-engine hash of the document id,
    so (a) the same documents are sampled on every engine and every
    run, and (b) the gate is a row-level predicate evaluated in the
    scan stage: only the sampled 5% is ever exploded into tokens, so
    the shuffle carries 5% of the token volume. Estimates scale the
    sampled counts by the inverse sampling rate. ``exact_count`` is
    joined in (broadcast — the top-k side is tiny) only so the proof
    row exhibits the sampling error; production keeps just the
    estimates.

    Error shape, verified on the testdata: the sample itself is
    unbiased (5.2% of docs carrying 5.3% of token mass at sf0.01), but
    the per-token errors on the top-50 skew positive — selecting BY the
    noisy estimate prefers upward fluctuations (winner's curse). That
    bias shrinks as 1/sqrt(sampled occurrences), i.e. it is a
    small-sample artifact of the 500-doc test corpus; at corpus scale
    the same plan concentrates. Pipelines that need unbiased top-k
    counts re-count an independently chosen candidate set instead.
    """
    docs = load_table(spark, sf_dir, "documents")
    gate = (
        T.scrambled_hash(F.concat(F.lit("vocab:"), F.col("doc_id")))
        % _SAMPLE_DENOM
        == 0
    )
    # Inner explode: Catalyst infers no size()>0 guard for a Generate
    # whose input is an expression rather than a column, so the
    # explode_outer + null-filter rewrite of the r10 explode sweep buys
    # nothing here; it only adds a Filter above each Generate
    # (plans/r11/sampled_token_frequency_{before,after}.txt).
    tok = F.explode(T.tokens(F.lower(F.col("text")))).alias("token")
    sampled = (
        docs.filter(gate)
        .select(tok)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("sampled_count"))
        .withColumn(
            "est_count", F.col("sampled_count") * F.lit(_SAMPLE_DENOM)
        )
        .orderBy(F.col("est_count").desc(), F.col("token"))
        .limit(_VOCAB_TOP)
    )
    exact = (
        docs.select(tok)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return (
        exact.join(F.broadcast(sampled), "token")
        .select(
            "token",
            "sampled_count",
            "est_count",
            "exact_count",
            F.round(
                (F.col("est_count") - F.col("exact_count")) * 100.0
                / F.col("exact_count"),
                6,
            ).alias("rel_error_pct"),
        )
        .orderBy(F.col("est_count").desc(), F.col("token"))
    )


SAMPLED_TOKEN_FREQUENCY_SQL = f"""
WITH sampled AS (
    SELECT token,
           count(*) AS sampled_count,
           count(*) * {_SAMPLE_DENOM} AS est_count
    FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS token
        FROM documents
        WHERE {_scrambled_hash_sql("'vocab:' || doc_id::VARCHAR")}
              % {_SAMPLE_DENOM} = 0
    )
    GROUP BY token
    ORDER BY est_count DESC, token
    LIMIT {_VOCAB_TOP}
), exact AS (
    SELECT token, count(*) AS exact_count
    FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS token
        FROM documents
    )
    GROUP BY token
)
SELECT token,
       sampled_count,
       est_count,
       exact_count,
       round((est_count - exact_count) * 100.0 / exact_count, 6)
           AS rel_error_pct
FROM sampled JOIN exact USING (token)
ORDER BY est_count DESC, token
"""


# --------------------------------------------------------------------------
# exact group quantiles (order statistics)
# --------------------------------------------------------------------------

_QUANTILES = (0.25, 0.5, 0.75, 0.95)


def group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact price quantiles per lineitem return flag — Spark's
    ``percentile`` aggregate (linear interpolation, same R-7 definition
    DuckDB's ``quantile_cont`` uses), exploded to one row per
    (group, quantile).

    Exact percentiles sort each group; that is the right call when the
    group count is tiny (3 flags here — each group's sort is one
    aggregate buffer). For high-cardinality groups or when a bounded
    error is acceptable, the 100 TB path swaps ``percentile`` for
    ``percentile_approx`` (GK sketch: bounded memory, mergeable
    partials, map-side combine) — same plan shape, not
    oracle-matchable because the sketch's estimates are
    engine-specific.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qs = F.array(*[F.lit(q) for q in _QUANTILES])
    agg = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.percentile(F.col("l_extendedprice"), qs).alias("vals"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    pairs = F.arrays_zip(qs.alias("q"), F.col("vals").alias("price"))
    return (
        agg.select("flag", "n_rows", F.explode(pairs).alias("p"))
        .select(
            "flag",
            F.col("p.q").alias("quantile"),
            F.round(F.col("p.price"), 4).alias("price"),
            "n_rows",
        )
        .orderBy("flag", "quantile")
    )


# DuckDB's quantile_cont only takes constant parameters, so the oracle
# aggregates once per group and unpivots via UNION ALL.
GROUP_QUANTILES_SQL = (
    "WITH agg AS (\n"
    "    SELECT l_returnflag AS flag,\n"
    "           count(*) AS n_rows,\n"
    + ",\n".join(
        f"           quantile_cont(l_extendedprice, {q}) AS v{i}"
        for i, q in enumerate(_QUANTILES)
    )
    + "\n    FROM lineitem\n    GROUP BY l_returnflag\n)\n"
    + "\nUNION ALL\n".join(
        f"SELECT flag, {q}::DOUBLE AS quantile, round(v{i}, 4) AS price,"
        " n_rows"
        " FROM agg"
        for i, q in enumerate(_QUANTILES)
    )
    + "\nORDER BY flag, quantile"
)


# --------------------------------------------------------------------------
# Bloom-filter semi-join reduction (runtime-filter pattern)
# --------------------------------------------------------------------------

_BLOOM_BITS = 64
_BLOOM_NATION = 9


def bloom_semijoin_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join reduction via a tiny Bloom filter: build a bit-set
    from the dim side's join keys (suppliers of one nation), screen the
    fact scan with membership BEFORE the real join, and report exactly
    how much the screen admitted vs what truly joins.

    This is the runtime-filter / DPP pattern Spark applies natively
    (``spark.sql.optimizer.runtime.bloomFilter.enabled`` injects the
    same shape automatically); building it explicitly from the
    cross-engine hash makes the reduction DETERMINISTIC and
    oracle-checkable, and the stats row quantifies the screen: at scale
    the candidates (matched + false positives) are all that reaches the
    join's shuffle, so fact traffic drops by ~(1 - bits-set/m) for
    non-matching rows. One fact scan, two broadcast joins (the
    position set is ≤ m rows; the dim is small by selection), one
    aggregate — false positives cost only wasted screen passage, never
    wrong results, because the exact join still decides membership.
    """
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    dim = sup.filter(F.col("s_nationkey") == _BLOOM_NATION).select(
        "s_suppkey"
    )
    pos_of = lambda col: (  # noqa: E731 - tiny local expression builder
        T.scrambled_hash(F.concat(F.lit("bloom:"), col)) % _BLOOM_BITS
    )
    positions = (
        dim.select(pos_of(F.col("s_suppkey")).alias("pos"))
        .distinct()
        .withColumn("in_bloom", F.lit(1))
    )
    flagged = (
        li.select("l_suppkey", "l_extendedprice")
        .withColumn("pos", pos_of(F.col("l_suppkey")))
        .join(F.broadcast(positions), "pos", "left")
        .join(
            F.broadcast(dim.withColumn("matched", F.lit(1))),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left",
        )
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_fact"),
        F.count("in_bloom").alias("n_candidates"),
        F.count("matched").alias("n_matched"),
        (F.count("in_bloom") - F.count("matched")).alias("n_false_positive"),
        F.round(
            F.sum(
                F.when(F.col("matched") == 1, F.col("l_extendedprice"))
            ),
            2,
        ).alias("matched_revenue"),
    )


BLOOM_SEMIJOIN_SQL = f"""
WITH dim AS (
    SELECT s_suppkey FROM supplier WHERE s_nationkey = {_BLOOM_NATION}
), positions AS (
    SELECT DISTINCT {_scrambled_hash_sql("'bloom:' || s_suppkey::VARCHAR")}
               % {_BLOOM_BITS} AS pos
    FROM dim
), flagged AS (
    SELECT l.l_extendedprice,
           p.pos IS NOT NULL AS in_bloom,
           d.s_suppkey IS NOT NULL AS matched
    FROM lineitem l
    LEFT JOIN positions p
      ON {_scrambled_hash_sql("'bloom:' || l.l_suppkey::VARCHAR")}
             % {_BLOOM_BITS} = p.pos
    LEFT JOIN dim d ON l.l_suppkey = d.s_suppkey
)
SELECT count(*) AS n_fact,
       count(*) FILTER (in_bloom) AS n_candidates,
       count(*) FILTER (matched) AS n_matched,
       count(*) FILTER (in_bloom) - count(*) FILTER (matched)
           AS n_false_positive,
       round(sum(l_extendedprice) FILTER (matched), 2) AS matched_revenue
FROM flagged
"""


QUERIES = {
    "approx_distinct_kmv": approx_distinct_kmv,
    "bloom_semijoin_reduction": bloom_semijoin_reduction,
    "sampled_token_frequency": sampled_token_frequency,
    "group_quantiles": group_quantiles,
}

ORACLES = {
    "approx_distinct_kmv": APPROX_DISTINCT_KMV_SQL,
    "bloom_semijoin_reduction": BLOOM_SEMIJOIN_SQL,
    "sampled_token_frequency": SAMPLED_TOKEN_FREQUENCY_SQL,
    "group_quantiles": GROUP_QUANTILES_SQL,
}


# --------------------------------------------------------------------------
# HyperLogLog distinct count (Flajolet et al. 2007) — the industry-
# standard mergeable distinct sketch, made fully deterministic: registers
# are per-bucket MAXes of a pure hash function, so any partitioning,
# merge order, or engine produces identical registers.
# --------------------------------------------------------------------------

_HLL_B = 8                 # 2^8 = 256 registers
_HLL_M = 1 << _HLL_B
# alpha_m for m = 256: 0.7213 / (1 + 1.079/m), stated as a literal so
# both engines use the identical double
_HLL_ALPHA = 0.7182725932164354
# hash domain is ~1e9 (< 2^30); after the 8 bucket bits the remainder w
# fits 22 bits, so rho(w) = 23 - bitlength(w), and rho = 23 for w = 0
_HLL_WBITS = 22


def _hll_registers(keyed, group_cols: list[str]):
    """(group..., bucket, reg): per-bucket max rho. ``keyed`` must carry
    an ``h`` column of scrambled hashes.

    The scrambled hash of sequential ids is an arithmetic progression
    mod p — a LOW-discrepancy sequence whose bucket occupancy is far
    more even than true hashing, which biases HLL's occupancy-based
    small-range estimator upward (observed +25%). Squaring mod p breaks
    the affinity (quadratic residues scatter like random) while staying
    exact 63-bit integer arithmetic both engines reproduce."""
    hq = (F.col("h") * F.col("h")) % T.HASH_MOD
    bucket = (hq % _HLL_M).alias("bucket")
    w = (hq / _HLL_M).cast("long")
    rho = F.when(w == 0, _HLL_WBITS + 1).otherwise(
        _HLL_WBITS + 1 - F.length(F.bin(w))
    )
    return (
        keyed.select(*group_cols, bucket, rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("reg"))
    )


def _hll_estimate(regs, group_cols: list[str]):
    """Registers -> rounded estimate with the small-range correction."""
    agg = regs.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("reg"))).alias("z_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    z = F.col("z_present") + (_HLL_M - F.col("n_present"))
    raw = F.lit(_HLL_ALPHA * _HLL_M * _HLL_M) / z
    zeros = _HLL_M - F.col("n_present")
    est = F.when(
        (raw <= 2.5 * _HLL_M) & (zeros > 0),
        _HLL_M * F.log(F.lit(float(_HLL_M)) / zeros),
    ).otherwise(raw)
    return agg.select(*group_cols, F.round(est, 4).alias("approx_distinct"))


def approx_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customers per order priority via a 256-register HLL —
    same question as ``approx_distinct_kmv``, different sketch family
    (order statistics vs register maxes). One hash aggregate builds the
    registers (map-side combinable: max is a monoid), a 5-row aggregate
    evaluates the estimator; the same registers merge across shards,
    streams, and engines because max is order-free."""
    orders = load_table(spark, sf_dir, "orders")
    keyed = orders.select(
        "o_orderpriority",
        T.scrambled_hash(
            F.concat(F.lit("hll:"), F.col("o_custkey").cast("string"))
        ).alias("h"),
    )
    regs = _hll_registers(keyed, ["o_orderpriority"])
    return _hll_estimate(regs, ["o_orderpriority"]).orderBy("o_orderpriority")


def _hll_sql(source: str, group_col: str, key_expr: str) -> str:
    h = _scrambled_hash_sql(key_expr)
    return f"""
WITH keyed AS (
    SELECT {group_col} AS g, {h} AS h FROM {source}
), squared AS (
    SELECT g, (h * h) % {T.HASH_MOD} AS hq FROM keyed
), regs AS (
    SELECT g, hq % {_HLL_M} AS bucket,
           CASE WHEN hq // {_HLL_M} = 0 THEN {_HLL_WBITS + 1}
                ELSE {_HLL_WBITS + 1} - length(bin(hq // {_HLL_M}))
           END AS rho
    FROM squared
), reg_max AS (
    SELECT g, bucket, max(rho) AS reg FROM regs GROUP BY g, bucket
), agg AS (
    SELECT g, sum(pow(2.0, -reg)) AS z_present, count(*) AS n_present
    FROM reg_max GROUP BY g
)
SELECT g AS {group_col},
       round(CASE WHEN ({_HLL_ALPHA!r}::DOUBLE * {_HLL_M} * {_HLL_M})
                       / (z_present + ({_HLL_M} - n_present)) <= {2.5 * _HLL_M}
                  AND {_HLL_M} - n_present > 0
             THEN {_HLL_M} * ln({_HLL_M}.0 / ({_HLL_M} - n_present))
             ELSE ({_HLL_ALPHA!r}::DOUBLE * {_HLL_M} * {_HLL_M})
                  / (z_present + ({_HLL_M} - n_present)) END, 4)
           AS approx_distinct
FROM agg
ORDER BY {group_col}
"""


QUERIES["approx_distinct_hll"] = approx_distinct_hll
ORACLES["approx_distinct_hll"] = _hll_sql(
    "orders", "o_orderpriority", "'hll:' || o_custkey::VARCHAR"
)


# --------------------------------------------------------------------------
# Count-min sketch (frequency estimation)
# --------------------------------------------------------------------------

_CM_D = 4   # hash rows
_CM_W = 64  # counters per row — deliberately small so collisions (and
            # the CMS overestimate property) are visible at test SFs


def _cm_col(d, key):
    """Counter column for hash row ``d``: the cross-engine scrambled
    hash of 'cm<d>:<key>' mod the row width."""
    return T.scrambled_hash(
        F.concat(F.lit("cm"), d.cast("string"), F.lit(":"), key)
    ) % _CM_W


def approx_freq_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order frequency per customer via a count-min sketch (Cormode &
    Muthukrishnan 2005): D x W counters, point estimate = min over the
    D hashed cells, never an underestimate.

    Scale shape: the sketch build is ONE map-side-combinable groupBy
    over (d, col) — the shuffle carries at most D*W = 256 rows per
    partition regardless of input size, and the finished sketch is
    dimension-sized, so the probe join broadcasts it. The exact counts
    beside the estimates are the report's verification column (and
    what a 100 TB run would NOT compute — it would read estimates
    alone off the 256-cell sketch)."""
    orders = load_table(spark, sf_dir, "orders")
    rows = orders.select(F.col("o_custkey").cast("string").alias("k"))
    ds = F.sequence(F.lit(0), F.lit(_CM_D - 1))
    counters = (
        rows.withColumn("d", F.explode(ds))
        .select("d", _cm_col(F.col("d"), F.col("k")).alias("col"))
        .groupBy("d", "col")
        .agg(F.count("*").alias("c"))
    )
    exact = rows.groupBy("k").agg(F.count("*").alias("exact_cnt"))
    top = exact.orderBy(F.desc("exact_cnt"), "k").limit(10)
    probe = top.withColumn("d", F.explode(ds)).withColumn(
        "col", _cm_col(F.col("d"), F.col("k"))
    )
    est = (
        probe.join(F.broadcast(counters), ["d", "col"])
        .groupBy("k", "exact_cnt")
        .agg(F.min("c").alias("cm_estimate"))
    )
    return est.select(
        F.col("k").cast("long").alias("o_custkey"),
        "exact_cnt",
        "cm_estimate",
        (F.col("cm_estimate") - F.col("exact_cnt")).alias("overestimate"),
    ).orderBy(F.desc("exact_cnt"), "o_custkey")


def _cm_col_sql(d_expr: str, key_expr: str) -> str:
    inner = "'cm' || " + d_expr + " || ':' || " + key_expr
    return f"({_scrambled_hash_sql(inner)}) % {_CM_W}"


COUNTMIN_SQL = f"""
WITH rows_ AS (SELECT o_custkey::VARCHAR AS k FROM orders),
ds AS (SELECT d FROM range({_CM_D}) t(d)),
cells AS (
    SELECT ds.d, {_cm_col_sql('ds.d', 'k')} AS col
    FROM rows_ CROSS JOIN ds
),
counters AS (SELECT d, col, count(*) AS c FROM cells GROUP BY d, col),
exact AS (SELECT k, count(*) AS exact_cnt FROM rows_ GROUP BY k),
top AS (SELECT * FROM exact ORDER BY exact_cnt DESC, k LIMIT 10),
probe AS (
    SELECT top.k, top.exact_cnt, ds.d, {_cm_col_sql('ds.d', 'top.k')} AS col
    FROM top CROSS JOIN ds
),
est AS (
    SELECT k, exact_cnt, min(c) AS cm_estimate
    FROM probe JOIN counters USING (d, col)
    GROUP BY k, exact_cnt
)
SELECT k::BIGINT AS o_custkey,
       exact_cnt,
       cm_estimate,
       cm_estimate - exact_cnt AS overestimate
FROM est
ORDER BY exact_cnt DESC, o_custkey
"""

QUERIES["approx_freq_countmin"] = approx_freq_countmin
ORACLES["approx_freq_countmin"] = COUNTMIN_SQL


_MEDIAN_BUCKET_CENTS = 100_000  # $1000 histogram buckets


def exact_median_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed median without a global sort — the companion
    to this module's approximate sketches for when the answer must be
    exact.

    Classic two-pass k-th-element selection: pass 1 builds a coarse
    integer-cents histogram (map-side-combinable; the driver sees only
    the bucket counts — bounded by the price domain over the bucket
    width, ~100 rows at any scale factor) and locates the bucket
    holding rank k = (n+1)//2 (lower median, deterministic for even
    n); pass 2 ranks inside that single bucket (a filter that prunes
    everything else, then one small sort) and picks the residual rank.
    Ties share a value, so tie order cannot change the answer. At
    100 TB the same two passes hold: the histogram is a constant-size
    aggregate and pass 2 touches ~1/n_buckets of the data.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("pc")
    )
    hist = (
        li.groupBy(
            (F.col("pc") / F.lit(_MEDIAN_BUCKET_CENTS))
            .cast("long")
            .alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("bucket")
        .collect()
    )
    n = sum(r.cnt for r in hist)
    k = (n + 1) // 2
    cum = 0
    target_bucket, offset = None, None
    for r in hist:
        if cum + r.cnt >= k:
            target_bucket, offset = r.bucket, k - cum
            break
        cum += r.cnt
    # offset-th smallest inside the located bucket = max of the offset
    # smallest — a TakeOrdered (top-k per partition, k = offset, which
    # the bucket width bounds at ~n/n_buckets), never a one-partition
    # global window.
    return (
        li.filter(
            (F.col("pc") / F.lit(_MEDIAN_BUCKET_CENTS)).cast("long")
            == F.lit(target_bucket)
        )
        .orderBy("pc")
        .limit(offset)
        .agg(
            F.lit(n).cast("long").alias("n_rows"),
            F.lit(k).cast("long").alias("k_rank"),
            F.round(F.max("pc") / 100.0, 2).alias("median_price"),
        )
    )


EXACT_MEDIAN_SQL = """
WITH pc AS (
    SELECT round(l_extendedprice * 100)::BIGINT AS c FROM lineitem
),
n AS (SELECT count(*)::BIGINT AS cnt FROM pc)
SELECT (SELECT cnt FROM n) AS n_rows,
       ((SELECT cnt FROM n) + 1) // 2 AS k_rank,
       round((SELECT c FROM pc ORDER BY c
              LIMIT 1 OFFSET ((SELECT cnt FROM n) + 1) // 2 - 1) / 100.0,
             2) AS median_price
"""

QUERIES["exact_median_twopass"] = exact_median_twopass
ORACLES["exact_median_twopass"] = EXACT_MEDIAN_SQL


# --------------------------------------------------------------------------
# Sketch-based join-size estimation — the planner-grade reads a 100 TB
# engine makes BEFORE committing to a join strategy. Both queries keep
# the exact answer alongside the estimate to exhibit the error; a
# production run drops the exact columns (they are the scans the
# sketches avoid).
# --------------------------------------------------------------------------


_F2_K = 64  # distinct-sample size per group


def selfjoin_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join size (second frequency moment, F2 = sum of c_u^2) per
    event type, estimated by KMV distinct-sampling of the join key —
    the AMS question answered with the engine's existing k-min-hash
    machinery: the k users with the smallest key hashes form an
    unbiased sample of the DISTINCT key domain, their exact c^2 mass
    is scaled by D_est/k (D_est from the same sketch's k-th hash).
    This is the number a planner reads to predict skew-join cost
    (`join_skew_report` tells you WHICH keys are hot; this predicts
    the total blow-up) without running the quadratic join.

    Scale shape: one keyed count aggregate (map-side combinable), then
    a k-row-per-group window — the sample never exceeds k rows per
    group no matter the corpus. Integer arithmetic throughout
    (estimate exact under the documented bound
    sample_mass * D_est < 2^63, i.e. hot-key c up to ~1e4 at k=64 and
    D up to 1e9 — beyond that, pre-divide by k). When a group has
    fewer than k distinct keys the sample IS the domain and the
    estimate collapses to the exact value (scale 1)."""
    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy(
        F.col("event_type").alias("etype"), "user_id"
    ).agg(F.count(F.lit(1)).alias("c"))
    return f2_report_from_counts(counts)


def f2_report_from_counts(counts: DataFrame) -> DataFrame:
    """The estimator's readout over a (etype, user_id, c) count
    relation — shared by the batch query above and the streaming
    keyed-count state twin (streaming/f2_state.py), whose maintained
    counts are batch-equal by the addition monoid."""
    hashed = counts.select(
        "etype",
        "c",
        T.scrambled_hash(F.concat(F.lit("f2:"), F.col("user_id"))).alias("h"),
    )
    w = Window.partitionBy("etype").orderBy("h")
    sampled = hashed.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _F2_K
    )
    sketch = sampled.groupBy("etype").agg(
        F.sum(F.col("c") * F.col("c")).alias("sample_f2"),
        F.max(F.when(F.col("rn") == _F2_K, F.col("h"))).alias("kth_hash"),
    )
    exact = counts.groupBy("etype").agg(
        F.sum(F.col("c") * F.col("c")).alias("exact_f2"),
        F.count(F.lit(1)).alias("n_users"),
    )
    d_est = F.expr(f"({_F2_K - 1} * {_MOD}L) div kth_hash")
    est = F.when(
        F.col("kth_hash").isNull(), F.col("sample_f2")  # domain <= k
    ).otherwise(F.expr(f"(sample_f2 * (({_F2_K - 1} * {_MOD}L) div kth_hash)) div {_F2_K}"))
    return (
        sketch.join(F.broadcast(exact), "etype")
        .select(
            "etype",
            F.lit(_F2_K).alias("k"),
            "n_users",
            F.when(F.col("kth_hash").isNull(), F.col("n_users"))
            .otherwise(d_est)
            .alias("est_distinct"),
            est.alias("est_f2"),
            "exact_f2",
            F.round(
                (est - F.col("exact_f2")) * 100.0 / F.col("exact_f2"), 6
            ).alias("rel_error_pct"),
        )
        .orderBy("etype")
    )


SELFJOIN_SIZE_SQL = f"""
WITH counts AS (
    SELECT event_type AS etype, user_id, COUNT(*) AS c
    FROM events GROUP BY 1, 2
), hashed AS (
    SELECT etype, c,
           {_scrambled_hash_sql("'f2:' || user_id::VARCHAR")} AS h
    FROM counts
), ranked AS (
    SELECT etype, c, h,
           row_number() OVER (PARTITION BY etype ORDER BY h) AS rn
    FROM hashed
), sketch AS (
    SELECT etype,
           SUM(c * c) FILTER (WHERE rn <= {_F2_K}) AS sample_f2,
           MAX(CASE WHEN rn = {_F2_K} THEN h END) AS kth_hash
    FROM ranked GROUP BY etype
), exact AS (
    SELECT etype, SUM(c * c) AS exact_f2, COUNT(*) AS n_users
    FROM counts GROUP BY etype
)
SELECT s.etype, {_F2_K} AS k, e.n_users,
       CAST(CASE WHEN s.kth_hash IS NULL THEN e.n_users
            ELSE ({_F2_K - 1}::BIGINT * {_MOD}) // s.kth_hash END AS BIGINT)
           AS est_distinct,
       CAST(CASE WHEN s.kth_hash IS NULL THEN s.sample_f2
            ELSE (s.sample_f2 * (({_F2_K - 1}::BIGINT * {_MOD}) // s.kth_hash))
                 // {_F2_K} END AS BIGINT) AS est_f2,
       CAST(e.exact_f2 AS BIGINT) AS exact_f2,
       ROUND((CASE WHEN s.kth_hash IS NULL THEN s.sample_f2
              ELSE (s.sample_f2 * (({_F2_K - 1}::BIGINT * {_MOD}) // s.kth_hash))
                   // {_F2_K} END - e.exact_f2) * 100.0 / e.exact_f2, 6)
           AS rel_error_pct
FROM sketch s JOIN exact e USING (etype)
ORDER BY s.etype
"""

QUERIES["selfjoin_size_estimate"] = selfjoin_size_estimate
ORACLES["selfjoin_size_estimate"] = SELFJOIN_SIZE_SQL


def kmv_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra ON THE SKETCHES: union size, intersection size and
    Jaccard of the customer sets of every order-priority pair,
    estimated from the classes' KMV sketches alone — the mergeability
    property that makes k-min-hash the right distinct structure for a
    partitioned warehouse: yesterday's per-partition sketches combine
    into any union/overlap question without rescanning the data.
    K(A∪B) = k smallest of K(A) ∪ K(B); Jaccard_est = |K(A∪B) ∩ K(A)
    ∩ K(B)| / k (Beyer et al. 2007); intersection = J_est * D_union.
    Exact values joined in only to exhibit the error."""
    orders = load_table(spark, sf_dir, "orders")
    hashed = orders.select(
        F.col("o_orderpriority").alias("cls"),
        F.col("o_custkey").alias("ck"),
        T.scrambled_hash(F.concat(F.lit("kmv:"), F.col("o_custkey"))).alias(
            "h"
        ),
    ).distinct()
    w = Window.partitionBy("cls").orderBy("h")
    sk = hashed.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _KMV_K
    )
    # Pairwise without a hash self-join fan-out trap: the sketches are
    # k-row relations, so enumerate class pairs (|classes|^2 — a
    # dimension) and for each pair take the k smallest of the union.
    pairs = (
        sk.select(F.col("cls").alias("cls_a"))
        .distinct()
        .crossJoin(sk.select(F.col("cls").alias("cls_b")).distinct())
        .filter(F.col("cls_a") < F.col("cls_b"))
    )
    u = (
        pairs.join(
            sk.select("cls", "h"),
            (F.col("cls") == F.col("cls_a")) | (F.col("cls") == F.col("cls_b")),
        )
        .select("cls_a", "cls_b", "h")
        .distinct()
    )
    wu = Window.partitionBy("cls_a", "cls_b").orderBy("h")
    union_sk = u.withColumn("rn", F.row_number().over(wu)).filter(
        F.col("rn") <= _KMV_K
    )
    in_a = sk.select(F.col("cls").alias("cls_a"), "h").withColumn(
        "ina", F.lit(1)
    )
    in_b = sk.select(F.col("cls").alias("cls_b"), "h").withColumn(
        "inb", F.lit(1)
    )
    marked = (
        union_sk.join(in_a, ["cls_a", "h"], "left")
        .join(in_b, ["cls_b", "h"], "left")
        .groupBy("cls_a", "cls_b")
        .agg(
            F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("kth_hash"),
            F.count(F.lit(1)).alias("n_union_sample"),
            F.sum(
                F.when(
                    F.col("ina").isNotNull() & F.col("inb").isNotNull(), 1
                ).otherwise(0)
            ).alias("n_common"),
        )
    )
    # Intersection counts come from an INNER equi-join on the customer
    # key; disjoint pairs therefore have no row here, so the report is
    # assembled by LEFT-joining from the full pair enumeration with a
    # zero fill — a disjoint pair must APPEAR (est/exact intersect 0),
    # not vanish.
    exact = (
        hashed.select(F.col("cls").alias("cls_a"), "ck")
        .join(hashed.select(F.col("cls").alias("cls_b"), "ck"), "ck")
        .filter(F.col("cls_a") < F.col("cls_b"))
        .groupBy("cls_a", "cls_b")
        .agg(F.count(F.lit(1)).alias("nn"))
    )
    ex_a = hashed.groupBy(F.col("cls").alias("cls_a")).agg(
        F.count(F.lit(1)).alias("na")
    )
    ex_b = hashed.groupBy(F.col("cls").alias("cls_b")).agg(
        F.count(F.lit(1)).alias("nb")
    )
    exact_pair = (
        pairs.join(F.broadcast(exact), ["cls_a", "cls_b"], "left")
        .join(F.broadcast(ex_a), "cls_a")
        .join(F.broadcast(ex_b), "cls_b")
        .select(
            "cls_a",
            "cls_b",
            F.coalesce("nn", F.lit(0)).cast("long").alias("exact_intersect"),
            (
                F.col("na") + F.col("nb") - F.coalesce("nn", F.lit(0))
            ).alias("exact_union"),
        )
    )
    d_union = F.when(
        F.col("n_union_sample") < _KMV_K, F.col("n_union_sample")
    ).otherwise(F.expr(f"({_KMV_K - 1} * {_MOD}L) div kth_hash"))
    est_int = F.expr("(n_common * est_union) div n_union_sample")
    return (
        marked.join(F.broadcast(exact_pair), ["cls_a", "cls_b"])
        .withColumn("est_union", d_union)
        .select(
            "cls_a",
            "cls_b",
            F.least(F.lit(_KMV_K), F.col("n_union_sample")).alias("k_eff"),
            "est_union",
            "exact_union",
            est_int.alias("est_intersect"),
            "exact_intersect",
            F.round(F.col("n_common") / F.col("n_union_sample"), 6).alias(
                "est_jaccard"
            ),
            F.round(
                F.col("exact_intersect") / F.col("exact_union"), 6
            ).alias("exact_jaccard"),
        )
        .orderBy("cls_a", "cls_b")
    )


KMV_SET_OPS_SQL = f"""
WITH hashed AS (
    SELECT DISTINCT o_orderpriority AS cls, o_custkey AS ck,
           {_scrambled_hash_sql("'kmv:' || o_custkey::VARCHAR")} AS h
    FROM orders
), sk AS (
    SELECT cls, h FROM (
        SELECT cls, h,
               row_number() OVER (PARTITION BY cls ORDER BY h) AS rn
        FROM hashed
    ) WHERE rn <= {_KMV_K}
), pairs AS (
    SELECT a.cls AS cls_a, b.cls AS cls_b
    FROM (SELECT DISTINCT cls FROM sk) a, (SELECT DISTINCT cls FROM sk) b
    WHERE a.cls < b.cls
), u AS (
    SELECT DISTINCT p.cls_a, p.cls_b, s.h
    FROM pairs p JOIN sk s ON s.cls = p.cls_a OR s.cls = p.cls_b
), union_sk AS (
    SELECT cls_a, cls_b, h, rn FROM (
        SELECT cls_a, cls_b, h,
               row_number() OVER (PARTITION BY cls_a, cls_b ORDER BY h) AS rn
        FROM u
    ) WHERE rn <= {_KMV_K}
), marked AS (
    SELECT us.cls_a, us.cls_b,
           MAX(CASE WHEN us.rn = {_KMV_K} THEN us.h END) AS kth_hash,
           COUNT(*) AS n_union_sample,
           SUM(CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
               THEN 1 ELSE 0 END) AS n_common
    FROM union_sk us
    LEFT JOIN sk sa ON sa.cls = us.cls_a AND sa.h = us.h
    LEFT JOIN sk sb ON sb.cls = us.cls_b AND sb.h = us.h
    GROUP BY us.cls_a, us.cls_b
), exact_int AS (
    SELECT a.cls AS cls_a, b.cls AS cls_b, COUNT(*) AS exact_intersect
    FROM hashed a JOIN hashed b ON a.ck = b.ck AND a.cls < b.cls
    GROUP BY 1, 2
), sizes AS (
    SELECT cls, COUNT(*) AS n FROM hashed GROUP BY cls
), est AS (
    SELECT m.cls_a, m.cls_b,
           LEAST({_KMV_K}, m.n_union_sample) AS k_eff,
           CAST(CASE WHEN m.n_union_sample < {_KMV_K} THEN m.n_union_sample
                ELSE ({_KMV_K - 1}::BIGINT * {_MOD}) // m.kth_hash END AS BIGINT)
               AS est_union,
           m.n_common, m.n_union_sample
    FROM marked m
)
SELECT e.cls_a, e.cls_b, e.k_eff, e.est_union,
       CAST(sa.n + sb.n - COALESCE(i.exact_intersect, 0) AS BIGINT)
           AS exact_union,
       CAST((e.n_common * e.est_union) // e.n_union_sample AS BIGINT)
           AS est_intersect,
       CAST(COALESCE(i.exact_intersect, 0) AS BIGINT) AS exact_intersect,
       ROUND(CAST(e.n_common AS DOUBLE) / e.n_union_sample, 6)
           AS est_jaccard,
       ROUND(CAST(COALESCE(i.exact_intersect, 0) AS DOUBLE)
             / (sa.n + sb.n - COALESCE(i.exact_intersect, 0)), 6)
           AS exact_jaccard
FROM est e
LEFT JOIN exact_int i ON i.cls_a = e.cls_a AND i.cls_b = e.cls_b
JOIN sizes sa ON sa.cls = e.cls_a
JOIN sizes sb ON sb.cls = e.cls_b
ORDER BY e.cls_a, e.cls_b
"""

QUERIES["kmv_set_operations"] = kmv_set_operations
ORACLES["kmv_set_operations"] = KMV_SET_OPS_SQL


# --------------------------------------------------------------------------
# HDR-histogram quantile sketch (the HdrHistogram layout, Tene; same
# mergeable bounded-relative-error family as DDSketch, Masson et al.,
# VLDB 2019): values bucket by (decade, two leading digits) — PURE
# INTEGER/STRING arithmetic, so unlike a log-gamma bucket index the
# bucket of every value is bit-identical across engines (this module's
# ground rule). State is one count per occupied bucket: bounded by
# 90 buckets per decade regardless of row count, mergeable by addition
# — the shape that lets 1000 executors sketch 100 TB with a KB-sized
# combine. Worst-case relative error of the midpoint readout is
# 1/(2*10) = 5% at the low edge of a decade, <=0.5% at the high edge.
# --------------------------------------------------------------------------

_HDR_QS = (0.5, 0.9, 0.99)


def _hdr_bucket(cents):
    """Monotone integer bucket id of a positive cents value: exact
    region (< 10 cents) maps to negative ids; otherwise
    d*90 + lead2 - 10 where d = decimal digit count - 1 and lead2 =
    the two leading digits (10..99)."""
    d = F.length(F.col(cents).cast("string")) - 1
    lead2 = F.floor(
        F.col(cents) / F.pow(F.lit(10.0), (d - 1).cast("double"))
    ).cast("long")
    return F.when(F.col(cents) < 10, F.col(cents) - 10).otherwise(
        d.cast("long") * 90 + lead2 - 10
    )


def _hdr_midpoint_dollars(cents_col: str = "c"):
    """Midpoint of the bucket's value range, in dollars: for bucket
    (d, lead2) the range is [lead2*10^(d-1), (lead2+1)*10^(d-1))."""
    d = F.length(F.col(cents_col).cast("string")) - 1
    p = F.pow(F.lit(10.0), (d - 1).cast("double"))
    lead2 = F.floor(F.col(cents_col) / p).cast("long")
    mid = (lead2.cast("double") + F.lit(0.5)) * p
    return F.when(
        F.col(cents_col) < 10, F.col(cents_col).cast("double")
    ).otherwise(mid) / 100.0


def hdr_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of l_extendedprice from the HDR bucket sketch,
    beside the exact order statistic and the realized relative error.

    Plan: ONE map-side-combinable aggregate builds the sketch (output
    ~250 buckets at any scale; collected driver-side — the same
    bounded-histogram collect as exact_median_twopass). The `exact`
    column is the validation path, computed by two-pass selection
    exactly as exact_median_twopass does it: the sketch locates the
    quantile's bucket, then a filter prunes to that one bucket and a
    TakeOrdered picks the residual rank — never a one-partition global
    sort. A 100 TB run keeps the sketch columns and samples (or omits)
    the validation column; here it proves the error bound row by row."""
    import math

    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("c")
    )
    sketch = (
        li.select(_hdr_bucket("c").alias("bucket"), "c")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("c").alias("c_min"),
        )
        .orderBy("bucket")
        .collect()
    )
    n = sum(r.cnt for r in sketch)
    rows = []
    for q in _HDR_QS:
        k = math.ceil(q * n)
        cum = 0
        target = None
        residual = None
        for r in sketch:
            if cum + r.cnt >= k:
                target, residual = r, k - cum
                break
            cum += r.cnt
        # the bucket's (d, lead2) — hence its midpoint — is a function
        # of any member value, so reconstruct it from c_min
        est = (
            spark.createDataFrame([(target.c_min,)], "c_min long")
            .select(F.round(_hdr_midpoint_dollars("c_min"), 4).alias("est"))
        )
        exact = (
            li.filter(_hdr_bucket("c") == int(target.bucket))
            .orderBy("c")
            .limit(int(residual))
            .agg((F.max("c") / 100.0).alias("exact"))
        )
        rows.append(
            est.crossJoin(F.broadcast(exact)).select(
                F.lit(q).alias("q"),
                "est",
                F.round("exact", 4).alias("exact"),
                F.round(
                    F.abs(F.col("est") - F.col("exact")) / F.col("exact"), 4
                ).alias("rel_err"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("q")


def _hdr_sql() -> str:
    bucket = (
        "CASE WHEN c < 10 THEN c - 10 "
        "ELSE (length(c::VARCHAR) - 1) * 90 "
        "   + (c // power(10, length(c::VARCHAR) - 2)::BIGINT) - 10 END"
    )
    mid = (
        "CASE WHEN c < 10 THEN c::DOUBLE ELSE "
        "((c // power(10, length(c::VARCHAR) - 2)::BIGINT)::DOUBLE + 0.5) "
        "* power(10, length(c::VARCHAR) - 2) END / 100.0"
    )
    qs_union = " UNION ALL ".join(f"SELECT {q} AS q" for q in _HDR_QS)
    return f"""
WITH vals AS (
    SELECT round(l_extendedprice * 100)::BIGINT AS c FROM lineitem
), sketch AS (
    SELECT {bucket} AS bucket, count(*) AS cnt, min(c) AS c_min
    FROM vals GROUP BY 1
), cum AS (
    SELECT bucket,
           sum(cnt) OVER (ORDER BY bucket) AS cum,
           (SELECT {mid} FROM (SELECT c_min AS c) t) AS est
    FROM sketch
), total AS (SELECT count(*) AS n FROM vals),
ranked AS (
    SELECT c, row_number() OVER (ORDER BY c) AS rn FROM vals
), qs AS ({qs_union})
SELECT q,
       round((SELECT est FROM cum
              WHERE cum >= ceil(q * total.n) ORDER BY bucket LIMIT 1), 4)
           AS est,
       round((SELECT c / 100.0 FROM ranked
              WHERE rn = ceil(q * total.n)), 4) AS exact,
       round(abs((SELECT est FROM cum
                  WHERE cum >= ceil(q * total.n) ORDER BY bucket LIMIT 1)
                 - (SELECT c / 100.0 FROM ranked
                    WHERE rn = ceil(q * total.n)))
             / (SELECT c / 100.0 FROM ranked
                WHERE rn = ceil(q * total.n)), 4) AS rel_err
FROM qs, total
ORDER BY q
"""


QUERIES["hdr_histogram_quantiles"] = hdr_histogram_quantiles
ORACLES["hdr_histogram_quantiles"] = _hdr_sql()
