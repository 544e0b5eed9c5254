"""Data profiling and privacy audits over the TPC-H and event tables.

The operational counterpart of the analytics queries: the z-order
clustering key, the t-closeness privacy audit, the numeric correlation
matrix, and the differential-privacy histogram release. The reference
has no analogue — its only validation is the per-record structure
check (P4); these are driver-added capabilities, expression-native and
oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table


def zorder_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-values for the part table's (p_partkey, p_size) — the
    clustering key a multi-dimension-filtered layout would sort by
    (operators/zorder.py; skipping effect pinned by
    tests/test_zorder_skipping.py against parquet footer stats). Pure
    shift/mask integer arithmetic, identical in DuckDB.

    Asymmetric bit budget: p_size is bounded (≤ 50 → 6 bits) but
    p_partkey reaches 2·10^5·SF, so an equal 10-bit budget would alias
    distinct parts into the same z cell at every non-toy SF and the
    clustering would degrade toward hash order. 6 interleaved bits +
    26 high p_partkey bits keeps the mapping injective through
    SF ≈ 335."""
    from ..operators.zorder import z_value

    part = load_table(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            "p_size",
            z_value("p_partkey", "p_size", 6, x_bits=26).alias("z"),
        )
        .orderBy("z", "p_partkey")
        .limit(500)
    )


def _zorder_sql() -> str:
    from ..operators.zorder import z_sql_duckdb

    return f"""
SELECT p_partkey, p_size,
       {z_sql_duckdb("p_partkey", "p_size", 6, 26)} AS z
FROM part
ORDER BY z, p_partkey
LIMIT 500
"""


QUERIES = {
    "zorder_mapping": zorder_mapping,
}

ORACLES = {
    "zorder_mapping": _zorder_sql(),
}


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian, "t-Closeness:
    Privacy Beyond k-Anonymity and l-Diversity", ICDE 2007) — the third
    gate of the privacy triad: a class can be k-anonymous AND l-diverse
    yet still leak if its sensitive-value DISTRIBUTION is skewed vs the
    table's. For the categorical sensitive attribute the distance is
    total variation (equal-ground EMD): tvd = ½·Σ_v |p_class(v) −
    p_global(v)|.

    Same conventions as its siblings: QI class = (nation,
    balance-thousand-bucket), sensitive = market segment. ALL
    comparisons are exact integers: with class size cs, table size N,
    per-(class,v) count cnt_v and global count g_v,
    num = Σ_{v in class}(|cnt_v·N − g_v·cs| − g_v·cs) + N·cs equals
    Σ_{all v} |cnt_v·N − g_v·cs| without materializing absent values
    (Σ_all g_v = N), tvd = num / (2·cs·N) as ONE final division, and
    the t = 0.1 / 0.2 band thresholds compare 10·num / 5·num against
    2·cs·N — integer-exact, so no float-summation-order drift can flip
    a band. Scale shape: two map-side-combinable aggregates (cells,
    then classes) + one broadcast of the |segments|-row global
    distribution; output is band-bounded at any scale."""
    customer = load_table(spark, sf_dir, "customer")
    base = customer.select(
        "c_nationkey",
        (
            F.round(F.col("c_acctbal") * 100).cast("long")
            / F.lit(100_000)
        )
        .cast("long")
        .alias("bal_bucket"),
        "c_mktsegment",
    )
    cells = base.groupBy(
        "c_nationkey", "bal_bucket", "c_mktsegment"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return t_closeness_from_cells(cells)


def t_closeness_from_cells(cells: DataFrame) -> DataFrame:
    """The banding readout over any (c_nationkey, bal_bucket,
    c_mktsegment) -> cnt cell relation — shared by the batch audit
    above and the streaming maintained-cells twin
    (``stream_t_closeness``), whose additive keyed state equals the
    batch cells for any batch split. The global distribution and table
    total re-derive FROM the cells (sum over classes), so the audit is
    self-contained on its state."""
    glob = cells.groupBy("c_mktsegment").agg(F.sum("cnt").alias("g"))
    total = cells.agg(F.sum("cnt").alias("n_total"))
    wc = Window.partitionBy("c_nationkey", "bal_bucket")
    cells = (
        cells.withColumn("cs", F.sum("cnt").over(wc))
        .join(F.broadcast(glob), "c_mktsegment")
        .crossJoin(F.broadcast(total))
    )
    classes = cells.groupBy("c_nationkey", "bal_bucket").agg(
        F.max("cs").alias("cs"),
        F.max("n_total").alias("n_total"),
        F.sum(
            F.abs(F.col("cnt") * F.col("n_total") - F.col("g") * F.col("cs"))
            - F.col("g") * F.col("cs")
        ).alias("num_partial"),
    )
    num = F.col("num_partial") + F.col("n_total") * F.col("cs")
    den = F.lit(2) * F.col("cs") * F.col("n_total")
    scored = classes.select(
        "cs",
        (num / den.cast("double")).alias("tvd"),
        F.when(F.lit(10) * num <= den, "1 t-close (<=0.1)")
        .when(F.lit(5) * num <= den, "2 near (<=0.2)")
        .otherwise("3 violating (>0.2)")
        .alias("band"),
    )
    return (
        scored.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("cs").alias("n_rows"),
            F.round(F.min("tvd"), 6).alias("min_tvd"),
            F.round(F.max("tvd"), 6).alias("max_tvd"),
        )
        .orderBy("band")
    )


T_CLOSENESS_SQL = """
WITH base AS (
    SELECT c_nationkey,
           round(c_acctbal * 100)::BIGINT // 100000 AS bal_bucket,
           c_mktsegment
    FROM customer
), gdist AS (
    SELECT c_mktsegment, count(*) AS g FROM base GROUP BY 1
), total AS (SELECT count(*) AS n_total FROM base),
cells AS (
    SELECT c_nationkey, bal_bucket, c_mktsegment, count(*) AS cnt
    FROM base GROUP BY 1, 2, 3
), withcs AS (
    SELECT c.*, sum(cnt) OVER (PARTITION BY c_nationkey, bal_bucket) AS cs,
           g.g, t.n_total
    FROM cells c JOIN gdist g USING (c_mktsegment) CROSS JOIN total t
), classes AS (
    SELECT c_nationkey, bal_bucket, max(cs) AS cs, max(n_total) AS n_total,
           sum(abs(cnt * n_total - g * cs) - g * cs) AS num_partial
    FROM withcs GROUP BY 1, 2
), scored AS (
    SELECT cs,
           (num_partial + n_total * cs)
               / (2.0 * cs * n_total) AS tvd,
           CASE WHEN 10 * (num_partial + n_total * cs)
                     <= 2 * cs * n_total THEN '1 t-close (<=0.1)'
                WHEN 5 * (num_partial + n_total * cs)
                     <= 2 * cs * n_total THEN '2 near (<=0.2)'
                ELSE '3 violating (>0.2)' END AS band
    FROM classes
)
SELECT band,
       count(*) AS n_classes,
       sum(cs)::BIGINT AS n_rows,
       round(min(tvd), 6) AS min_tvd,
       round(max(tvd), 6) AS max_tvd
FROM scored
GROUP BY band
ORDER BY band
"""

QUERIES["t_closeness_audit"] = t_closeness_audit
ORACLES["t_closeness_audit"] = T_CLOSENESS_SQL


def numeric_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation across lineitem's numeric columns —
    the feature-selection read a modeling pipeline takes before
    training on warehouse columns. ONE pass computes every moment
    (sums, squares, cross-products) as EXACT decimal arithmetic over
    integer-scaled values (quantity units, price cents, discount/tax
    basis points), so the only float math is the final six-decimal
    ratio on exact inputs — engine-exact by construction and immune to
    summation-order noise. Scale shape: a single map-side-combinable
    aggregate (no shuffle beyond the 1-row combine), then a constant
    6-row explode; the same plan at 100 TB reads each column once."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = {
        "quantity": F.col("l_quantity").cast("long"),
        "price_cents": F.round(F.col("l_extendedprice") * 100).cast("long"),
        "discount_bp": F.round(F.col("l_discount") * 10000).cast("long"),
        "tax_bp": F.round(F.col("l_tax") * 10000).cast("long"),
    }
    proj = li.select(
        *[v.cast(_MOMENT_DEC).alias(k) for k, v in cols.items()]
    )
    return corr_from_moments(proj.agg(*moment_aggs()))


_CORR_NAMES = ("quantity", "price_cents", "discount_bp", "tax_bp")
_MOMENT_DEC = "decimal(38,0)"


def moment_aggs() -> list:
    """The exact moment-vector aggregate (count, sums, squares,
    cross-products over _CORR_NAMES, all in exact decimal) — ONE
    definition shared by the batch query above and the streaming state
    twin's per-batch fold, so the stream==batch monoid argument cannot
    drift."""
    names = list(_CORR_NAMES)
    aggs = [F.count(F.lit(1)).cast(_MOMENT_DEC).alias("n")]
    for a in names:
        aggs.append(F.sum(F.col(a)).alias(f"s_{a}"))
        aggs.append(F.sum(F.col(a) * F.col(a)).alias(f"ss_{a}"))
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"sp_{a}_{b}"))
    return aggs


def corr_from_moments(moments: DataFrame) -> DataFrame:
    """The Pearson readout over the exact moment vector — shared by
    the batch query above and the streaming additive-moment state twin
    (streaming/moments_state.py), whose maintained vector is
    batch-equal by the addition monoid."""
    names = list(_CORR_NAMES)
    pair_structs = []
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            num = F.col("n") * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(
                f"s_{b}"
            )
            var_a = F.col("n") * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(
                f"s_{a}"
            )
            var_b = F.col("n") * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(
                f"s_{b}"
            )
            corr = F.round(
                num.cast("double")
                / F.sqrt(var_a.cast("double") * var_b.cast("double")),
                6,
            )
            pair_structs.append(
                F.struct(
                    F.lit(a).alias("col_x"),
                    F.lit(b).alias("col_y"),
                    corr.alias("pearson_r"),
                )
            )
    return (
        moments.select(
            F.col("n").cast("long").alias("n_rows"),
            F.explode(F.array(*pair_structs)).alias("p"),
        )
        .select("p.col_x", "p.col_y", "p.pearson_r", "n_rows")
        .orderBy("col_x", "col_y")
    )


def _corr_sql() -> str:
    names = ["quantity", "price_cents", "discount_bp", "tax_bp"]
    exprs = {
        "quantity": "CAST(l_quantity AS HUGEINT)",
        "price_cents": "CAST(round(l_extendedprice * 100) AS HUGEINT)",
        "discount_bp": "CAST(round(l_discount * 10000) AS HUGEINT)",
        "tax_bp": "CAST(round(l_tax * 10000) AS HUGEINT)",
    }
    moment_cols = ["COUNT(*)::HUGEINT AS n"]
    for a in names:
        moment_cols.append(f"SUM({exprs[a]}) AS s_{a}")
        moment_cols.append(f"SUM({exprs[a]} * {exprs[a]}) AS ss_{a}")
    pairs = []
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            moment_cols.append(f"SUM({exprs[a]} * {exprs[b]}) AS sp_{a}_{b}")
            pairs.append(
                f"SELECT '{a}' AS col_x, '{b}' AS col_y, "
                f"ROUND(CAST(n * sp_{a}_{b} - s_{a} * s_{b} AS DOUBLE) / "
                f"SQRT(CAST(n * ss_{a} - s_{a} * s_{a} AS DOUBLE) * "
                f"CAST(n * ss_{b} - s_{b} * s_{b} AS DOUBLE)), 6) "
                f"AS pearson_r, CAST(n AS BIGINT) AS n_rows FROM moments"
            )
    return (
        "WITH moments AS (SELECT "
        + ", ".join(moment_cols)
        + " FROM lineitem) "
        + " UNION ALL ".join(pairs)
        + " ORDER BY col_x, col_y"
    )


QUERIES["numeric_correlation_matrix"] = numeric_correlation_matrix
ORACLES["numeric_correlation_matrix"] = _corr_sql()


# --------------------------------------------------------------------------
# Differential-privacy release (Dwork, McSherry, Nissim & Smith,
# "Calibrating Noise to Sensitivity in Private Data Analysis", TCC
# 2006) — the FOURTH privacy gate beside the k-anonymity /
# l-diversity / t-closeness audit triad: those three judge whether a
# grouped VIEW is safe to publish as-is; this one PUBLISHES a
# histogram under an epsilon budget by adding two-sided-geometric
# noise (the discrete Laplace — Ghosh, Roughgarden & Sundararajan,
# "Universally Utility-Maximizing Privacy Mechanisms", STOC 2009,
# the optimal mechanism for sensitivity-1 integer counts).
#
# Engine determinism: the noise draw u for each cell is the shared
# cross-engine scrambled hash of the cell key over a FIXED, PUBLISHED
# seed string — which makes the mechanism reproducible and
# oracle-checkable but NOT actually private (a published seed lets
# anyone subtract the noise). This is the library/testing form; a
# production release swaps the seed literal for a fresh secret drawn
# per release, changing nothing else. The inverse-CDF mapping uses a
# PRECOMPUTED INTEGER threshold table embedded as literals in both
# engines (the _NDCG_DISC convention), so no libm exp/log runs at
# query time and the noise is integer-exact on both sides.
# --------------------------------------------------------------------------

_DP_EPS = 0.5
_DP_K = 20  # clamp support to [-K, K]; tail mass ~ 2*alpha^(K+1)/(1+alpha) ~ 3e-5


def _dp_thresholds() -> list[int]:
    """Integer inverse-CDF thresholds for the two-sided geometric
    distribution P(k) ∝ alpha^|k| with alpha = exp(-eps), over the
    scrambled-hash domain [0, HASH_MOD): noise(u) = -K + |{t : t <= u}|.
    Computed once in Python, embedded as literals in both engines."""
    import math

    from ..operators import text as T

    alpha = math.exp(-_DP_EPS)
    p0 = (1 - alpha) / (1 + alpha)
    cdf, out = 0.0, []
    for j in range(-_DP_K, _DP_K):
        cdf += p0 * alpha ** abs(j)
        out.append(int(cdf * T.HASH_MOD))
    return out


_DP_THRESH = _dp_thresholds()


def dp_release_from_counts(counts: DataFrame) -> DataFrame:
    """The release readout over any (event_type, ym) -> n cell
    relation — shared by the batch query below and the streaming
    maintained-counts twin (``stream_dp_release``), whose additive
    keyed state equals the batch cells for any batch split. Noise is a
    pure function of the CELL KEY (not the count), so the stream and
    the batch release identical noise for identical keys."""
    from ..operators import text as T

    u = T.scrambled_hash(
        F.concat(
            F.lit("dp:"),
            F.col("event_type"),
            F.lit(":"),
            F.col("ym").cast("string"),
        )
    )
    thresh = F.array(*[F.lit(t) for t in _DP_THRESH])
    noise = (
        F.size(F.filter(thresh, lambda t: t <= u)) - F.lit(_DP_K)
    ).cast("long")
    return counts.select(
        "event_type",
        "ym",
        F.col("n").alias("true_count"),
        noise.alias("noise"),
        (F.col("n") + noise).alias("released_count"),
        F.lit(_DP_EPS).alias("epsilon"),
    ).orderBy("event_type", "ym")


def dp_noisy_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-level eps-DP release of the (event_type, month) event
    histogram: disjoint counting cells, sensitivity 1 (adding or
    removing one event changes exactly one cell by 1), so one noisy
    draw per cell exhausts the whole epsilon budget by parallel
    composition. The report keeps ``true_count``/``noise`` beside the
    release as the internal audit grain — the publishable artifact is
    (event_type, ym, released_count, epsilon) only. Negative releases
    are legitimate mechanism outputs (clamping is allowed
    post-processing but loses the unbiasedness the audit checks).

    Plan: one map-side-combinable count aggregate to the cell grain,
    then pure per-row expressions — aggregate-sized at any corpus
    scale."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type",
        (F.year("ts") * 100 + F.month("ts")).cast("long").alias("ym"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return dp_release_from_counts(counts)


def _dp_sql() -> str:
    from .sketches import _scrambled_hash_sql

    thresh = ", ".join(str(t) for t in _DP_THRESH)
    u = _scrambled_hash_sql("'dp:' || event_type || ':' || ym")
    return f"""
WITH cells AS (
    SELECT event_type,
           (year(ts) * 100 + month(ts))::BIGINT AS ym,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
), noised AS (
    SELECT event_type, ym, n,
           (len(list_filter([{thresh}], t -> t <= {u}))
            - {_DP_K})::BIGINT AS noise
    FROM cells
)
SELECT event_type, ym,
       n AS true_count,
       noise,
       (n + noise)::BIGINT AS released_count,
       {_DP_EPS} AS epsilon
FROM noised
ORDER BY event_type, ym
"""


QUERIES["dp_noisy_histogram"] = dp_noisy_histogram
ORACLES["dp_noisy_histogram"] = _dp_sql()
