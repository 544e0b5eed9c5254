"""Behavioral / product analytics over the event stream.

The reference's event surface is CDC plumbing (jobs 1-4); this module
adds two product-analytics queries a platform team runs on the SAME
event firehose once it lands: Markov removal-effect attribution and
always-valid sequential A/B monitoring (mSPRT). Both are
DataFrame/SQL dataflows with DuckDB oracle twins, and both have
streaming twins in ``queries/pipelines.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.local_frame import local_frame

from ..operators import text as T
from ..sources import load_table


QUERIES = {}

ORACLES = {}


def _scrambled_hash_sql(expr: str) -> str:
    """DuckDB twin of operators.text.scrambled_hash (same fold, same
    constants) — see queries/llm_corpus.py for the shared derivation."""
    return (
        "((list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(string_split({expr}, ''), c -> ascii(c)::BIGINT)), "
        "(acc, ch) -> (acc * 31 + ch) % 1000000007)) "
        f"* {T.MIX_MULT}) % {T.HASH_MOD}"
    )


# "Conversion" = a purchase above this value — keeps the rate interior
# (any-purchase saturates at 100% on this firehose: ~13 purchases/user).
_AB_CONV_VALUE = 150.0


# --------------------------------------------------------------------------
# Markov (removal-effect) attribution — the data-driven counterpart to
# last/first/linear touch rules (Anderl et al.,
# "Mapping the customer journey", 2014; the standard "Markov chain
# attribution" of marketing analytics): build the first-order journey
# chain (start -> touches -> conversion/null), compute the absorption
# probability of converting, then re-compute it with each channel
# REMOVED (its inbound edges redirected to null); a channel's credit
# is its normalized removal effect.
#
# Determinism: the absorption solve is 60 Jacobi iterations in
# FIXED-POINT INTEGER micro-units — x'[s] = (sum_t n(s,t)·x[t]) DIV
# out(s) — so every iterate is exact integer arithmetic, identical in
# driver Python and the DuckDB recursive CTE (float Jacobi would hinge
# on summation order). Scale shape: the only corpus-sized work is the
# per-user lag/lead window (the shared keyed shuffle of every sequence
# feature); the chain itself is |states|^2 counts — collected
# driver-side (dimension-bounded, like the BPE argmax) and solved in
# microseconds for any corpus size.
# --------------------------------------------------------------------------

_MK_ITERS = 60
_MK_MICRO = 1_000_000


def _markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w_u = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ev = ev.withColumn(
        "jid",
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(w_u),
            F.lit(0),
        ),
    )
    w_j = W.partitionBy("user_id", "jid").orderBy("ts", "event_id")
    state = F.when(F.col("event_type") == "purchase", "conv").otherwise(
        F.col("event_type")
    )
    ev2 = ev.select(
        state.alias("st"),
        F.lag(state).over(w_j).alias("prev"),
        F.lead(state).over(w_j).alias("nxt"),
    )
    t1 = ev2.filter(F.col("prev").isNotNull()).select(
        F.col("prev").alias("s"), F.col("st").alias("t")
    )
    t2 = ev2.filter(F.col("prev").isNull()).select(
        F.lit("start").alias("s"), F.col("st").alias("t")
    )
    t3 = ev2.filter(
        F.col("nxt").isNull() & (F.col("st") != "conv")
    ).select(F.col("st").alias("s"), F.lit("null").alias("t"))
    return (
        t1.unionAll(t2)
        .unionAll(t3)
        .groupBy("s", "t")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _absorb_micro(counts: dict, states: set) -> int:
    """Integer fixed-point absorption probability (micro-units) of
    reaching 'conv' from 'start' under 60 Jacobi iterations."""
    out = {}
    for (s, _t), n in counts.items():
        out[s] = out.get(s, 0) + n
    x = {s: (_MK_MICRO if s == "conv" else 0) for s in states}
    for _ in range(_MK_ITERS):
        nxt = {}
        for s in states:
            if s == "conv":
                nxt[s] = _MK_MICRO
            elif s == "null" or out.get(s, 0) == 0:
                nxt[s] = 0
            else:
                nxt[s] = (
                    sum(
                        counts.get((s, t), 0) * x[t]
                        for t in states
                    )
                    // out[s]
                )
        x = nxt
    return x.get("start", 0)


def markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    trans = {
        (r["s"], r["t"]): r["n"]
        for r in _markov_transitions(spark, sf_dir).collect()
    }
    return attribution_from_transitions(spark, trans)


def attribution_from_transitions(
    spark: SparkSession, trans: dict
) -> DataFrame:
    """Removal-effect solve + report over a collected transition-count
    dict — shared by the batch query above and the streaming
    maintained-state twin (``stream_markov_attribution``), whose state
    equals the batch transitions for any batch split (additive counts +
    per-user last-touch closure at readout)."""
    states = {s for s, _ in trans} | {t for _, t in trans}
    channels = sorted(states - {"start", "conv", "null"})
    base = _absorb_micro(trans, states)
    rows = []
    effects = {}
    for c in channels:
        mod = {}
        for (s, t), n in trans.items():
            if s == c:
                continue
            key = (s, "null") if t == c else (s, t)
            mod[key] = mod.get(key, 0) + n
        removed = _absorb_micro(mod, states)
        effects[c] = max(base - removed, 0)
    total_eff = sum(effects.values())
    for c in channels:
        rows.append(
            (
                c,
                base,
                base - effects[c],
                round(effects[c] / base, 6) if base else 0.0,
                round(effects[c] / total_eff, 6) if total_eff else 0.0,
            )
        )
    return local_frame(
        spark,
        rows,
        "channel string, base_conv_micro long, removed_conv_micro long, "
        "removal_effect double, attribution_share double",
    ).orderBy("channel")


def _markov_sql() -> str:
    m = _MK_MICRO
    return f"""
WITH RECURSIVE ev AS (
    SELECT user_id, event_id, ts,
           CASE WHEN event_type = 'purchase' THEN 'conv'
                ELSE event_type END AS st,
           coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1
                             ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS jid
    FROM events
), seq AS (
    SELECT st,
           lag(st) OVER (PARTITION BY user_id, jid
                         ORDER BY ts, event_id) AS prev,
           lead(st) OVER (PARTITION BY user_id, jid
                          ORDER BY ts, event_id) AS nxt
    FROM ev
), trans AS (
    SELECT s, t, count(*) AS n FROM (
        SELECT prev AS s, st AS t FROM seq WHERE prev IS NOT NULL
        UNION ALL
        SELECT 'start' AS s, st AS t FROM seq WHERE prev IS NULL
        UNION ALL
        SELECT st AS s, 'null' AS t FROM seq
        WHERE nxt IS NULL AND st != 'conv'
    ) GROUP BY s, t
), chan AS (
    SELECT DISTINCT s AS c FROM trans
    WHERE s NOT IN ('start', 'conv', 'null')
), scen AS (
    SELECT 'base' AS scenario UNION ALL SELECT c FROM chan
), mod_trans AS (
    SELECT sc.scenario, tr.s,
           CASE WHEN tr.t = sc.scenario THEN 'null' ELSE tr.t END AS t,
           sum(tr.n) AS n
    FROM scen sc, trans tr
    WHERE tr.s != sc.scenario
    GROUP BY 1, 2, 3
), totals AS (
    SELECT scenario, s, sum(n) AS total
    FROM mod_trans GROUP BY scenario, s
), st_rel AS (
    SELECT DISTINCT scenario, state FROM (
        SELECT scenario, s AS state FROM mod_trans
        UNION ALL
        SELECT scenario, t AS state FROM mod_trans
        UNION ALL
        SELECT scenario, 'conv' FROM scen
        UNION ALL
        SELECT scenario, 'null' FROM scen
    )
), steps(it, scenario, state, x) AS (
    SELECT 0, scenario, state,
           CASE WHEN state = 'conv' THEN {m}::BIGINT
                ELSE 0::BIGINT END
    FROM st_rel
    UNION ALL
    SELECT f.it, f.scenario, f.state, f.x FROM (
        SELECT p.it + 1 AS it, p.scenario, p.state,
               CASE WHEN p.state = 'conv' THEN {m}::BIGINT
                    ELSE 0::BIGINT END AS x
        FROM steps p
        WHERE p.it < {_MK_ITERS} AND p.state IN ('conv', 'null')
        UNION ALL
        SELECT p.it + 1 AS it, mt.scenario, mt.s AS state,
               (sum(mt.n * p.x) // greatest(t.total, 1))::BIGINT AS x
        FROM steps p
        JOIN mod_trans mt
          ON mt.scenario = p.scenario AND mt.t = p.state
        JOIN totals t
          ON t.scenario = mt.scenario AND t.s = mt.s
        WHERE p.it < {_MK_ITERS}
        GROUP BY p.it, mt.scenario, mt.s, t.total
    ) f
), finals AS (
    SELECT scenario, x FROM steps
    WHERE it = {_MK_ITERS} AND state = 'start'
), base AS (
    SELECT x AS base_x FROM finals WHERE scenario = 'base'
), eff AS (
    SELECT f.scenario AS channel,
           b.base_x,
           f.x AS removed_raw,
           greatest(b.base_x - f.x, 0) AS effect
    FROM finals f, base b
    WHERE f.scenario != 'base'
)
SELECT channel,
       base_x::BIGINT AS base_conv_micro,
       (base_x - effect)::BIGINT AS removed_conv_micro,
       round(effect::DOUBLE / base_x, 6) AS removal_effect,
       round(effect::DOUBLE / (SELECT sum(effect) FROM eff), 6)
           AS attribution_share
FROM eff
ORDER BY channel
"""


QUERIES["markov_attribution"] = markov_attribution
ORACLES["markov_attribution"] = _markov_sql()


# --------------------------------------------------------------------------
# Always-valid sequential A/B monitoring — mixture SPRT (Robbins 1970;
# Johari, Koomen, Pekelis & Walsh, "Peeking at A/B Tests", KDD 2017).
# A fixed-horizon z-test is only valid at ONE
# pre-committed look; a dashboard that peeks daily inflates its false
# positive rate. The mSPRT statistic is a martingale under H0, so
# p_n = min(1, min_{m<=n} 1/Lambda_m) is a valid p-value at EVERY look.
#
# Lambda_n = sqrt(V/(V+tau)) * exp(tau * d^2 / (2 V (V+tau)))
# with d = difference of conversion rates, V = pooled Bernoulli
# variance of d, tau = the mixture variance over effect sizes.
#
# Determinism: the sequential inputs are CUMULATIVE INTEGER counts
# (running-sum windows in day order — exact), each day's statistic is
# an independent float expression on those integers (no float
# accumulation), and the running min over 1/Lambda is order-exact.
# The verdict cliff compares the ROUNDED p (6 dp) against alpha, so
# both engines land on the same side of it.
# --------------------------------------------------------------------------

_MSPRT_TAU = 0.001
_MSPRT_ALPHA = 0.05


def sequential_ab_msprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    users = (
        events.select("user_id", "event_type", "value", "ts")
        .groupBy("user_id")
        .agg(
            F.min(F.to_date("ts")).alias("day"),
            F.max(
                (
                    (F.col("event_type") == "purchase")
                    & (F.col("value") >= _AB_CONV_VALUE)
                ).cast("int")
            ).alias("converted"),
        )
    )
    return msprt_from_users(users)


def msprt_from_users(users: DataFrame) -> DataFrame:
    """The sequential-monitoring readout over any (user_id, day,
    converted) relation — shared by the batch query above and the
    streaming maintained-state twin (``stream_sequential_ab``), whose
    per-user keyed state (min first-day, max converted — both
    idempotent monoids) equals the batch user reduction for any batch
    split. Variant assignment happens here (deterministic hash), so
    state never stores it.

    Scope of the per-day rows: this is a HINDSIGHT RECONSTRUCTION, not
    a replay of what a live dashboard would have shown. ``converted``
    is each user's eventual outcome (max over ALL their events), folded
    back to their first-exposure cohort day — so the day-d cumulative
    counts include conversions whose events happened after day d. The
    mSPRT p-value sequence is therefore the always-valid statistic of
    the FINAL cohort table evaluated at every cohort cutoff (the usual
    offline audit of a finished experiment), anticipatory relative to a
    live look-by-look monitor, which would additionally gate each
    user's conversion on conversion-event date <= d."""
    from pyspark.sql.window import Window as W

    users = users.withColumn(
        "is_b",
        (
            T.scrambled_hash(
                F.concat(F.lit("ab:"), F.col("user_id").cast("string"))
            )
            % 2
        ).cast("int"),
    )
    daily = users.groupBy("day").agg(
        F.sum(1 - F.col("is_b")).alias("na_d"),
        F.sum((1 - F.col("is_b")) * F.col("converted")).alias("xa_d"),
        F.sum("is_b").alias("nb_d"),
        F.sum(F.col("is_b") * F.col("converted")).alias("xb_d"),
    )
    w_cum = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = daily.select(
        "day",
        F.sum("na_d").over(w_cum).alias("n_a"),
        F.sum("xa_d").over(w_cum).alias("x_a"),
        F.sum("nb_d").over(w_cum).alias("n_b"),
        F.sum("xb_d").over(w_cum).alias("x_b"),
    )
    p_pool = (F.col("x_a") + F.col("x_b")) / (F.col("n_a") + F.col("n_b"))
    v = (
        p_pool
        * (1 - p_pool)
        * (1 / F.col("n_a") + 1 / F.col("n_b"))
    )
    d = F.col("x_a") / F.col("n_a") - F.col("x_b") / F.col("n_b")
    tau = F.lit(_MSPRT_TAU)
    lam = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0) & (v > 0),
        F.sqrt(v / (v + tau))
        * F.exp(tau * d * d / (2 * v * (v + tau))),
    ).otherwise(F.lit(1.0))
    w_min = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    scored = cum.select(
        "day",
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        lam.alias("lam_raw"),
    ).select(
        "day",
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        F.round("lam_raw", 4).alias("msprt_lambda"),
        F.round(
            F.least(F.lit(1.0), F.min(1 / F.col("lam_raw")).over(w_min)),
            6,
        ).alias("p_always_valid"),
    )
    return scored.select(
        "*",
        (F.col("p_always_valid") <= _MSPRT_ALPHA).alias("reject_h0"),
    ).orderBy("day")


def _msprt_sql() -> str:
    from .sketches import _scrambled_hash_sql

    h = _scrambled_hash_sql("'ab:' || user_id::VARCHAR")
    t = _MSPRT_TAU
    return f"""
WITH users AS (
    SELECT user_id,
           min(ts::DATE) AS day,
           max(CASE WHEN event_type = 'purchase'
                     AND value >= {_AB_CONV_VALUE} THEN 1 ELSE 0 END)
               AS converted,
           CASE WHEN ({h}) % 2 = 0 THEN 0 ELSE 1 END AS is_b
    FROM events
    GROUP BY user_id
), daily AS (
    SELECT day,
           sum(1 - is_b) AS na_d,
           sum((1 - is_b) * converted) AS xa_d,
           sum(is_b) AS nb_d,
           sum(is_b * converted) AS xb_d
    FROM users GROUP BY day
), cum AS (
    SELECT day,
           (sum(na_d) OVER w)::BIGINT AS n_a,
           (sum(xa_d) OVER w)::BIGINT AS x_a,
           (sum(nb_d) OVER w)::BIGINT AS n_b,
           (sum(xb_d) OVER w)::BIGINT AS x_b
    FROM daily
    WINDOW w AS (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), lam AS (
    SELECT day, n_a, x_a, n_b, x_b,
           CASE WHEN n_a > 0 AND n_b > 0 AND
                     ((x_a + x_b)::DOUBLE / (n_a + n_b))
                     * (1 - (x_a + x_b)::DOUBLE / (n_a + n_b))
                     * (1.0 / n_a + 1.0 / n_b) > 0
                THEN sqrt(
                        (((x_a + x_b)::DOUBLE / (n_a + n_b))
                         * (1 - (x_a + x_b)::DOUBLE / (n_a + n_b))
                         * (1.0 / n_a + 1.0 / n_b))
                        / (((x_a + x_b)::DOUBLE / (n_a + n_b))
                           * (1 - (x_a + x_b)::DOUBLE / (n_a + n_b))
                           * (1.0 / n_a + 1.0 / n_b) + {t}))
                     * exp({t}
                           * (x_a::DOUBLE / n_a - x_b::DOUBLE / n_b)
                           * (x_a::DOUBLE / n_a - x_b::DOUBLE / n_b)
                           / (2 * (((x_a + x_b)::DOUBLE / (n_a + n_b))
                                   * (1 - (x_a + x_b)::DOUBLE / (n_a + n_b))
                                   * (1.0 / n_a + 1.0 / n_b))
                              * (((x_a + x_b)::DOUBLE / (n_a + n_b))
                                 * (1 - (x_a + x_b)::DOUBLE / (n_a + n_b))
                                 * (1.0 / n_a + 1.0 / n_b) + {t})))
                ELSE 1.0 END AS lam_raw
    FROM cum
)
SELECT day, n_a, x_a, n_b, x_b,
       round(lam_raw, 4) AS msprt_lambda,
       round(least(1.0, min(1 / lam_raw) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
           AS p_always_valid,
       round(least(1.0, min(1 / lam_raw) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
           <= {_MSPRT_ALPHA} AS reject_h0
FROM lam
ORDER BY day
"""


QUERIES["sequential_ab_msprt"] = sequential_ab_msprt
ORACLES["sequential_ab_msprt"] = _msprt_sql()
