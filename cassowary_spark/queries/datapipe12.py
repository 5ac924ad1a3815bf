"""Round-6 wave 14 (SURVEY.md §2): Benford first-digit screening and
funnel stage timing — the forensic-accounting and conversion-latency
analytics next to C52's completion funnel.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassowary_spark.exprs import literal_frame, sql_srnd, srnd
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

# ------------------------------------------- C86 Benford digit screen

# log10(1 + 1/d) rendered as fixed literals so BOTH engines compare
# against byte-identical constants (no cross-engine log evaluation).
_BENFORD = {d: round(math.log10(1 + 1 / d), 6) for d in range(1, 10)}


@query(
    "q_benford",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100.0 + 0.5)
                   AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS d
        FROM orders
    ),
    tot AS (SELECT count(*) AS n FROM digits),
    exp AS (
        SELECT * FROM (VALUES
            {", ".join(f"({d}, {_BENFORD[d]})" for d in range(1, 10))}
        ) v(d, benford)
    )
    SELECT e.d AS digit,
           CAST(coalesce(c.n_obs, 0) AS BIGINT) AS n_obs,
           {sql_srnd("coalesce(c.n_obs, 0) * 1.0 / t.n", 6)} AS share,
           e.benford,
           {sql_srnd(
               "power(coalesce(c.n_obs, 0) * 1.0 / t.n - e.benford, 2)"
               " / e.benford", 8)} AS chi2_term
    FROM exp e
    LEFT JOIN (SELECT d, count(*) AS n_obs FROM digits GROUP BY 1) c
           ON c.d = e.d
    CROSS JOIN tot t
    """,
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen (C86): the observed first-digit
    distribution of order totals against Benford's law
    P(d) = log₁₀(1+1/d), with per-digit χ² contributions — the
    forensic-accounting test for fabricated or threshold-gamed
    amounts (C38/C57 flag outlier VALUES; this flags an unnatural
    DISTRIBUTION even when every value looks plausible).

    Determinism: the first digit comes from the integer-cents STRING
    prefix — never floor(log10(x)), whose double rounding misbins
    exact powers of ten; the Benford expectations are fixed 6dp
    literals shared by both engines, so shares and χ² terms are the
    same IEEE op sequence.

    Scale shape: digit extraction is row-local; the census is a
    9-key partial-agg groupBy; expectations live in a 9-row JVM
    literal frame; the total rides a 1-row crossJoin. All
    digits 1-9 are emitted even at zero observations (LEFT JOIN from
    the expectation side) so the χ² battery is always complete.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
        "long"
    )
    digits = o.select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("d")
    )
    counts = digits.groupBy("d").agg(F.count("*").alias("n_obs"))
    tot = digits.agg(F.count("*").alias("n"))
    exp = literal_frame(
        spark, _BENFORD.items(), [("digit", "long"), ("benford", "double")]
    )
    joined = (
        exp.join(
            F.broadcast(counts), exp["digit"] == counts["d"], "left"
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
            "benford",
            "n",
        )
    )
    share = F.col("n_obs") * F.lit(1.0) / F.col("n")
    return joined.select(
        "digit",
        "n_obs",
        srnd(share, 6).alias("share"),
        "benford",
        srnd(
            F.pow(share - F.col("benford"), 2) / F.col("benford"), 8
        ).alias("chi2_term"),
    )


# --------------------------------------------- C87 funnel stage timing


@query(
    "q_funnel_timing",
    oracle="""
    WITH stages AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
        FROM events GROUP BY 1
    ),
    clicks AS (
        SELECT s.user_id, s.t_view,
               min(e.ts) AS t_click
        FROM stages s
        JOIN events e ON e.user_id = s.user_id
                     AND e.event_type = 'click' AND e.ts > s.t_view
        GROUP BY 1, 2
    ),
    buys AS (
        SELECT c.user_id, c.t_view, c.t_click, min(e.ts) AS t_buy
        FROM clicks c
        JOIN events e ON e.user_id = c.user_id
                     AND e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY 1, 2, 3
    ),
    lags AS (
        SELECT 'view_to_click' AS stage,
               date_diff('second', t_view, t_click) AS lag_s
        FROM clicks
        UNION ALL
        SELECT 'click_to_purchase' AS stage,
               date_diff('second', t_click, t_buy) AS lag_s
        FROM buys
    )
    SELECT stage, count(*) AS n_users,
           floor((quantile_cont(lag_s, 0.5)) * 10000.0 + 0.5) / 10000.0
               AS median_lag_s,
           floor((quantile_cont(lag_s, 0.9)) * 10000.0 + 0.5) / 10000.0
               AS p90_lag_s
    FROM lags GROUP BY 1
    """,
)
def q_funnel_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel stage timing (C87): the latency dimension C52's funnel
    lacks — per converting user, first view → first subsequent click →
    first subsequent purchase, then the median/p90 conversion lag per
    stage (the numbers a growth team actually tunes against:
    completion says WHETHER, this says HOW FAST).

    Stage anchors are strictly-ordered conditional mins (each stage
    must follow the previous user's anchor), so a click before any
    view never counts. Lags are integer epoch-second diffs
    (µs/ns-representation-immune); the percentiles are the exact
    interpolated form (Spark `percentile` ≡ DuckDB `quantile_cont`,
    the q_agg_percentile idiom).

    Scale shape: ONE user-keyed aggregation (min view anchor + click/
    purchase timestamp lists, bounded by per-user activity); the
    strictly-ordered conditional mins become row-local
    `array_min(filter(...))` probes, so the event log is shuffled
    once instead of feeding two user-keyed confirm joins; the lag
    rollup has 2 keys. At whale-user scale the per-user arrays are
    bounded by each user's per-type event count (the same bound the
    old confirm joins paid as fanout), and approx_percentile swaps in
    for the exact percentile as documented in B18.
    """
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        ),
        # collect_SET (r15 skew guard): both consumers are
        # array_min(filter(...)) probes, so duplicate timestamps are
        # redundant — dedup bounds a hot user's array at their
        # DISTINCT per-type timestamps and shrinks the user exchange
        # under event-duplication skew.
        F.collect_set(
            F.when(F.col("event_type") == "click", F.col("ts"))
        ).alias("cl"),
        F.collect_set(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("pu"),
    )
    anchors = per.select(
        F.col("t_view"),
        F.expr("array_min(filter(cl, c -> c > t_view))").alias("t_click"),
        "pu",
    ).select(
        "t_view",
        "t_click",
        F.expr("array_min(filter(pu, p -> p > t_click))").alias("t_buy"),
    )
    lag = lambda a, b: (  # noqa: E731
        F.unix_timestamp(b) - F.unix_timestamp(a)
    ).cast("long")
    lags = anchors.select(
        F.explode(
            F.array_compact(
                F.array(
                    F.when(
                        F.col("t_click").isNotNull(),
                        F.struct(
                            F.lit("view_to_click").alias("stage"),
                            lag(F.col("t_view"), F.col("t_click")).alias(
                                "lag_s"
                            ),
                        ),
                    ),
                    F.when(
                        F.col("t_buy").isNotNull(),
                        F.struct(
                            F.lit("click_to_purchase").alias("stage"),
                            lag(F.col("t_click"), F.col("t_buy")).alias(
                                "lag_s"
                            ),
                        ),
                    ),
                )
            )
        ).alias("e")
    ).select("e.stage", "e.lag_s")
    return lags.groupBy("stage").agg(
        F.count("*").alias("n_users"),
        srnd(F.expr("percentile(lag_s, 0.5)"), 4).alias("median_lag_s"),
        srnd(F.expr("percentile(lag_s, 0.9)"), 4).alias("p90_lag_s"),
    )
