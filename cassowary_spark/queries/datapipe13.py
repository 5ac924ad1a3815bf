"""Round-6 wave 15 (SURVEY.md §2): model-evaluation and distribution
analytics — ROC/AUC, calibration, concentration (Gini), revenue
bridge (price/volume/mix), actuarial life table, CUSUM changepoint,
grid-bucketed spatial self-join, two-sample KS drift, readability.

Every query follows the integer-first determinism discipline: ranks,
counts, cents, squared distances and scaled CUSUM/KS statistics stay
BIGINT end-to-end; the only float ops are final divisions performed in
the same IEEE order on both engines and srnd-quantized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassowary_spark.exprs import literal_frame, sql_srnd, srnd
from cassowary_spark.operators.ranks import doubled_midranks
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

# Shared synthetic classifier for C99/C100: a deterministic score in
# [0, 1300) built from an md5 hash of the order key plus a label-
# dependent shift, labelled by order status. The hash term makes the
# score imperfectly separable (AUC strictly between 0.5 and 1.0), the
# +300 shift makes it better than chance — exactly the fixture shape a
# metrics engine must get right. Integer score units (1/1300ths) keep
# every intermediate exact in both engines.
_SQL_SCORED = """
    scored AS (
        SELECT (CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
                     AS BIGINT) % 1000
                + 300 * CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                   AS s,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
    )
"""


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    y = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    return o.select((h % 1000 + 300 * y).alias("s"), y.alias("y"))


# ------------------------------------------------- C99 ROC / AUC

@query(
    "q_roc_auc",
    oracle=f"""
    WITH {_SQL_SCORED},
    by_s AS (
        SELECT s, sum(y) AS np, count(*) - sum(y) AS nn
        FROM scored GROUP BY 1
    ),
    c AS (
        SELECT s, np, nn,
               coalesce(sum(nn) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_nn
        FROM by_s
    ),
    agg AS (
        SELECT CAST(sum(np) AS BIGINT) AS n_pos,
               CAST(sum(nn) AS BIGINT) AS n_neg,
               CAST(sum(np * (2 * cum_nn + nn)) AS BIGINT) AS u2,
               CAST(sum(CASE WHEN s >= 650 THEN np ELSE 0 END) AS BIGINT)
                   AS tp,
               CAST(sum(CASE WHEN s >= 650 THEN nn ELSE 0 END) AS BIGINT)
                   AS fp
        FROM c
    )
    SELECT n_pos, n_neg, u2,
           {sql_srnd("u2 / nullif(2.0 * n_pos * n_neg, 0.0)", 6)} AS auc,
           tp, fp,
           {sql_srnd("tp * 1.0 / nullif(tp + fp, 0)", 6)} AS precision_r,
           {sql_srnd("tp * 1.0 / nullif(n_pos, 0)", 6)} AS recall_r
    FROM agg
    """,
)
def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC/AUC classifier evaluation (C99): AUC via the tie-corrected
    Mann-Whitney rank-sum over a deterministic synthetic scorer, plus
    precision/recall at a fixed operating threshold — the metric layer
    every quality-classifier pipeline (C38's gauntlet, C57's outlier
    screens) reports against.

    Determinism: scores are INTEGER units (1/1300ths); the doubled
    U statistic u2 = Σ np·(2·cum_nn + nn) counts (pos,neg) pairs with
    ties counted once — pure BIGINT until the single final division.
    No per-row rank: grouping by distinct score makes tie handling
    exact, not average-rank-approximate.

    Scale shape: one score-keyed partial agg (≤1300 groups by
    construction — quantized scores bound the state), then an ordered
    cumulative window over those ≤1300 rows (trivially single
    partition), then a 1-row reduce. The raw table is scanned once and
    never sorted. At 100 TB the same shape holds because the score
    quantization, not the corpus, fixes the window's input size.
    """
    by_s = _scored(spark, sf_dir).groupBy("s").agg(
        F.sum("y").alias("np"),
        (F.count("*") - F.sum("y")).alias("nn"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    c = by_s.withColumn(
        "cum_nn", F.coalesce(F.sum("nn").over(w), F.lit(0))
    )
    agg = c.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.sum(F.col("np") * (2 * F.col("cum_nn") + F.col("nn")))
        .cast("long")
        .alias("u2"),
        F.sum(F.when(F.col("s") >= 650, F.col("np")).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(F.col("s") >= 650, F.col("nn")).otherwise(0))
        .cast("long")
        .alias("fp"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "u2",
        srnd(
            F.col("u2")
            / F.nullif(2.0 * F.col("n_pos") * F.col("n_neg"), F.lit(0.0)),
            6,
        ).alias("auc"),
        "tp",
        "fp",
        srnd(
            F.col("tp") * 1.0
            / F.nullif(F.col("tp") + F.col("fp"), F.lit(0)),
            6,
        ).alias("precision_r"),
        srnd(
            F.col("tp") * 1.0 / F.nullif(F.col("n_pos"), F.lit(0)), 6
        ).alias("recall_r"),
    )


# ------------------------------------------- C100 calibration bins

@query(
    "q_calibration_bins",
    oracle=f"""
    WITH {_SQL_SCORED},
    b AS (
        SELECT CAST(floor(s / 130.0) AS BIGINT) AS bin,
               s, y, (s - 1300 * y) * (s - 1300 * y) AS sq
        FROM scored
    ),
    per AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(y) AS BIGINT) AS n_pos,
               CAST(sum(s) AS BIGINT) AS sum_s,
               CAST(sum(sq) AS BIGINT) AS sum_sq
        FROM b GROUP BY 1
    )
    SELECT bin, n_rows, n_pos,
           {sql_srnd("sum_s / (1300.0 * n_rows)", 6)} AS mean_score,
           {sql_srnd("n_pos * 1.0 / n_rows", 6)} AS frac_pos,
           {sql_srnd("sum_sq / (1690000.0 * n_rows)", 6)} AS brier
    FROM per
    """,
)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability bins (C100): decile-binned predicted
    probability vs observed positive rate plus the per-bin Brier
    score — the diagram that says whether C99's scorer is honest, not
    just discriminative.

    Determinism: per-row squared error (s - 1300·y)² is INTEGER (score
    units²), so the Brier numerator is an exact BIGINT sum in any
    aggregation order; mean score and positive rate divide exact
    integer sums once at the end.

    Scale shape: entirely one 10-key partial-agg groupBy — binning is
    row-local, no window, no join, one shuffle of 10×4 longs per
    partition. The flattest possible plan at any corpus size.
    """
    b = _scored(spark, sf_dir).select(
        F.floor(F.col("s") / 130.0).cast("long").alias("bin"),
        "s",
        "y",
        ((F.col("s") - 1300 * F.col("y"))
         * (F.col("s") - 1300 * F.col("y"))).alias("sq"),
    )
    per = b.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum("s").cast("long").alias("sum_s"),
        F.sum("sq").cast("long").alias("sum_sq"),
    )
    return per.select(
        "bin",
        "n_rows",
        "n_pos",
        srnd(F.col("sum_s") / (1300.0 * F.col("n_rows")), 6).alias(
            "mean_score"
        ),
        srnd(F.col("n_pos") * 1.0 / F.col("n_rows"), 6).alias("frac_pos"),
        srnd(F.col("sum_sq") / (1690000.0 * F.col("n_rows")), 6).alias(
            "brier"
        ),
    )


# -------------------------------------- C101 Gini concentration

@query(
    "q_gini_concentration",
    oracle=f"""
    WITH rev AS (
        SELECT o_custkey,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1
    ),
    r AS (
        SELECT c.c_mktsegment AS segment, rev.o_custkey AS custkey,
               rev_cents
        FROM rev JOIN customer c ON c.c_custkey = rev.o_custkey
    ),
    d AS (
        SELECT segment, rev_cents,
               row_number() OVER (PARTITION BY segment
                                  ORDER BY rev_cents, custkey) AS rn,
               count(*) OVER (PARTITION BY segment) AS n_seg
        FROM r
    ),
    per AS (
        SELECT segment,
               CAST(count(*) AS BIGINT) AS n_cust,
               CAST(sum(rev_cents) AS BIGINT) AS total_cents,
               CAST(sum(rn * rev_cents) AS BIGINT) AS s_weighted,
               CAST(sum(CASE WHEN rn > n_seg - n_seg // 10
                             THEN rev_cents ELSE 0 END) AS BIGINT)
                   AS top_decile_cents
        FROM d GROUP BY 1
    )
    SELECT segment, n_cust, total_cents,
           {sql_srnd(
               "(2.0 * s_weighted - (n_cust + 1.0) * total_cents)"
               " / (n_cust * 1.0 * total_cents)", 6)} AS gini,
           {sql_srnd("top_decile_cents * 1.0 / total_cents", 6)}
               AS top_decile_share
    FROM per
    """,
)
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (C101): per market segment, the Gini
    coefficient of customer revenue (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx) over
    ascending-sorted revenues, plus the top-decile revenue share —
    the whale-curve statistic behind C6/C8's sampling-bias checks.

    Determinism: revenues are integer cents; Σi·xᵢ is invariant
    under permutations of tied revenues (the oracle's row_number
    tiebreak on custkey cannot change it), so it is computed EXACTLY
    from per-(segment, rev) counts: a tie block of t rows at value v
    starting at min_rank m contributes v·(t·m + t(t−1)/2) = v·t·u2/2
    with u2 the doubled midrank (operators/ranks). The top-decile
    sum is equally tie-invariant: every row in a block shares v, so
    only the COUNT above the cutoff matters — min(t, cum − cutoff)
    clamped at 0. Both engines convert the same exact BIGINTs to
    double for the two final divisions ((n+1.0)·T stays in double to
    dodge int64 overflow at extreme scale).

    Scale shape (r10): one custkey partial agg, one custkey
    equi-join (both sides key-partitioned — one hash family), then a
    (segment, rev)-cell collapse BEFORE the window — the per-segment
    running sum ranks distinct revenue values, not customers, so the
    whale segment costs its distinct-value count, never a
    per-customer single reducer. The former per-customer row_number
    window is gone (r9 verdict item 6).
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
    rev = o.groupBy("o_custkey").agg(F.sum(cents).alias("rev_cents"))
    r = rev.join(c, rev["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_custkey").alias("custkey"),
        "rev_cents",
    )
    cells = doubled_midranks(
        r.groupBy("segment", "rev_cents").agg(
            F.count("*").cast("long").alias("cnt")
        ),
        "rev_cents",
        "cnt",
        group_cols=("segment",),
        cum_col="cum",
    ).withColumn(
        "n_seg",
        F.sum("cnt").over(Window.partitionBy("segment")).cast("long"),
    )
    # rows of the tie block above the decile cutoff: the block spans
    # ranks (cum − cnt, cum], so min(cnt, cum − cutoff) clamped at 0
    above = F.greatest(
        F.lit(0),
        F.least(
            F.col("cnt"),
            F.col("cum") - (F.col("n_seg") - F.expr("n_seg div 10")),
        ),
    )
    per = cells.groupBy("segment").agg(
        F.sum("cnt").cast("long").alias("n_cust"),
        F.sum(F.col("cnt") * F.col("rev_cents")).cast("long").alias(
            "total_cents"
        ),
        # Σ rn·x over a tie block = v·t·u2/2 (t·u2 is always even);
        # halve per cell BEFORE summing — integer div is exact and
        # the accumulator keeps the row_number form's full headroom
        F.expr("sum(rev_cents * ((cnt * u2) div 2))")
        .cast("long")
        .alias("s_weighted"),
        F.sum(above * F.col("rev_cents")).cast("long").alias(
            "top_decile_cents"
        ),
    )
    return per.select(
        "segment",
        "n_cust",
        "total_cents",
        srnd(
            (2.0 * F.col("s_weighted")
             - (F.col("n_cust") + 1.0) * F.col("total_cents"))
            / (F.col("n_cust") * 1.0 * F.col("total_cents")),
            6,
        ).alias("gini"),
        srnd(
            F.col("top_decile_cents") * 1.0 / F.col("total_cents"), 6
        ).alias("top_decile_share"),
    )


# ----------------------------------- C102 price/volume/mix bridge

@query(
    "q_price_volume_mix",
    oracle=f"""
    WITH base AS (
        SELECT l_returnflag,
               CAST(year(l_shipdate) AS INTEGER) AS yr,
               CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT) AS qty_c,
               CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                   AS rev_c
        FROM lineitem
        WHERE year(l_shipdate) IN (1996, 1997)
    ),
    per AS (
        SELECT l_returnflag AS returnflag,
               CAST(sum(CASE WHEN yr = 1996 THEN qty_c ELSE 0 END)
                    AS BIGINT) AS qty_a,
               CAST(sum(CASE WHEN yr = 1997 THEN qty_c ELSE 0 END)
                    AS BIGINT) AS qty_b,
               CAST(sum(CASE WHEN yr = 1996 THEN rev_c ELSE 0 END)
                    AS BIGINT) AS rev_a_cents,
               CAST(sum(CASE WHEN yr = 1997 THEN rev_c ELSE 0 END)
                    AS BIGINT) AS rev_b_cents
        FROM base GROUP BY 1
    )
    SELECT returnflag, qty_a, qty_b, rev_a_cents, rev_b_cents,
           CAST(rev_b_cents - rev_a_cents AS BIGINT) AS delta_cents,
           {sql_srnd(
               "(rev_b_cents * 100.0 / qty_b - rev_a_cents * 100.0 / qty_a)"
               " * qty_a / 100.0", 2)} AS price_eff_cents,
           {sql_srnd(
               "(qty_b - qty_a) / 100.0 * (rev_a_cents * 100.0 / qty_a)",
               2)} AS vol_eff_cents,
           {sql_srnd(
               "(rev_b_cents * 100.0 / qty_b - rev_a_cents * 100.0 / qty_a)"
               " * (qty_b - qty_a) / 100.0", 2)} AS mix_eff_cents
    FROM per
    """,
)
def q_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume/mix revenue bridge (C102): per return flag, the
    1996→1997 revenue delta decomposed into a price effect
    (Δprice·qty_a), a volume effect (Δqty·price_a) and the
    interaction term — the FP&A waterfall that explains WHY revenue
    moved, where C81's period-movers only says THAT it moved.

    Determinism: quantities in centi-units and revenues in cents are
    exact BIGINT conditional sums (one shuffle, any order); the
    per-unit prices and the three effects are computed with the same
    literal op sequence on both engines and srnd-quantized to whole
    hundredths of a cent. delta_cents is pure integer, so
    price+vol+mix ≈ delta is auditable to rounding.

    Scale shape: one filtered scan, one 3-key conditional-sum groupBy
    (partial aggs push the year CASE map-side), zero joins, zero
    windows. The year filter reaches the parquet scan as a pushed
    predicate on l_shipdate.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate").isin(1996, 1997)
    )
    qty_c = F.floor(F.col("l_quantity") * 100.0 + 0.5).cast("long")
    rev_c = F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long")
    yr = F.year("l_shipdate")
    per = li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.sum(F.when(yr == 1996, qty_c).otherwise(0))
        .cast("long")
        .alias("qty_a"),
        F.sum(F.when(yr == 1997, qty_c).otherwise(0))
        .cast("long")
        .alias("qty_b"),
        F.sum(F.when(yr == 1996, rev_c).otherwise(0))
        .cast("long")
        .alias("rev_a_cents"),
        F.sum(F.when(yr == 1997, rev_c).otherwise(0))
        .cast("long")
        .alias("rev_b_cents"),
    )
    pa = F.col("rev_a_cents") * 100.0 / F.col("qty_a")
    pb = F.col("rev_b_cents") * 100.0 / F.col("qty_b")
    return per.select(
        "returnflag",
        "qty_a",
        "qty_b",
        "rev_a_cents",
        "rev_b_cents",
        (F.col("rev_b_cents") - F.col("rev_a_cents"))
        .cast("long")
        .alias("delta_cents"),
        srnd((pb - pa) * F.col("qty_a") / 100.0, 2).alias(
            "price_eff_cents"
        ),
        srnd(
            (F.col("qty_b") - F.col("qty_a")) / 100.0 * pa, 2
        ).alias("vol_eff_cents"),
        srnd(
            (pb - pa) * (F.col("qty_b") - F.col("qty_a")) / 100.0, 2
        ).alias("mix_eff_cents"),
    )


# --------------------------------------- C103 actuarial life table

_HORIZONS = (30, 60, 90, 180, 365, 730)


@query(
    "q_life_table",
    oracle=f"""
    WITH pc AS (
        SELECT o_custkey, min(o_orderdate) AS f, max(o_orderdate) AS l
        FROM orders GROUP BY 1
    ),
    cz AS (SELECT max(l) AS censor FROM pc),
    m AS (
        SELECT date_diff('day', f, censor) AS w,
               date_diff('day', f, l) AS lt
        FROM pc CROSS JOIN cz
    ),
    h AS (SELECT * FROM (VALUES {", ".join(f"({h})" for h in _HORIZONS)})
          v(horizon_days)),
    t AS (
        SELECT horizon_days,
               CAST(count(CASE WHEN w >= horizon_days THEN 1 END)
                    AS BIGINT) AS at_risk,
               CAST(count(CASE WHEN w >= horizon_days
                               AND lt >= horizon_days THEN 1 END)
                    AS BIGINT) AS survived
        FROM m CROSS JOIN h GROUP BY 1
    )
    SELECT horizon_days, at_risk, survived,
           {sql_srnd("survived * 1.0 / nullif(at_risk, 0)", 6)}
               AS survival_rate
    FROM t
    """,
)
def q_life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Censoring-aware life table (C103): customer survival at fixed
    horizons. A customer is "alive at h" if their first→last order
    span reaches h days; they only enter the at-risk set for horizon
    h when their observation window (first order → global censor
    date) is at least h — the actuarial correction that keeps
    recently-acquired customers from being counted as churned, which
    C51's naive retention matrix gets wrong by construction.

    Determinism: day spans are integer date diffs against midnight
    timestamps; at-risk and survived are conditional counts; the one
    division per horizon is nullif-guarded and srnd-quantized.

    Scale shape: one custkey partial agg; the censor date is a 1-row
    broadcast; the six horizons are evaluated as conditional counts
    in a single 1-row reduce (no per-horizon fanout of the customer
    frame) and unpivoted driver-free via stack(). Cost is one scan +
    one custkey shuffle regardless of horizon count.
    """
    o = load_table(spark, sf_dir, "orders")
    pc = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("f"), F.max("o_orderdate").alias("l")
    )
    cz = pc.agg(F.max("l").alias("censor"))
    m = pc.crossJoin(F.broadcast(cz)).select(
        F.datediff("censor", "f").alias("w"),
        F.datediff("l", "f").alias("lt"),
    )
    aggs = []
    for h in _HORIZONS:
        aggs.append(
            F.sum(F.when(F.col("w") >= h, 1).otherwise(0))
            .cast("long")
            .alias(f"ar_{h}")
        )
        aggs.append(
            F.sum(
                F.when((F.col("w") >= h) & (F.col("lt") >= h), 1).otherwise(0)
            )
            .cast("long")
            .alias(f"sv_{h}")
        )
    one = m.agg(*aggs)
    stack = ", ".join(f"{h}, ar_{h}, sv_{h}" for h in _HORIZONS)
    t = one.select(
        F.expr(
            f"stack({len(_HORIZONS)}, {stack})"
            " as (horizon_days, at_risk, survived)"
        )
    )
    return t.select(
        F.col("horizon_days").cast("int").alias("horizon_days"),
        "at_risk",
        "survived",
        srnd(
            F.col("survived") * 1.0 / F.nullif(F.col("at_risk"), F.lit(0)), 6
        ).alias("survival_rate"),
    )


# --------------------------------------- C104 CUSUM changepoint

@query(
    "q_cusum_changepoint",
    oracle=f"""
    WITH daily AS (
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(rev_cents) AS BIGINT) AS t,
               CAST(count(*) AS BIGINT) AS nd
        FROM daily
    ),
    c AS (
        SELECT day, rev_cents,
               CAST(sum(rev_cents * nd - t) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cusum_scaled,
               nd, t
        FROM daily CROSS JOIN tot
    )
    SELECT day, rev_cents, cusum_scaled,
           {sql_srnd("cusum_scaled / (1.0 * nd * t)", 8)} AS drift_r
    FROM c
    ORDER BY abs(cusum_scaled) DESC, day ASC
    LIMIT 5
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint screen (C104): cumulative sum of mean-centered
    daily revenue; the |CUSUM| peak marks the most likely level-shift
    day (the binary-segmentation pivot). Emits the top-5 candidate
    days with their scaled statistic — the trend-break detector that
    complements C80's seasonal baseline (which assumes NO break).

    Determinism: instead of subtracting the float mean T/n per day,
    every deviation is scaled by n: n·xₜ − T is BIGINT-exact, so the
    running sum is exact in any engine and the ORDER BY
    (|cusum|, day) cut is unambiguous. One srnd-quantized
    normalization division at the end.

    Scale shape: the raw scan collapses into a date-keyed partial agg
    (calendar cardinality, ~2.4k rows for 6.5 years — bounded by time,
    not data volume); the totals ride a 1-row broadcast crossJoin; the
    ordered cumulative window and final top-5 run over those same
    calendar-bounded rows. 100× the data changes only the first
    map-side combine.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
    daily = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(F.sum(cents).alias("rev_cents"))
    tot = daily.agg(
        F.sum("rev_cents").cast("long").alias("t"),
        F.count("*").cast("long").alias("nd"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = daily.crossJoin(F.broadcast(tot)).withColumn(
        "cusum_scaled",
        F.sum(F.col("rev_cents") * F.col("nd") - F.col("t"))
        .over(w)
        .cast("long"),
    )
    return (
        c.select(
            "day",
            "rev_cents",
            "cusum_scaled",
            srnd(
                F.col("cusum_scaled") / (1.0 * F.col("nd") * F.col("t")), 8
            ).alias("drift_r"),
        )
        .orderBy(F.abs(F.col("cusum_scaled")).desc(), F.asc("day"))
        .limit(5)
    )


# ------------------------------------ C105 grid spatial self-join

@query(
    "q_spatial_grid_join",
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey AS id,
               CAST('0x' || substr(md5('x' || CAST(c_custkey AS VARCHAR)),
                    1, 8) AS BIGINT) % 1000 AS x,
               CAST('0x' || substr(md5('y' || CAST(c_custkey AS VARCHAR)),
                    1, 8) AS BIGINT) % 1000 AS y
        FROM customer
    ),
    p2 AS (SELECT id, x, y, x // 25 AS cx, y // 25 AS cy FROM pts),
    offs AS (
        SELECT a.dx, b.dy
        FROM (VALUES (-1), (0), (1)) a(dx)
        CROSS JOIN (VALUES (-1), (0), (1)) b(dy)
    ),
    pr AS (
        SELECT p.id, p.x, p.y, p.cx, p.cy,
               p.cx + o.dx AS pcx, p.cy + o.dy AS pcy
        FROM p2 p CROSS JOIN offs o
    ),
    pairs AS (
        SELECT a.cx AS acx, a.cy AS acy,
               (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
                   AS dist2
        FROM pr a JOIN p2 b
          ON b.cx = a.pcx AND b.cy = a.pcy AND a.id < b.id
        WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) < 100
    )
    SELECT acx AS cell_x, acy AS cell_y,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(dist2) AS BIGINT) AS min_dist2,
           {sql_srnd("sum(dist2) * 1.0 / count(*)", 4)} AS avg_dist2
    FROM pairs GROUP BY 1, 2
    """,
)
def q_spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial distance self-join (C105): points on a
    1000×1000 integer plane (deterministic md5-derived coordinates),
    partitioned into 25-unit grid cells; near-pairs (squared distance
    < 100, i.e. radius 10 ≤ cell size) are found by joining each
    point's 3×3 cell neighborhood against cell-bucketed points — the
    canonical distributed spatial join (candidate generation by cell
    equi-join, exact distance refine), never an all-pairs product.

    Determinism: coordinates, cells and squared distances are all
    INTEGER (no sqrt, no trig); each qualifying pair is produced
    exactly once (the probing side carries id<, so only the lower-id
    endpoint's 9-cell probe can reach the partner's home cell);
    grouping is by the probe point's own cell.

    Scale shape: a 9× explode of the slim (id,x,y,cell) frame, then a
    composite-cell equi-join — shuffle hash join keyed on cell, cost
    ∝ points × local density, not points². Cell size is the knob that
    caps per-bucket fanout; skewed (dense) cells shard under AQE skew
    handling like any hot join key, or by salting the cell id.
    """
    c = load_table(spark, sf_dir, "customer")

    def _coord(prefix: str) -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(prefix), F.col("c_custkey").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 1000
        )

    pts = c.select(
        F.col("c_custkey").alias("id"),
        _coord("x").alias("x"),
        _coord("y").alias("y"),
    ).select(
        "id",
        "x",
        "y",
        F.expr("x div 25").alias("cx"),
        F.expr("y div 25").alias("cy"),
    )
    offs = literal_frame(
        spark,
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)],
        [("dx", "long"), ("dy", "long")],
    )
    pr = pts.crossJoin(F.broadcast(offs)).select(
        F.col("id").alias("a_id"),
        F.col("x").alias("a_x"),
        F.col("y").alias("a_y"),
        F.col("cx").alias("acx"),
        F.col("cy").alias("acy"),
        (F.col("cx") + F.col("dx")).alias("pcx"),
        (F.col("cy") + F.col("dy")).alias("pcy"),
    )
    b = pts.select(
        F.col("id").alias("b_id"),
        F.col("x").alias("b_x"),
        F.col("y").alias("b_y"),
        F.col("cx").alias("bcx"),
        F.col("cy").alias("bcy"),
    )
    dist2 = (F.col("a_x") - F.col("b_x")) * (F.col("a_x") - F.col("b_x")) + (
        F.col("a_y") - F.col("b_y")
    ) * (F.col("a_y") - F.col("b_y"))
    pairs = (
        pr.join(
            b,
            (F.col("pcx") == F.col("bcx"))
            & (F.col("pcy") == F.col("bcy"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .withColumn("dist2", dist2)
        .filter(F.col("dist2") < 100)
    )
    return pairs.groupBy(
        F.col("acx").alias("cell_x"), F.col("acy").alias("cell_y")
    ).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.min("dist2").cast("long").alias("min_dist2"),
        srnd(F.sum("dist2") * 1.0 / F.count("*"), 4).alias("avg_dist2"),
    )


# ------------------------------------------ C106 two-sample KS drift

@query(
    "q_ks_drift",
    oracle=f"""
    WITH j AS (
        SELECT c.c_mktsegment AS seg,
               CAST(floor(o.o_totalprice / 200.0) AS BIGINT) AS band
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
    ),
    by_band AS (
        SELECT band,
               sum(CASE WHEN seg = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS na,
               sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS nb
        FROM j GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b
        FROM by_band
    ),
    c AS (
        SELECT band,
               CAST(sum(na) OVER (ORDER BY band
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_a,
               CAST(sum(nb) OVER (ORDER BY band
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_b,
               n_a, n_b
        FROM by_band CROSS JOIN tot
    ),
    d AS (
        SELECT band, abs(cum_a * n_b - cum_b * n_a) AS d_scaled, n_a, n_b
        FROM c
    ),
    mx AS (SELECT CAST(max(d_scaled) AS BIGINT) AS ks_scaled FROM d)
    SELECT CAST(max(n_a) AS BIGINT) AS n_a,
           CAST(max(n_b) AS BIGINT) AS n_b,
           max(ks_scaled) AS ks_scaled,
           {sql_srnd("max(ks_scaled) / (1.0 * max(n_a) * max(n_b))", 6)}
               AS ks_stat,
           CAST(min(CASE WHEN d_scaled = ks_scaled THEN band END)
                AS BIGINT) AS band_at_max
    FROM d CROSS JOIN mx
    """,
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test (C106): the KS distance
    between the order-value distributions of two customer segments,
    computed over $200 value bands — sup|F₁−F₂| plus the band where
    the gap peaks. This is the distribution-shift gate a training-mix
    pipeline runs between data snapshots; C44's drift screen compares
    moments, this compares whole CDFs.

    Determinism: the statistic is maximized in CROSS-MULTIPLIED form
    |cum₁·n₂ − cum₂·n₁| — pure BIGINT, no per-band division — and
    only the final sup is divided (once, srnd-quantized). The argmax
    band takes min() on ties. Banding makes the CDF support bounded
    AND engine-identical (floor of an exact double divide).

    Scale shape: segment filter + custkey equi-join (dimension side
    prunable), then a band-keyed partial agg whose cardinality is
    fixed by the banding (~2.5k), then windows over those bands only.
    The binned KS trades sup over every distinct value for a bounded
    ordered pass — the standard large-scale KS formulation.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .filter(F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.floor(F.col("o_totalprice") / 200.0).cast("long").alias(
                "band"
            ),
        )
    )
    by_band = j.groupBy("band").agg(
        F.sum(F.when(F.col("seg") == "AUTOMOBILE", 1).otherwise(0)).alias(
            "na"
        ),
        F.sum(F.when(F.col("seg") == "BUILDING", 1).otherwise(0)).alias(
            "nb"
        ),
    )
    tot = by_band.agg(
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
    )
    w = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    d = (
        by_band.crossJoin(F.broadcast(tot))
        .withColumn("cum_a", F.sum("na").over(w).cast("long"))
        .withColumn("cum_b", F.sum("nb").over(w).cast("long"))
        .withColumn(
            "d_scaled",
            F.abs(
                F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
            ),
        )
    )
    mx = d.agg(F.max("d_scaled").cast("long").alias("ks_scaled"))
    return d.crossJoin(F.broadcast(mx)).agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.max("ks_scaled").alias("ks_scaled"),
        srnd(
            F.max("ks_scaled") / (1.0 * F.max("n_a") * F.max("n_b")), 6
        ).alias("ks_stat"),
        F.min(
            F.when(F.col("d_scaled") == F.col("ks_scaled"), F.col("band"))
        )
        .cast("long")
        .alias("band_at_max"),
    )


# --------------------------------------------- C107 readability

@query(
    "q_readability",
    oracle=f"""
    WITH m AS (
        SELECT greatest(len(regexp_extract_all(text, '\\S+')), 1) AS words,
               greatest(len(regexp_extract_all(text, '[.!?]')), 1) AS sents,
               greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')),
                        1) AS syls
        FROM documents
    ),
    sc AS (
        SELECT CAST(floor((206.835 - 1.015 * (words * 1.0 / sents)
                           - 84.6 * (syls * 1.0 / words)) * 10000.0 + 0.5)
                    AS BIGINT) AS fm
        FROM m
    ),
    b AS (SELECT CAST(floor(fm / 100000.0) AS BIGINT) AS band, fm FROM sc)
    SELECT band, CAST(count(*) AS BIGINT) AS n_docs,
           {sql_srnd("sum(fm) / (10000.0 * count(*))", 4)} AS avg_score
    FROM b GROUP BY 1
    """,
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability scoring (C107): a Flesch-reading-ease-style score
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/word) with
    vowel-group syllable estimation, banded into 10-point histogram
    bins — the document-complexity dimension C4's quality score
    (length/punct ratios) doesn't capture, used to stratify training
    mixes by reading level.

    Determinism: token/sentence/syllable counts are regexp_count
    integers (simple character-class patterns that RE2 and Java regex
    agree on); the score is quantized to integer ten-thousandths
    (floor-then-cast) BEFORE banding and summing, so the per-band
    float sum is replaced by an exact BIGINT sum.

    Scale shape: three row-local regexp passes over the text column
    (JVM codegen, zero shuffle) followed by one band-keyed partial-agg
    groupBy of two longs. Text never shuffles; only (band, fm) pairs
    do.
    """
    d = load_table(spark, sf_dir, "documents")
    m = d.select(
        F.greatest(
            F.regexp_count(F.col("text"), F.lit(r"\S+")), F.lit(1)
        ).alias("words"),
        F.greatest(
            F.regexp_count(F.col("text"), F.lit("[.!?]")), F.lit(1)
        ).alias("sents"),
        F.greatest(
            F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+")),
            F.lit(1),
        ).alias("syls"),
    )
    fm = F.floor(
        (
            206.835
            - 1.015 * (F.col("words") * 1.0 / F.col("sents"))
            - 84.6 * (F.col("syls") * 1.0 / F.col("words"))
        )
        * 10000.0
        + 0.5
    ).cast("long")
    b = m.select(fm.alias("fm")).select(
        F.floor(F.col("fm") / 100000.0).cast("long").alias("band"), "fm"
    )
    return b.groupBy("band").agg(
        F.count("*").cast("long").alias("n_docs"),
        srnd(F.sum("fm") / (10000.0 * F.count("*")), 4).alias("avg_score"),
    )
