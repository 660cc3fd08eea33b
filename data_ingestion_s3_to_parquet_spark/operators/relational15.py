"""Dedup observability and exact rank/trend
statistics.

- ``dedup_cluster_stats``  duplicate-cluster size histogram over the
                           connected-components output — the
                           observability view a dedup rollout actually
                           tunes against (how many clusters of each
                           size, how many rows a keep-one policy would
                           drop, what share of the corpus each size
                           class holds). SURVEY §13 #4's named
                           candidate.
- ``corr_spearman``        tie-aware Spearman rank correlation (per
                           customer segment: order count vs total
                           spend) — the robust sibling of
                           ``corr_pearson``: rank-based, so monotone
                           transformations and outliers don't move it.
- ``trend_linfit``         per-event-type OLS trend of daily event
                           counts (slope / intercept / R²) from exact
                           integer sufficient statistics — the
                           monitoring view next to ``forecast_snaive``
                           (is this series growing, and how fast?).
- ``anova_oneway``         one-way ANOVA of order spend across order
                           priorities — completes the statistical-test
                           matrix (``chi2_contingency`` = cat×cat,
                           ``corr_pearson``/``corr_spearman`` =
                           num×num, this = cat×num).
- ``rank_mannwhitney``     Mann-Whitney U / Wilcoxon rank-sum, the
                           NONPARAMETRIC two-sample sibling of the
                           ANOVA leg, exact integers end-to-end via
                           the ``drift_ks`` two-phase rank
                           decomposition; U/(n₁n₂) doubles as the
                           rank-side AUC estimator.

All three follow the repo's exactness rules: integer sufficient
statistics (int64 / DECIMAL(38,0) on the Spark side, HUGEINT in the
oracle), one pinned double op-sequence per division (the
``corr_pearson`` rule), micro-quantization through expression strings
shared verbatim between both engines, and explicit NULL on
mathematically-undefined groups (zero variance / single point — the
ADVICE r7 zero-variance standard).

Reference parity note: the reference (`/root/reference/src/main.rs`)
has no statistics or dedup surface at all — these lanes belong to the
mandated LLM-pipeline / operational extension layer (SURVEY §2B/§2C).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.spec import Query
from ..sources.catalog import load_table

# --------------------------------------------------------------------
# dedup_cluster_stats
# --------------------------------------------------------------------

# Corpus share of a size class in micros. The 0-guard follows the
# repo's 0/0 standard (_KS_MICRO_EXPR / _RI_SHARE_EXPR): an empty
# corpus reports 0, not NaN (Spark would cast NaN to 0 silently,
# DuckDB would raise).
_CL_SHARE_EXPR = (
    "CASE WHEN total_rows = 0 THEN CAST(0 AS BIGINT)"
    " ELSE CAST(ROUND((CAST(1000000 AS DOUBLE) * n_rows) / total_rows,"
    " 0) AS BIGINT) END"
)


def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram over ``dedup_components``' output: for
    each duplicate-cluster size, how many clusters exist, how many
    corpus rows they hold, how many of those rows a keep-one-per-
    cluster policy would drop (``n_redundant`` = (size-1)·clusters),
    and the size class's corpus share in micros.

    This is the tuning dashboard for a dedup rollout: a fat tail of
    large clusters means the threshold is too loose (unrelated docs
    chained together); a histogram that is all singletons means the
    threshold is too tight to matter. Singleton clusters are REAL
    rows of this report (every vector reaches the component table —
    ``connected_components_auto`` labels all vertices, isolated ones
    with their own id), so the shares sum to ~1e6 by construction.

    Scale shape: the component table comes from the checkpointed CC
    dispatcher (hash-min with star escalation — dedup.py:498); the
    histogram is two map-side-combinable aggregates on top (component
    → size, size → count), and the corpus total rides an
    unpartitioned window over the HISTOGRAM frame — bounded by the
    number of distinct cluster sizes (≤ largest cluster, in practice
    tens), the same bounded-carry exception ``eval_mrr`` documents.
    At 100 TB the edge list feeds from LSH candidates
    (``dedup_components_lsh``) and this report runs unchanged on its
    output.
    """
    from .dedup import q_dedup_components

    comp = q_dedup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count("*").alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters")
    )
    hist = hist.select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters")).alias("n_rows"),
        ((F.col("cluster_size") - F.lit(1)) * F.col("n_clusters")).alias(
            "n_redundant"
        ),
    ).withColumn(
        "total_rows",
        F.sum("n_rows").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    )
    return hist.select(
        "cluster_size",
        "n_clusters",
        "n_rows",
        "n_redundant",
        F.expr(_CL_SHARE_EXPR).alias("row_share_micro"),
    )


def _sql_dedup_cluster_stats() -> str:
    # the component table is the EXACT oracle of dedup_components
    # (recursive transitive closure), nested as a CTE so the two lanes
    # can never disagree about what a component is
    from .dedup import SQL_DEDUP_COMPONENTS

    return f"""
WITH comp AS ({SQL_DEDUP_COMPONENTS}),
sizes AS (
  SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component
),
hist AS (
  SELECT cluster_size, COUNT(*) AS n_clusters
  FROM sizes GROUP BY cluster_size
),
h2 AS (
  SELECT cluster_size,
         n_clusters,
         cluster_size * n_clusters AS n_rows,
         (cluster_size - 1) * n_clusters AS n_redundant,
         SUM(cluster_size * n_clusters) OVER () AS total_rows
  FROM hist
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(n_clusters AS BIGINT) AS n_clusters,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_redundant AS BIGINT) AS n_redundant,
       {_CL_SHARE_EXPR} AS row_share_micro
FROM h2
"""


# --------------------------------------------------------------------
# corr_spearman
# --------------------------------------------------------------------

# Tie-aware DOUBLE rank: 2·avg_rank = 2·RANK() + |ties| − 1 is an
# integer even when the average rank is a .5, so the rank transform
# stays exact end-to-end. Scaling both variables by 2 leaves the
# correlation unchanged.
_SP_DRANK = "2 * {rank} + {ties} - 1"


def q_corr_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment Spearman rank correlation between a customer's
    order count and total spend — the robust monotone-association
    sibling of ``corr_pearson`` (rank-based: one whale customer can't
    drag the coefficient; ties get average ranks, the textbook
    tie-aware definition, kept exact via integer DOUBLE ranks).

    Population: customers with ≥1 order (the inner join defines it
    deterministically). x = order count (small domain → heavy ties,
    which is exactly what the tie-aware path must handle), y = total
    spend in exact integer cents (DECIMAL(18,2)·100 — the
    ``corr_pearson`` cents rule). ρ is Pearson over the double-ranks
    from exact integer sufficient statistics: int64 n / Σdrx / Σdry,
    DECIMAL(38,0) (HUGEINT in the oracle) for the three product sums,
    then the pinned double op-sequence (three combination terms cast
    to double once, multiply, sqrt, divide, micro-round). Zero
    variance in either rank vector → NULL (correlation undefined —
    the ADVICE r7 standard). ``sum_d2`` (Σ(drx−dry)², the classic
    Spearman statistic; int64-safe to ~10⁶ rows per group, DECIMAL
    beyond) is exposed as the cross-check column.

    Scale shape: the per-customer aggregate is map-side combinable;
    the rank windows run per segment over the customer-sized frame —
    at fixture scale that keeps the oracle bitwise, and at 100 TB the
    tie-aware rank is the documented two-phase substitution: group by
    (segment, value) → tie counts (bounded by the distinct-value
    domain), prefix-sum the counts with the ``quantile_select``
    bucket decomposition, and join the per-VALUE double-rank back —
    no per-row window at all. The final stats are one 5-group
    combinable aggregate.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    per = orders.groupBy("o_custkey").agg(
        F.count("*").alias("x"), F.sum("cents").alias("y")
    )
    # customer grows with the corpus (it is not a bounded dimension):
    # shuffle_hash-pinned like ref_integrity_audit's parent joins —
    # a fixture-scale broadcast here would be the driver-OOM trap
    base = per.join(
        cust.hint("shuffle_hash"), per["o_custkey"] == cust["c_custkey"]
    ).select("c_mktsegment", "x", "y")

    def drank(col: str) -> F.Column:
        rank = F.rank().over(
            Window.partitionBy("c_mktsegment").orderBy(col)
        )
        ties = F.count("*").over(Window.partitionBy("c_mktsegment", col))
        return (
            F.lit(2) * rank.cast("long") + ties.cast("long") - F.lit(1)
        )

    ranked = base.select(
        "c_mktsegment",
        drank("x").alias("drx"),
        drank("y").alias("dry"),
    )
    # shared scaffolding (functions/numeric.py): decimal-first product
    # sums (the HUGEINT-parity rule) + the pinned corr op-sequence —
    # one source of truth with corr_pearson
    from ..functions.numeric import (
        corr_micro_from_stats,
        exact_product_sum,
        suffstat_agg,
    )

    stats = ranked.groupBy("c_mktsegment").agg(
        *suffstat_agg(F.col("drx"), F.col("dry")),
        exact_product_sum(
            F.col("drx") - F.col("dry"), F.col("drx") - F.col("dry")
        ).alias("sd2"),
    )
    micro = corr_micro_from_stats()
    return stats.select(
        "c_mktsegment",
        F.col("n").alias("n_customers"),
        F.col("sd2").cast("long").alias("sum_d2"),
        (micro.cast("double") / 1e6).alias("rho_spearman"),
    )


SQL_CORR_SPEARMAN = f"""
WITH per AS (
  SELECT o_custkey,
         COUNT(*) AS x,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY o_custkey
),
base AS (
  SELECT c_mktsegment, CAST(x AS BIGINT) AS x, y
  FROM per JOIN customer ON o_custkey = c_custkey
),
ranked AS (
  SELECT c_mktsegment,
         {_SP_DRANK.format(
             rank="RANK() OVER (PARTITION BY c_mktsegment ORDER BY x)",
             ties="COUNT(*) OVER (PARTITION BY c_mktsegment, x)")} AS drx,
         {_SP_DRANK.format(
             rank="RANK() OVER (PARTITION BY c_mktsegment ORDER BY y)",
             ties="COUNT(*) OVER (PARTITION BY c_mktsegment, y)")} AS dry
  FROM base
),
stats AS (
  SELECT c_mktsegment,
         COUNT(*) AS n,
         CAST(SUM(drx) AS BIGINT) AS sx,
         CAST(SUM(dry) AS BIGINT) AS sy,
         SUM(CAST(drx AS HUGEINT) * dry) AS sxy,
         SUM(CAST(drx AS HUGEINT) * drx) AS sxx,
         SUM(CAST(dry AS HUGEINT) * dry) AS syy,
         SUM(CAST(drx - dry AS HUGEINT) * (drx - dry)) AS sd2
  FROM ranked GROUP BY c_mktsegment
)
SELECT c_mktsegment,
       n AS n_customers,
       CAST(sd2 AS BIGINT) AS sum_d2,
       CASE WHEN n * sxx - CAST(sx AS HUGEINT) * sx = 0
             OR n * syy - CAST(sy AS HUGEINT) * sy = 0
            THEN NULL  -- zero rank variance: rho undefined
            ELSE CAST(CAST(ROUND(
            CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
            / sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                 * CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))
            * 1000000, 0) AS BIGINT) AS DOUBLE) / 1000000.0
       END AS rho_spearman
FROM stats
"""


# --------------------------------------------------------------------
# trend_linfit
# --------------------------------------------------------------------

# Day index origin: a fixed calendar constant (part of the lane's
# declared contract — the intercept is "expected daily count on
# 2024-01-01"). Exact integer in both engines.
TREND_EPOCH = dt.date(2024, 1, 1)


def q_trend_linfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of daily event counts: slope
    (events/day), intercept (expected count at ``TREND_EPOCH``), and
    R² — "is this series growing, how fast, and is the line a good
    fit?", the monitoring view next to ``forecast_snaive``'s
    seasonal predictor and ``ewma_smooth``'s level tracker.

    Everything is a pure function of exact integer sufficient
    statistics over the (event_type, day) aggregate: n, Σx, Σy int64;
    Σxy, Σx², Σy² DECIMAL(38,0)/HUGEINT. The closed forms
    slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²),
    intercept = (ΣyΣx² − ΣxΣxy) / (nΣx² − (Σx)²), and
    R² = (nΣxy − ΣxΣy)² / ((nΣx² − (Σx)²)(nΣy² − (Σy)²))
    each cast their integer combination terms to double ONCE and run
    a pinned op-sequence (multiply, divide, micro-round), so both
    engines produce the same bits. A single-day group (zero x
    variance) has no defined line → all three NULL; a flat series
    (zero y variance) has slope/intercept but undefined R² → NULL
    (the ADVICE r7 zero-variance standard).

    Scale shape: one map-side-combinable (type, day) count — output
    bounded by the TIME domain (|types| × |days|), never corpus-sized
    (the ``alert_rate_spike`` rule) — then one |types|-group
    combinable aggregate of the six statistics. No windows, no
    joins, no broadcast; the heavy lifting is the first aggregate's
    partial combine at the scan.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(
            F.to_date("ts"), F.lit(TREND_EPOCH.isoformat()).cast("date")
        ).cast("long").alias("x"),
    ).agg(F.count("*").alias("y"))
    from ..functions.numeric import suffstat_agg

    stats = daily.groupBy("event_type").agg(
        *suffstat_agg(F.col("x"), F.col("y"))
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    num_s = F.expr(
        f"CAST({dec.format('n')} * sxy - {dec.format('sx')} *"
        f" {dec.format('sy')} AS DOUBLE)"
    )
    den = F.expr(
        f"CAST({dec.format('n')} * sxx - {dec.format('sx')} *"
        f" {dec.format('sx')} AS DOUBLE)"
    )
    num_i = F.expr(
        f"CAST({dec.format('sy')} * sxx - {dec.format('sx')} *"
        f" sxy AS DOUBLE)"
    )
    var_y = F.expr(
        f"CAST({dec.format('n')} * syy - {dec.format('sy')} *"
        f" {dec.format('sy')} AS DOUBLE)"
    )
    null_l = F.lit(None).cast("long")
    slope_micro = F.when(den == 0, null_l).otherwise(
        F.round(num_s / den * 1_000_000, 0).cast("long")
    )
    icept_micro = F.when(den == 0, null_l).otherwise(
        F.round(num_i / den * 1_000_000, 0).cast("long")
    )
    r2_micro = F.when((den == 0) | (var_y == 0), null_l).otherwise(
        F.round(num_s * num_s / (den * var_y) * 1_000_000, 0).cast("long")
    )
    return stats.select(
        "event_type",
        F.col("n").alias("n_days"),
        (slope_micro.cast("double") / 1e6).alias("slope_per_day"),
        (icept_micro.cast("double") / 1e6).alias("intercept_day0"),
        r2_micro.alias("r2_micro"),
    )


SQL_TREND_LINFIT = f"""
WITH daily AS (
  SELECT event_type,
         CAST(datediff('day', DATE '{TREND_EPOCH.isoformat()}',
                       CAST(ts AS DATE)) AS BIGINT) AS x,
         COUNT(*) AS y
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM daily GROUP BY event_type
)
SELECT event_type,
       n AS n_days,
       CASE WHEN n * sxx - CAST(sx AS HUGEINT) * sx = 0 THEN NULL
            ELSE CAST(CAST(ROUND(
              CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
              / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
              * 1000000, 0) AS BIGINT) AS DOUBLE) / 1000000.0
       END AS slope_per_day,
       CASE WHEN n * sxx - CAST(sx AS HUGEINT) * sx = 0 THEN NULL
            ELSE CAST(CAST(ROUND(
              CAST(CAST(sy AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sxy
                   AS DOUBLE)
              / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
              * 1000000, 0) AS BIGINT) AS DOUBLE) / 1000000.0
       END AS intercept_day0,
       CASE WHEN n * sxx - CAST(sx AS HUGEINT) * sx = 0
             OR n * syy - CAST(sy AS HUGEINT) * sy = 0 THEN NULL
            ELSE CAST(ROUND(
              CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
              * CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
              / (CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
               * CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))
              * 1000000, 0) AS BIGINT)
       END AS r2_micro
FROM stats
"""


# --------------------------------------------------------------------
# anova_oneway
# --------------------------------------------------------------------

# Whole-dollar spend from exact integer cents: (cents + 50) DIV 100 is
# pure int64 arithmetic in both engines (truncating DIV == floor for
# non-negative operands), so the half-up dollar never touches the
# double->decimal midpoint trap a direct CAST(o_totalprice AS
# DECIMAL(18,0)) would risk on exact x.50 doubles.
_AOV_Y_EXPR = (
    "CAST((CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
    " + 50) {div} 100 AS BIGINT)"
)
# Per-group between-term s_g^2/n_g quantized to integer UNITS (the
# chi2_contingency rule: a pinned correctly-rounded double sequence on
# exact integers, quantized to an int so the CROSS-GROUP sum is exact
# integer addition, never an order-dependent float sum). Unit scale —
# not micros — keeps the quantized value inside int64 up to ~sf1000
# (s_g ~ 5e13 dollars, s_g^2/n_g ~ 7e18; documented bound).
_AOV_T_EXPR = (
    "CAST(ROUND(CAST({s} AS DOUBLE) * CAST({s} AS DOUBLE) / {n}, 0)"
    " AS BIGINT)"
)
# F = (SSB/(k-1)) / (SSW/(N-k)), micro-quantized. Degenerate designs
# are NULL, not Inf/NaN: fewer than 2 groups (no between d.f.), no
# within d.f., or SSW quantized to <= 0 (perfect separation).
_AOV_F_EXPR = (
    "CASE WHEN k < 2 OR n_tot - k < 1 OR ssw_unit <= 0 THEN"
    " CAST(NULL AS BIGINT)"
    " ELSE CAST(ROUND((CAST(ssb_unit AS DOUBLE) / (k - 1))"
    " / (CAST(ssw_unit AS DOUBLE) / (n_tot - k)) * 1000000, 0)"
    " AS BIGINT) END"
)


def q_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of order spend across order priorities — does
    mean spend differ by group more than within-group noise explains?
    Completes the statistical-test matrix: ``chi2_contingency`` tests
    categorical×categorical, ``corr_pearson`` / ``corr_spearman``
    numeric×numeric; the categorical×numeric screen was the gap.

    Per group: n, mean spend (midpoint-free fixed-point quotient);
    repeated on every row (the ``chi2_total`` shape): the exact
    between/within sums of squares in whole-dollar units, both
    degrees of freedom, and the F statistic in micros. Exactness: y
    is an exact integer dollar (see ``_AOV_Y_EXPR``); each
    s_g²/n_g between-term runs one pinned double sequence and is
    quantized to integer units BEFORE the cross-group sum (the
    ``chi2_contingency`` rule), so SSB/SSW are exact integer
    combinations on both engines; F divides two exact integers
    through one pinned sequence. Degenerate designs (single group,
    zero within-variance) are NULL by contract.

    Scale shape: one map-side-combinable groupBy over orders (output
    bounded by |priorities|); every window after it rides the
    ≤|groups|-row carry frame (the bounded-carry exception). No
    joins, no broadcast, one data-sized shuffle (the partial agg).
    Int64 bounds: ss sums ride DECIMAL(38,0) accumulators; the
    unit-scaled terms are documented safe to ~sf1000.
    """
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.expr(_AOV_Y_EXPR.format(div="DIV")).alias("y"),
    )
    from ..functions.numeric import exact_product_sum

    g = base.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("y").alias("s"),
        exact_product_sum(F.col("y"), F.col("y")).alias("ss"),
    )
    g = g.withColumn(
        "t_unit", F.expr(_AOV_T_EXPR.format(s="s", n="n"))
    )
    w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    g = (
        g.withColumn("k", F.count("*").over(w))
        .withColumn("n_tot", F.sum("n").over(w))
        .withColumn("s_tot", F.sum("s").over(w))
        .withColumn("ss_tot", F.sum("ss").over(w).cast("decimal(38,0)"))
        .withColumn("sum_t", F.sum("t_unit").over(w))
    )
    g = g.withColumn(
        "grand_unit", F.expr(_AOV_T_EXPR.format(s="s_tot", n="n_tot"))
    ).withColumn(
        "ssb_unit", F.col("sum_t") - F.col("grand_unit")
    ).withColumn(
        "ssw_unit", F.col("ss_tot").cast("long") - F.col("sum_t")
    )
    from ..functions.numeric import fp_ratio

    f_micro = F.expr(_AOV_F_EXPR)
    return g.select(
        F.col("grp").alias("o_orderpriority"),
        F.col("n").alias("n_orders"),
        fp_ratio(F.col("s") * 1_000_000, F.col("n")).alias("mean_dollar"),
        "ssb_unit",
        "ssw_unit",
        (F.col("k") - 1).alias("df_between"),
        (F.col("n_tot") - F.col("k")).alias("df_within"),
        (f_micro.cast("double") / 1e6).alias("f_stat"),
    )


SQL_ANOVA_ONEWAY = f"""
WITH base AS (
  SELECT o_orderpriority AS grp,
         {_AOV_Y_EXPR.format(div="//")} AS y
  FROM orders
),
g AS (
  SELECT grp,
         COUNT(*) AS n,
         CAST(SUM(y) AS BIGINT) AS s,
         SUM(CAST(y AS HUGEINT) * y) AS ss
  FROM base GROUP BY grp
),
t AS (
  SELECT *, {_AOV_T_EXPR.format(s="s", n="n")} AS t_unit FROM g
),
m AS (
  SELECT *,
         COUNT(*) OVER () AS k,
         CAST(SUM(n) OVER () AS BIGINT) AS n_tot,
         CAST(SUM(s) OVER () AS BIGINT) AS s_tot,
         SUM(ss) OVER () AS ss_tot,
         CAST(SUM(t_unit) OVER () AS BIGINT) AS sum_t
  FROM t
),
v AS (
  SELECT *,
         sum_t - {_AOV_T_EXPR.format(s="s_tot", n="n_tot")} AS ssb_unit,
         CAST(ss_tot AS BIGINT) - sum_t AS ssw_unit
  FROM m
)
SELECT grp AS o_orderpriority,
       n AS n_orders,
       CAST((2 * s * 1000000 + n) // (2 * n) AS DOUBLE) / 1000000.0
         AS mean_dollar,
       ssb_unit,
       ssw_unit,
       k - 1 AS df_between,
       n_tot - k AS df_within,
       CAST({_AOV_F_EXPR} AS DOUBLE) / 1000000.0 AS f_stat
FROM v
"""


# --------------------------------------------------------------------
# rank_mannwhitney
# --------------------------------------------------------------------

# Same bounded bucket quantization as drift_ks's two-phase ECDF
# (prices live in a known domain; ~60 buckets at any corpus size).
MW_PRICE_BUCKET = 10_000.0

# U/(n1*n2) is the AUC estimator (the probability a random urgent
# order outspends a random non-urgent one) — micro-quantized through
# the one shared expression; u_x2 carries 2*U so ties' half-ranks stay
# integer. Degenerate designs (an empty side) are NULL.
_MW_AUC_EXPR = (
    "CASE WHEN n_urgent = 0 OR n_other = 0 THEN CAST(NULL AS BIGINT)"
    " ELSE CAST(ROUND((CAST(1000000 AS DOUBLE) * u_x2)"
    " / (CAST(2 AS DOUBLE) * n_urgent * n_other), 0) AS BIGINT) END"
)


def q_rank_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) of order spend, urgent
    (priority 1–2) vs non-urgent orders — the NONPARAMETRIC two-sample
    location test next to ``anova_oneway``'s variance decomposition:
    rank-based, so no normality assumption and outlier-robust, and its
    normalized U/(n1·n2) is exactly the AUC of "spend separates
    urgent from non-urgent" (the ``eval_auc`` estimator, arrived at
    from the rank side).

    Exactness: everything before the single AUC division is INTEGER.
    Per distinct price: group counts from one combinable aggregate;
    the pooled tie-aware double-rank of value v is
    2·|pooled < v| + cnt(v) + 1 (= 2× the average rank), so
    2·R₁ = Σ d₁(v)·dr₂(v) is an exact integer sum (DECIMAL/HUGEINT
    accumulators) and u_x2 = 2U₁ = 2R₁ − n₁(n₁+1) is exact int64.

    Scale shape: the ``drift_ks`` two-phase decomposition verbatim —
    one per-value combinable groupBy, per-bucket running sums
    (parallel in-bucket windows), and a broadcast ≤ ~60-row carry
    table of strictly-lower-bucket totals + grand totals; the oracle
    computes the same ranks with one plain SQL window, so the
    two-phase equivalence is hash-checked, not argued. Nothing after
    the per-value groupBy is corpus-proportional.
    """
    orders = load_table(spark, sf_dir, "orders")
    g = (
        orders.select(
            F.col("o_totalprice").alias("p"),
            F.substring("o_orderpriority", 1, 1)
            .isin("1", "2")
            .cast("long")
            .alias("b"),
        )
        .groupBy("p")
        .agg(
            F.sum("b").alias("d1"),
            (F.count("*") - F.sum("b")).alias("d2"),
        )
        .withColumn("bucket", F.floor(F.col("p") / MW_PRICE_BUCKET))
    )
    from .twophase import bucket_carry_totals

    carry = bucket_carry_totals(
        g.groupBy("bucket").agg(
            (F.sum("d1") + F.sum("d2")).alias("bd"),
            F.sum("d1").alias("bd1"),
            F.sum("d2").alias("bd2"),
        ),
        "bucket",
        carry_cols=["bd"],
        total_cols=["bd1", "bd2"],
    ).select(
        "bucket",
        F.col("carry_bd").alias("carry_all"),
        F.col("tot_bd1").alias("n_urgent"),
        F.col("tot_bd2").alias("n_other"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    terms = (
        g.withColumn("r_all", F.sum(F.col("d1") + F.col("d2")).over(w))
        .join(F.broadcast(carry), "bucket")
        .select(
            "n_urgent",
            "n_other",
            # less_all = pooled count strictly below v; dr2 = 2*avg rank
            (
                F.col("d1").cast("decimal(38,0)")
                * (
                    2
                    * (
                        F.col("carry_all")
                        + F.col("r_all")
                        - F.col("d1")
                        - F.col("d2")
                    )
                    + F.col("d1")
                    + F.col("d2")
                    + 1
                ).cast("decimal(38,0)")
            ).alias("term"),
        )
    )
    out = terms.groupBy("n_urgent", "n_other").agg(
        F.sum("term").alias("r1_x2")
    )
    return (
        out.withColumn(
            "u_x2",
            F.col("r1_x2").cast("long")
            - F.col("n_urgent") * (F.col("n_urgent") + 1),
        )
        .select(
            "n_urgent",
            "n_other",
            "u_x2",
            F.expr(_MW_AUC_EXPR).alias("auc_micro"),
        )
    )


SQL_RANK_MANNWHITNEY = f"""
WITH t AS (
  SELECT o_totalprice AS p,
         CASE WHEN substr(o_orderpriority, 1, 1) IN ('1', '2')
              THEN 1 ELSE 0 END AS b
  FROM orders
),
g AS (
  SELECT p, CAST(SUM(b) AS BIGINT) AS d1,
         CAST(COUNT(*) - SUM(b) AS BIGINT) AS d2
  FROM t GROUP BY p
),
tot AS (
  SELECT CAST(SUM(d1) AS BIGINT) AS n_urgent,
         CAST(SUM(d2) AS BIGINT) AS n_other
  FROM g
),
c AS (
  -- pooled inclusive running count; dr2 = 2*avg pooled rank at p
  SELECT d1, d2,
         CAST(SUM(d1 + d2) OVER (ORDER BY p) AS BIGINT) AS r_all
  FROM g
),
s AS (
  SELECT n_urgent, n_other,
         CAST(SUM(CAST(d1 AS HUGEINT)
                  * (2 * (r_all - d1 - d2) + d1 + d2 + 1)) AS BIGINT)
           AS r1_x2
  FROM c CROSS JOIN tot
  GROUP BY n_urgent, n_other
),
u AS (
  SELECT n_urgent, n_other,
         r1_x2 - n_urgent * (n_urgent + 1) AS u_x2
  FROM s
)
SELECT n_urgent, n_other, u_x2, {_MW_AUC_EXPR} AS auc_micro
FROM u
"""


# --------------------------------------------------------------------
# rank_test_u
# --------------------------------------------------------------------

# AUC = U_A/(n_a*n_b) = u_x2/(2*n_a*n_b) in micros, half-up on the
# non-negative operands (u_x2 >= 0 by construction).
_RTU_AUC_EXPR = (
    "CASE WHEN n_a = 0 OR n_b = 0 THEN CAST(NULL AS BIGINT)"
    " ELSE CAST((2 * CAST(1000000 AS {big}) * CAST(u_x2 AS {big})"
    " + 2 * CAST(n_a AS {big}) * CAST(n_b AS {big}))"
    " {div} (2 * (2 * CAST(n_a AS {big}) * CAST(n_b AS {big})))"
    " AS BIGINT) END"
)


def q_rank_test_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U permutation test of A/B arm order spend — the
    NONPARAMETRIC significance twin of ``perm_test_diff`` (VERDICT
    r13 #4): where the mean-difference test can be dragged by the
    heavy order-price tail, the rank statistic U asks only "does one
    arm's spend stochastically dominate?", and its normalized form
    U/(n_a·n_b) is the AUC of spend separating the arms (the
    ``rank_mannwhitney`` identity, arrived at from the testing side).

    The significance finisher is a PERMUTATION p, not the tie-
    corrected normal approximation (VERDICT r13 #4 offered the
    choice): the normal z needs sqrt(n_a·n_b·(N³−N−Σ(t³−t))·3N(N−1))
    whose radicand leaves decimal(38,0) near N ≈ 7·10⁵ rows, while
    the permutation compare below is a pure integer cross-
    multiplication exact to N ≈ 2·10⁹ — the 100 TB-honest form.

    Mechanics: the pooled tie-aware double-rank dr(v) = 2·|pooled<v|
    + cnt(v) + 1 is LABEL-FREE, so it is computed once from the
    value histogram (two-phase bucket carry — no global window) and
    joined back onto the scan; every relabeling then collapses to
    ONE map-side-combinable groupBy(p) of three exact counters
    (n_a, n_b, Σ_A dr): 2·R_A = Σ_A dr, u_x2 = 2U_A = Σ_A dr −
    n_a(n_a+1), and the deviation num = 2U_A − n_a·n_b. Cluster
    discipline: relabelings flip CUSTOMERS (md5('u:'||custkey||':'||p),
    the perm_test_diff rule), holding each customer's orders
    together. Two-sided compare of the NORMALIZED deviation
    |num_p|/(n_a_p·n_b_p) ≥ |num_obs|/(n_a·n_b) as the exact integer
    cross-multiplication |num_p|·(n_a·n_b) ≥ |num_obs|·(n_a_p·n_b_p)
    — no division ever happens inside the comparison. p is the
    add-one estimator, ONE pinned micro division; the AUC readout is
    one more. Empty-arm relabelings are excluded (``n_perms``
    effective). md5-derived labels: layout-free, rerun-stable,
    engine-identical.

    Scale shape: one per-value combinable groupBy + the bounded
    two-phase carry frame (broadcast), ONE corpus-proportional
    shuffle_hash join of dr onto the scan (both sides ∝ rows — the
    anti-broadcast rule), the ×B explode collapsing to B counter
    rows, and a 1-row observed broadcast. Zero windows over data,
    zero sorts.
    """
    from .relational9 import AB_SPLIT_BOUND, PERM_B, _PT_P_EXPR
    from .twophase import bucket_carry_totals

    dec = "decimal(38,0)"
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("unit"),
        F.col("o_totalprice").alias("p"),
    )
    h = o.groupBy("p").agg(F.count("*").alias("t")).withColumn(
        "bucket", F.floor(F.col("p") / MW_PRICE_BUCKET)
    )
    carry = bucket_carry_totals(
        h.groupBy("bucket").agg(F.sum("t").alias("bd")),
        "bucket",
        carry_cols=["bd"],
        total_cols=[],
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dr = (
        h.withColumn("r", F.sum("t").over(w))
        .join(F.broadcast(carry), "bucket")
        .select(
            "p",
            (
                2 * (F.col("carry_bd") + F.col("r") - F.col("t"))
                + F.col("t")
                + 1
            ).alias("dr"),
        )
    )
    od = o.join(dr.hint("shuffle_hash"), "p").select("unit", "dr")

    def stats(df, arm, perm_keyed):
        # project the md5 gate ONCE per row (it would otherwise be
        # re-evaluated inside each of the three aggregates)
        df = df.withColumn("ga", arm)
        keys = ["perm"] if perm_keyed else []
        gb = df.groupBy(*keys) if keys else df
        agg = gb.agg(
            F.sum(F.col("ga").cast("long")).alias("n_a"),
            F.sum((~F.col("ga")).cast("long")).alias("n_b"),
            F.sum(F.when(F.col("ga"), F.col("dr")).otherwise(0).cast(dec))
            .cast(dec)
            .alias("sdr_a"),
        )
        return agg.withColumn(
            "num",
            F.expr(
                f"CASE WHEN n_a = 0 OR n_b = 0 THEN CAST(NULL AS {dec})"
                f" ELSE sdr_a - CAST(n_a AS {dec}) * (n_a + 1)"
                f" - CAST(n_a AS {dec}) * CAST(n_b AS {dec}) END"
            ),
        )

    obs_arm = (
        F.substring(F.md5(F.col("unit").cast("string")), 1, 4)
        < AB_SPLIT_BOUND
    )
    obs = (
        stats(od, obs_arm, False)
        .withColumn(
            "u_x2",
            F.expr(
                f"CAST(sdr_a - CAST(n_a AS {dec}) * (n_a + 1) AS BIGINT)"
            ),
        )
        .select("n_a", "n_b", "u_x2", F.col("num").alias("num_obs"))
    )
    p_lit = ", ".join(f"({p})" for p in range(1, PERM_B + 1))
    perms = spark.sql(f"SELECT * FROM VALUES {p_lit} AS t(perm)")
    rows = od.crossJoin(F.broadcast(perms))
    perm_arm = F.expr(
        "substring(md5(concat('u:', CAST(unit AS STRING), ':',"
        f" CAST(perm AS STRING))), 1, 4) < '{AB_SPLIT_BOUND}'"
    )
    g = stats(rows, perm_arm, True).select(
        "perm",
        F.col("n_a").alias("pn_a"),
        F.col("n_b").alias("pn_b"),
        "num",
    )
    joined = g.crossJoin(F.broadcast(obs))
    ge = F.expr(
        f"CASE WHEN num IS NULL THEN NULL WHEN"
        f" abs(num) * CAST(n_a AS {dec}) * CAST(n_b AS {dec})"
        f" >= abs(CAST(num_obs AS {dec}))"
        f" * CAST(pn_a AS {dec}) * CAST(pn_b AS {dec})"
        f" THEN 1 ELSE 0 END"
    )
    stats_out = joined.groupBy("n_a", "n_b", "u_x2", "num_obs").agg(
        F.count("num").alias("n_perms"),
        F.coalesce(F.sum(ge), F.lit(0)).cast("long").alias("n_ge"),
    )
    return stats_out.select(
        "n_a",
        "n_b",
        "u_x2",
        F.expr(_RTU_AUC_EXPR.format(big=dec, div="div")).alias(
            "auc_micro"
        ),
        "n_perms",
        "n_ge",
        F.expr(
            _PT_P_EXPR.format(div="div").replace(
                "d_obs_micro", "num_obs"
            )
        ).alias("p_micro"),
    )


def _sql_rank_test_u() -> str:
    from .relational9 import AB_SPLIT_BOUND, PERM_B, _PT_P_EXPR

    p_lit = ", ".join(f"({p})" for p in range(1, PERM_B + 1))
    return f"""
WITH o AS (
  SELECT o_custkey AS unit, o_totalprice AS p FROM orders
),
perms AS (SELECT * FROM (VALUES {p_lit}) AS t(perm)),
h AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS t FROM o GROUP BY p),
d AS (
  SELECT p,
         2 * (SUM(t) OVER (ORDER BY p
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) - t) + t + 1 AS dr
  FROM h
),
od AS (SELECT o.unit, d.dr FROM o JOIN d USING (p)),
obsg AS (
  SELECT substr(md5(CAST(unit AS VARCHAR)), 1, 4)
           < '{AB_SPLIT_BOUND}' AS ga, dr
  FROM od
),
obs0 AS (
  SELECT
    CAST(SUM(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN ga THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
    SUM(CASE WHEN ga THEN CAST(dr AS HUGEINT) ELSE 0 END) AS sdr_a
  FROM obsg
),
obs AS (
  SELECT n_a, n_b,
         CAST(sdr_a - CAST(n_a AS HUGEINT) * (n_a + 1) AS BIGINT)
           AS u_x2,
         CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
              ELSE sdr_a - CAST(n_a AS HUGEINT) * (n_a + 1)
                   - CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT) END
           AS num_obs
  FROM obs0
),
pg AS (
  SELECT perm,
         substr(md5('u:' || CAST(unit AS VARCHAR) || ':'
                || CAST(perm AS VARCHAR)), 1, 4)
           < '{AB_SPLIT_BOUND}' AS ga, dr
  FROM od CROSS JOIN perms
),
g0 AS (
  SELECT perm,
    CAST(SUM(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT) AS pn_a,
    CAST(SUM(CASE WHEN ga THEN 0 ELSE 1 END) AS BIGINT) AS pn_b,
    SUM(CASE WHEN ga THEN CAST(dr AS HUGEINT) ELSE 0 END) AS sdr_a
  FROM pg GROUP BY perm
),
g AS (
  SELECT perm, pn_a, pn_b,
         CASE WHEN pn_a = 0 OR pn_b = 0 THEN NULL
              ELSE sdr_a - CAST(pn_a AS HUGEINT) * (pn_a + 1)
                   - CAST(pn_a AS HUGEINT) * CAST(pn_b AS HUGEINT) END
           AS num
  FROM g0
),
s AS (
  SELECT n_a, n_b, u_x2, num_obs,
         CAST(COUNT(num) AS BIGINT) AS n_perms,
         CAST(COALESCE(SUM(CASE WHEN num IS NULL THEN NULL
              WHEN abs(num) * CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT)
                   >= abs(CAST(num_obs AS HUGEINT))
                      * CAST(pn_a AS HUGEINT) * CAST(pn_b AS HUGEINT)
              THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_ge
  FROM g CROSS JOIN obs
  GROUP BY n_a, n_b, u_x2, num_obs
)
SELECT n_a, n_b, u_x2,
       {_RTU_AUC_EXPR.format(big="HUGEINT", div="//")} AS auc_micro,
       n_perms, n_ge,
       {_PT_P_EXPR.format(div="//").replace("d_obs_micro", "num_obs")}
         AS p_micro
FROM s
"""


SQL_RANK_TEST_U = _sql_rank_test_u()


# --------------------------------------------------------------------
# survival_km
# --------------------------------------------------------------------

KM_HORIZON_DAYS = 7  # administrative censoring horizon (buckets 0..7)
_US_PER_DAY = 86_400_000_000


def _km_chain_exprs(big: str, div: str) -> list[tuple[str, str]]:
    """The unrolled at-risk/survival chain over the fixed 8-bucket
    frame (the pass@k §108 trick with TWO running values): n_0 = U,
    n_{b+1} = n_b − r_b, and S_b = round_half_up(S_{b−1}·(n_b −
    d_b)/n_b) in micro units — one pinned division per bucket, every
    operand ≤ 1e6·U. n_b = 0 (nobody left at risk) carries S
    unchanged (factor 1, the KM convention past the last subject)."""
    out = []
    for b in range(KM_HORIZON_DAYS + 1):
        n_expr = (
            "CAST(u_total AS BIGINT)"
            if b == 0
            else f"n{b - 1} - r{b - 1}"
        )
        prev_s = "CAST(1000000 AS BIGINT)" if b == 0 else f"s{b - 1}"
        s_expr = (
            f"CASE WHEN n{b} <= 0 THEN {prev_s}"
            f" WHEN {prev_s} = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE CAST((2 * CAST({prev_s} AS {big}) * (n{b} - d{b})"
            f" + n{b}) {div} (2 * CAST(n{b} AS {big})) AS BIGINT) END"
        )
        out.append((n_expr, s_expr))
    return out


def _km_user_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user (user_id, t0, terr, tl) exact-µs frame shared by the
    survival lanes (survival_km, survival_logrank): first event,
    first error, last event — one combinable groupBy(user)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"),
        "event_type",
    )
    return e.groupBy("user_id").agg(
        F.min("us").alias("t0"),
        F.min(F.when(F.col("event_type") == "error", F.col("us"))).alias(
            "terr"
        ),
        F.max("us").alias("tl"),
    )


def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit survival of time-to-first-error per
    user (Kaplan & Meier 1958) over day buckets 0..7 — the
    censoring-aware reliability curve a naive "share of users who
    errored by day t" gets WRONG the moment observation windows
    differ: a user last seen on day 2 without an error is not
    error-free through day 7, they are CENSORED at day 2, and KM is
    the standard estimator that keeps them in the at-risk set
    exactly as long as they were observed.

    Definitions (all exact integer µs arithmetic on
    ``unix_micros``): t₀ = the user's first event; death at bucket
    b = floor((first_error − t₀)/day) when that lands ≤ 6;
    otherwise administrative censoring at min(floor((last_event −
    t₀)/day), 7). Censored-at-b users remain at risk for deaths AT
    b (the standard tie convention). The at-risk/survival recursion
    runs as the §108 unrolled pinned chain on the single wide
    counter row — S_b = Π_{s≤b}(1 − d_s/n_s) with one half-up micro
    division per bucket (operands ≤ 1e6·U, capacity-bounded at any
    user count; the closed product form would need Π n_s ≈ U⁸) —
    then unpivots to the 8-row survival table. n_b = 0 carries S
    (factor 1); the recompute pytest mirrors the exact sequence.

    Scale shape: ONE combinable groupBy(user) over the events scan,
    ONE single-row conditional aggregate (16 counters), constant
    chained expressions, and a constant 8-row unpivot. Zero joins,
    zero windows, zero broadcasts.
    """
    dec = "decimal(38,0)"
    H = KM_HORIZON_DAYS
    per = _km_user_frame(spark, sf_dir).select(
        F.expr(
            f"terr IS NOT NULL AND (terr - t0) div {_US_PER_DAY}"
            f" <= {H - 1}"
        ).alias("death"),
        F.expr(
            f"CASE WHEN terr IS NOT NULL AND (terr - t0) div"
            f" {_US_PER_DAY} <= {H - 1}"
            f" THEN (terr - t0) div {_US_PER_DAY}"
            f" ELSE least((tl - t0) div {_US_PER_DAY},"
            f" CAST({H} AS BIGINT)) END"
        ).alias("b"),
    )
    aggs = [F.count("*").cast("long").alias("u_total")]
    for b in range(H + 1):
        aggs.append(
            F.sum((F.col("death") & (F.col("b") == b)).cast("long"))
            .cast("long")
            .alias(f"d{b}")
        )
        aggs.append(
            F.sum((F.col("b") == b).cast("long"))
            .cast("long")
            .alias(f"r{b}")
        )
    wide = per.agg(*aggs)
    for b, (n_expr, s_expr) in enumerate(_km_chain_exprs(dec, "div")):
        wide = wide.withColumn(f"n{b}", F.expr(n_expr))
        wide = wide.withColumn(f"s{b}", F.expr(s_expr))
    stack = ", ".join(
        f"{b}, n{b}, d{b}, r{b} - d{b}, s{b}" for b in range(H + 1)
    )
    return wide.select(
        F.expr(
            f"stack({H + 1}, {stack}) AS"
            " (day, n_risk, n_death, n_censor, s_micro)"
        )
    ).select(
        F.col("day").cast("long").alias("day"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("n_death").cast("long").alias("n_death"),
        F.col("n_censor").cast("long").alias("n_censor"),
        "s_micro",
    )


def _sql_survival_km() -> str:
    H = KM_HORIZON_DAYS
    counters = ",\n         ".join(
        f"CAST(SUM(CASE WHEN death AND b = {b} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS d{b},\n         "
        f"CAST(SUM(CASE WHEN b = {b} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS r{b}"
        for b in range(H + 1)
    )
    ctes = []
    prev = "wide"
    for b, (n_expr, s_expr) in enumerate(_km_chain_exprs("HUGEINT", "//")):
        ctes.append(
            f"t{b} AS (SELECT *, {n_expr} AS n{b} FROM {prev}),\n"
            f"u{b} AS (SELECT *, {s_expr} AS s{b} FROM t{b})"
        )
        prev = f"u{b}"
    joined_ctes = ",\n".join(ctes)
    outs = "\nUNION ALL\n".join(
        f"SELECT {b} AS day, n{b} AS n_risk, d{b} AS n_death,"
        f" r{b} - d{b} AS n_censor, s{b} AS s_micro FROM {prev}"
        for b in range(H + 1)
    )
    return f"""
WITH e AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
  FROM events
),
uu AS (
  SELECT user_id, MIN(us) AS t0,
         MIN(CASE WHEN event_type = 'error' THEN us END) AS terr,
         MAX(us) AS tl
  FROM e GROUP BY user_id
),
per AS (
  SELECT terr IS NOT NULL AND (terr - t0) // {_US_PER_DAY}
           <= {H - 1} AS death,
         CASE WHEN terr IS NOT NULL AND (terr - t0) // {_US_PER_DAY}
                   <= {H - 1}
              THEN (terr - t0) // {_US_PER_DAY}
              ELSE LEAST((tl - t0) // {_US_PER_DAY},
                         CAST({H} AS BIGINT)) END AS b
  FROM uu
),
wide AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS u_total,
         {counters}
  FROM per
),
{joined_ctes}
SELECT * FROM (
{outs}
) ORDER BY day
"""


SQL_SURVIVAL_KM = _sql_survival_km()


# --------------------------------------------------------------------
# survival_logrank
# --------------------------------------------------------------------


def _lr_chain_exprs(big: str, div: str) -> list[dict]:
    """Per-bucket expressions of the two-group log-rank walk over the
    fixed 8-bucket frame (the §109 wide-row trick with TWO at-risk
    recursions): nA_0 = U_A, nA_{b+1} = nA_b − rA_b (same for B);
    per bucket, with n_t = nA+nB and d_t = dA+dB,
    e = half-up(1e6·d_t·nA, n_t) (expected A-deaths, micro),
    diff = 1e6·dA − e (exact signed),
    v1 = half-up(1e6·nA·nB, n_t²) (≤ 250000),
    V = half-up(v1·d_t·(n_t−d_t), n_t−1) (micro) —
    the §105 capacity split: the one-division hypergeometric form's
    numerator nA·nB·d(n−d)·1e6 compounds as n⁴ (dead at N ≈ 5.6·10⁷)
    while the split's largest intermediate is ≤ 6.25e4·n². Buckets
    with n_t ≤ 1 or d_t = 0 contribute exact zeros."""
    out = []
    for b in range(KM_HORIZON_DAYS + 1):
        na = "CAST(ua AS BIGINT)" if b == 0 else f"na{b - 1} - ra{b - 1}"
        nb = "CAST(ub AS BIGINT)" if b == 0 else f"nb{b - 1} - rb{b - 1}"
        pre = (
            f"(na{b} + nb{b} <= 1 OR da{b} + db{b} = 0)"
        )
        e = (
            f"CASE WHEN {pre} THEN CAST(0 AS BIGINT)"
            f" ELSE CAST((2 * CAST(1000000 AS {big})"
            f" * CAST(da{b} + db{b} AS {big}) * na{b}"
            f" + (na{b} + nb{b}))"
            f" {div} (2 * CAST(na{b} + nb{b} AS {big})) AS BIGINT) END"
        )
        diff = (
            f"CASE WHEN {pre} THEN CAST(0 AS BIGINT)"
            f" ELSE CAST(1000000 AS BIGINT) * da{b} - e{b} END"
        )
        v1 = (
            f"CASE WHEN {pre} THEN CAST(0 AS BIGINT)"
            f" ELSE CAST((2 * CAST(1000000 AS {big}) * CAST(na{b} AS {big})"
            f" * nb{b} + CAST(na{b} + nb{b} AS {big})"
            f" * (na{b} + nb{b}))"
            f" {div} (2 * CAST(na{b} + nb{b} AS {big})"
            f" * (na{b} + nb{b})) AS BIGINT) END"
        )
        vv = (
            f"CASE WHEN {pre} THEN CAST(0 AS BIGINT)"
            f" ELSE CAST((2 * CAST(v1_{b} AS {big})"
            f" * (da{b} + db{b}) * (na{b} + nb{b} - da{b} - db{b})"
            f" + (na{b} + nb{b} - 1))"
            f" {div} (2 * CAST(na{b} + nb{b} - 1 AS {big}))"
            f" AS BIGINT) END"
        )
        out.append(
            {"na": na, "nb": nb, "e": e, "diff": diff, "v1": v1, "v": vv}
        )
    return out


LOGRANK_CRIT_MICRO = 3_841_459  # chi-square(1 df) at alpha = 0.05


def q_survival_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group log-rank test (Mantel 1966) of time-to-first-error
    between the md5 A/B arms over the survival_km day buckets — the
    censoring-aware answer to "does treatment change RELIABILITY?":
    comparing arms on raw error rates ignores differing observation
    windows exactly as the naive error share did in §109; the
    log-rank statistic accumulates, per bucket, the observed-minus-
    expected A-deaths under the hypergeometric null, normalized by
    its exact variance.

    Exactness: the usual counters (one groupBy(user), one single-row
    wide aggregate — now 4 counters per bucket across two groups),
    the per-bucket expected/variance as the §105-split pinned
    divisions (see :func:`_lr_chain_exprs` — the one-shot
    hypergeometric form compounds as n⁴), the O−E sum exact signed
    micro, the variance sum exact over quantized terms (the anova
    rule), chi² = (ΣO−E)²/ΣV as ONE final half-up division on the
    micro pair, and the alpha = .05 verdict an integer compare
    against the published chi²(1) critical value. ΣV = 0 (no
    at-risk overlap) → NULL chi², documented.

    Scale shape: identical to survival_km's two-exchange shape —
    groupBy(user), single-row wide counters, constant chained
    expressions. Zero joins, zero windows over data.
    """
    from .relational9 import AB_SPLIT_BOUND

    dec = "decimal(38,0)"
    H = KM_HORIZON_DAYS
    u = _km_user_frame(spark, sf_dir)
    per = u.select(
        (
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 4)
            < AB_SPLIT_BOUND
        ).alias("a"),
        F.expr(
            f"terr IS NOT NULL AND (terr - t0) div {_US_PER_DAY}"
            f" <= {H - 1}"
        ).alias("death"),
        F.expr(
            f"CASE WHEN terr IS NOT NULL AND (terr - t0) div"
            f" {_US_PER_DAY} <= {H - 1}"
            f" THEN (terr - t0) div {_US_PER_DAY}"
            f" ELSE least((tl - t0) div {_US_PER_DAY},"
            f" CAST({H} AS BIGINT)) END"
        ).alias("b"),
    )
    aggs = [
        F.sum(F.col("a").cast("long")).cast("long").alias("ua"),
        F.sum((~F.col("a")).cast("long")).cast("long").alias("ub"),
    ]
    for b in range(H + 1):
        for grp, cond in (("a", F.col("a")), ("b", ~F.col("a"))):
            aggs.append(
                F.sum(
                    (cond & F.col("death") & (F.col("b") == b)).cast("long")
                ).cast("long").alias(f"d{grp}{b}")
            )
            aggs.append(
                F.sum((cond & (F.col("b") == b)).cast("long"))
                .cast("long")
                .alias(f"r{grp}{b}")
            )
    wide = per.agg(*aggs)
    for b, ex in enumerate(_lr_chain_exprs(dec, "div")):
        wide = (
            wide.withColumn(f"na{b}", F.expr(ex["na"]))
            .withColumn(f"nb{b}", F.expr(ex["nb"]))
            .withColumn(f"e{b}", F.expr(ex["e"]))
            .withColumn(f"diff{b}", F.expr(ex["diff"]))
            .withColumn(f"v1_{b}", F.expr(ex["v1"]))
            .withColumn(f"v{b}", F.expr(ex["v"]))
        )
    diff_sum = " + ".join(f"diff{b}" for b in range(H + 1))
    v_sum = " + ".join(f"v{b}" for b in range(H + 1))
    da_sum = " + ".join(f"da{b}" for b in range(H + 1))
    db_sum = " + ".join(f"db{b}" for b in range(H + 1))
    chi2 = (
        f"CASE WHEN ({v_sum}) = 0 THEN CAST(NULL AS BIGINT)"
        f" ELSE CAST((2 * (CAST({diff_sum} AS {dec})"
        f" * CAST({diff_sum} AS {dec})) + ({v_sum}))"
        f" div (2 * CAST({v_sum} AS {dec})) AS BIGINT) END"
    )
    return wide.select(
        F.col("ua").alias("n_users_a"),
        F.col("ub").alias("n_users_b"),
        F.expr(f"CAST({da_sum} AS BIGINT)").alias("deaths_a"),
        F.expr(f"CAST({db_sum} AS BIGINT)").alias("deaths_b"),
        F.expr(f"CAST({diff_sum} AS BIGINT)").alias("o_minus_e_micro"),
        F.expr(f"CAST({v_sum} AS BIGINT)").alias("var_micro"),
        F.expr(chi2).alias("chi2_micro"),
        F.lit(LOGRANK_CRIT_MICRO).cast("long").alias("crit_micro"),
        F.expr(
            f"({chi2}) > {LOGRANK_CRIT_MICRO}"
        ).alias("different"),
    )


def _sql_survival_logrank() -> str:
    from .relational9 import AB_SPLIT_BOUND

    H = KM_HORIZON_DAYS
    counters = ["CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ua",
                "CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS ub"]
    for b in range(H + 1):
        counters.append(
            f"CAST(SUM(CASE WHEN a AND death AND b = {b} THEN 1 ELSE 0"
            f" END) AS BIGINT) AS da{b}"
        )
        counters.append(
            f"CAST(SUM(CASE WHEN a AND b = {b} THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS ra{b}"
        )
        counters.append(
            f"CAST(SUM(CASE WHEN NOT a AND death AND b = {b} THEN 1"
            f" ELSE 0 END) AS BIGINT) AS db{b}"
        )
        counters.append(
            f"CAST(SUM(CASE WHEN NOT a AND b = {b} THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS rb{b}"
        )
    ctes = []
    prev = "wide"
    for b, ex in enumerate(_lr_chain_exprs("HUGEINT", "//")):
        ctes.append(
            f"x{b} AS (SELECT *, {ex['na']} AS na{b}, {ex['nb']} AS nb{b}"
            f" FROM {prev}),\n"
            f"y{b} AS (SELECT *, {ex['e']} AS e{b} FROM x{b}),\n"
            f"z{b} AS (SELECT *, {ex['diff']} AS diff{b},"
            f" {ex['v1']} AS v1_{b} FROM y{b}),\n"
            f"w{b} AS (SELECT *, {ex['v']} AS v{b} FROM z{b})"
        )
        prev = f"w{b}"
    diff_sum = " + ".join(f"diff{b}" for b in range(H + 1))
    v_sum = " + ".join(f"v{b}" for b in range(H + 1))
    da_sum = " + ".join(f"da{b}" for b in range(H + 1))
    db_sum = " + ".join(f"db{b}" for b in range(H + 1))
    chi2 = (
        f"CASE WHEN ({v_sum}) = 0 THEN NULL"
        f" ELSE CAST((2 * (CAST({diff_sum} AS HUGEINT)"
        f" * CAST({diff_sum} AS HUGEINT)) + ({v_sum}))"
        f" // (2 * CAST({v_sum} AS HUGEINT)) AS BIGINT) END"
    )
    counters_sql = ",\n         ".join(counters)
    ctes_sql = ",\n".join(ctes)
    return f"""
WITH e AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
  FROM events
),
uu AS (
  SELECT user_id, MIN(us) AS t0,
         MIN(CASE WHEN event_type = 'error' THEN us END) AS terr,
         MAX(us) AS tl
  FROM e GROUP BY user_id
),
per AS (
  SELECT substr(md5(CAST(user_id AS VARCHAR)), 1, 4)
           < '{AB_SPLIT_BOUND}' AS a,
         terr IS NOT NULL AND (terr - t0) // {_US_PER_DAY}
           <= {H - 1} AS death,
         CASE WHEN terr IS NOT NULL AND (terr - t0) // {_US_PER_DAY}
                   <= {H - 1}
              THEN (terr - t0) // {_US_PER_DAY}
              ELSE LEAST((tl - t0) // {_US_PER_DAY},
                         CAST({H} AS BIGINT)) END AS b
  FROM uu
),
wide AS (
  SELECT {counters_sql}
  FROM per
),
{ctes_sql}
SELECT ua AS n_users_a, ub AS n_users_b,
       CAST({da_sum} AS BIGINT) AS deaths_a,
       CAST({db_sum} AS BIGINT) AS deaths_b,
       CAST({diff_sum} AS BIGINT) AS o_minus_e_micro,
       CAST({v_sum} AS BIGINT) AS var_micro,
       {chi2} AS chi2_micro,
       CAST({LOGRANK_CRIT_MICRO} AS BIGINT) AS crit_micro,
       ({chi2}) > {LOGRANK_CRIT_MICRO} AS different
FROM {prev}
"""


SQL_SURVIVAL_LOGRANK = _sql_survival_logrank()


# --------------------------------------------------------------------
# metric_winsorized
# --------------------------------------------------------------------

# Mean in micro-dollars from exact cents: the midpoint-free half-up
# integer division on decimal(38,0) ↔ HUGEINT.
_WINS_MEAN_EXPR = (
    "CASE WHEN {n} = 0 THEN CAST(NULL AS BIGINT)"
    " ELSE CAST((2 * CAST(10000 AS {big}) * CAST({s} AS {big}) + {n})"
    " {div} (2 * CAST({n} AS {big})) AS BIGINT) END"
)


def q_metric_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean order price per status — the capped metric
    every experimentation platform ships next to the raw mean: a
    heavy-tailed metric's mean is dominated by its extreme orders,
    so the standard practice is to CLAMP values to the [p5, p95]
    band before averaging (winsorization — not trimming: the rows
    stay, their values saturate). The lane reports the exact type-1
    p5/p95 bounds, the raw mean, and the winsorized mean so the
    tail's leverage is readable as the raw-vs-winsorized gap.

    Exactness: the bounds are TYPE-1 quantiles — the smallest cents
    whose cumulative count reaches ceil(p·n), picked never
    interpolated — and both means are ONE pinned half-up integer
    division each on exact decimal/HUGEINT cent sums. Everything
    else is integer compares and clamps.

    Scale shape — the ``bootstrap_ci_quantile`` histogram idea, used
    twice: cents live in a bounded domain, so the per-(status,
    cents) HISTOGRAM is map-side combinable and BOTH passes (the
    quantile location and the clamped re-aggregation) run over the
    histogram, never re-reading rows. The bounds frame is
    |statuses| rows, broadcast back onto the histogram. Shuffle
    volume is |distinct cents| once, regardless of row count.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status"),
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
            "cents"
        ),
    )
    dec = "decimal(38,0)"
    h = o.groupBy("status", "cents").agg(
        F.count("*").cast("long").alias("wc")
    )
    cum = Window.partitionBy("status").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy("status")
    hh = h.withColumn("cn", F.sum("wc").over(cum)).withColumn(
        "n", F.sum("wc").over(tot)
    )
    bounds = (
        hh.groupBy("status", "n")
        .agg(
            F.min(
                F.when(
                    F.expr("cn >= (5 * n + 99) div 100"), F.col("cents")
                )
            ).alias("p05_cents"),
            F.min(
                F.when(
                    F.expr("cn >= (95 * n + 99) div 100"), F.col("cents")
                )
            ).alias("p95_cents"),
        )
        .withColumnRenamed("n", "n_orders")
    )
    joined = h.join(F.broadcast(bounds), "status")
    clamped = F.expr(
        "CASE WHEN cents < p05_cents THEN p05_cents"
        " WHEN cents > p95_cents THEN p95_cents ELSE cents END"
    )
    g = joined.groupBy(
        "status", "n_orders", "p05_cents", "p95_cents"
    ).agg(
        F.sum(F.col("wc").cast(dec) * F.col("cents")).cast(dec).alias("s"),
        F.sum(F.col("wc").cast(dec) * clamped).cast(dec).alias("sw"),
    )
    return g.select(
        "status",
        "n_orders",
        "p05_cents",
        "p95_cents",
        F.expr(
            _WINS_MEAN_EXPR.format(n="n_orders", s="s", big=dec, div="div")
        ).alias("mean_micro"),
        F.expr(
            _WINS_MEAN_EXPR.format(n="n_orders", s="sw", big=dec,
                                   div="div")
        ).alias("winsorized_mean_micro"),
    )


def _sql_metric_winsorized() -> str:
    mean_raw = _WINS_MEAN_EXPR.format(
        n="n_orders", s="s", big="HUGEINT", div="//"
    )
    mean_w = _WINS_MEAN_EXPR.format(
        n="n_orders", s="sw", big="HUGEINT", div="//"
    )
    return f"""
WITH o AS (
  SELECT o_orderstatus AS status,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
h AS (
  SELECT status, cents, CAST(COUNT(*) AS BIGINT) AS wc
  FROM o GROUP BY status, cents
),
hh AS (
  SELECT status, cents, wc,
         SUM(wc) OVER (PARTITION BY status ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cn,
         SUM(wc) OVER (PARTITION BY status) AS n
  FROM h
),
bounds AS (
  SELECT status, CAST(n AS BIGINT) AS n_orders,
         MIN(CASE WHEN cn >= (5 * n + 99) // 100 THEN cents END)
           AS p05_cents,
         MIN(CASE WHEN cn >= (95 * n + 99) // 100 THEN cents END)
           AS p95_cents
  FROM hh GROUP BY status, n
),
g AS (
  SELECT h.status, n_orders, p05_cents, p95_cents,
         SUM(CAST(wc AS HUGEINT) * cents) AS s,
         SUM(CAST(wc AS HUGEINT)
             * (CASE WHEN cents < p05_cents THEN p05_cents
                     WHEN cents > p95_cents THEN p95_cents
                     ELSE cents END)) AS sw
  FROM h JOIN bounds ON h.status = bounds.status
  GROUP BY h.status, n_orders, p05_cents, p95_cents
)
SELECT status, n_orders, p05_cents, p95_cents,
       {mean_raw} AS mean_micro,
       {mean_w} AS winsorized_mean_micro
FROM g
"""


SQL_METRIC_WINSORIZED = _sql_metric_winsorized()


# --------------------------------------------------------------------
# bootstrap_ci_winsorized
# --------------------------------------------------------------------


def q_bootstrap_ci_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap CI for the WINSORIZED mean order price per
    status — ``metric_winsorized``'s point estimate with its
    uncertainty attached: the whole reason platforms cap metrics is
    that the raw mean's variance is tail-dominated, and the capped
    metric's CI is what decisions actually read. Production
    convention (documented choice): the p5/p95 clamp bounds are
    estimated ONCE from the full sample and held FIXED across
    replicates — re-estimating quantiles inside every replicate
    answers a different (rarely wanted) question and costs a
    per-replicate quantile pass; with fixed bounds the replicate
    statistic is a plain weighted mean of the clamped values, so the
    bootstrap collapses back to the (group, b) counter monoid.

    Machinery: the exact type-1 p5/p95 bounds come off the bounded
    per-(status, cents) histogram (``metric_winsorized``'s pass),
    broadcast onto the order scan; the ``v:``-salted md5 CDF-ladder
    weights (independent of every other bootstrap lane) weight the
    CLAMPED cents; per-(status, b) Σw, Σw·clamped run
    decimal/HUGEINT; each replicate mean is the pinned half-up
    integer micro division; bounds are type-1 rank-selected. The
    plain winsorized mean is reported alongside (a pytest asserts
    the CI brackets it and matches ``metric_winsorized`` exactly).

    Scale shape: the histogram pass (shuffle bounded by the price
    domain), one broadcast ×B explode, ONE combinable (status, b)
    aggregate — shuffle volume |statuses|·B — and the bounded rank
    window. The only data-sized work is the scan itself.
    """
    from .trainprep import (
        BOOT_B,
        BOOT_HI_SEL,
        BOOT_LO_SEL,
        _BOOT_MEAN_EXPR,
        _pois_w_expr,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
            "cents"
        ),
    )
    dec = "decimal(38,0)"
    # exact type-1 p5/p95 bounds + plain winsorized mean, all over
    # the bounded per-(status, cents) histogram
    h = o.groupBy("status", "cents").agg(
        F.count("*").cast("long").alias("wc")
    )
    cum = Window.partitionBy("status").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy("status")
    hh = h.withColumn("cn", F.sum("wc").over(cum)).withColumn(
        "n", F.sum("wc").over(tot)
    )
    bounds = (
        hh.groupBy("status", "n")
        .agg(
            F.min(
                F.when(
                    F.expr("cn >= (5 * n + 99) div 100"), F.col("cents")
                )
            ).alias("p05_cents"),
            F.min(
                F.when(
                    F.expr("cn >= (95 * n + 99) div 100"), F.col("cents")
                )
            ).alias("p95_cents"),
        )
        .withColumnRenamed("n", "n_orders")
    )
    clamped = (
        "CASE WHEN cents < p05_cents THEN p05_cents"
        " WHEN cents > p95_cents THEN p95_cents ELSE cents END"
    )
    plain = (
        h.join(F.broadcast(bounds), "status")
        .groupBy("status", "n_orders", "p05_cents", "p95_cents")
        .agg(
            F.sum(F.col("wc").cast(dec) * F.expr(clamped)).cast(dec)
            .alias("swc")
        )
        .select(
            "status",
            "n_orders",
            "p05_cents",
            "p95_cents",
            F.expr(
                _WINS_MEAN_EXPR.format(
                    n="n_orders", s="swc", big=dec, div="div"
                )
            ).alias("winsorized_mean_micro"),
        )
    )
    b_lit = ", ".join(f"({b})" for b in range(BOOT_B))
    reps = spark.sql(f"SELECT * FROM VALUES {b_lit} AS t(b)")
    rows = (
        o.join(F.broadcast(bounds.select("status", "p05_cents",
                                         "p95_cents")), "status")
        .withColumn("cc", F.expr(clamped))
        .crossJoin(F.broadcast(reps))
        .withColumn(
            "u",
            F.expr(
                "substring(md5(concat('v:', CAST(o_orderkey AS STRING),"
                " ':', CAST(b AS STRING))), 1, 8)"
            ),
        )
        .withColumn("w", F.expr(_pois_w_expr("u")).cast("long"))
    )
    g = rows.groupBy("status", "b").agg(
        F.sum("w").alias("sw"),
        F.sum(F.col("w").cast(dec) * F.col("cc")).cast(dec).alias("swc"),
    )
    g = g.withColumn(
        "mean_micro", F.expr(_BOOT_MEAN_EXPR.format(big=dec, div="div"))
    ).where(F.col("mean_micro").isNotNull())
    win = Window.partitionBy("status").orderBy("mean_micro", "b")
    ranked = g.withColumn("rn", F.row_number().over(win)).withColumn(
        "nrep", F.count("*").over(Window.partitionBy("status"))
    )
    lo_sel, hi_sel = BOOT_LO_SEL.format(div="div"), BOOT_HI_SEL.format(div="div")
    ci = ranked.groupBy("status").agg(
        F.count("*").alias("n_replicates"),
        F.max(
            F.when(F.col("rn") == F.expr(lo_sel), F.col("mean_micro"))
        ).alias("ci_lo_micro"),
        F.max(
            F.when(F.col("rn") == F.expr(hi_sel), F.col("mean_micro"))
        ).alias("ci_hi_micro"),
    )
    return ci.join(F.broadcast(plain), "status").select(
        "status",
        "n_orders",
        "p05_cents",
        "p95_cents",
        "winsorized_mean_micro",
        "n_replicates",
        "ci_lo_micro",
        "ci_hi_micro",
    )


def _sql_bootstrap_ci_winsorized() -> str:
    from .trainprep import (
        BOOT_B,
        BOOT_HI_SEL,
        BOOT_LO_SEL,
        _BOOT_MEAN_EXPR,
        _pois_w_expr,
    )

    b_lit = ", ".join(f"({b})" for b in range(BOOT_B))
    mean_rep = _BOOT_MEAN_EXPR.format(big="HUGEINT", div="//")
    mean_plain = _WINS_MEAN_EXPR.format(
        n="n_orders", s="swc", big="HUGEINT", div="//"
    )
    return f"""
WITH reps AS (SELECT * FROM (VALUES {b_lit}) AS t(b)),
o AS (
  SELECT o_orderkey, o_orderstatus AS status,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
h AS (
  SELECT status, cents, CAST(COUNT(*) AS BIGINT) AS wc
  FROM o GROUP BY status, cents
),
hh AS (
  SELECT status, cents, wc,
         SUM(wc) OVER (PARTITION BY status ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cn,
         SUM(wc) OVER (PARTITION BY status) AS n
  FROM h
),
bounds AS (
  SELECT status, CAST(n AS BIGINT) AS n_orders,
         MIN(CASE WHEN cn >= (5 * n + 99) // 100 THEN cents END)
           AS p05_cents,
         MIN(CASE WHEN cn >= (95 * n + 99) // 100 THEN cents END)
           AS p95_cents
  FROM hh GROUP BY status, n
),
plain AS (
  SELECT h.status, n_orders, p05_cents, p95_cents,
         SUM(CAST(wc AS HUGEINT)
             * (CASE WHEN cents < p05_cents THEN p05_cents
                     WHEN cents > p95_cents THEN p95_cents
                     ELSE cents END)) AS swc
  FROM h JOIN bounds ON h.status = bounds.status
  GROUP BY h.status, n_orders, p05_cents, p95_cents
),
p2 AS (
  SELECT status, n_orders, p05_cents, p95_cents,
         {mean_plain} AS winsorized_mean_micro
  FROM plain
),
rows_w AS (
  SELECT o.status, b,
         (CASE WHEN cents < p05_cents THEN p05_cents
               WHEN cents > p95_cents THEN p95_cents
               ELSE cents END) AS cc,
         {_pois_w_expr(
             "substr(md5('v:' || CAST(o_orderkey AS VARCHAR) || ':' ||"
             " CAST(b AS VARCHAR)), 1, 8)"
         )} AS w
  FROM o
  JOIN bounds ON o.status = bounds.status
  CROSS JOIN reps
),
g AS (
  SELECT status, b,
         CAST(SUM(w) AS BIGINT) AS sw,
         SUM(CAST(w AS HUGEINT) * cc) AS swc
  FROM rows_w GROUP BY status, b
),
m AS (
  SELECT status, b, {mean_rep} AS mean_micro FROM g
),
r AS (
  SELECT status, b, mean_micro,
         row_number() OVER (PARTITION BY status
                            ORDER BY mean_micro, b) AS rn,
         COUNT(*) OVER (PARTITION BY status) AS nrep
  FROM m WHERE mean_micro IS NOT NULL
),
ci AS (
  SELECT status,
         CAST(COUNT(*) AS BIGINT) AS n_replicates,
         MAX(CASE WHEN rn = {BOOT_LO_SEL.format(div="//")} THEN mean_micro END)
           AS ci_lo_micro,
         MAX(CASE WHEN rn = {BOOT_HI_SEL.format(div="//")} THEN mean_micro END)
           AS ci_hi_micro
  FROM r GROUP BY status
)
SELECT ci.status, n_orders, p05_cents, p95_cents,
       winsorized_mean_micro, n_replicates, ci_lo_micro, ci_hi_micro
FROM ci JOIN p2 ON ci.status = p2.status
"""


SQL_BOOTSTRAP_CI_WINSORIZED = _sql_bootstrap_ci_winsorized()


QUERIES: list[Query] = [
    Query("dedup_cluster_stats", q_dedup_cluster_stats, _sql_dedup_cluster_stats()),
    Query("corr_spearman", q_corr_spearman, SQL_CORR_SPEARMAN),
    Query("trend_linfit", q_trend_linfit, SQL_TREND_LINFIT),
    Query("anova_oneway", q_anova_oneway, SQL_ANOVA_ONEWAY),
    Query("rank_mannwhitney", q_rank_mannwhitney, SQL_RANK_MANNWHITNEY),
    Query("rank_test_u", q_rank_test_u, SQL_RANK_TEST_U),
    Query("survival_km", q_survival_km, SQL_SURVIVAL_KM),
    Query("survival_logrank", q_survival_logrank, SQL_SURVIVAL_LOGRANK),
    Query("metric_winsorized", q_metric_winsorized, SQL_METRIC_WINSORIZED),
    Query("bootstrap_ci_winsorized", q_bootstrap_ci_winsorized, SQL_BOOTSTRAP_CI_WINSORIZED),
]
