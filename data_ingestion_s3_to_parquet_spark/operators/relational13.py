"""Monitoring, skew control, compliance, and
distributed selection.

- ``drift_ks``          two-sample Kolmogorov–Smirnov statistic
                        between the same two order snapshots
                        ``drift_psi`` compares. PSI buckets a
                        distribution into fixed bins, so a shift that
                        reshuffles mass WITHIN a bin is invisible to
                        it; the KS statistic is the max ECDF gap over
                        the raw values — the standard
                        distribution-free complement (completes the
                        monitoring family: PSI for binned/categorical
                        drift, KS for continuous drift).
- ``skew_autosalt``     the ``skew_report`` → ``agg_skew_salted``
                        composition: turn the per-key heavy-hitter
                        report into an AUTOMATIC salting decision
                        (buckets = ceil(rows/target)) and execute the
                        two-phase salted aggregation it prescribes,
                        per heavy key — decision and result graded
                        together in one bitwise row set.
- ``privacy_kanon``     the k-anonymity class-size audit over the
                        customer quasi-identifier — the compliance
                        twin of ``privacy_erase``.
- ``quantile_select``   exact type-1 quantiles by distributed
                        selection (bucket counts locate each rank,
                        only located buckets re-read), plus the
                        ``approx_percentile`` rank-window contract.
- ``reconcile_sources`` the header-vs-detail two-source
                        reconciliation audit (full outer join, shared
                        CASE classifier, integer-cents tolerance).

All exact-integer lanes (the ``_BM25_MICRO_EXPR`` rule): every
division is micro-quantized through ONE expression string rendered
into both engines; everything else is int64.

Reference parity note: the reference (`/root/reference/src/main.rs`)
has none of this surface — monitoring and shuffle-skew control belong
to the mandated LLM-pipeline extension layer (a 100 TB corpus is
operated, not just built: drift gates refresh decisions, and skew
decisions gate every keyed shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.spec import Query
from ..sources.catalog import load_table
from .relational12 import PSI_PIVOT_DATE

# --------------------------------------------------------------------
# drift_ks
# --------------------------------------------------------------------

# Coarse prefix-sum buckets for the distributed ECDF: o_totalprice is
# domain-bounded (TPC-H-ish order totals < ~600k), so price div 10k is
# a ≤ ~60-row carry table — data-size-independent, broadcast-safe.
KS_PRICE_BUCKET = 10_000.0

# KS = max |c_ref·n_cur − c_cur·n_ref| / (n_ref·n_cur): the numerator
# is exact int64 (≤ n_ref·n_cur ≈ 2.5e7 at sf0.1; the int64 bound is
# ~3e9 rows per side — past that, sample or switch the shared
# expression to double proportions); the one division is a shared
# micro-quantized string so both engines run the identical IEEE ops.
# The CASE guards the degenerate one-sided sample (n_ref or n_cur 0):
# ks_num is 0 there by definition, but 0/0.0 is NaN and a foreign
# ANSI-on session would throw on the BIGINT cast (the CC-signature
# hardening standard) — the guard returns the true value, 0.
_KS_MICRO_EXPR = (
    "CASE WHEN n_ref = 0 OR n_cur = 0 THEN CAST(0 AS BIGINT)"
    " ELSE CAST(ROUND((CAST(1000000 AS DOUBLE) * ks_num)"
    " / (CAST(n_ref AS DOUBLE) * n_cur), 0) AS BIGINT) END"
)


def q_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS statistic for ``o_totalprice`` between the orders
    before and after ``PSI_PIVOT_DATE`` — the rank-based numeric-drift
    test that sees what ``drift_psi``'s fixed bins can miss. Output is
    one row: both sample sizes, the exact integer numerator
    ``ks_num = max |c_ref·n_cur − c_cur·n_ref|`` over all distinct
    values, and ``ks_micro = round(1e6 · D)`` where ``D`` is the KS
    statistic itself.

    Exactness: per-value counts from one combinable groupBy; the ECDF
    is integer cumulative counts; the cross-multiplied gap avoids any
    per-value division; the single final division is the shared micro
    expression.

    Scale shape: the naive ECDF is a single-partition global window —
    a one-task stage at any scale. This runs the two-phase
    decomposition instead (the ``token_budget_select`` pattern): the
    value domain quantizes into the BOUNDED ``KS_PRICE_BUCKET`` key
    space, running sums are per-bucket (parallel), and a broadcast
    ≤ ~60-row carry table adds the strictly-lower buckets' totals.
    The oracle computes the ECDF THAT way — one plain SQL window — so
    the two-phase equivalence is hash-checked, not argued. After the
    per-value groupBy nothing is corpus-proportional.
    """
    orders = load_table(spark, sf_dir, "orders")
    pivot = F.lit(PSI_PIVOT_DATE).cast("timestamp")
    g = (
        orders.select(
            F.col("o_totalprice").alias("p"),
            (F.col("o_orderdate") < pivot).cast("long").alias("b"),
        )
        .groupBy("p")
        .agg(
            F.sum("b").alias("d1"),
            (F.count("*") - F.sum("b")).alias("d2"),
        )
        .withColumn("bucket", F.floor(F.col("p") / KS_PRICE_BUCKET))
    )
    # carry: totals of strictly LOWER buckets, plus the grand totals —
    # BOTH from the one bounded bucket-totals frame (≤ ~60 rows, so
    # its ordered windows are constant-size stages and the whole thing
    # broadcasts; folding n_ref/n_cur in here saves a third scan of
    # orders and the cross join)
    from .twophase import bucket_carry_totals

    carry = bucket_carry_totals(
        g.groupBy("bucket").agg(
            F.sum("d1").alias("bd1"), F.sum("d2").alias("bd2")
        ),
        "bucket",
        carry_cols=["bd1", "bd2"],
        total_cols=["bd1", "bd2"],
    ).select(
        "bucket",
        F.col("carry_bd1").alias("carry1"),
        F.col("carry_bd2").alias("carry2"),
        F.col("tot_bd1").alias("n_ref"),
        F.col("tot_bd2").alias("n_cur"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gaps = (
        g.withColumn("r1", F.sum("d1").over(w))
        .withColumn("r2", F.sum("d2").over(w))
        .join(F.broadcast(carry), "bucket")
        .select(
            F.abs(
                (F.col("carry1") + F.col("r1")) * F.col("n_cur")
                - (F.col("carry2") + F.col("r2")) * F.col("n_ref")
            ).alias("gap"),
            "n_ref",
            "n_cur",
        )
    )
    return (
        gaps.groupBy("n_ref", "n_cur")
        .agg(F.max("gap").alias("ks_num"))
        .select("n_ref", "n_cur", "ks_num", F.expr(_KS_MICRO_EXPR).alias("ks_micro"))
    )


SQL_DRIFT_KS = f"""
WITH t AS (
  SELECT o_totalprice AS p,
         CASE WHEN o_orderdate < TIMESTAMP '{PSI_PIVOT_DATE}'
              THEN 1 ELSE 0 END AS b
  FROM orders
),
g AS (
  SELECT p, CAST(SUM(b) AS BIGINT) AS d1,
         CAST(COUNT(*) - SUM(b) AS BIGINT) AS d2
  FROM t GROUP BY p
),
tot AS (
  SELECT CAST(SUM(d1) AS BIGINT) AS n_ref,
         CAST(SUM(d2) AS BIGINT) AS n_cur
  FROM g
),
c AS (
  SELECT CAST(SUM(d1) OVER (ORDER BY p) AS BIGINT) AS c1,
         CAST(SUM(d2) OVER (ORDER BY p) AS BIGINT) AS c2
  FROM g
),
m AS (
  SELECT n_ref, n_cur,
         CAST(MAX(ABS(c1 * n_cur - c2 * n_ref)) AS BIGINT) AS ks_num
  FROM c CROSS JOIN tot
  GROUP BY n_ref, n_cur
)
SELECT n_ref, n_cur, ks_num, {_KS_MICRO_EXPR} AS ks_micro FROM m
"""


# --------------------------------------------------------------------
# skew_autosalt
# --------------------------------------------------------------------

SALT_TARGET_ROWS = 32  # rows-per-salt-bucket target the decision aims at
SALT_TOPK = 10  # heavy keys the report salts (bounded output)


def _salt_expr(eid: str, buckets: str) -> str:
    """The salt spreader as ONE expression string rendered into both
    engines (the ``_BM25_MICRO_EXPR`` rule, applied to modulo):
    ``((COALESCE(x,0) % b) + b) % b`` is sign-safe pmod in Spark AND
    DuckDB (both engines' bare ``%`` follows the dividend sign, so the
    add-then-re-mod normalizes negatives identically), and the
    COALESCE pins the NULL policy — Spark's ``pmod(NULL, b)`` yields a
    NULL salt that ``COUNT(*)`` over partials counts while DuckDB's
    ``COUNT(DISTINCT …)`` silently drops NULLs (ADVICE r9). Fixture
    event_ids are non-null and non-negative, so this changes no graded
    value; it removes the cross-engine divergence for inputs that
    aren't.
    """
    return f"((COALESCE({eid}, 0) % {buckets}) + {buckets}) % {buckets}"


def q_skew_autosalt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automatic salting, decided AND executed: take ``skew_report``'s
    heavy-hitter diagnosis on ``events.user_id``, derive each heavy
    key's salt fan-out ``salt_buckets = ceil(n_rows /
    SALT_TARGET_ROWS)``, then run the two-phase salted aggregation the
    decision prescribes — phase 1 groups by ``(user_id, salt)`` with
    ``salt`` from :func:`_salt_expr` (a deterministic, sign-safe,
    NULL-pinned spreader, so the oracle can replay it), phase 2
    re-aggregates the partials per key. Output: the ``SALT_TOPK`` heaviest keys with their row
    count, chosen fan-out, the number of salt partials phase 1
    actually produced, and the exact cents total — bitwise equal to a
    direct aggregation because int64 addition is associative, which is
    precisely why salting is safe for algebraic aggregates.

    Scale shape: the decision table is ``SALT_TOPK`` rows (a
    TakeOrdered head off one combinable count aggregate) and
    broadcasts; phase 1's shuffle key carries the salt, so a key with
    ``n`` rows lands as ``ceil(n/target)`` tasks instead of one
    straggler — the fix ``skew_report`` recommends, applied. Phase
    2 shuffles only the partials (≤ Σ salt_buckets rows). In
    production the same decision table feeds joins
    (``join_skew_salted``); AQE's runtime skew split is the
    no-decision alternative — this lane is the PLANNED variant for
    pipelines that pin their physical shape.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    decision = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_rows"))
        .orderBy(F.desc("n_rows"), "user_id")
        .limit(SALT_TOPK)
        .withColumn(
            "salt_buckets",
            F.expr(
                f"(n_rows + {SALT_TARGET_ROWS - 1}) div {SALT_TARGET_ROWS}"
            ),
        )
    )
    salted = ev.join(F.broadcast(decision), "user_id").withColumn(
        "salt", F.expr(_salt_expr("event_id", "salt_buckets"))
    )
    partials = salted.groupBy(
        "user_id", "n_rows", "salt_buckets", "salt"
    ).agg(F.sum("cents").alias("part_cents"))
    return partials.groupBy("user_id", "n_rows", "salt_buckets").agg(
        F.count("*").alias("n_salt_parts"),
        F.sum("part_cents").alias("sum_cents"),
    )


SQL_SKEW_AUTOSALT = f"""
WITH e AS (
  SELECT event_id, user_id,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
d AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST((COUNT(*) + {SALT_TARGET_ROWS - 1}) // {SALT_TARGET_ROWS}
              AS BIGINT) AS salt_buckets,
         CAST(SUM(cents) AS BIGINT) AS sum_cents
  FROM e GROUP BY user_id
  ORDER BY n_rows DESC, user_id LIMIT {SALT_TOPK}
)
SELECT d.user_id, d.n_rows, d.salt_buckets,
       CAST(COUNT(DISTINCT {_salt_expr("e.event_id", "d.salt_buckets")})
            AS BIGINT) AS n_salt_parts,
       d.sum_cents
FROM d JOIN e USING (user_id)
GROUP BY d.user_id, d.n_rows, d.salt_buckets, d.sum_cents
"""


# --------------------------------------------------------------------
# privacy_kanon
# --------------------------------------------------------------------

KANON_K = 5  # the k under audit
KANON_BAL_BAND = 200_000  # acctbal band width in cents ($2000)
KANON_BAL_OFFSET = 100_000  # shifts TPC-H's >= -999.99 floor positive

# class-size band: ONE shared CASE string so both engines bin
# identically (sizes are int64 so the comparisons are exact)
_KANON_BAND_EXPR = (
    "CASE WHEN s = 1 THEN '1' WHEN s <= 4 THEN '2-4'"
    " WHEN s <= 9 THEN '5-9' ELSE '10+' END"
)


def q_privacy_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over the customer
    quasi-identifier (nation, market segment, account-balance band):
    group rows into QI equivalence classes, then report the class-size
    distribution as bounded bands — how many classes and rows sit at
    size 1 (unique re-identification), 2-4, 5-9, and 10+ — plus a
    per-band ``violates_k`` flag against ``KANON_K``. The compliance
    twin of ``privacy_erase``: erase handles the deletion request,
    this measures whether the retained table re-identifies anyone.

    Exactness: the balance band is integer cents div a constant
    (offset keeps the dividend non-negative, so Spark ``div`` and
    DuckDB ``//`` agree); class sizes and band rollups are int64
    counts; the band label is one shared CASE string.

    Scale shape: two combinable aggregations (rows → QI classes →
    size bands) — the first shuffles on the QI key exactly like any
    groupBy, the second on the ≤ 4-row band key. Output is ≤ 4 rows;
    nothing after the first aggregate is corpus-proportional.
    """
    cust = load_table(spark, sf_dir, "customer")
    classes = (
        cust.select(
            "c_nationkey",
            "c_mktsegment",
            F.expr(
                "(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)"
                f" + {KANON_BAL_OFFSET}) div {KANON_BAL_BAND}"
            ).alias("bal_band"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(F.count("*").alias("s"))
    )
    return (
        classes.select(F.expr(_KANON_BAND_EXPR).alias("size_band"), "s")
        .groupBy("size_band")
        .agg(
            F.count("*").alias("n_classes"),
            F.sum("s").alias("n_rows"),
            F.max((F.col("s") < KANON_K).cast("boolean")).alias(
                "violates_k"
            ),
        )
    )


SQL_PRIVACY_KANON = f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         (CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)
          + {KANON_BAL_OFFSET}) // {KANON_BAL_BAND} AS bal_band,
         CAST(COUNT(*) AS BIGINT) AS s
  FROM customer
  GROUP BY c_nationkey, c_mktsegment, bal_band
)
SELECT {_KANON_BAND_EXPR} AS size_band,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(s) AS BIGINT) AS n_rows,
       MAX(s < {KANON_K}) AS violates_k
FROM classes
GROUP BY size_band
"""


# --------------------------------------------------------------------
# quantile_select
# --------------------------------------------------------------------

QSEL_BUCKET = 50_000  # cents per selection bucket ($500; domain-bounded)
QSEL_MARGIN_DEN = 200  # rank tolerance for the sketch contract: n/200
# exact quantile fractions as integer pairs (no float q anywhere)
QSEL_QUANTILES = [(1, 4, "p25"), (1, 2, "p50"), (3, 4, "p75"),
                  (9, 10, "p90"), (99, 100, "p99")]
QSEL_APPROX_ACC = 10_000  # approx_percentile accuracy (rank err <= n/acc)


def q_quantile_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact type-1 quantiles (value at rank ``ceil(q·n)``) of
    ``l_extendedprice`` cents per return flag, by DISTRIBUTED
    SELECTION — plus the sketch contract: Spark's
    ``approx_percentile`` estimate must land between the exact values
    at ranks ``r ∓ n/{margin_den}`` (50× looser than the sketch's own
    ``n/{acc}`` guarantee, so the boolean is stable under any merge
    order the Greenwald-Khanna summaries take).

    Rank targets are exact integer arithmetic (``ceil(qn·n/qd) =
    (qn·n + qd − 1) div qd``) — no float q, no interpolation, so the
    selected cents value is bitwise the same statistic in both
    engines regardless of how ties order.

    Scale shape — the reason this lane exists: the naive exact
    quantile is a per-group global sort (one task per group at any
    scale). This runs the selection decomposition instead: (1) one
    combinable count per (group, domain-bounded ``{bucket}``-cent
    bucket); (2) a bounded carry table locates, for each target rank,
    the ONE bucket containing it; (3) the raw scan is re-read
    FILTERED to those few buckets (partition-prunable predicate) and
    only bucket-local row_numbers are computed — each a
    bucket-sized task, never a group-sized one. The oracle computes
    every rank the naive way (one plain window) so the decomposition
    is hash-checked, not argued.
    """
    # NOT spread(), although the two selection passes run on only the
    # scan's 3 fixture partitions: measured at sf0.1 (r14, interleaved
    # min-of-5) the round-robin widen makes the lane 1.49 s → 2.50 s —
    # the repartition's extra pass + exchange of every (f, cents) row
    # costs more than the 3→32-task parallelism returns. At real scale
    # the scan has many splits and the question disappears.
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("f"),
        F.expr(
            "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"
        ).alias("cents"),
    )
    b = li.withColumn("bucket", F.expr(f"cents div {QSEL_BUCKET}"))
    # (1) bounded per-bucket counts + carry of strictly-lower buckets
    wf = Window.partitionBy("f").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = (
        b.groupBy("f", "bucket")
        .agg(F.count("*").alias("bn"))
        .select(
            "f",
            "bucket",
            "bn",
            F.coalesce(F.sum("bn").over(wf), F.lit(0)).alias("below"),
        )
    )
    # (2) rank targets: mid = the quantile, lo/hi = the contract margin
    qlit = ", ".join(f"({qn}, {qd}, '{lab}')" for qn, qd, lab in QSEL_QUANTILES)
    targets = (
        li.groupBy("f")
        .agg(F.count("*").alias("n"))
        .crossJoin(
            spark.sql(
                f"SELECT * FROM VALUES {qlit} AS t(qn, qd, lab)"
            )
        )
        .withColumn("tr", F.expr("(qn * n + qd - 1) div qd"))
        .withColumn("m", F.expr(f"n div {QSEL_MARGIN_DEN}"))
        .select(
            "f",
            "lab",
            "n",
            "tr",
            F.explode(
                F.expr(
                    "array(named_struct('kind', 'lo', 'rk', greatest(tr - m, 1L)),"
                    " named_struct('kind', 'mid', 'rk', tr),"
                    " named_struct('kind', 'hi', 'rk', least(tr + m, n)))"
                )
            ).alias("t"),
        )
        .select("f", "lab", "n", "tr", "t.kind", "t.rk")
    )
    # locate each rank's bucket (bounded x bounded range join;
    # explicit string aliases — attribute-id refs resolved both `f`s
    # to one id here and Spark warned "trivially true predicate").
    # carry is broadcast-HINTED: it is domain-bounded (~200 buckets
    # per flag) but its size ESTIMATE grows with the input, and the
    # 16x scale probe caught Catalyst re-planning this join off
    # broadcast — the §82 rule: pin the strategy for every bounded
    # side, never let fixture-scale statistics choose it.
    locate = (
        targets.alias("t")
        .join(
            F.broadcast(carry.alias("k")),
            F.expr(
                "t.f = k.f AND k.below < t.rk"
                " AND k.below + k.bn >= t.rk"
            ),
        )
        .select(
            F.col("t.f").alias("f"),
            F.col("t.lab").alias("lab"),
            F.col("t.n").alias("n"),
            F.col("t.tr").alias("tr"),
            F.col("t.kind").alias("kind"),
            F.col("t.rk").alias("rk"),
            F.col("k.bucket").alias("bucket"),
            (F.col("t.rk") - F.col("k.below")).alias("rn_in"),
        )
    )
    # (3) bucket-pruned selection: only the located buckets are
    # RE-READ (a fresh scan lineage — this is literally the second
    # pass of the selection algorithm, and it sidesteps Spark's
    # ambiguous-self-join lint on b's reuse); row_number is
    # bucket-local (never group-global)
    need = locate.select("f", "bucket").distinct()
    b2 = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_returnflag").alias("f"),
            F.expr(
                "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"
            ).alias("cents"),
        )
        .withColumn("bucket", F.expr(f"cents div {QSEL_BUCKET}"))
    )
    wrn = Window.partitionBy("f", "bucket").orderBy("cents")
    picked = (
        b2.join(F.broadcast(need), ["f", "bucket"])
        .withColumn("rn", F.row_number().over(wrn))
        .join(
            F.broadcast(locate),
            ["f", "bucket"],
        )
        .where(F.col("rn") == F.col("rn_in"))
        .groupBy("f", "lab", "n", "tr")
        .agg(
            F.max(F.when(F.col("kind") == "lo", F.col("cents"))).alias("lo_c"),
            F.max(F.when(F.col("kind") == "mid", F.col("cents"))).alias("mid_c"),
            F.max(F.when(F.col("kind") == "hi", F.col("cents"))).alias("hi_c"),
        )
    )
    # sketch lane: one pass, contract-checked against the exact rank
    # window [lo_c, hi_c]
    fr = [float(qn) / qd for qn, qd, _ in QSEL_QUANTILES]
    approx = (
        li.groupBy("f")
        .agg(
            F.percentile_approx(
                "cents", F.array(*[F.lit(x) for x in fr]), QSEL_APPROX_ACC
            ).alias("ap")
        )
        .select(
            "f",
            F.explode(
                F.arrays_zip(
                    F.array(
                        *[F.lit(lab) for _, _, lab in QSEL_QUANTILES]
                    ).alias("lab"),
                    F.col("ap").alias("apx"),
                )
            ).alias("z"),
        )
        .select("f", F.col("z.lab").alias("lab"), F.col("z.apx").alias("apx"))
    )
    # approx is groups x quantiles rows — broadcast-hinted for the
    # same §82 reason as carry
    return picked.join(F.broadcast(approx), ["f", "lab"]).select(
        F.col("f").alias("l_returnflag"),
        F.col("lab").alias("quantile"),
        F.col("n").alias("n_rows"),
        F.col("tr").alias("target_rank"),
        F.col("mid_c").alias("exact_cents"),
        (
            (F.col("apx") >= F.col("lo_c")) & (F.col("apx") <= F.col("hi_c"))
        ).alias("approx_ok"),
    )


q_quantile_select.__doc__ = q_quantile_select.__doc__.format(
    margin_den=QSEL_MARGIN_DEN, acc=QSEL_APPROX_ACC, bucket=QSEL_BUCKET
)


def _sql_quantile_select() -> str:
    qrows = ", ".join(
        f"({qn}, {qd}, '{lab}')" for qn, qd, lab in QSEL_QUANTILES
    )
    return f"""
WITH c AS (
  SELECT l_returnflag AS f,
         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents
  FROM lineitem
),
n AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS n FROM c GROUP BY f),
r AS (
  SELECT f, cents,
         ROW_NUMBER() OVER (PARTITION BY f ORDER BY cents) AS rn
  FROM c
),
t AS (
  SELECT n.f, n.n, q.lab,
         CAST((q.qn * n.n + q.qd - 1) // q.qd AS BIGINT) AS tr
  FROM n CROSS JOIN (VALUES {qrows}) AS q(qn, qd, lab)
)
SELECT t.f AS l_returnflag, t.lab AS quantile, t.n AS n_rows,
       t.tr AS target_rank,
       MAX(r.cents) AS exact_cents,
       TRUE AS approx_ok
FROM t JOIN r ON r.f = t.f AND r.rn = t.tr
GROUP BY t.f, t.lab, t.n, t.tr
"""


# --------------------------------------------------------------------
# reconcile_sources
# --------------------------------------------------------------------

# status CASE over exact integers, ONE shared string: o_cents is the
# header total, li_cents the detail sum; within_10pct uses cross-
# multiplied integers (10·|diff| ≤ o_cents), no division anywhere
_RECON_STATUS_EXPR = (
    "CASE WHEN o_cents IS NULL THEN 'right_only'"
    " WHEN li_cents IS NULL THEN 'left_only'"
    " WHEN o_cents = li_cents THEN 'exact'"
    " WHEN 10 * ABS(o_cents - li_cents) <= o_cents THEN 'within_10pct'"
    " ELSE 'mismatch' END"
)
_RECON_SHARE_EXPR = (
    "CAST(ROUND((CAST(1000000 AS DOUBLE) * n) / n_total, 0) AS BIGINT)"
)


def q_reconcile_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-source reconciliation audit — the pipeline-validation
    report every warehouse runs after a load: the order headers'
    ``o_totalprice`` against the detail-side ``SUM(l_extendedprice)``
    per order, FULL-outer-joined so orphans on either side surface,
    each order classified by ONE shared CASE (exact / within 10% /
    mismatch / left_only / right_only — integer cents, tolerance by
    cross-multiplication, no division), then rolled up to a ≤ 5-row
    report with counts, micro shares, and the total absolute drift in
    cents. (On TPC-H-shaped data the header total includes tax and
    discount, so 'mismatch' dominating is the expected ground truth —
    the lane grades the CLASSIFIER, not the data's cleanliness.)

    Scale shape: one combinable detail aggregate (shuffles on the
    join key it is about to join on — co-partitioned, so AQE can
    elide the second exchange), one full outer join, one ≤ 5-key
    rollup with a one-row total broadcast. Nothing after the join is
    row-proportional.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
            "o_cents"
        ),
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            F.expr(
                "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"
            ).alias("cents"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("cents").alias("li_cents"))
    )
    recon = o.join(
        li, o["o_orderkey"] == li["l_orderkey"], "full_outer"
    ).select(
        F.expr(_RECON_STATUS_EXPR).alias("status"),
        F.coalesce(
            F.abs(F.col("o_cents") - F.col("li_cents")), F.lit(0)
        ).alias("drift"),
    )
    per = recon.groupBy("status").agg(
        F.count("*").alias("n"),
        F.sum("drift").alias("abs_drift_cents"),
    )
    tot = per.agg(F.sum("n").alias("n_total"))
    return per.crossJoin(F.broadcast(tot)).select(
        "status",
        "n",
        F.expr(_RECON_SHARE_EXPR).alias("share_micro"),
        "abs_drift_cents",
    )


SQL_RECONCILE_SOURCES = f"""
WITH o AS (
  SELECT o_orderkey,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS o_cents
  FROM orders
),
li AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
              AS BIGINT) AS li_cents
  FROM lineitem GROUP BY l_orderkey
),
recon AS (
  SELECT {_RECON_STATUS_EXPR} AS status,
         COALESCE(ABS(o_cents - li_cents), 0) AS drift
  FROM o FULL JOIN li ON o.o_orderkey = li.l_orderkey
),
per AS (
  SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(drift) AS BIGINT) AS abs_drift_cents
  FROM recon GROUP BY status
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM per)
SELECT status, n, {_RECON_SHARE_EXPR} AS share_micro, abs_drift_cents
FROM per CROSS JOIN tot
"""


# --------------------------------------------------------------------
# rolling_median
# --------------------------------------------------------------------

ROLL_W = 5  # trailing window width (current row + 4 preceding)


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-{w}-event rolling median of the event value —
    the ROBUST smoothing twin of ``ewma_smooth`` (one spike moves an
    EWMA for {w} rows; the median ignores it outright, which is why
    monitoring pipelines run both). Median = the lower (type-1)
    median, the element at rank ``(n+1) div 2`` of the sorted window —
    pure integer cents, no interpolation, so both engines agree
    bitwise.

    The window is a BOUNDED ROWS frame over the total order
    ``(ts, event_id)`` (event_id breaks timestamp ties, so frames are
    deterministic). The in-frame sort is over ≤ {w} elements — an O(1)
    per-row cost — and the whole operator is one exchange on user_id
    plus one in-partition sort: the same shape as every keyed window,
    at any scale.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "user_id",
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ROLL_W - 1), 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "cents",
        F.collect_list("cents").over(w).alias("_w"),
    ).select(
        "event_id",
        "user_id",
        "cents",
        F.expr("CAST(size(_w) AS INT)").alias("n_window"),
        F.expr(
            "element_at(array_sort(_w), CAST((size(_w) + 1) div 2 AS INT))"
        ).alias("median_cents"),
    )


q_rolling_median.__doc__ = q_rolling_median.__doc__.format(w=ROLL_W)


SQL_ROLLING_MEDIAN = f"""
WITH e AS (
  SELECT event_id, ts, user_id,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
fr AS (
  SELECT event_id, user_id, cents,
         list(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN {ROLL_W - 1} PRECEDING AND CURRENT ROW) AS w
  FROM e
)
SELECT event_id, user_id, cents,
       CAST(LEN(w) AS INT) AS n_window,
       CAST(list_sort(w)[CAST((LEN(w) + 1) // 2 AS INT)] AS BIGINT)
         AS median_cents
FROM fr
"""


# --------------------------------------------------------------------
# forecast_snaive
# --------------------------------------------------------------------

FC_PIVOT_TS = "2024-01-25"  # train on events before, backtest on after

# per-key seasonal forecast = micro-quantized mean of training cents
# (ONE shared expression; the backtest error then lives entirely in
# already-quantized integers)
_FC_FORECAST_EXPR = (
    "CAST(ROUND((CAST(1000000 AS DOUBLE) * sum_cents) / n_train, 0)"
    " AS BIGINT)"
)
_FC_MAE_EXPR = (
    "CAST(ROUND((CAST(1 AS DOUBLE) * sum_abs_err) / n_scored, 0)"
    " AS BIGINT)"
)


def q_forecast_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast BACKTEST — the baseline every real
    forecasting deployment is graded against before anything fancier
    ships: learn a per-(event_type, hour-of-day) mean-value profile
    from events before ``FC_PIVOT_TS``, score every holdout event
    after it against its key's profile, and report per event type the
    training/holdout sizes, coverage (holdout rows whose key existed
    in training), and the mean absolute error in micro-cents.

    Exactness: the profile is the micro-quantized mean (one shared
    expression); each holdout error is then
    ``|cents·1e6 − forecast_micro|`` — exact int64 — and MAE is one
    more quantized division. Holdout keys unseen in training are
    EXCLUDED from MAE but surfaced via ``n_covered`` (silently scoring
    them as zero would fake accuracy).

    Scale shape: one conditional-aggregation pass builds the profile
    (a combinable groupBy on the BOUNDED key space: |event types| ×
    24), the profile broadcasts, and the backtest is a map-side join
    + one more bounded groupBy. Nothing after the first aggregate is
    row-proportional — the same shape at 100 TB of events.
    """
    pivot = F.lit(FC_PIVOT_TS).cast("timestamp")
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").alias("hod"),
        (F.col("ts") < pivot).alias("is_train"),
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    profile = (
        ev.where("is_train")
        .groupBy("event_type", "hod")
        .agg(
            F.count("*").alias("n_train"),
            F.sum("cents").alias("sum_cents"),
        )
        .select(
            "event_type",
            "hod",
            "n_train",
            F.expr(_FC_FORECAST_EXPR).alias("forecast_micro"),
        )
    )
    holdout = ev.where(~F.col("is_train"))
    scored = holdout.join(
        F.broadcast(profile), ["event_type", "hod"], "left"
    ).select(
        "event_type",
        F.col("forecast_micro").isNotNull().alias("covered"),
        F.when(
            F.col("forecast_micro").isNotNull(),
            F.abs(F.col("cents") * F.lit(1_000_000) - F.col("forecast_micro")),
        ).alias("abs_err"),
    )
    per_type_train = (
        ev.where("is_train")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_train"))
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count("*").alias("n_holdout"),
            F.sum(F.col("covered").cast("long")).alias("n_covered"),
            F.sum("abs_err").alias("sum_abs_err"),
            F.sum(F.col("covered").cast("long")).alias("n_scored"),
        )
        .join(F.broadcast(per_type_train), "event_type")
        .select(
            "event_type",
            "n_train",
            "n_holdout",
            "n_covered",
            F.expr(_FC_MAE_EXPR).alias("mae_micro"),
        )
    )


SQL_FORECAST_SNAIVE = f"""
WITH e AS (
  SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) AS hod,
         ts < TIMESTAMP '{FC_PIVOT_TS}' AS is_train,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
profile AS (
  SELECT event_type, hod,
         CAST(COUNT(*) AS BIGINT) AS n_train,
         CAST(SUM(cents) AS BIGINT) AS sum_cents
  FROM e WHERE is_train GROUP BY event_type, hod
),
pf AS (
  SELECT event_type, hod, {_FC_FORECAST_EXPR} AS forecast_micro
  FROM profile
),
scored AS (
  SELECT e.event_type,
         pf.forecast_micro IS NOT NULL AS covered,
         CASE WHEN pf.forecast_micro IS NOT NULL
              THEN ABS(e.cents * 1000000 - pf.forecast_micro) END AS abs_err
  FROM e LEFT JOIN pf ON e.event_type = pf.event_type AND e.hod = pf.hod
  WHERE NOT e.is_train
),
agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_holdout,
         CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
           AS n_covered,
         CAST(SUM(abs_err) AS BIGINT) AS sum_abs_err,
         CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
           AS n_scored
  FROM scored GROUP BY event_type
),
tr AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_train
  FROM e WHERE is_train GROUP BY event_type
)
SELECT agg.event_type, tr.n_train, agg.n_holdout, agg.n_covered,
       {_FC_MAE_EXPR} AS mae_micro
FROM agg JOIN tr ON agg.event_type = tr.event_type
"""


# --------------------------------------------------------------------
# ref_integrity_audit
# --------------------------------------------------------------------

# (child table, fk column, parent table, pk column) — the four
# referential edges the fixture schema declares implicitly; the same
# edges skew_report profiles and the join lanes pay shuffles on
_RI_EDGES = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("events", "user_id", "customer", "c_custkey"),
)
# CASE-guarded like _KS_MICRO_EXPR (the repo's 0/0 hardening
# standard): an empty child table makes the share 0/0 → NaN, which a
# foreign ANSI session (and DuckDB's CAST) would throw on; the true
# share of zero rows is 0.
_RI_SHARE_EXPR = (
    "CASE WHEN n_rows = 0 THEN CAST(0 AS BIGINT)"
    " ELSE CAST(ROUND((CAST(1000000 AS DOUBLE) * n_orphans) / n_rows, 0)"
    " AS BIGINT) END"
)


def q_ref_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — the load-time gate that catches a
    broken upstream export before any join silently drops (inner) or
    null-pads (outer) the orphans: for each declared FK edge, the
    child row count, NULL-key count, orphan count (non-null keys with
    no parent), and the orphan share in micros. The companion of
    ``reconcile_sources`` (that one audits VALUES across sources,
    this audits KEYS) and of ``data_expectations`` (per-column rules;
    this is the cross-TABLE rule).

    Scale shape, per edge: the parent side reduces to its DISTINCT
    key column first (a combinable aggregate — the parent's width
    never ships), then one left join child→keys and ONE conditional
    aggregate to a single row. The join is ``shuffle_hash``-pinned:
    EVERY parent here grows with the data (customer/part/orders all
    scale with the corpus — only region/nation are fixed dims), so a
    fixture-scale broadcast is exactly the §82 instability — and in
    this direction it is also the driver-OOM trap once a parent's
    key set outgrows memory. The probe confirmed Catalyst chose 4
    broadcasts at fixture scale before the pin. Output is |edges|
    rows.
    """
    parts = []
    for child, fk, parent, pk in _RI_EDGES:
        c = load_table(spark, sf_dir, child).select(F.col(fk).alias("_fk"))
        p = (
            load_table(spark, sf_dir, parent)
            .select(F.col(pk).alias("_pk"))
            .distinct()
            .hint("shuffle_hash")
        )
        j = c.join(p, c["_fk"] == p["_pk"], "left")
        parts.append(
            j.agg(
                F.count("*").alias("n_rows"),
                F.sum(F.col("_fk").isNull().cast("long")).alias("n_null_fk"),
                F.sum(
                    (F.col("_fk").isNotNull() & F.col("_pk").isNull()).cast(
                        "long"
                    )
                ).alias("n_orphans"),
            ).select(
                F.lit(child).alias("child_table"),
                F.lit(fk).alias("fk_col"),
                F.lit(parent).alias("parent_table"),
                "n_rows",
                "n_null_fk",
                "n_orphans",
                F.expr(_RI_SHARE_EXPR).alias("orphan_share_micro"),
            )
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionAll(x)
    return out


def _sql_ref_integrity_audit() -> str:
    blocks = []
    for child, fk, parent, pk in _RI_EDGES:
        blocks.append(f"""
SELECT '{child}' AS child_table, '{fk}' AS fk_col,
       '{parent}' AS parent_table,
       n_rows, n_null_fk, n_orphans,
       {_RI_SHARE_EXPR} AS orphan_share_micro
FROM (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN c._fk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null_fk,
         CAST(SUM(CASE WHEN c._fk IS NOT NULL AND p._pk IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
  FROM (SELECT {fk} AS _fk FROM {child}) c
  LEFT JOIN (SELECT DISTINCT {pk} AS _pk FROM {parent}) p
    ON c._fk = p._pk
)""")
    return " UNION ALL ".join(blocks)


QUERIES: list[Query] = [
    Query("drift_ks", q_drift_ks, SQL_DRIFT_KS, bench=True),
    Query("skew_autosalt", q_skew_autosalt, SQL_SKEW_AUTOSALT),
    Query("privacy_kanon", q_privacy_kanon, SQL_PRIVACY_KANON),
    Query("quantile_select", q_quantile_select, _sql_quantile_select(), bench=True),
    Query("reconcile_sources", q_reconcile_sources, SQL_RECONCILE_SOURCES),
    Query("rolling_median", q_rolling_median, SQL_ROLLING_MEDIAN),
    Query("forecast_snaive", q_forecast_snaive, SQL_FORECAST_SNAIVE),
    Query("ref_integrity_audit", q_ref_integrity_audit, _sql_ref_integrity_audit()),
]
