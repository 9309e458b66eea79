"""Survival-analysis queries (SURVEY X3): Kaplan-Meier over synthetic
order lifetimes. The risk-set/event-count core is pure integer
arithmetic; the curve emits survival rounded to 6 dp so the identical
log-space cumulative-product formulation matches across engines (both
compute exp/ln in double on the same deterministic per-stratum order;
6-dp rounding absorbs any sub-ulp libm drift). Hand-computed golden
values live in pytest alongside.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table, scan_input_bytes
from ..functions.scalars import (
    fiscal_year,
    pin_dbl,
    ratio_dbl,
    sql_pin_dbl,
    sql_ratio_dbl,
)
from ..operators.survival import kaplan_meier, km_counts
from ..registry import materialize_ctes, register


def _records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival records from orders: duration = synthetic lifetime in
    days (30 + orderkey % 300), event=1 for finished ('F') orders,
    censored otherwise — the remand-return shape
    (notebooks/other/remand-return.Rmd:44-57)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        (F.lit(30) + F.col("o_orderkey") % 300).cast("int").alias("duration"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("event"),
        F.col("o_orderpriority").alias("stratum"),
    )


@register(
    "surv_km_counts",
    oracle="""
    WITH rec AS (
      SELECT CAST(30 + o_orderkey % 300 AS INT) AS duration,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS event
      FROM orders
    ), per_t AS (
      SELECT duration AS t,
             SUM(event) AS n_event,
             SUM(1 - event) AS n_censored
      FROM rec GROUP BY duration
    )
    SELECT t,
           CAST(SUM(n_event + n_censored) OVER ()
             - COALESCE(SUM(n_event + n_censored) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS n_risk,
           CAST(n_event AS BIGINT) AS n_event,
           CAST(n_censored AS BIGINT) AS n_censored
    FROM per_t
    ORDER BY t
    """,
    tags=("X3", "KM"),
)
def surv_km_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KM estimator core: per-time risk set + event/censor counts —
    one groupBy + one window, all integer arithmetic (exact)."""
    return km_counts(_records(spark, sf_dir), "duration", "event").select(
        "t", "n_risk", "n_event", "n_censored"
    )


@register(
    "surv_km_curve",
    oracle=f"""
    WITH rec AS (
      SELECT o_orderpriority AS stratum,
             CAST(30 + o_orderkey % 300 AS INT) AS duration,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS event
      FROM orders
    ), per_t AS (
      SELECT stratum, duration AS t,
             SUM(event) AS n_event,
             SUM(1 - event) AS n_censored,
             COUNT(*) AS n_at_t
      FROM rec GROUP BY stratum, duration
    ), risk AS (
      SELECT stratum, t, n_event, n_censored,
             SUM(n_at_t) OVER (PARTITION BY stratum)
             - COALESCE(SUM(n_at_t) OVER (PARTITION BY stratum ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      FROM per_t
    ), frac AS (
      SELECT stratum, t, n_risk, n_event, n_censored,
             CAST(n_risk - n_event AS DOUBLE) / n_risk AS f
      FROM risk
    )
    SELECT stratum, t,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(n_event AS BIGINT) AS n_event,
           CAST(n_censored AS BIGINT) AS n_censored,
           {sql_pin_dbl('''CASE WHEN MIN(f) OVER cum <= 0 THEN 0.0
                 ELSE EXP(SUM(LN(GREATEST(f, 1e-300))) OVER cum) END''')}
             AS survival
    FROM frac
    WINDOW cum AS (PARTITION BY stratum ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY stratum, t
    """,
    tags=("X3", "KM"),
    bench=True,
)
def surv_km_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full stratified KM curves: survival S(t) per order priority via
    log-space window cumulative products (no UDF, no driver loop).
    The oracle mirrors the exact same formulation; both sides round to
    6 dp (see module docstring)."""
    km = kaplan_meier(
        _records(spark, sf_dir), "duration", "event", strata=["stratum"]
    )
    # KM product (exp-of-log-sum double): the ROUND(double, s)
    # tie-flip class — pinned via floor(x*1e6+0.5), identical IEEE
    # ops in both engines (round-11 migration)
    return km.withColumn("survival", pin_dbl(F.col("survival")))


@register(
    "surv_median_lifetime",
    oracle="""
    WITH rec AS (
      SELECT o_orderpriority AS stratum,
             CAST(30 + o_orderkey % 300 AS INT) AS duration,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS event
      FROM orders
    )
    SELECT stratum,
           quantile_cont(duration, 0.5) AS median_duration,
           CAST(SUM(event) AS BIGINT) AS n_events,
           COUNT(*) AS n
    FROM rec
    GROUP BY stratum
    ORDER BY stratum
    """,
    tags=("X3", "A7"),
)
def surv_median_lifetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified median lifetimes (integer durations: interpolation
    exact in both engines)."""
    rec = _records(spark, sf_dir)
    return (
        rec.groupBy("stratum")
        .agg(
            F.expr("percentile(duration, 0.5)").alias("median_duration"),
            F.sum("event").alias("n_events"),
            F.count("*").alias("n"),
        )
        .orderBy("stratum")
    )


# The "handoff" edge derivation shared by the closure and PageRank
# graph queries: user u links to user v when v's event follows u's
# within 25 seconds on the same event type.
_HANDOFF_EDGES_SQL = """ordered AS (
      SELECT event_type, user_id,
             date_diff('second', TIMESTAMP '1970-01-01', ts) AS sec,
             event_id,
             LEAD(user_id) OVER w AS dst,
             LEAD(date_diff('second', TIMESTAMP '1970-01-01', ts)) OVER w
               AS nxt_sec
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY
                   date_diff('second', TIMESTAMP '1970-01-01', ts), event_id)
    ), edges AS (
      SELECT DISTINCT user_id AS src, dst
      FROM ordered
      WHERE dst IS NOT NULL AND dst <> user_id AND nxt_sec - sec <= 25
    )"""


def _handoff_edges(spark: SparkSession, sf_dir: str):
    """Directed, deduplicated handoff edge list (see _HANDOFF_EDGES_SQL)."""
    from ..operators.sessionize import epoch_seconds
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events").withColumn("sec", epoch_seconds("ts"))
    w = Window.partitionBy("event_type").orderBy("sec", "event_id")
    return (
        e.select("event_type", "user_id", "sec", "event_id")
        .withColumn("dst", F.lead("user_id").over(w))
        .withColumn("gap", F.lead("sec").over(w) - F.col("sec"))
        .filter(
            F.col("dst").isNotNull()
            & (F.col("gap") <= 25)
            & (F.col("dst") != F.col("user_id"))
        )
        .select(F.col("user_id").alias("src"), F.col("dst"))
        .distinct()
    )


@register(
    "closure_components",
    oracle=f"""
    WITH RECURSIVE {_HANDOFF_EDGES_SQL}, und AS (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ), nodes AS (
      SELECT DISTINCT src AS node FROM und
    ), reach AS (
      SELECT node, node AS r FROM nodes
      UNION
      SELECT re.node, u.dst AS r FROM reach re JOIN und u ON u.src = re.r
    ), comp AS (
      SELECT node, MIN(r) AS component FROM reach GROUP BY node
    ), sizes AS (
      SELECT component, COUNT(*) AS size FROM comp GROUP BY component
    )
    SELECT size, COUNT(*) AS n_components
    FROM sizes GROUP BY size ORDER BY size
    """,
    tags=("J19",),
)
def closure_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure (logical-case unification, J19): users are
    linked when one follows the other within 25 seconds on the same
    event type ('handoff' edges); components = label propagation to
    fixpoint with per-iteration localCheckpoint. Output: component
    size histogram."""
    from ..operators.closure import connected_components

    comp = connected_components(_handoff_edges(spark, sf_dir), "src", "dst")
    sizes = comp.groupBy("component").agg(F.count("*").alias("size"))
    return (
        sizes.groupBy("size")
        .agg(F.count("*").alias("n_components"))
        .orderBy("size")
    )


@register(
    "surv_cuminc",
    oracle="""
    WITH rec AS (
      SELECT CAST(30 + o_orderkey % 300 AS INT) AS duration,
             CASE WHEN o_orderstatus = 'F' THEN 1
                  WHEN o_orderstatus = 'P' THEN 2
                  ELSE 0 END AS cause
      FROM orders
    ), per_t AS (
      SELECT duration AS t,
             SUM(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS d1,
             SUM(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS d2,
             SUM(CASE WHEN cause = 0 THEN 1 ELSE 0 END) AS n_censored,
             COUNT(*) AS n_at_t
      FROM rec GROUP BY duration
    ), risk AS (
      SELECT t, d1, d2, n_censored,
             SUM(n_at_t) OVER ()
             - COALESCE(SUM(n_at_t) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      FROM per_t
    ), frac AS (
      SELECT *, CAST(n_risk - d1 - d2 AS DOUBLE) / n_risk AS f FROM risk
    ), surv AS (
      SELECT *,
             CASE WHEN COALESCE(MIN(f) OVER prev, 1.0) <= 0 THEN 0.0
                  ELSE EXP(COALESCE(SUM(LN(GREATEST(f, 1e-300))) OVER prev, 0.0))
             END AS s_prev
      FROM frac
      WINDOW prev AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT t, CAST(n_risk AS BIGINT) AS n_risk,
           CAST(n_censored AS BIGINT) AS n_censored,
           CAST(d1 AS BIGINT) AS d1,
           ROUND(SUM(s_prev * d1 / n_risk) OVER cum, 6) AS cif1,
           CAST(d2 AS BIGINT) AS d2,
           ROUND(SUM(s_prev * d2 / n_risk) OVER cum, 6) AS cif2
    FROM surv
    WINDOW cum AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY t
    """,
    tags=("X3", "CUMINC"),
)
def surv_cuminc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Competing-risks cumulative incidence (Aalen-Johansen; reference
    `cuminc`, event-history.R:247-248): cause 1 = finished, cause 2 =
    in-process closure, censored otherwise. Identical formulation on
    both engines, rounded to 6 dp (see module docstring)."""
    from ..operators.survival import competing_risks_cuminc

    o = load_table(spark, sf_dir, "orders")
    rec = o.select(
        (F.lit(30) + F.col("o_orderkey") % 300).cast("int").alias("duration"),
        F.when(F.col("o_orderstatus") == "F", 1)
        .when(F.col("o_orderstatus") == "P", 2)
        .otherwise(0)
        .alias("cause"),
    )
    return competing_risks_cuminc(rec, "duration", "cause", n_causes=2)


@register(
    "x3_grouped_correlation",
    oracle="""
    WITH s AS (
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus, n,
           ROUND((n * sxy - sx * sy)
                 / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             AS corr_qty_disc,
           ROUND((n * sxy - sx * sy) / (CAST(n AS DOUBLE) * n), 6)
             AS cov_qty_disc,
           ROUND(sx / n, 6) AS mean_qty,
           ROUND(sy / n, 6) AS mean_disc
    FROM s ORDER BY l_returnflag, l_linestatus
    """,
    tags=("X3", "GLM", "A1"),
)
def x3_grouped_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Pearson correlation from ONE pass of sufficient
    statistics — the distributed-stats pattern next to
    x3_linreg_closed_form, but with every sum carried as exact
    DECIMAL (quantity and discount are scale-2, so products stay at
    scale 4 and far below the exact decimal->double range): the corr/
    cov/mean doubles are single deterministic expressions over exact
    inputs, not rounded races between engine summation orders.

    Scale shape: one map-side-combinable groupBy over the fact table;
    everything after is #groups rows. This is how corr matrices get
    computed at 100 TB — never a second pass for the means."""
    from ..functions.scalars import dec

    li = load_table(spark, sf_dir, "lineitem")
    q, d = dec("l_quantity"), dec("l_discount")
    s = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(q).cast("double").alias("sx"),
        F.sum(d).cast("double").alias("sy"),
        F.sum(q * q).cast("double").alias("sxx"),
        F.sum(d * d).cast("double").alias("syy"),
        F.sum(q * d).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("corr_qty_disc"),
        F.round((n * sxy - sx * sy) / (n.cast("double") * n), 6).alias(
            "cov_qty_disc"
        ),
        F.round(sx / n, 6).alias("mean_qty"),
        F.round(sy / n, 6).alias("mean_disc"),
    ).orderBy("l_returnflag", "l_linestatus")


@register(
    "x3_linreg_closed_form",
    oracle="""
    SELECT ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           COUNT(*) AS n
    FROM lineitem
    """,
    tags=("X3", "GLM"),
)
def x3_linreg_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model layer, distributed closed form (reference lm,
    reader-pilot.R:16-33): regression as ONE aggregation of sufficient
    statistics — slope/intercept/r2 from covariances. Rounded to 6 dp
    against DuckDB's regr_* (same math, different summation order)."""
    from ..ml import linreg_stats

    li = load_table(spark, sf_dir, "lineitem")
    s = linreg_stats(li, y="l_extendedprice", x="l_quantity")
    return s.select(
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        F.round("r2", 6).alias("r2"),
        "n",
    )


@register(
    "x6_grouped_model_fit",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("X6", "X3", "GLM"),
)
def x6_grouped_model_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group model loop as applyInPandas (X6) — the reference's
    per-year glmer loop (effect-on-outcomes.Rmd:234-263, SURVEY §3.2
    stage 4): one OLS fit per (returnflag, linestatus) group, each
    group's rows Arrow-shipped to a pandas closed-form fit. This is
    the grouped-map escape hatch for models with no sufficient-
    statistics form; the sufficient-statistics path for the SAME model
    is x3_linreg_closed_form (prefer it when algebra allows — it never
    leaves the JVM)."""
    import pandas as pd

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"
    )
    out_schema = (
        "l_returnflag string, l_linestatus string, n long, "
        "slope double, intercept double"
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["l_quantity"].to_numpy(dtype="float64")
        y = pdf["l_extendedprice"].to_numpy(dtype="float64")
        mx, my = x.mean(), y.mean()
        sxx = ((x - mx) ** 2).sum()
        slope = float(((x - mx) * (y - my)).sum() / sxx)
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "l_linestatus": [pdf["l_linestatus"].iloc[0]],
                "n": [len(pdf)],
                "slope": [round(slope, 6)],
                "intercept": [round(float(my - slope * mx), 6)],
            }
        )

    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .applyInPandas(fit, schema=out_schema)
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "surv_weibull_fit",
    oracle="""
    WITH rec AS (
      SELECT CAST(30 + o_orderkey % 300 AS INT) AS duration
      FROM orders WHERE o_orderstatus = 'F'
    ), per_t AS (
      SELECT duration AS t, COUNT(*) AS n FROM rec GROUP BY duration
    ), surv AS (
      SELECT t,
             1.0 - CAST(SUM(n) OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                   / (SUM(n) OVER () + 1) AS s
      FROM per_t
    )
    SELECT ROUND(regr_slope(LN(-LN(s)), LN(t)), 6) AS shape,
           ROUND(EXP(-regr_intercept(LN(-LN(s)), LN(t))
                     / regr_slope(LN(-LN(s)), LN(t))), 6) AS scale,
           ROUND(regr_r2(LN(-LN(s)), LN(t)), 6) AS r2,
           COUNT(*) AS n_points
    FROM surv WHERE s > 0 AND s < 1
    """,
    tags=("X3", "WEIBULL"),
)
def surv_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull fit port (docket-model.R:65 flexsurvreg): the classic
    probability-plot linearization ln(-ln S(t)) = k·ln t - k·ln λ,
    with S the (n+1)-adjusted empirical survival of uncensored
    durations, fitted by the closed-form regression aggregate. Shape
    k = slope, scale λ = exp(-intercept/slope)."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    rec = o.filter(F.col("o_orderstatus") == "F").select(
        (F.lit(30) + F.col("o_orderkey") % 300).cast("int").alias("t")
    )
    per_t = rec.groupBy("t").agg(F.count("*").alias("n"))
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    surv = per_t.select(
        "t",
        (
            F.lit(1.0)
            - F.sum("n").over(w_cum).cast("double")
            / (F.sum("n").over(Window.partitionBy()) + 1)
        ).alias("s"),
    ).filter((F.col("s") > 0) & (F.col("s") < 1))
    y = F.log(-F.log("s"))
    x = F.log("t")
    agg = surv.agg(
        F.covar_pop(x, y).alias("sxy"),
        F.var_pop(x).alias("sxx"),
        F.avg(x).alias("mx"),
        F.avg(y).alias("my"),
        F.corr(x, y).alias("r"),
        F.count(F.lit(1)).alias("n_points"),
    )
    slope = F.col("sxy") / F.col("sxx")
    intercept = F.col("my") - slope * F.col("mx")
    return agg.select(
        F.round(slope, 6).alias("shape"),
        F.round(F.exp(-intercept / slope), 6).alias("scale"),
        F.round(F.col("r") * F.col("r"), 6).alias("r2"),
        "n_points",
    )


@register(
    "x6_grouped_glm",
    oracle="""
    WITH base AS (
      SELECT YEAR(o_orderdate + INTERVAL 3 MONTH) AS fy,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS x
      FROM orders
    ), cells AS (
      SELECT fy, COUNT(*) AS n,
             AVG(CASE WHEN x = 0 THEN CAST(y AS DOUBLE) END) AS p0,
             AVG(CASE WHEN x = 1 THEN CAST(y AS DOUBLE) END) AS p1
      FROM base GROUP BY fy
    )
    SELECT fy, n,
           ROUND(LN(p0 / (1 - p0)), 6) AS intercept,
           ROUND(LN(p1 / (1 - p1)) - LN(p0 / (1 - p0)), 6) AS coef_treat,
           ROUND(p0, 6) AS baseline_rate,
           ROUND(p1, 6) AS treat_rate
    FROM cells ORDER BY fy
    """,
    tags=("X6", "GLM", "W10"),
)
def x6_grouped_glm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fiscal-year logistic fit via applyInPandas — the reference's
    per-year glmer loop (effect-on-outcomes.Rmd:234-263: one binomial
    model per fy, treatment fixed effect, then population-level
    predicted rates with treatment held constant). Each fy group
    Arrow-ships to a pandas Newton/IRLS fit of
    logit P(finished) = b0 + b1*urgent — genuinely iterative in the
    worker, the shape a glmer/statsmodels fit plugs into.

    Oracle-able because the single-binary-predictor logistic MLE is
    saturated: b0 = logit(mean y | x=0), b1 = logit diff, and the
    held-constant predicted rates are the cell means — DuckDB computes
    them in closed form; IRLS converges to the same optimum to machine
    precision, so 6-dp rounding matches. The mixed-effects flavor
    (partial pooling) has no closed form/SQL twin — ml.glm documents
    the one-hot fixed-effects approximation for that.
    """
    import numpy as np
    import pandas as pd

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        fiscal_year(F.col("o_orderdate")).alias("fy"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("x"),
    )
    out_schema = (
        "fy int, n long, intercept double, coef_treat double, "
        "baseline_rate double, treat_rate double"
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        y = pdf["y"].to_numpy(dtype="float64")
        x = pdf["x"].to_numpy(dtype="float64")
        X = np.column_stack([np.ones_like(x), x])
        beta = np.zeros(2)
        for _ in range(50):
            p = 1.0 / (1.0 + np.exp(-(X @ beta)))
            w = p * (1.0 - p)
            XtWX = X.T @ (X * w[:, None])
            grad = X.T @ (y - p)
            step = np.linalg.solve(XtWX, grad)
            beta = beta + step
            if np.abs(step).max() < 1e-12:
                break
        p0 = 1.0 / (1.0 + np.exp(-beta[0]))
        p1 = 1.0 / (1.0 + np.exp(-(beta[0] + beta[1])))
        return pd.DataFrame(
            {
                "fy": [int(pdf["fy"].iloc[0])],
                "n": [len(pdf)],
                "intercept": [round(float(beta[0]), 6)],
                "coef_treat": [round(float(beta[1]), 6)],
                "baseline_rate": [round(float(p0), 6)],
                "treat_rate": [round(float(p1), 6)],
            }
        )

    return base.groupBy("fy").applyInPandas(fit, schema=out_schema).orderBy("fy")


@register(
    "x6_partial_pooling",
    oracle="""
    WITH per AS (
      SELECT c_nationkey AS grp, COUNT(*) AS n,
             SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS k
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey
    ), rates AS (
      SELECT grp, n, k, CAST(k AS DOUBLE) / n AS p FROM per
    ), gstats AS (
      SELECT AVG(p) AS pbar,
             GREATEST(0.0, VAR_SAMP(p)
               - AVG(p) * (1 - AVG(p)) * AVG(1.0 / n)) AS tau2
      FROM rates
    )
    SELECT grp, n, ROUND(p, 6) AS raw_rate,
           ROUND((tau2 * p + (pbar * (1 - pbar) / n) * pbar)
                 / (tau2 + pbar * (1 - pbar) / n), 6) AS shrunk_rate
    FROM rates, gstats
    ORDER BY grp
    """,
    tags=("X6", "X3", "GLM"),
)
def x6_partial_pooling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-intercept partial pooling — the statistical core of the
    reference's glmer mixed models (effect-on-outcomes.Rmd:236
    ``glmer(outcome ~ treatment + (1|group))``) in the closed-form
    empirical-Bayes formulation a differential oracle can check:
    per-group finish rates shrink toward the grand mean with weight
    tau^2 / (tau^2 + sigma_g^2), where tau^2 is the method-of-moments
    between-group variance (clamped at 0 — complete pooling when
    groups look homogeneous) and sigma_g^2 = pbar(1-pbar)/n_g the
    within-group sampling variance. Small groups shrink hard, large
    groups keep their raw rate — exactly the glmer behavior the
    reference relies on for sparse fiscal years.

    Physically: one fact-dim join, one groupBy, then a broadcast of
    the 1-row global stats back onto the 25-row group table — no
    second shuffle."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    per = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("grp"))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            ).alias("k"),
        )
    )
    rates = per.withColumn("p", F.col("k").cast("double") / F.col("n"))
    glob = rates.agg(
        F.avg("p").alias("pbar"),
        F.greatest(
            F.lit(0.0),
            # avg over groups of pbar(1-pbar)/n_g == pbar(1-pbar)*avg(1/n_g)
            F.var_samp("p")
            - F.avg("p") * (1 - F.avg("p")) * F.avg(F.lit(1.0) / F.col("n")),
        ).alias("tau2"),
    )
    s2 = F.col("pbar") * (1 - F.col("pbar")) / F.col("n")
    return (
        rates.crossJoin(F.broadcast(glob))
        .select(
            "grp",
            "n",
            F.round("p", 6).alias("raw_rate"),
            F.round(
                (F.col("tau2") * F.col("p") + s2 * F.col("pbar"))
                / (F.col("tau2") + s2),
                6,
            ).alias("shrunk_rate"),
        )
        .orderBy("grp")
    )


def _em_oracle(iters: int = 4) -> str:
    """Unrolled-iteration EM oracle (x3_logistic_irls pattern): round i
    computes the precision-weighted mean from round i-1's (mu, tau2),
    then the EM variance update from the posterior means/variances.
    Formulas mirror x6_random_intercept_em term for term."""
    parts = [
        """
    WITH per AS (
      SELECT c_nationkey AS grp, COUNT(*) AS n,
             SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS k
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey
    ), rates AS (
      SELECT grp, n, CAST(k AS DOUBLE) / n AS p FROM per
    ), g AS (
      SELECT AVG(p) AS pbar0, AVG(1.0 / n) AS invn, VAR_SAMP(p) AS vp
      FROM rates
    ), r2 AS (
      SELECT grp, n, p, pbar0 * (1 - pbar0) / n AS s2 FROM rates, g
    ), it0 AS (
      SELECT pbar0 AS mu,
             GREATEST(0.0, vp - pbar0 * (1 - pbar0) * invn) AS tau2
      FROM g
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(f"""
    , m{i} AS (
      SELECT SUM(p / (tau2 + s2)) / SUM(1.0 / (tau2 + s2)) AS mu
      FROM r2 CROSS JOIN it{i - 1}
    ), it{i} AS (
      SELECT (SELECT mu FROM m{i}) AS mu,
             AVG(POW((tau2 / (tau2 + s2)) * (p - (SELECT mu FROM m{i})), 2)
                 + (tau2 / (tau2 + s2)) * s2) AS tau2
      FROM r2 CROSS JOIN it{i - 1}
    )""")
    parts.append(f"""
    SELECT grp, n, ROUND(p, 6) AS raw_rate,
           ROUND(mu + (tau2 / (tau2 + s2)) * (p - mu), 6) AS shrunk_rate,
           ROUND(mu, 6) AS mu, ROUND(tau2, 6) AS tau2
    FROM r2 CROSS JOIN it{iters}
    ORDER BY grp""")
    return "".join(parts)


@register(
    "x6_random_intercept_em",
    oracle=materialize_ctes(_em_oracle()),
    tags=("X6", "X3", "GLM"),
)
def x6_random_intercept_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-components random-intercept model fit by EM — the
    iterative counterpart of x6_partial_pooling's one-shot empirical
    Bayes, closing the gap to the reference's glmer semantics
    (notebooks/hearings/effect-on-outcomes.Rmd:236
    ``glmer(outcome ~ (1|group))``): instead of a fixed
    method-of-moments tau^2, EM re-estimates the between-group variance
    from the posterior random-effect moments until the shrinkage
    weights are self-consistent.

    Model: p_g ~ N(mu + u_g, s2_g), u_g ~ N(0, tau^2), with known
    sampling variance s2_g = pbar(1-pbar)/n_g. Each round:
      E-step: B_g = tau^2/(tau^2+s2_g); E[u_g] = B_g (p_g - mu);
              Var[u_g|p] = B_g s2_g
      M-step: mu <- precision-weighted mean sum(w p)/sum(w),
              w = 1/(tau^2+s2_g); tau^2 <- avg(E[u]^2 + Var[u|p])
    Four fixed rounds from the method-of-moments start (so the
    unrolled-CTE oracle is exact); tau^2 clamped at 0 degenerates to
    complete pooling in both engines.

    Physically: the fact-scale work (orders-customer join + groupBy)
    runs once; the sufficient-stats table is #groups-sized BY
    CONSTRUCTION, so every EM round is a whole-frame window expression
    over it — the 4 unrolled rounds compose into ONE plan with ONE
    extra exchange (the empty-partition window), no per-round jobs, no
    driver collect. Contrast x3_logistic_irls, whose sufficient stats
    are fact-scale and therefore need a broadcast-back per round."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    per = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("grp"))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            ).alias("k"),
        )
    )
    wall = Window.partitionBy()  # whole-frame: the groups table is tiny
    rates = (
        per.withColumn("p", F.col("k").cast("double") / F.col("n"))
        .withColumn("pbar0", F.avg("p").over(wall))
        .withColumn("invn", F.avg(F.lit(1.0) / F.col("n")).over(wall))
        .withColumn("vp", F.var_samp("p").over(wall))
        .withColumn("s2", F.col("pbar0") * (1 - F.col("pbar0")) / F.col("n"))
        .withColumn("mu", F.col("pbar0"))
        .withColumn(
            "tau2",
            F.greatest(
                F.lit(0.0),
                F.col("vp")
                - F.col("pbar0") * (1 - F.col("pbar0")) * F.col("invn"),
            ),
        )
    )
    w = F.lit(1.0) / (F.col("tau2") + F.col("s2"))
    b = F.col("tau2") / (F.col("tau2") + F.col("s2"))
    for _ in range(4):
        rates = (
            rates.withColumn(
                "mu_new", F.sum(F.col("p") * w).over(wall) / F.sum(w).over(wall)
            )
            .withColumn(
                "tau2",
                F.avg(
                    F.pow(b * (F.col("p") - F.col("mu_new")), 2) + b * F.col("s2")
                ).over(wall),
            )
            .withColumn("mu", F.col("mu_new"))
            .drop("mu_new")
        )
    return rates.select(
        "grp",
        "n",
        F.round("p", 6).alias("raw_rate"),
        F.round(F.col("mu") + b * (F.col("p") - F.col("mu")), 6).alias(
            "shrunk_rate"
        ),
        F.round("mu", 6).alias("mu"),
        F.round("tau2", 6).alias("tau2"),
    ).orderBy("grp")


def _mixed_oracle(iters: int = 4) -> str:
    """Unrolled oracle for the treatment + random-intercept model:
    cells CTE -> within-group beta -> treatment-adjusted group rates ->
    the same EM rounds as _em_oracle over (p_adj, s2)."""
    parts = [
        """
    WITH cells AS (
      SELECT c_nationkey AS grp,
             CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN o_orderkey % 2 = 0
                       AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS k0,
             CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN o_orderkey % 2 = 1
                       AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS k1
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey
    ), pooled AS (
      SELECT CAST(SUM(k0 + k1) AS DOUBLE) / SUM(n0 + n1) AS pbar FROM cells
    ), beta_est AS (
      SELECT SUM((CAST(k1 AS DOUBLE)/n1 - CAST(k0 AS DOUBLE)/n0)
                 * (CAST(n1 AS DOUBLE)*n0/(n1+n0)))
             / SUM(CAST(n1 AS DOUBLE)*n0/(n1+n0)) AS beta
      FROM cells WHERE n0 > 0 AND n1 > 0
    ), adj AS (
      SELECT grp, n0 + n1 AS n,
             (CAST(k0 + k1 AS DOUBLE) - beta * n1) / (n0 + n1) AS p_adj,
             pbar * (1 - pbar) / (n0 + n1) AS s2,
             n0, k0, n1, k1, beta, pbar
      FROM cells, pooled, beta_est
    ), g AS (
      SELECT AVG(p_adj) AS pbar_a, AVG(1.0 / n) AS invn,
             VAR_SAMP(p_adj) AS vp,
             MAX(pbar) AS pbar
      FROM adj
    ), it0 AS (
      SELECT pbar_a AS mu,
             GREATEST(0.0, vp - pbar * (1 - pbar) * invn) AS tau2
      FROM g
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(f"""
    , m{i} AS (
      SELECT SUM(p_adj / (tau2 + s2)) / SUM(1.0 / (tau2 + s2)) AS mu
      FROM adj CROSS JOIN it{i - 1}
    ), it{i} AS (
      SELECT (SELECT mu FROM m{i}) AS mu,
             AVG(POW((tau2 / (tau2 + s2)) * (p_adj - (SELECT mu FROM m{i})), 2)
                 + (tau2 / (tau2 + s2)) * s2) AS tau2
      FROM adj CROSS JOIN it{i - 1}
    )""")
    parts.append(f"""
    SELECT grp, n,
           CASE WHEN n0 > 0 THEN {sql_ratio_dbl("k0", "n0", 6)} END AS raw_control,
           CASE WHEN n1 > 0 THEN {sql_ratio_dbl("k1", "n1", 6)} END AS raw_treated,
           ROUND(p_adj, 6) AS p_adj,
           ROUND((tau2 / (tau2 + s2)) * (p_adj - mu), 6) AS u,
           ROUND(beta, 6) AS beta,
           ROUND(mu, 6) AS mu, ROUND(tau2, 6) AS tau2
    FROM adj CROSS JOIN it{iters}
    ORDER BY grp""")
    return "".join(parts)


@register(
    "x6_mixed_treatment_em",
    oracle=materialize_ctes(_mixed_oracle()),
    tags=("X6", "X3", "GLM"),
)
def x6_mixed_treatment_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full glmer shape — a fixed treatment effect plus
    a per-group random intercept (effect-on-outcomes.Rmd:236
    ``glmer(outcome ~ hearing + (1|fy))``) — decomposed Spark-first:

    1. beta (treatment effect) by the WITHIN estimator: random
       intercepts cancel exactly in within-group treated-minus-control
       rate differences, so beta is a precision-weighted average of
       per-group differences (weights n1*n0/n, the inverse sampling
       variance up to the constant pbar(1-pbar)) over groups observing
       both arms — no iteration needed.
    2. Random-intercept EM (x6_random_intercept_em's four unrolled
       rounds) over the treatment-adjusted group rates
       p_adj = (k0 + k1 - beta*n1)/n, whose precision-weighted
       sampling variance collapses to pbar(1-pbar)/n.

    Treatment is the synthetic orderkey parity; outcome = order
    finished; groups = customer nation. One fact join + ONE groupBy
    produces the (grp, arm) sufficient stats as conditional aggregates;
    everything after runs as whole-frame window expressions over the
    #groups-sized table — same single-extra-exchange plan as the pure
    random-intercept EM."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    t1 = F.col("o_orderkey") % 2 == 1
    fin = F.col("o_orderstatus") == "F"
    cells = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("grp"))
        .agg(
            F.sum(F.when(~t1, 1).otherwise(0)).alias("n0"),
            F.sum(F.when(~t1 & fin, 1).otherwise(0)).alias("k0"),
            F.sum(F.when(t1, 1).otherwise(0)).alias("n1"),
            F.sum(F.when(t1 & fin, 1).otherwise(0)).alias("k1"),
        )
    )
    wall = Window.partitionBy()
    both = (F.col("n0") > 0) & (F.col("n1") > 0)
    wgt = F.when(both, F.col("n1").cast("double") * F.col("n0") / (F.col("n1") + F.col("n0")))
    diff = F.col("k1").cast("double") / F.col("n1") - F.col("k0").cast("double") / F.col("n0")
    adj = (
        cells.withColumn(
            "pbar",
            F.sum(F.col("k0") + F.col("k1")).over(wall).cast("double")
            / F.sum(F.col("n0") + F.col("n1")).over(wall),
        )
        .withColumn(
            "beta",
            F.sum(F.when(both, diff * wgt)).over(wall) / F.sum(wgt).over(wall),
        )
        .withColumn("n", F.col("n0") + F.col("n1"))
        .withColumn(
            "p_adj",
            ((F.col("k0") + F.col("k1")).cast("double") - F.col("beta") * F.col("n1"))
            / F.col("n"),
        )
        .withColumn("s2", F.col("pbar") * (1 - F.col("pbar")) / F.col("n"))
        .withColumn("pbar_a", F.avg("p_adj").over(wall))
        .withColumn("invn", F.avg(F.lit(1.0) / F.col("n")).over(wall))
        .withColumn("vp", F.var_samp("p_adj").over(wall))
        .withColumn("mu", F.col("pbar_a"))
        .withColumn(
            "tau2",
            F.greatest(
                F.lit(0.0),
                F.col("vp") - F.col("pbar") * (1 - F.col("pbar")) * F.col("invn"),
            ),
        )
    )
    w = F.lit(1.0) / (F.col("tau2") + F.col("s2"))
    b = F.col("tau2") / (F.col("tau2") + F.col("s2"))
    for _ in range(4):
        adj = (
            adj.withColumn(
                "mu_new",
                F.sum(F.col("p_adj") * w).over(wall) / F.sum(w).over(wall),
            )
            .withColumn(
                "tau2",
                F.avg(
                    F.pow(b * (F.col("p_adj") - F.col("mu_new")), 2)
                    + b * F.col("s2")
                ).over(wall),
            )
            .withColumn("mu", F.col("mu_new"))
            .drop("mu_new")
        )
    return adj.select(
        "grp",
        "n",
        F.when(
            F.col("n0") > 0, ratio_dbl(F.col("k0"), F.col("n0"), 6)
        ).alias("raw_control"),
        F.when(
            F.col("n1") > 0, ratio_dbl(F.col("k1"), F.col("n1"), 6)
        ).alias("raw_treated"),
        F.round("p_adj", 6).alias("p_adj"),
        F.round(b * (F.col("p_adj") - F.col("mu")), 6).alias("u"),
        F.round("beta", 6).alias("beta"),
        F.round("mu", 6).alias("mu"),
        F.round("tau2", 6).alias("tau2"),
    ).orderBy("grp")


def _irls_oracle(iters: int = 3) -> str:
    """Unrolled-iteration IRLS oracle (same trick as the Lloyd k-means
    oracle): each round is one CTE computing the five weighted sums
    from the previous round's coefficients, starting at beta = (0,0).
    The formulas mirror ml.glm.logistic_irls term for term."""
    parts = [
        """
    WITH d AS (
      SELECT CAST(l_returnflag = 'R' AS DOUBLE) AS y,
             CAST(l_quantity AS DOUBLE) AS x
      FROM lineitem
    ), it0 AS (SELECT CAST(0 AS DOUBLE) AS b0, CAST(0 AS DOUBLE) AS b1)"""
    ]
    for i in range(1, iters + 1):
        parts.append(f"""
    , s{i} AS (
      SELECT SUM(w) AS sw, SUM(w*x) AS swx, SUM(w*x*x) AS swxx,
             SUM(w*z) AS swz, SUM(w*x*z) AS swxz
      FROM (
        SELECT x, mu*(1-mu) AS w, eta + (y-mu)/(mu*(1-mu)) AS z
        FROM (
          SELECT y, x, b0 + b1*x AS eta,
                 1/(1+exp(-(b0 + b1*x))) AS mu
          FROM d CROSS JOIN it{i - 1}
        )
      )
    ), it{i} AS (
      SELECT (swz - ((sw*swxz - swx*swz)/(sw*swxx - swx*swx))*swx)/sw AS b0,
             (sw*swxz - swx*swz)/(sw*swxx - swx*swx) AS b1
      FROM s{i}
    )""")
    parts.append(f"""
    SELECT ROUND(b0, 5) AS b0, ROUND(b1, 5) AS b1,
           (SELECT COUNT(*) FROM d) AS n
    FROM it{iters}""")
    return "".join(parts)


@register(
    "x3_logistic_irls",
    oracle=materialize_ctes(_irls_oracle()),
    tags=("X3", "GLM", "J19"),
)
def x3_logistic_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic regression (returnflag ~ quantity) by
    IRLS — the single-model JVM-side scale path for the reference's
    binomial glm fits (effect-on-outcomes.Rmd; grouped pandas form in
    x6_grouped_glm). Three fixed reweighted-least-squares rounds, each
    ONE aggregation with the refit coefficients broadcast back
    (ml.glm.logistic_irls); the oracle unrolls the same three rounds
    as CTEs. Rounded to 5 dp: both engines iterate with their own
    float-sum order."""
    from ..ml.glm import logistic_irls

    li = load_table(spark, sf_dir, "lineitem")
    fit = logistic_irls(
        li, y=(F.col("l_returnflag") == "R"), x="l_quantity", iters=3
    )
    n = li.agg(F.count(F.lit(1)).alias("n"))
    return fit.crossJoin(F.broadcast(n)).select(
        F.round("b0", 5).alias("b0"), F.round("b1", 5).alias("b1"), "n"
    )


def _pr_round_sql(i: int) -> str:
    """One unrolled PageRank round as DuckDB CTEs (the x3_logistic_irls
    unrolled-iteration oracle pattern): the dangling mass of round i-1,
    then rank' = 0.15/N + 0.85 * (in-contributions + dangling/N)."""
    return f""", d{i} AS (
      SELECT COALESCE(SUM(p.rank), 0) AS dm
      FROM r{i - 1} p LEFT JOIN deg ON deg.src = p.node
      WHERE deg.src IS NULL
    ), r{i} AS (
      SELECT n.node,
             0.15 / CAST(nn.n AS DOUBLE)
               + 0.85 * (COALESCE(c.contrib, 0)
                         + d{i}.dm / CAST(nn.n AS DOUBLE)) AS rank
      FROM nodes n
      CROSS JOIN nn CROSS JOIN d{i}
      LEFT JOIN (
        SELECT e.dst AS node, SUM(p.rank / deg.outdeg) AS contrib
        FROM edges e
        JOIN r{i - 1} p ON p.node = e.src
        JOIN deg ON deg.src = e.src
        GROUP BY e.dst
      ) c ON c.node = n.node
    )"""


_PR_ITERS = 6

_PAGERANK_ORACLE = (
    f"""
    WITH {_HANDOFF_EDGES_SQL}, nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
      )
    ), deg AS (
      SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
    ), nn AS (
      SELECT COUNT(*) AS n FROM nodes
    ), r0 AS (
      SELECT node, 1.0 / CAST(nn.n AS DOUBLE) AS rank FROM nodes CROSS JOIN nn
    )"""
    + "".join(_pr_round_sql(i) for i in range(1, _PR_ITERS + 1))
    + f"""
    SELECT node, ROUND(rank, 6) AS rank
    FROM r{_PR_ITERS} ORDER BY node
    """
)


@register(
    "graph_pagerank_handoff",
    oracle=materialize_ctes(_PAGERANK_ORACLE),
    tags=("J19", "X4"),
)
def graph_pagerank_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the handoff graph (same directed edge set as
    closure_components): 6 synchronous rounds at damping 0.85, uniform
    dangling-mass redistribution, so total rank stays 1. The reference
    chains appeals by repeated self-joins (J19,
    scratch/other/event-history.R:34-58); ranking the resulting handoff
    graph is the natural "who concentrates flow" extension and the
    engine's representative fixed-round iterative-algorithm shape
    alongside Lloyd k-means and IRLS.

    Oracle: the identical recurrence unrolled as 6 CTE rounds; both
    engines iterate in their own float-sum order, absorbed by the final
    6-dp rounding."""
    from ..operators.graph import pagerank

    ranks = pagerank(
        _handoff_edges(spark, sf_dir), "src", "dst",
        damping=0.85, iterations=_PR_ITERS,
    )
    return ranks.select("node", F.round("rank", 6).alias("rank")).orderBy("node")


@register(
    "x3_ab_welch_ttest",
    oracle="""
    WITH s AS (
      SELECT o_orderpriority AS grp, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                      * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sxx
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      GROUP BY 1
    ), w AS (
      SELECT MAX(CASE WHEN grp = '1-URGENT' THEN n END) AS n1,
             MAX(CASE WHEN grp = '1-URGENT' THEN sx END) AS sx1,
             MAX(CASE WHEN grp = '1-URGENT' THEN sxx END) AS sxx1,
             MAX(CASE WHEN grp = '5-LOW' THEN n END) AS n2,
             MAX(CASE WHEN grp = '5-LOW' THEN sx END) AS sx2,
             MAX(CASE WHEN grp = '5-LOW' THEN sxx END) AS sxx2
      FROM s
    )
    SELECT n1, n2,
           sx1 / n1 AS mean_a,
           sx2 / n2 AS mean_b,
           (sx1 / n1 - sx2 / n2)
             / SQRT(((sxx1 - sx1 * sx1 / n1) / (n1 - 1)) / n1
                    + ((sxx2 - sx2 * sx2 / n2) / (n2 - 1)) / n2) AS t_welch
    FROM w
    """,
    tags=("X3", "A2"),
)
def x3_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test between the urgent and low order-
    priority cohorts on order value — the A/B-test primitive next to
    x3_grouped_correlation, from the same one-pass sufficient-stats
    shape (the reference fits cohort contrasts via per-group summaries,
    effect-on-outcomes.Rmd). Sums are exact DECIMAL (sx at scale 2 and
    sxx at scale 4 both convert to double exactly at these magnitudes),
    and every emitted double is one deterministic expression over
    those exact inputs — no rounding step, no summation-order race.

    Scale shape: one map-side-combinable groupBy over the filtered
    fact scan, then a 2-row conditional pivot; nothing downstream of
    the first aggregate touches data volume."""
    from ..functions.scalars import dec

    o = load_table(spark, sf_dir, "orders")
    x = dec("o_totalprice")
    s = (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .groupBy(F.col("o_orderpriority").alias("grp"))
        .agg(
            F.count("*").alias("n"),
            F.sum(x).cast("double").alias("sx"),
            F.sum(x * x).cast("double").alias("sxx"),
        )
    )

    def pick(col: str, grp: str):
        return F.max(F.when(F.col("grp") == grp, F.col(col)))

    w = s.agg(
        pick("n", "1-URGENT").alias("n1"),
        pick("sx", "1-URGENT").alias("sx1"),
        pick("sxx", "1-URGENT").alias("sxx1"),
        pick("n", "5-LOW").alias("n2"),
        pick("sx", "5-LOW").alias("sx2"),
        pick("sxx", "5-LOW").alias("sxx2"),
    )
    n1, sx1, sxx1 = F.col("n1"), F.col("sx1"), F.col("sxx1")
    n2, sx2, sxx2 = F.col("n2"), F.col("sx2"), F.col("sxx2")
    se2 = ((sxx1 - sx1 * sx1 / n1) / (n1 - 1)) / n1 + (
        (sxx2 - sx2 * sx2 / n2) / (n2 - 1)
    ) / n2
    return w.select(
        "n1",
        "n2",
        (sx1 / n1).alias("mean_a"),
        (sx2 / n2).alias("mean_b"),
        ((sx1 / n1 - sx2 / n2) / F.sqrt(se2)).alias("t_welch"),
    )


# Robust-sigma cutoff 3 * 1.4826 computed ONCE in Python and spliced as
# the identical double literal into both engines, so the comparison
# thresholds are bit-identical (no latent boundary-flip at other scale
# factors from Python-vs-DuckDB constant-folding differences).
_MAD_CUT = 3 * 1.4826


@register(
    "x3_mad_outliers",
    oracle=f"""
    WITH base AS (
      SELECT o_orderpriority AS grp, o_totalprice AS x,
             quantile_cont(o_totalprice, 0.5)
               OVER (PARTITION BY o_orderpriority) AS med
      FROM orders
    ), devd AS (
      SELECT grp, med, ABS(x - med) AS adev,
             quantile_cont(ABS(x - med), 0.5)
               OVER (PARTITION BY grp) AS mad
      FROM base
    )
    SELECT grp, ANY_VALUE(med) AS med, ANY_VALUE(mad) AS mad,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN adev > CAST({_MAD_CUT!r} AS DOUBLE) * mad
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM devd GROUP BY grp ORDER BY grp
    """,
    tags=("X3", "A7"),
)
def x3_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection: median absolute deviation
    with the 1.4826 normal-consistency factor, flagging rows beyond
    3 robust sigmas — the heavy-tail-safe alternative to mean/stddev
    z-scores for reporting anomalies (A7's quantile machinery applied
    to quality control). Both exact medians run as WINDOW aggregates
    over the same group partitioning (the percentile/quantile_cont
    agreement surv_median_lifetime pins), so the whole thing is one
    shuffle on the group key — no fact re-scan, no join back; both
    engines interpolate the same stored doubles, so the medians and
    the comparison cut agree exactly with no rounding step."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("grp")
    base = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("x"),
    ).withColumn("med", F.expr("percentile(x, 0.5)").over(w))
    devd = base.withColumn(
        "adev", F.abs(F.col("x") - F.col("med"))
    ).withColumn("mad", F.expr("percentile(adev, 0.5)").over(w))
    return (
        devd.groupBy("grp")
        .agg(
            F.any_value("med").alias("med"),
            F.any_value("mad").alias("mad"),
            F.count("*").alias("n"),
            F.sum(
                (F.col("adev") > F.lit(_MAD_CUT) * F.col("mad")).cast("int")
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("grp")
    )


def _glmm_oracle(iters: int = 3) -> str:
    """Unrolled PQL (IRLS-within-EM) oracle for the logistic GLMM:
    round i derives IRLS working responses from round i-1's
    (b0, beta, u_g, tau2) on the group x arm cells, estimates beta by
    the precision-weighted within estimator, then runs the EM
    random-intercept update on the treatment-adjusted working means.
    Formulas mirror x6_logistic_glmm term for term."""
    parts = [
        """
    WITH cells AS (
      SELECT c_nationkey AS grp,
             CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN o_orderkey % 2 = 0
                       AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS k0,
             CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN o_orderkey % 2 = 1
                       AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS k1
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey
    ), st0 AS (
      SELECT grp, n0, k0, n1, k1,
             CAST(0 AS DOUBLE) AS u, CAST(0 AS DOUBLE) AS b0,
             CAST(0 AS DOUBLE) AS beta, CAST(0.25 AS DOUBLE) AS tau2
      FROM cells
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(f"""
    , e{i} AS (
      SELECT grp, n0, k0, n1, k1, u, tau2,
             b0 + u AS eta0, b0 + beta + u AS eta1
      FROM st{i - 1}
    ), z{i} AS (
      SELECT grp, n0, k0, n1, k1, tau2,
             CASE WHEN n0 > 0 THEN
               n0 * ((1/(1+exp(-eta0))) * (1 - 1/(1+exp(-eta0)))) END AS w0,
             CASE WHEN n0 > 0 THEN
               eta0 + (CAST(k0 AS DOUBLE)/n0 - 1/(1+exp(-eta0)))
                 / ((1/(1+exp(-eta0))) * (1 - 1/(1+exp(-eta0)))) END AS z0,
             CASE WHEN n1 > 0 THEN
               n1 * ((1/(1+exp(-eta1))) * (1 - 1/(1+exp(-eta1)))) END AS w1,
             CASE WHEN n1 > 0 THEN
               eta1 + (CAST(k1 AS DOUBLE)/n1 - 1/(1+exp(-eta1)))
                 / ((1/(1+exp(-eta1))) * (1 - 1/(1+exp(-eta1)))) END AS z1
      FROM e{i}
    ), bb{i} AS (
      SELECT CAST(SUM(CAST(ROUND((z1 - z0) * (w1*w0/(w1+w0)), 12) AS DECIMAL(38,12))) AS DOUBLE)
             / CAST(SUM(CAST(ROUND(w1*w0/(w1+w0), 12) AS DECIMAL(38,12))) AS DOUBLE) AS beta
      FROM z{i} WHERE n0 > 0 AND n1 > 0
    ), a{i} AS (
      SELECT grp, n0, k0, n1, k1, tau2, beta,
             (COALESCE(w0*z0, 0) + COALESCE(w1*(z1 - beta), 0))
               / (COALESCE(w0, 0) + COALESCE(w1, 0)) AS zadj,
             1.0 / (COALESCE(w0, 0) + COALESCE(w1, 0)) AS s2
      FROM z{i} CROSS JOIN bb{i}
    ), m{i} AS (
      SELECT CAST(SUM(CAST(ROUND(zadj/(tau2+s2), 12) AS DECIMAL(38,12))) AS DOUBLE)
             / CAST(SUM(CAST(ROUND(1.0/(tau2+s2), 12) AS DECIMAL(38,12))) AS DOUBLE) AS b0
      FROM a{i}
    ), t{i} AS (
      SELECT CAST(SUM(CAST(ROUND(POW((tau2/(tau2+s2)) * (zadj - (SELECT b0 FROM m{i})), 2)
                 + (tau2/(tau2+s2)) * s2, 12) AS DECIMAL(38,12))) AS DOUBLE)
             / COUNT(POW((tau2/(tau2+s2)) * (zadj - (SELECT b0 FROM m{i})), 2)
                 + (tau2/(tau2+s2)) * s2) AS tau2 FROM a{i}
    ), st{i} AS (
      SELECT a.grp, a.n0, a.k0, a.n1, a.k1,
             (a.tau2/(a.tau2+a.s2)) * (a.zadj - m{i}.b0) AS u,
             m{i}.b0 AS b0, a.beta AS beta, t{i}.tau2 AS tau2
      FROM a{i} a CROSS JOIN m{i} CROSS JOIN t{i}
    )""")
    parts.append(f"""
    SELECT grp, n0 + n1 AS n,
           CASE WHEN n0 > 0 THEN {sql_ratio_dbl("k0", "n0", 6)} END AS raw_control,
           CASE WHEN n1 > 0 THEN {sql_ratio_dbl("k1", "n1", 6)} END AS raw_treated,
           ROUND(u, 6) AS u, ROUND(b0, 6) AS b0,
           ROUND(beta, 6) AS beta, ROUND(tau2, 6) AS tau2
    FROM st{iters} ORDER BY grp""")
    return "".join(parts)


@register(
    "x6_logistic_glmm",
    oracle=materialize_ctes(_glmm_oracle()),
    tags=("X6", "X3", "GLM"),
)
def x6_logistic_glmm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic (binomial-family) mixed model — the reference's ACTUAL
    glmer shape (notebooks/hearings/effect-on-outcomes.Rmd:236
    ``glmer(allowed ~ hearing + (...|issue_type), family=binomial)``),
    fit by PQL: IRLS working responses composed with the
    random-intercept EM, closing the link-function gap left by the
    Gaussian x6_random_intercept_em / x6_mixed_treatment_em.

    Model: logit P(y=1) = b0 + beta*t + u_g, u_g ~ N(0, tau^2).
    Because treatment and group are the only covariates, the data
    collapse to (group, arm) cells and every IRLS quantity is exact
    from cell counts (all rows in a cell share eta, hence mu and w).
    Each of the 3 fixed PQL rounds:

      1. IRLS step (ml.glm.logistic_irls's transform on cells):
         eta_gt = b0 + beta*t + u_g; mu = sigmoid(eta); w = mu(1-mu);
         working mean zbar_gt = eta + (k/n - mu)/w with weight
         W_gt = n_gt * w.
      2. beta by the precision-weighted WITHIN estimator over groups
         observing both arms (random intercepts cancel in within-group
         differences — the x6_mixed_treatment_em trick, now on the
         weighted working scale): h_g = W1*W0/(W1+W0).
      3. EM random-intercept update on the treatment-adjusted working
         means zadj_g (variance s2_g = 1/(W0+W1)): precision-weighted
         b0, posterior shrinkage u_g = B_g (zadj_g - b0) with
         B_g = tau2/(tau2+s2_g), then tau2 <- avg(u^2 + B s2).

    Deterministic start (b0, beta, u) = 0, tau2 = 0.25; the oracle
    unrolls the identical 3 rounds as CTEs (the x3_logistic_irls /
    x6_*_em pattern). Treatment = synthetic orderkey parity, outcome =
    order finished, groups = customer nation.

    Physically: ONE fact-scale join + groupBy produces the cells; all
    3 PQL rounds are whole-frame window expressions over the
    #groups-sized table — one plan, one extra exchange, no per-round
    jobs, no driver collect (contrast x3_logistic_irls, whose
    sufficient stats are fact-scale and need a broadcast-back per
    round). Each dependent step of a round is one projection written
    as SQL expression text, so building the plan costs a few Py4J
    round trips per step instead of one per Column operator."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    t1, fin = "o_orderkey % 2 = 1", "o_orderstatus = 'F'"
    d = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("grp"))
        .agg(
            *(
                F.expr(f"SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS {name}")
                for name, cond in (
                    ("n0", f"NOT ({t1})"),
                    ("k0", f"NOT ({t1}) AND {fin}"),
                    ("n1", t1),
                    ("k1", f"{t1} AND {fin}"),
                )
            )
        )
        .selectExpr("*", "0.0D AS u", "0.0D AS b0", "0.0D AS beta", "0.25D AS tau2")
    )
    cells = ("grp", "n0", "k0", "n1", "k1")

    # Every whole-frame fold rounds its summand to 12 dp and
    # accumulates in DECIMAL(38,12): the sums are then exact, so the
    # fit is bit-identical under any partitioning (the
    # partitioning-independence gate) and neither engine's
    # accumulation order matters. 12 dp dwarfs the 6 dp output
    # rounding; the identical ROUND(.,12)+CAST appears in the oracle
    # CTEs.
    def dsum(x: str) -> str:
        return f"CAST(SUM(CAST(ROUND({x}, 12) AS DECIMAL(38,12))) OVER () AS DOUBLE)"

    def irls(t: str) -> tuple[str, str]:
        """Arm t's IRLS weight W = n w and working mean z."""
        mu = f"(1.0D / (1.0D + EXP(-eta{t})))"
        w = f"({mu} * (1 - {mu}))"
        return (
            f"CASE WHEN n{t} > 0 THEN n{t} * {w} END AS w{t}",
            f"CASE WHEN n{t} > 0 THEN eta{t} + (CAST(k{t} AS DOUBLE) / n{t} - {mu})"
            f" / {w} END AS z{t}",
        )

    both = "CASE WHEN n0 > 0 AND n1 > 0 THEN {} END"
    h = "(w1 * w0 / (w1 + w0))"
    wt = "(COALESCE(w0, 0.0D) + COALESCE(w1, 0.0D))"
    shrink = "(tau2 / (tau2 + s2))"
    tau2_summand = f"POWER({shrink} * (zadj - b0), 2) + {shrink} * s2"
    # One projection per dependent step of a PQL round.
    for _ in range(3):
        d = d.selectExpr(*cells, "tau2", "b0 + u AS eta0", "b0 + beta + u AS eta1")
        d = d.selectExpr(*cells, "tau2", *irls("0"), *irls("1"))
        d = d.selectExpr(
            *cells, "tau2", "w0", "z0", "w1", "z1",
            f"{dsum(both.format(f'(z1 - z0) * {h}'))} / {dsum(both.format(h))} AS beta",
        )
        d = d.selectExpr(
            *cells, "tau2", "beta",
            f"(COALESCE(w0 * z0, 0.0D) + COALESCE(w1 * (z1 - beta), 0.0D)) / {wt} AS zadj",
            f"1.0D / {wt} AS s2",
        )
        d = d.selectExpr(
            *cells, "tau2", "beta", "zadj", "s2",
            f"{dsum('zadj / (tau2 + s2)')} / {dsum('1.0D / (tau2 + s2)')} AS b0",
        )
        d = d.selectExpr(
            *cells, "b0", "beta",
            f"{shrink} * (zadj - b0) AS u",
            f"{dsum(tau2_summand)} / COUNT({tau2_summand}) OVER () AS tau2",
        )
    return d.select(
        "grp",
        (F.col("n0") + F.col("n1")).alias("n"),
        F.when(
            F.col("n0") > 0, ratio_dbl(F.col("k0"), F.col("n0"), 6)
        ).alias("raw_control"),
        F.when(
            F.col("n1") > 0, ratio_dbl(F.col("k1"), F.col("n1"), 6)
        ).alias("raw_treated"),
        *(F.expr(f"ROUND({c}, 6) AS {c}") for c in ("u", "b0", "beta", "tau2")),
    ).orderBy("grp")


def _svm_oracle(lam: float = 0.05, iters: int = 10) -> str:
    """Unrolled full-batch pegasos oracle (the x3_logistic_irls
    pattern): round i computes the class-weighted violator sums from
    round i-1's coefficients, then the pegasos update
    w = (1-1/i) w + sv/(lambda*i*n). Arithmetic association matches
    ml.svm.pegasos_linear_svm term for term (w0 + (w1*x1 + w2*x2)) so
    both engines evaluate bit-identical margins, and the violator sums
    accumulate as 1e6-scaled BIGINTs exactly as the Spark fit does
    (exact_sum_decimals=6, the scaled-long fold) so neither engine's
    sum depends on accumulation order."""
    parts = [
        """
    WITH d AS MATERIALIZED (
      SELECT CASE WHEN CAST(l_quantity AS DOUBLE) / 50
                       + CAST(l_discount AS DOUBLE) * 10
                       + 0.6 * (CAST(((l_orderkey % 1048573) * 2654435761) % 1000 AS DOUBLE) / 1000)
                       > 1.7
                  THEN 1.0 ELSE -1.0 END AS y,
             CAST(l_quantity AS DOUBLE) / 50 - 0.5 AS x1,
             CAST(l_discount AS DOUBLE) * 10 - 0.5 AS x2
      FROM lineitem
    ), nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM d),
    it0 AS MATERIALIZED (SELECT CAST(0 AS DOUBLE) AS w0,
                   CAST(0 AS DOUBLE) AS w1, CAST(0 AS DOUBLE) AS w2)"""
    ]
    for i in range(1, iters + 1):
        parts.append(f"""
    , s{i} AS MATERIALIZED (
      SELECT COALESCE(CAST(SUM(CAST(ROUND((CASE WHEN y * (w0 + (w1*x1 + w2*x2)) < 1
               THEN (CASE WHEN y > 0 THEN 4.0 ELSE 1.0 END) * y END)
               * 1000000, 0) AS BIGINT)) AS DOUBLE), 0) / 1000000 AS sv0,
             COALESCE(CAST(SUM(CAST(ROUND((CASE WHEN y * (w0 + (w1*x1 + w2*x2)) < 1
               THEN (CASE WHEN y > 0 THEN 4.0 ELSE 1.0 END) * y * x1 END)
               * 1000000, 0) AS BIGINT)) AS DOUBLE), 0) / 1000000 AS sv1,
             COALESCE(CAST(SUM(CAST(ROUND((CASE WHEN y * (w0 + (w1*x1 + w2*x2)) < 1
               THEN (CASE WHEN y > 0 THEN 4.0 ELSE 1.0 END) * y * x2 END)
               * 1000000, 0) AS BIGINT)) AS DOUBLE), 0) / 1000000 AS sv2
      FROM d CROSS JOIN it{i - 1}
    ), it{i} AS MATERIALIZED (
      SELECT (1 - 1.0/{i}) * w0 + sv0 / ({lam!r} * {i} * n) AS w0,
             (1 - 1.0/{i}) * w1 + sv1 / ({lam!r} * {i} * n) AS w1,
             (1 - 1.0/{i}) * w2 + sv2 / ({lam!r} * {i} * n) AS w2
      FROM s{i} CROSS JOIN it{i - 1} CROSS JOIN nn
    )""")
    parts.append(f"""
    , ev AS (
      SELECT
        CAST(SUM(CASE WHEN y > 0 AND w0 + (w1*x1 + w2*x2) >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(SUM(CASE WHEN y < 0 AND w0 + (w1*x1 + w2*x2) >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(SUM(CASE WHEN y < 0 AND w0 + (w1*x1 + w2*x2) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        CAST(SUM(CASE WHEN y > 0 AND w0 + (w1*x1 + w2*x2) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM d CROSS JOIN it{iters}
    )
    SELECT (SELECT n FROM nn) AS n, tp, fp, tn, fn,
           {sql_ratio_dbl("tp + tn", "tp + fp + tn + fn")} AS accuracy,
           ROUND(w0, 5) AS w0, ROUND(w1, 5) AS w1, ROUND(w2, 5) AS w2
    FROM ev CROSS JOIN it{iters}""")
    return "".join(parts)


@register(
    "x3_linear_svm_eval",
    oracle=_svm_oracle(),
    tags=("X3", "GLM", "J19"),
)
def x3_linear_svm_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-weighted linear SVM trained end-to-end in the engine plus
    its confusion-matrix evaluation — the docket-order classifier
    analog (scratch/decisions/docket-order.R:329-348: e1071
    ``svm(orig_aod ~ DEASSIGN + BFD19, class.weights = c(aod=4,
    other=1))``), closing the last X3 model family. Two numeric
    features (quantity, discount — fixed-constant scaled to ~[0,1], as
    the reference's two date axes are commensurate); the label is a
    noisy linear ground truth over those features (threshold on
    x1 + x2 plus deterministic integer-hash noise — the reference's
    "older cases are AOD" date-boundary shape; pure integer/double
    arithmetic so both engines derive bit-identical labels, no libm),
    imbalanced ~4:1 so the reference's 4:1 ``class.weights`` bite.
    Features are fixed-constant centered (-0.5) so the boundary's bias
    is near zero and the fit converges in ten full-batch pegasos
    rounds (ml.svm.pegasos_linear_svm) with the identical rounds
    unrolled as oracle CTEs; measured at sf0.01 the fit reaches ~0.91
    accuracy with positive-recall favored by the class weights.

    Each training round is ONE fact-scale aggregation (three weighted
    violator sums) whose k+1 fitted doubles hop to the driver and are
    spliced into the next round as literals (MLlib-style iteration —
    see ml.svm.pegasos_linear_svm); no per-row Python anywhere; the
    eval pass is one broadcast + conditional aggregation. Integer confusion counts make the
    differential check exact; the violator folds run as 1e6-scaled
    int64 sums (features are exact <=2dp values, so the scaled
    contributions are exact integers) — every training round, and
    hence the coefficients themselves, is bit-deterministic under any
    partitioning and identical across engines at codegen speed; the
    5 dp coefficient rounding is presentational."""
    from ..ml.svm import pegasos_linear_svm

    li = load_table(spark, sf_dir, "lineitem")
    raw = [
        F.col("l_quantity").cast("double") / 50,
        F.col("l_discount").cast("double") * 10,
    ]
    xs = [raw[0] - 0.5, raw[1] - 0.5]
    # orderkey reduced mod 2^20-prime BEFORE the Knuth multiplier so the
    # product stays < 2^52 at any scale factor: DuckDB would raise on
    # int64 overflow and non-ANSI Spark would silently wrap negative.
    noise = (
        (((F.col("l_orderkey") % 1048573) * F.lit(2654435761)) % 1000).cast(
            "double"
        )
        / 1000
    )
    y = F.when(raw[0] + raw[1] + F.lit(0.6) * noise > 1.7, 1.0).otherwise(-1.0)
    coefs = pegasos_linear_svm(
        li,
        y=y,
        xs=xs,
        lam=0.05,
        iters=10,
        pos_weight=4.0,
        neg_weight=1.0,
        # quantity/50 and discount*10 are exact <=2dp values, so the
        # violator folds accumulate as 1e6-scaled longs — exact, hence
        # order-independent (partitioning-independence gate) and
        # engine-identical.
        exact_sum_decimals=6,
    )
    d = li.select(
        y.alias("y"),
        xs[0].alias("x1"),
        xs[1].alias("x2"),
    )
    score = F.col("w0") + (F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2"))
    ev = (
        d.crossJoin(F.broadcast(coefs))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(((F.col("y") > 0) & (score >= 0)).cast("int")).cast("long").alias("tp"),
            F.sum(((F.col("y") < 0) & (score >= 0)).cast("int")).cast("long").alias("fp"),
            F.sum(((F.col("y") < 0) & (score < 0)).cast("int")).cast("long").alias("tn"),
            F.sum(((F.col("y") > 0) & (score < 0)).cast("int")).cast("long").alias("fn"),
            F.any_value(F.col("w0")).alias("_w0"),
            F.any_value(F.col("w1")).alias("_w1"),
            F.any_value(F.col("w2")).alias("_w2"),
        )
    )
    return ev.select(
        "n",
        "tp",
        "fp",
        "tn",
        "fn",
        # count ratio: the ROUND(double, s) tie-flip class — exact
        # decimal half-up, double final
        ratio_dbl(
            F.col("tp") + F.col("tn"),
            F.col("tp") + F.col("fp") + F.col("tn") + F.col("fn"),
        ).alias("accuracy"),
        F.round("_w0", 5).alias("w0"),
        F.round("_w1", 5).alias("w1"),
        F.round("_w2", 5).alias("w2"),
    )


def _bt_oracle(iters: int = 3) -> str:
    """Unrolled Bradley-Terry MM oracle (Hunter 2004): pair counts from
    the unit-price comparisons, then p_i <- W_i / sum_j n_ij/(p_i+p_j)
    with per-round normalization. Every whole-frame fold accumulates
    6dp-scaled LONGs (round_even(x*1e6) — DuckDB's exact twin of
    Spark/Java Math.rint, verified half-to-even on both engines) so
    neither engine's accumulation order matters and the Spark side can
    fold inside a HOF `aggregate` whose LONG accumulator type is
    stable (a DECIMAL(38,12) accumulator can't ride Spark's HOF:
    decimal addition at the precision cap drops to scale 11).
    Arithmetic association matches the Spark builder term for term
    (n/(p_i + p_j) * 1e6, CAST(S AS DOUBLE)/1e6, W_i / S, praw / T)."""
    parts = [
        """
    WITH unit AS MATERIALIZED (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             MIN(l_extendedprice / l_quantity) AS u
      FROM lineitem GROUP BY 1, 2
    ), pairs AS MATERIALIZED (
      SELECT a.sk AS sa, b.sk AS sb, COUNT(*) AS n,
             CAST(SUM(CASE WHEN a.u < b.u THEN 1 ELSE 0 END) AS BIGINT) AS w
      FROM unit a JOIN unit b ON a.pk = b.pk AND a.sk < b.sk
      WHERE a.u <> b.u
      GROUP BY 1, 2
    ), sym AS MATERIALIZED (
      SELECT sa AS i, sb AS j, n, w FROM pairs
      UNION ALL
      SELECT sb AS i, sa AS j, n, n - w FROM pairs
    ), wins AS MATERIALIZED (
      SELECT i, CAST(SUM(w) AS BIGINT) AS wi, CAST(SUM(n) AS BIGINT) AS ni
      FROM sym GROUP BY i
    ), p0 AS MATERIALIZED (SELECT i, CAST(1.0 AS DOUBLE) AS p FROM wins)"""
    ]
    for r in range(1, iters + 1):
        parts.append(f"""
    , s{r} AS MATERIALIZED (
      SELECT s.i,
             CAST(SUM(CAST(round_even(s.n / (pi.p + pj.p) * 1000000.0, 0)
                           AS BIGINT)) AS DOUBLE) / 1000000.0 AS ssum
      FROM sym s
      JOIN p{r - 1} pi ON s.i = pi.i
      JOIN p{r - 1} pj ON s.j = pj.i
      GROUP BY s.i
    ), praw{r} AS MATERIALIZED (
      SELECT w.i, w.wi / ssum AS praw
      FROM wins w JOIN s{r} USING (i)
    ), t{r} AS MATERIALIZED (
      SELECT CAST(SUM(CAST(round_even(praw * 1000000.0, 0) AS BIGINT))
                  AS DOUBLE) / 1000000.0 AS t
      FROM praw{r}
    ), p{r} AS MATERIALIZED (
      SELECT i, praw / t AS p FROM praw{r} CROSS JOIN t{r}
    )""")
    parts.append(f"""
    SELECT ROW_NUMBER() OVER (ORDER BY p DESC, i) AS rnk,
           i AS suppkey, wi AS wins, ni AS comparisons,
           ROUND(p, 6) AS strength
    FROM p{iters} JOIN wins USING (i)
    QUALIFY rnk <= 10 ORDER BY rnk""")
    return "".join(parts)


def _bt_unit(li: DataFrame, repartition_pk: bool) -> DataFrame:
    """Minimum unit price ``u = l_extendedprice / l_quantity`` per
    (pk, sk) — the one definition both pair generators compare. With
    ``repartition_pk`` the projected rows are hash-placed on pk before
    the aggregate (the exploded arm, whose per-part grouping reuses
    that placement); without, the aggregate keeps its map-side partial
    (the chunked arm: ~7 lineitems per (pk, sk) at TPC-H density, so
    the partial is the scale path's shuffle reduction)."""
    rows = li.select(
        F.col("l_partkey").alias("pk"),
        F.col("l_suppkey").alias("sk"),
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("r"),
    )
    if repartition_pk:
        rows = rows.repartition("pk")
    return rows.groupBy("pk", "sk").agg(F.min("r").alias("u"))


def bt_pair_stats_exploded(li: DataFrame) -> DataFrame:
    """Reference (expression-level) pair generator — the spec for
    bt_pair_stats and its differential gate (tests/test_properties.py).
    Per-part supplier arrays sorted by suppkey, posexplode x
    slice(i+2..) emits exactly the sk_a < sk_b half, then a full
    groupBy(sa, sb) over the HALF-PAIR ROW STREAM. Correct, but the
    Σ C(n_p, 2) pair rows (8.7M at sf0.1 -> 8.7B at sf100) hit the
    exchange as struct-payload rows, and the partial hash aggregate
    falls back to sort-based spilling when the per-partition distinct
    key set outgrows memory (>58 GB of spill at sf100, where this
    generator does not finish).

    One explicit repartition on pk feeds BOTH aggregations (guide
    §2.4 — share one exchange between same-keyed operations):
    HashPartitioning(pk) satisfies the (pk, sk) unit agg's clustering
    (pk is a prefix) and the per-part collect_list's, so one projected
    3-column shuffle serves both. Measured at sf0.1: pair-stats
    1.84 -> 1.56 s against separate (pk, sk) and (pk) exchanges."""
    unit = _bt_unit(li, repartition_pk=True)
    grouped = unit.groupBy("pk").agg(
        F.sort_array(F.collect_list(F.struct("sk", "u"))).alias("xs")
    )
    return (
        grouped.select(F.posexplode("xs").alias("i", "a"), "xs")
        .select(
            "a",
            F.explode(
                F.slice(F.col("xs"), F.col("i") + F.lit(2), F.size("xs"))
            ).alias("b"),
        )
        .filter(F.col("a.u") != F.col("b.u"))
        .groupBy(F.col("a.sk").alias("sa"), F.col("b.sk").alias("sb"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("a.u") < F.col("b.u"), 1).otherwise(0))
            .cast("long")
            .alias("w"),
        )
        .localCheckpoint()
    )


# Below this many input bytes the exploded JVM pair generator wins:
# the chunked path's Arrow round-trip + range re-layout + DISK_ONLY
# checkpoint cost ~2s of constants that only pay off once the pair
# stream is big enough to sort-spill (sf0.1 measured 3.4s exploded vs
# 5.6s chunked; the chunked path's win starts around sf10 ~1 GB and
# is the difference between 1090s and DNF at sf100). 256 MB sits two
# orders of magnitude below the measured spill regime.
BT_EXPLODED_MAX_BYTES = 256 * 1024 * 1024


def bt_pair_stats(li: DataFrame) -> DataFrame:
    """Bradley-Terry pair statistics (sa < sb, #comparisons n, #wins w)
    from lineitem — the distributed half of pref_bradley_terry, shared
    with the size gate in tests/test_properties.py.

    Size-dispatched: below
    ``BT_EXPLODED_MAX_BYTES`` of scan input the exploded JVM generator
    runs (whole-stage-codegen posexplode, no Python boundary — the
    small-SF steady winner); above it the chunk-aggregated Arrow path
    takes over (the only shape that survives 1000x). The two are
    bit-identical by construction and property-gated against each
    other (tests/test_properties.py::
    test_bt_pair_stats_chunked_equals_exploded_reference), so the
    dispatch point can never change a result, only a plan."""
    nbytes = scan_input_bytes(li)
    if nbytes is not None and nbytes <= BT_EXPLODED_MAX_BYTES:
        return bt_pair_stats_exploded(li)
    return bt_pair_stats_chunked(li)


def bt_pair_stats_chunked(li: DataFrame) -> DataFrame:
    """Chunk-aggregated pair statistics — the 1000x-scale path.

    The half-pair table is NEVER materialized as a row stream. ``unit`` (one row per
    (part, supplier), fact-agg'd once) is RANGE-partitioned by part
    key and sorted (pk, sk) within partitions; an Arrow ``mapInPandas``
    pass then expands each part's C(n_p, 2) ordered pairs IN NUMPY
    (size-class batched triu indices — suppliers sorted ascending per
    part, so column i < column j gives sa < sb exactly like the
    reference's a.sk < b.sk) and pre-aggregates them into per-chunk
    (sa, sb, n, w) partials with a bounded accumulator (flushed above
    ~4M distinct keys — downstream re-aggregation keeps flushes
    correct). The exchange therefore carries compact int64 partials
    bounded by the per-partition DISTINCT pair count, not the pair-row
    count, and nothing ever sort-spills: at sf100 that is ~500M
    partial rows instead of 8.7B struct rows (the 17x collapse is
    what range partitioning buys — numerically adjacent part keys
    share supplier universes, in the probe layout as in any
    time-ordered real lake). A final groupBy(sa, sb) sums partials
    into the item-pairs-sized table (C(S,2) cap, 500k at sf0.1).

    Determinism: u doubles cross Arrow bit-exactly, the comparisons
    (u_a != u_b, u_a < u_b) are the reference's, and n/w are integer
    sums — partial flushing commutes. Bit-identity vs the exploded
    reference is property-gated (tests/test_properties.py).

    Single-Arrow-group bound (unchanged): the RESULT is item-pairs-
    sized; ml/bt.py's bt_strengths switches to the sharded JVM fit
    beyond 5e7 pair rows."""
    import numpy as np
    import pandas as pd

    unit = _bt_unit(li, repartition_pk=False)
    FLUSH = 4_000_000

    def gen(batches):
        carry = None  # trailing (possibly incomplete) pk group
        acc: list[pd.DataFrame] = []
        acc_rows = 0

        def expand(pk, sk, u):
            # pairs for COMPLETE parts, vectorized per size-class
            out = []
            pks, starts, counts = np.unique(
                pk, return_index=True, return_counts=True
            )
            for s in np.unique(counts):
                if s < 2:
                    continue
                sel = starts[counts == s]
                idx = sel[:, None] + np.arange(s)[None, :]
                SK = sk[idx]
                U = u[idx]
                iu, ju = np.triu_indices(int(s), 1)
                sa = SK[:, iu].ravel()
                sb = SK[:, ju].ravel()
                ua = U[:, iu].ravel()
                ub = U[:, ju].ravel()
                m = ua != ub
                if not m.any():
                    continue
                out.append(
                    pd.DataFrame(
                        {
                            "sa": sa[m],
                            "sb": sb[m],
                            "n": np.ones(int(m.sum()), dtype=np.int64),
                            "w": (ua[m] < ub[m]).astype(np.int64),
                        }
                    )
                )
            return out

        def combined(frames):
            df = pd.concat(frames, ignore_index=True)
            g = df.groupby(["sa", "sb"], sort=False, as_index=False).sum()
            return g

        for pdf in batches:
            if len(pdf) == 0:
                continue
            pk = pdf["pk"].values
            sk = pdf["sk"].values.astype(np.int64)
            u = pdf["u"].values.astype(np.float64)
            if carry is not None:
                pk = np.concatenate([carry[0], pk])
                sk = np.concatenate([carry[1], sk])
                u = np.concatenate([carry[2], u])
            # hold back the trailing pk group — it may continue in the
            # next batch (rows are sorted by pk within the partition)
            cut = np.searchsorted(pk, pk[-1], side="left")
            carry = (pk[cut:], sk[cut:], u[cut:])
            if cut == 0:
                continue
            acc.extend(expand(pk[:cut], sk[:cut], u[:cut]))
            acc_rows = sum(len(a) for a in acc)
            if acc_rows >= FLUSH:
                yield combined(acc)
                acc, acc_rows = [], 0
        if carry is not None and len(carry[0]):
            acc.extend(expand(*carry))
        if acc:
            yield combined(acc)

    partials = (
        unit.repartitionByRange("pk")
        .sortWithinPartitions("pk", "sk")
        .mapInPandas(gen, schema="sa long, sb long, n long, w long")
    )
    from pyspark.storagelevel import StorageLevel

    # DISK_ONLY checkpoint: the pair table is re-scanned (count probe +
    # one pass per MM round) but can reach 10s of GB at 1000x — caching
    # it MEMORY_AND_DISK competes with the final aggregation's hash
    # maps for executor heap (an sf100 probe ran out of memory here
    # at 48g). Disk blocks ride the OS page cache on re-scan; at
    # bench SFs (500k rows) the difference is noise.
    return (
        partials.groupBy("sa", "sb")
        .agg(F.sum("n").alias("n"), F.sum("w").alias("w"))
        .localCheckpoint(  # the fact-scale expansion runs exactly once
            eager=True, storageLevel=StorageLevel.DISK_ONLY
        )
    )


@register(
    "pref_bradley_terry",
    oracle=_bt_oracle(),
    tags=("X3", "X6", "PREF", "ITER"),
)
def pref_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry preference-strength fit via the MM algorithm
    (Hunter 2004, Ann. Statist. 32(1)) — the pairwise-preference
    aggregation an RLHF/preference-data pipeline runs to turn noisy
    A-vs-B comparisons into per-item strengths. Comparisons here:
    for every part supplied by 2+ suppliers, the supplier with the
    lower minimum unit price wins that part's pairwise matchups
    (MIN is order-independent; strict inequality only, ties dropped).
    Three MM rounds p_i <- W_i / sum_j n_ij/(p_i+p_j), normalized per
    round; top-10 strengths with win/comparison counts.

    Determinism: both fold sites (the per-supplier opponent sum and
    the normalization total) accumulate 6dp-scaled int64s —
    rint(x * 1e6), whose exact DuckDB twin is round_even(x*1e6, 0)
    (half-to-even, same as numpy.rint) — so the fit is bit-identical
    under any partitioning and across engines: int64 scatter-adds are
    order-commutative-exact, every other step is a deterministic
    elementwise IEEE-double op, and the unrolled-round oracle mirrors
    every association (n/(pi+pj)*1e6 -> rint -> int64 sum -> /1e6,
    wi / ssum, praw / t).

    Scale shape ("Spark until the aggregate is small", ml contract):
    pair generation is the heavy part and is fully distributed — one
    shuffle groups (part, supplier, min-unit-price) rows into a
    per-part supplier array sorted by suppkey, and ordered pairs come
    from posexplode + slice (emitting only the sk_a < sk_b half:
    ~N^2/2 comparisons per part, never all-pairs across parts; the
    former self-equi-join emitted the full N^2 and re-sorted both
    sides — measured 2.4x slower). The aggregated pair-stats table
    (#comparable-supplier-pairs rows — 500k at sf0.1, item-pairs-sized
    at any SF, NOT fact-sized) is checkpointed once and is the "small
    aggregate": all 3 MM rounds run in ONE applyInPandas over it
    (Arrow batch, numpy int64 scatter-folds) — one job, zero per-round
    shuffles/broadcasts/checkpoints. Pure-JVM rounds (per-round
    broadcast joins, or whole-frame windows with HOF folds) measured
    slower at sf0.1 (see BASELINE.md)."""
    from ..ml.bt import bt_strengths

    li = load_table(spark, sf_dir, "lineitem")
    pairs = bt_pair_stats(li)
    from pyspark.sql.window import Window

    # Path choice at the gated bound (ml/bt.py): below 5e7 pair rows
    # (all testdata SFs, by orders of magnitude) the whole pair table
    # fits ONE Arrow group — symmetrize, dense-index, 3 MM rounds as
    # numpy int64 scatter-folds. Beyond the bound bt_strengths switches
    # to the sharded JVM fit (per-partition partial int64 sums, one
    # items-sized combine per round) — bit-identical strengths,
    # property-gated on an S>3e4 universe in tests/test_properties.py.
    from ..operators.rank import ranked_head

    fit = bt_strengths(pairs, rounds=3)
    return (
        ranked_head(fit, 10, [F.desc("p"), F.asc("i")])
        .select(
            "rnk",
            F.col("i").alias("suppkey"),
            F.col("wi").alias("wins"),
            F.col("ni").alias("comparisons"),
            F.round("p", 6).alias("strength"),
        )
        .orderBy("rnk")
    )


@register(
    "x6_holt_linear",
    oracle="""
    WITH RECURSIVE monthly AS (
      SELECT o_orderpriority AS prio,
             CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY CAST(DATE_TRUNC('month', o_orderdate) AS DATE)) AS rn
      FROM orders GROUP BY 1, 2
    ), rec AS (
      SELECT prio, month, rn,
             CAST(rev AS DOUBLE) AS l,
             CAST(0 AS DOUBLE) AS b
      FROM monthly WHERE rn = 1
      UNION ALL
      SELECT m.prio, m.month, m.rn,
             0.5 * CAST(m.rev AS DOUBLE) + 0.5 * (r.l + r.b),
             0.3 * ((0.5 * CAST(m.rev AS DOUBLE) + 0.5 * (r.l + r.b)) - r.l)
               + 0.7 * r.b
      FROM monthly m JOIN rec r ON m.prio = r.prio AND m.rn = r.rn + 1
    )
    SELECT prio, month, ROUND(l, 6) AS level, ROUND(b, 6) AS trend
    FROM rec ORDER BY prio, month
    """,
    tags=("X6", "W13", "UDF"),
)
def x6_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + linear trend,
    alpha=0.5, gamma=0.3) of monthly revenue per order priority — the
    FULL-memory sequential recursion that w13_ewma_smoothing's bounded
    8-lag window deliberately avoids. This is the documented escape
    hatch made real: per-group sequential state runs as a grouped
    applyInPandas fold (X6), exactly where SURVEY §2.11 routes
    state that window algebra can't express; the oracle is the same
    recursion as a recursive CTE stepping month by month.

    Determinism: the fold is a plain Python double loop with the
    IDENTICAL expression association as the oracle's recursive step
    (l' = 0.5*x + 0.5*(l+b); b' = 0.3*(l'-l) + 0.7*b), inputs are
    exact decimals cast once to double, so every state is
    bit-identical across engines; the 6dp output rounding runs
    JVM-side (Spark ROUND = DuckDB ROUND = half away from zero —
    Python's round() is half-to-even and flips boundary values).

    Scale shape: months-per-priority is tiny (~80 rows/group), so the
    Arrow boundary ships KBs; the heavy work (the monthly rollup) is a
    map-side-combinable aggregation BEFORE the Python stage, and
    groups parallelize across executors — sequential only within a
    group, the irreducible data dependence of the recursion."""
    import pandas as pd

    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("month").reset_index(drop=True)
        levels, trends = [], []
        l = b = 0.0
        for t, rev in enumerate(pdf["rev"]):
            x = float(rev)
            if t == 0:
                l, b = x, 0.0
            else:
                l_new = 0.5 * x + 0.5 * (l + b)
                b = 0.3 * (l_new - l) + 0.7 * b
                l = l_new
            levels.append(l)
            trends.append(b)
        return pd.DataFrame(
            {"prio": pdf["prio"], "month": pdf["month"],
             "level": levels, "trend": trends}
        )

    return (
        monthly.groupBy("prio")
        .applyInPandas(
            holt, schema="prio string, month date, level double, trend double"
        )
        # round JVM-side: Spark's ROUND and DuckDB's ROUND share the
        # half-away-from-zero rule; Python's round() is half-to-even
        # and flips 5e-7-boundary values (observed at sf0.001)
        .select("prio", "month",
                F.round("level", 6).alias("level"),
                F.round("trend", 6).alias("trend"))
        .orderBy("prio", "month")
    )


@register(
    "x3_mann_whitney",
    oracle="""
    WITH s AS (
      SELECT o_orderstatus AS st, o_totalprice AS p,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ga
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), g AS (
      SELECT st, p, COUNT(*) AS cnt, SUM(ga) AS ca FROM s GROUP BY st, p
    ), r AS (
      SELECT st, cnt, ca,
             SUM(cnt) OVER (PARTITION BY st ORDER BY p
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - cnt AS cb4
      FROM g
    ), m AS (
      SELECT st, ca,
             CAST(2 * cb4 + cnt + 1 AS DECIMAL(20,0))
               * CAST('0.5' AS DECIMAL(2,1)) AS mid,
             cnt
      FROM r
    ), a AS (
      SELECT st,
             CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(SUM(ca) AS BIGINT) AS na,
             CAST(SUM(cnt) - SUM(ca) AS BIGINT) AS nb,
             SUM(mid * CAST(ca AS DECIMAL(10,0))) AS ra,
             SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS ties
      FROM m GROUP BY st
      HAVING SUM(ca) > 0 AND SUM(cnt) - SUM(ca) > 0
    )
    SELECT st AS status, na AS n_urgent, nb AS n_low,
           CAST(ra - CAST(na AS DECIMAL(20,0)) * (na + 1)
                     * CAST('0.5' AS DECIMAL(2,1)) AS DECIMAL(21,1)) AS u_stat,
           CASE WHEN CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
                     * ((CAST(n AS DOUBLE) + 1.0)
                        - CAST(ties AS DOUBLE)
                          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
                     > 0.0
           THEN (CAST(ra - CAST(na AS DECIMAL(20,0)) * (na + 1)
                      * CAST('0.5' AS DECIMAL(2,1)) AS DOUBLE)
            - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0)
           / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
                  * ((CAST(n AS DOUBLE) + 1.0)
                     - CAST(ties AS DOUBLE)
                       / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))))
           END AS z_approx
    FROM a ORDER BY status
    """,
    tags=("X3", "A2"),
)
def x3_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between the urgent and low
    order-priority cohorts on order value, per order status — the
    NONPARAMETRIC sibling of x3_ab_welch_ttest for when the response
    is skewed and a rank test is the honest choice. Midranks handle
    ties exactly ((2·rank_before + t + 1)/2 at decimal scale 1), the
    rank sums are exact decimals, and U = R_a − n_a(n_a+1)/2 is exact;
    z uses the tie-corrected normal approximation computed as ONE
    identical IEEE double expression over exact decimal-cast operands
    in both engines (the Welch discipline — sqrt is correctly rounded
    per IEEE-754, so no pin is needed).

    Scale shape: one filter-scan, one (status, value) count agg
    (map-side combinable), one DISTINCT-VALUE-sized rank window per
    status (never row-sized — ties collapse first), then 3-row
    arithmetic. The tie-cube sum runs in HUGEINT/DECIMAL so a
    million-way tie cannot overflow."""
    from decimal import Decimal as _D

    o = load_table(spark, sf_dir, "orders")
    s = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.col("o_orderstatus").alias("st"),
        F.col("o_totalprice").alias("p"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("ga"),
    )
    g = s.groupBy("st", "p").agg(
        F.count("*").alias("cnt"), F.sum("ga").alias("ca")
    )
    w = (
        Window.partitionBy("st")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    m = g.select(
        "st",
        "ca",
        "cnt",
        (
            (2 * (F.sum("cnt").over(w) - F.col("cnt")) + F.col("cnt") + 1)
            .cast("decimal(20,0)")
            * F.lit(_D("0.5"))
        ).alias("mid"),
    )
    a = (
        m.groupBy("st")
        .agg(
            F.sum("cnt").cast("long").alias("n"),
            F.sum("ca").cast("long").alias("na"),
            (F.sum("cnt") - F.sum("ca")).cast("long").alias("nb"),
            F.sum(F.col("mid") * F.col("ca").cast("decimal(10,0)")).alias("ra"),
            F.sum(
                F.col("cnt").cast("decimal(13,0)")
                * F.col("cnt")
                * F.col("cnt")
                - F.col("cnt")
            ).alias("ties"),
        )
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
    )
    u = (
        F.col("ra")
        - F.col("na").cast("decimal(20,0)")
        * (F.col("na") + 1)
        * F.lit(_D("0.5"))
    ).cast("decimal(21,1)")
    n_d = F.col("n").cast("double")
    na_d = F.col("na").cast("double")
    nb_d = F.col("nb").cast("double")
    var = na_d * nb_d / F.lit(12.0) * (
        (n_d + F.lit(1.0))
        - F.col("ties").cast("double") / (n_d * (n_d - F.lit(1.0)))
    )
    # degenerate all-tied group: the tie correction zeroes the
    # variance — Spark's double 0.0/0.0 follows IEEE and yields NaN
    # (ANSI divide-by-zero errors apply to integral/decimal operands
    # only) while DuckDB returns NULL — a hash asymmetry, so guard
    # BOTH engines with the identical var > 0 predicate (same IEEE
    # double expression, so the branch taken is engine-identical and
    # the division is never evaluated on it)
    z = F.when(var > F.lit(0.0),
               (u.cast("double") - na_d * nb_d / F.lit(2.0)) / F.sqrt(var))
    return a.select(
        F.col("st").alias("status"),
        F.col("na").alias("n_urgent"),
        F.col("nb").alias("n_low"),
        u.alias("u_stat"),
        z.alias("z_approx"),
    ).orderBy("status")
