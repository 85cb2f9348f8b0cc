"""Ridge-regression query pack: the one-pass normal-equation trainer
(`operators/regress.py`) fit on orders×customer, plus a distributed
scoring pass — train-then-score, the canonical 100 TB GLM pipeline.

Model: ``o_totalprice ~ intercept + c_acctbal + order-day-index`` with
ridge λ on the slope diagonal.  The content of the model is beside the
point; the point is the SHAPE — a keyless 10-sum aggregate (map-side
partials, O(partitions·d²) shuffle), a constant-size Cramer solve
evaluated from ONE shared SQL expression text by both engines, and a
broadcast-scored residual pass whose error sums are floor-quantized
int64 (order-invariant).  Every float the queries emit is either a
once-rounded ratio of exact integers or a fixed IEEE expression over
them, so the DuckDB oracle replays the ENTIRE fit bit-identically.

Reference tie-in: beyond-reference (the reference stops at vector
search); paired with `operators/kmeans.py` as the trainer family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inmem_vector_db_spark.operators.regress import (
    MOMENT_COLS,
    PREDICT_EXPR,
    RidgeSpec,
    betas_sql_select,
    combine_moments,
    lambda_sweep,
    moment_sums,
    moments_sql_select,
    r2_sql_select,
    ridge_fit,
    score,
    with_betas,
    with_r2,
)
from inmem_vector_db_spark.session import memo, scratch_dir
from inmem_vector_db_spark.sources.loader import load_table
from inmem_vector_db_spark.streaming.ingest import drain

# λ on the slope diagonal (intercept unregularized).  Scale-wise this
# is a mild shrink against the ~1e13 moment sums; the mechanism (not
# the tuning) is what the oracle certifies.
LAM = 100.0


def _design(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Design frame: one row per order with int64 features/target.
    x1 = floor(c_acctbal), x2 = order day index (floor(epoch/86400)),
    y = floor(o_totalprice).  floor-before-cast on BOTH engines (DuckDB
    CAST rounds; Spark CAST truncates — floor first makes them agree).
    The join broadcasts nothing here (both sides are fact-sized at
    scale) — it shuffles on the key once, and everything downstream of
    it is the 9-sum aggregate, so the join IS the pipeline's only
    data-sized exchange."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            F.col("o_orderkey").alias("okey"),
            F.col("c_mktsegment").alias("segment"),
            F.floor(F.col("c_acctbal")).cast("long").alias("x1"),
            F.floor(F.unix_timestamp(F.col("o_orderdate")) / F.lit(86400.0))
            .cast("long")
            .alias("x2"),
            F.floor(F.col("o_totalprice")).cast("long").alias("y"),
        )
    )


_DESIGN_SQL = """
  SELECT o_orderkey AS okey,
         c_mktsegment AS segment,
         CAST(floor(c_acctbal) AS BIGINT) AS x1,
         CAST(floor(epoch(o_orderdate) / 86400.0) AS BIGINT) AS x2,
         CAST(floor(o_totalprice) AS BIGINT) AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
"""


def ridge_regression_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit the 3-term ridge model; emit one row per coefficient.  The
    betas come out of `with_betas` already rounded once (6 dp), so
    this query's floats are the exact values the scoring query reuses."""
    fit = ridge_fit(_design(spark, sf_dir), LAM)
    terms = F.array(
        F.struct(F.lit("intercept").alias("term"), F.col("b0").alias("beta")),
        F.struct(F.lit("acctbal").alias("term"), F.col("b1").alias("beta")),
        F.struct(F.lit("order_day").alias("term"), F.col("b2").alias("beta")),
    )
    return fit.select(
        F.explode(terms).alias("t"), F.col("n").alias("n_rows")
    ).select("t.term", "t.beta", "n_rows")


RIDGE_FIT_SQL = f"""
WITH base AS ({_DESIGN_SQL}),
sums AS ({moments_sql_select("SELECT x1, x2, y FROM base")}),
{betas_sql_select(LAM)}
SELECT 'intercept' AS term, b0 AS beta, n AS n_rows FROM betas
UNION ALL SELECT 'acctbal', b1, n FROM betas
UNION ALL SELECT 'order_day', b2, n FROM betas
"""


def ridge_segment_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-score: broadcast the 1-row fit onto every order and
    aggregate floor-quantized residuals per market segment.  The
    scoring pass is shuffle-free (broadcast of 3 doubles); the rollup
    shuffles 5 groups.  RMSE/MAE are once-rounded ratios of exact
    int64 error sums — order-invariant, engine-portable."""
    design = _design(spark, sf_dir)
    fit = ridge_fit(design, LAM)
    scored = score(design, fit, LAM)
    n = F.count(F.lit(1))
    return scored.groupBy("segment").agg(
        n.alias("n_orders"),
        F.round(F.sqrt(F.sum("sq_err").cast("double") / n), 6).alias("rmse"),
        F.round(F.sum("abs_err").cast("double") / n, 6).alias("mae"),
    )


RIDGE_RESIDUALS_SQL = f"""
WITH base AS ({_DESIGN_SQL}),
sums AS ({moments_sql_select("SELECT x1, x2, y FROM base")}),
{betas_sql_select(LAM)},
scored AS (
  SELECT segment,
         CAST(x1 AS DOUBLE) AS x1d,
         CAST(x2 AS DOUBLE) AS x2d,
         CAST(y AS DOUBLE) - ({PREDICT_EXPR}) AS resid
  FROM base CROSS JOIN betas
)
SELECT segment,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sqrt(CAST(sum(CAST(floor(resid * resid) AS BIGINT)) AS DOUBLE)
                  / count(*)), 6) AS rmse,
       round(CAST(sum(CAST(floor(abs(resid)) AS BIGINT)) AS DOUBLE)
             / count(*), 6) AS mae
FROM scored
GROUP BY segment
"""

# λ grid spanning no-shrink to slope-flattening; priced from ONE scan.
LAM_GRID = [0.0, 100.0, 10000.0, 1000000.0]


def ridge_lambda_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model search amortized over a single pass: the 10 moment sums
    are computed once, then the whole λ grid is solved and scored
    (training R² from the sufficient statistics — no second pass).
    At 100 TB this is the difference between N scans and one: the
    grid cross-join is 4 rows against a 1-row aggregate."""
    sums = moment_sums(_design(spark, sf_dir))
    return lambda_sweep(sums, LAM_GRID).select("lam", "b0", "b1", "b2", "r2")


_LAM_LIST = "[" + ", ".join(repr(float(v)) for v in LAM_GRID) + "]"

RIDGE_SWEEP_SQL = f"""
WITH base AS ({_DESIGN_SQL}),
msums AS ({moments_sql_select("SELECT x1, x2, y FROM base")}),
sums AS (
  SELECT msums.*, t.lam
  FROM msums CROSS JOIN (
    SELECT unnest(CAST({_LAM_LIST} AS DOUBLE[])) AS lam
  ) t
),
{betas_sql_select("lam")},
{r2_sql_select()}
SELECT lam, b0, b1, b2, r2 FROM fit
"""

def ridge_online_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE training: the design rows arrive as a file STREAM
    (maxFilesPerTrigger=1 forces one micro-batch per file) and each
    batch appends its 10 moment sums to a state table via foreachBatch.
    Because integer moment addition is associative, folding the state
    and re-solving must produce the fit BIT-IDENTICAL to the one-pass
    batch trainer — the oracle replays the batch fit, so the value
    hash proves the micro-batched accumulation lost, duplicated, and
    double-counted nothing.  This is the production shape for models
    over continuously-ingested corpora: per-batch work is O(batch),
    persisted state is 10 integers per batch, and re-training after
    any append is an O(d³) solve on the folded moments — history is
    never re-scanned."""
    design = _design(spark, sf_dir).select("x1", "x2", "y")
    staged = scratch_dir("ridge_feed_")
    design.repartition(4).write.mode("append").parquet(staged)
    state = scratch_dir("ridge_state_")
    stream_in = (
        spark.readStream.schema("x1 long, x2 long, y long")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        moment_sums(batch_df).write.mode("append").parquet(state)

    drain(stream_in.writeStream.foreachBatch(handle))
    fit = with_r2(with_betas(combine_moments(spark.read.parquet(state)), LAM))
    return fit.select(F.col("n").alias("n_rows"), "b0", "b1", "b2", "r2")


RIDGE_ONLINE_SQL = f"""
WITH base AS ({_DESIGN_SQL}),
sums AS ({moments_sql_select("SELECT x1, x2, y FROM base")}),
{betas_sql_select(LAM)},
{r2_sql_select()}
SELECT n AS n_rows, b0, b1, b2, r2 FROM fit
"""

def ridge_models_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N independent models from ONE pass: group the moment aggregate
    by market segment and solve each group's 3×3 system row-wise.
    This is the per-tenant / per-domain model shape — at 100 TB the
    cost is a single key-shuffle of 10-int rows, and the solves are a
    constant-time expression over each group's row (no per-model jobs,
    no driver loop)."""
    sums = moment_sums(_design(spark, sf_dir), keys=("segment",))
    fit = with_r2(with_betas(sums, LAM))
    return fit.select(
        "segment", F.col("n").alias("n_rows"), "b0", "b1", "b2", "r2"
    )


RIDGE_BY_SEGMENT_SQL = f"""
WITH base AS ({_DESIGN_SQL}),
sums AS ({moments_sql_select("SELECT segment, x1, x2, y FROM base", keys=("segment",))}),
{betas_sql_select(LAM)},
{r2_sql_select()}
SELECT segment, n AS n_rows, b0, b1, b2, r2 FROM fit
"""

# --- ridge classifier (least squares on ±1 labels — the closed-form
# RidgeClassifier shape) + exact confusion-matrix eval -----------------
#
# The ±1 target drops into the UNCHANGED moment machinery (y is just
# int64), so classification costs exactly what regression does: one
# 10-sum pass, one Cramer solve, one broadcast scoring pass.  The eval
# metrics are shared expression text over exact int64 confusion cells
# — the classifier-eval harness is engine-portable the same way the
# trainer is.  (The synthetic tables carry no real feature→label
# signal — lang/label/price are independent of every feature — so the
# certified object is the MECHANISM: exact cells, exact metrics, the
# same posture as the λ choice.)

_METRIC_EXPRS = {
    "accuracy": "round((tpd + tnd) / (tpd + fpd + fnd + tnd), 6)",
    "precision": "round(coalesce(tpd / nullif(tpd + fpd, 0.0), -1.0), 6)",
    "recall": "round(coalesce(tpd / nullif(tpd + fnd, 0.0), -1.0), 6)",
    "f1": (
        "round(coalesce(2.0 * tpd / nullif(2.0 * tpd + fpd + fnd, 0.0),"
        " -1.0), 6)"
    ),
}

_CLASS_THRESHOLD = 250_000  # ~median o_totalprice: near-balanced classes


def _class_design(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same features as the regression design; target flips to ±1 on
    the high-value-order threshold."""
    return _design(spark, sf_dir).withColumn(
        "y",
        F.when(F.col("y") > _CLASS_THRESHOLD, F.lit(1)).otherwise(F.lit(-1))
        .cast("long"),
    )


_CLASS_DESIGN_SQL = f"""
  SELECT segment, x1, x2,
         CAST(CASE WHEN y > {_CLASS_THRESHOLD} THEN 1 ELSE -1 END AS BIGINT) AS y
  FROM ({_DESIGN_SQL})
"""


def ridge_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the closed-form ridge classifier and grade it exactly:
    confusion cells are conditional int64 counts, metrics are shared
    expression text over the cells (sentinel −1 when a ratio is
    undefined — e.g. an all-negative predictor has no precision)."""
    design = _class_design(spark, sf_dir)
    fit = ridge_fit(design, LAM)
    scored = score(design, fit, LAM).withColumn(
        "pred", F.when(F.col("yhat") >= 0, F.lit(1)).otherwise(F.lit(-1))
    )

    def cell(actual: int, pred: int) -> F.Column:
        return F.sum(
            ((F.col("y") == actual) & (F.col("pred") == pred)).cast("long")
        )

    cells = scored.agg(
        F.count(F.lit(1)).alias("n_rows"),
        cell(1, 1).alias("tp"),
        cell(-1, 1).alias("fp"),
        cell(1, -1).alias("fn"),
        cell(-1, -1).alias("tn"),
    )
    for c in ("tp", "fp", "fn", "tn"):
        cells = cells.withColumn(f"{c}d", F.col(c).cast("double"))
    for name, expr in _METRIC_EXPRS.items():
        cells = cells.withColumn(name, F.expr(expr))
    return cells.select(
        "n_rows", "tp", "fp", "fn", "tn", *_METRIC_EXPRS
    )


_METRICS_SQL = ", ".join(f"{e} AS {n}" for n, e in _METRIC_EXPRS.items())

RIDGE_CLASSIFIER_SQL = f"""
WITH base AS ({_CLASS_DESIGN_SQL}),
sums AS ({moments_sql_select("SELECT x1, x2, y FROM base")}),
{betas_sql_select(LAM)},
scored AS (
  SELECT y,
         CASE WHEN (b0 + b1 * CAST(x1 AS DOUBLE) + b2 * CAST(x2 AS DOUBLE)) >= 0
              THEN 1 ELSE -1 END AS pred
  FROM base CROSS JOIN betas
),
cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN y = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN y = -1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN y = 1 AND pred = -1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         CAST(sum(CASE WHEN y = -1 AND pred = -1 THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM scored
),
dcells AS (
  SELECT *, CAST(tp AS DOUBLE) AS tpd, CAST(fp AS DOUBLE) AS fpd,
         CAST(fn AS DOUBLE) AS fnd, CAST(tn AS DOUBLE) AS tnd
  FROM cells
)
SELECT n_rows, tp, fp, fn, tn, {_METRICS_SQL} FROM dcells
"""

# --- split-conformal prediction intervals ----------------------------
#
# Uncertainty quantification for the served model: train on md5
# buckets {0,1}, take the ceil((n+1)(1−α))-th smallest calibration
# |residual| as the interval half-width (an EXACT integer order
# statistic — k is pure integer arithmetic, the scores are the
# floor-quantized int64 abs_err, and the k-th smallest of a multiset
# needs no tie policy), then check empirical coverage on the held-out
# test bucket.  Distribution-free: coverage ≥ 1−α is guaranteed by
# exchangeability, and the query MEASURES it rather than assuming it.
# The calibration sort is a single-partition window, so the
# calibration set must be FIXED-SIZE — a constant-size exchangeable
# sample calibrates a 100 TB model just as well, and the train/score
# passes are the data-sized legs that stay distributed.  Bucket 2 is
# therefore capped at exactly _CONF_CALIB_CAP rows by a salted-hash
# total order: the _CONF_CALIB_CAP smallest md5('c'||okey) rows form
# the sample.  On Spark `ORDER BY hash LIMIT cap` plans as
# TakeOrderedAndProject — a distributed per-partition top-k merge,
# never a global sort — so selection is O(cap) memory per task, and
# the global row_number that follows only ever sees ≤ cap rows however
# large the corpus grows (this replaces the r11 keep-1/16 sub-bucket
# thinning, whose sample was a fixed FRACTION of the corpus and so
# still grew linearly).  The hash depends only on okey, never on the
# residual, so the sample is exchangeable and the ≥ 1−α coverage
# guarantee is untouched.

_CONF_ALPHA_NUM, _CONF_ALPHA_DEN = 9, 10  # 1 - alpha = 9/10
# Fixed calibration-sample size.  The single-task rank sees at most
# this many rows at ANY corpus scale; raise it for a tighter qhat
# (order-statistic resolution is 1/(cap+1)) — the oracle SQL below
# interpolates it (f-string), so Spark and DuckDB stay consistent from
# the one edit and no hand regeneration is involved (advisor r6 note).
# CAP CEILING (advisor r12): the ORDER BY h LIMIT cap plans as
# TakeOrderedAndProject only while cap <=
# spark.sql.execution.topKSortFallbackThreshold (default 10000); past
# that Spark silently falls back to a GLOBAL SORT and the single-task
# hazard this cap removes comes back.  The assert below makes a future
# cap raise fail loudly instead (test_conformal_calibration_cap_binds_
# and_is_top_k only pins the plan at cap=64).
_CONF_CALIB_CAP = 2048
# ValueError, not assert (r13 advisor): an assert is stripped under
# `python -O`, and the module-level check must survive it.  10000
# mirrors spark.sql.execution.topKSortFallbackThreshold's DEFAULT; the
# session's actual value is re-checked at first use in
# _check_calib_cap_against_session (config drift covered there — at
# import time no session exists to ask).
if _CONF_CALIB_CAP > 10000:
    raise ValueError(
        "_CONF_CALIB_CAP past topKSortFallbackThreshold would plan as "
        "a global sort"
    )


def _check_calib_cap_against_session(spark: SparkSession) -> None:
    """Fail loudly if the SESSION's configured topKSortFallbackThreshold
    (not just the compile-time default) is below the calibration cap —
    the TakeOrderedAndProject shape the cap exists to keep would
    silently degrade to a global sort otherwise (r13 advisor)."""

    def check() -> None:
        thr = int(
            spark.conf.get("spark.sql.execution.topKSortFallbackThreshold")
        )
        if _CONF_CALIB_CAP > thr:
            raise ValueError(
                f"_CONF_CALIB_CAP={_CONF_CALIB_CAP} exceeds the session's "
                f"topKSortFallbackThreshold={thr}: the calibration top-k "
                "would plan as a global sort"
            )

    memo(spark, ("calib_cap_checked",), check)


def ridge_conformal_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    _check_calib_cap_against_session(spark)
    design = _design(spark, sf_dir)
    bucket = F.conv(
        F.substring(F.md5(F.col("okey").cast("string")), 1, 15), 16, 10
    ).cast("long") % 4
    design = design.withColumn("bucket", bucket)
    fit = ridge_fit(design.filter(F.col("bucket") <= 1), LAM)
    calib_sample = (
        design.filter(F.col("bucket") == 2)
        .withColumn(
            "h", F.md5(F.concat(F.lit("c"), F.col("okey").cast("string")))
        )
        .orderBy("h", "okey")
        .limit(_CONF_CALIB_CAP)
        .drop("h")
    )
    calib = score(calib_sample, fit, LAM)
    test = score(design.filter(F.col("bucket") == 3), fit, LAM)

    rn = F.row_number().over(Window.orderBy("abs_err", "okey"))
    ncal = F.count(F.lit(1)).over(Window.partitionBy())
    k = F.expr(
        f"({_CONF_ALPHA_NUM} * (n_calib + 1) + {_CONF_ALPHA_DEN} - 1)"
        f" div {_CONF_ALPHA_DEN}"
    )
    qrow = (
        calib.select("okey", "abs_err")
        .withColumn("rn", rn)
        .withColumn("n_calib", ncal)
        .filter(F.col("rn") == k)
        .select(F.col("abs_err").alias("qhat"), "n_calib")
    )
    n_train = fit.select(F.col("n").alias("n_train"))
    return (
        test.crossJoin(F.broadcast(qrow))
        .agg(
            F.min("n_calib").alias("n_calib"),
            F.count(F.lit(1)).alias("n_test"),
            F.min("qhat").alias("qhat"),
            F.round(
                F.sum((F.col("abs_err") <= F.col("qhat")).cast("long")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("coverage"),
        )
        .crossJoin(F.broadcast(n_train))
        .select("n_train", "n_calib", "n_test", "qhat", "coverage")
    )


RIDGE_CONFORMAL_SQL = f"""
WITH based AS ({_DESIGN_SQL}),
base AS (
  SELECT *, CAST(('0x' || substr(md5(okey::VARCHAR), 1, 15))::UBIGINT % 4
                 AS BIGINT) AS bucket
  FROM based
),
sums AS ({moments_sql_select("SELECT x1, x2, y FROM base WHERE bucket <= 1")}),
{betas_sql_select(LAM)},
calib_pool AS (
  SELECT * FROM base WHERE bucket = 2
  ORDER BY md5('c' || okey::VARCHAR), okey
  LIMIT {_CONF_CALIB_CAP}
),
scored AS (
  SELECT bucket, okey,
         CAST(floor(abs(CAST(y AS DOUBLE)
              - (b0 + b1 * CAST(x1 AS DOUBLE) + b2 * CAST(x2 AS DOUBLE))))
              AS BIGINT) AS abs_err
  FROM base CROSS JOIN betas
  WHERE bucket = 3
),
calib AS (
  SELECT abs_err,
         row_number() OVER (ORDER BY abs_err, okey) AS rn,
         count(*) OVER () AS n_calib
  FROM (
    SELECT p.okey,
           CAST(floor(abs(CAST(p.y AS DOUBLE)
                - (b0 + b1 * CAST(p.x1 AS DOUBLE)
                      + b2 * CAST(p.x2 AS DOUBLE))))
                AS BIGINT) AS abs_err
    FROM calib_pool p CROSS JOIN betas
  )
),
qrow AS (
  SELECT abs_err AS qhat, CAST(n_calib AS BIGINT) AS n_calib
  FROM calib
  WHERE rn = ({_CONF_ALPHA_NUM} * (n_calib + 1) + {_CONF_ALPHA_DEN} - 1)
             // {_CONF_ALPHA_DEN}
),
cov AS (
  SELECT CAST(min(n_calib) AS BIGINT) AS n_calib,
         CAST(count(*) AS BIGINT) AS n_test,
         CAST(min(qhat) AS BIGINT) AS qhat,
         round(CAST(sum(CASE WHEN abs_err <= qhat THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*), 6) AS coverage
  FROM scored CROSS JOIN qrow WHERE bucket = 3
)
SELECT n AS n_train, n_calib, n_test, qhat, coverage
FROM cov CROSS JOIN sums
"""

# --- histogram decision-stump split finder ---------------------------
#
# The inner loop of distributed tree training (the LightGBM/XGBoost
# histogram algorithm): bin the feature into 256 fixed-width integer
# bins, aggregate (count, Σy, max x) per bin — ONE data-sized shuffle
# of ≤256 rows — then scan prefix sums over the 256-row histogram for
# the variance-minimizing split.  Everything before the final score is
# exact int64 (fixed-width binning is integer arithmetic: no quantile
# estimation, no float bucketing); the split score is a fixed double
# expression over exact ints with a (gain DESC, bin ASC) lexicographic
# argmax, so both engines pick the identical split.  At 100 TB this is
# exactly how tree libraries scale: per-feature histograms are
# map-side-combinable, and the split search touches 256 rows however
# large the corpus is.

_N_BINS = 256


def _stump_best_df(design: DataFrame, feat: str, targ: str) -> DataFrame:
    """One histogram split search: returns the 1-row best split
    (bin, threshold = max feat value left of the split, side counts,
    once-rounded leaf means, variance reduction) for ``targ`` on
    ``feat``.  Shared by the single-stump entry and each boosting
    round."""
    rng = design.agg(
        F.min(feat).alias("lo"),
        F.max(feat).alias("hi"),
        F.count(F.lit(1)).alias("n"),
        F.sum(targ).cast("long").alias("s"),
    )
    binned = design.crossJoin(F.broadcast(rng)).withColumn(
        "bin",
        F.expr(f"(({feat} - lo) * {_N_BINS}) div (hi - lo + 1)"),
    )
    hist = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(targ).cast("long").alias("sy"),
        F.max(feat).alias("bin_max"),
        F.min("n").alias("n"),
        F.min("s").alias("s"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        hist.withColumn("n_left", F.sum("cnt").over(w))
        .withColumn("s_left", F.sum("sy").over(w))
        .withColumn("threshold", F.max("bin_max").over(w))
        .filter(F.col("n_left") < F.col("n"))
    )
    scored = cum.withColumn(
        "gain",
        F.expr(
            "cast(s_left as double) * cast(s_left as double)"
            " / cast(n_left as double)"
            " + cast(s - s_left as double) * cast(s - s_left as double)"
            " / cast(n - n_left as double)"
        ),
    )
    best = scored.orderBy(F.desc("gain"), F.asc("bin")).limit(1)
    return best.select(
        "bin",
        "threshold",
        "n_left",
        (F.col("n") - F.col("n_left")).alias("n_right"),
        F.round(
            F.col("s_left").cast("double") / F.col("n_left"), 6
        ).alias("mean_left"),
        F.round(
            (F.col("s") - F.col("s_left")).cast("double")
            / (F.col("n") - F.col("n_left")),
            6,
        ).alias("mean_right"),
        F.round(
            F.expr(
                "(gain - cast(s as double) * cast(s as double)"
                " / cast(n as double)) / cast(n as double)"
            ),
            6,
        ).alias("var_reduction"),
    )


def _stump_sql(base: str, feat: str, targ: str, p: str) -> str:
    """DuckDB mirror of ``_stump_best_df`` as a prefixed CTE chain
    ending in ``{p}best`` — composable, so the boosting oracle replays
    each round with the same text the single-stump oracle uses."""
    return f"""
{p}rng AS (
  SELECT CAST(min({feat}) AS BIGINT) AS lo, CAST(max({feat}) AS BIGINT) AS hi,
         CAST(count(*) AS BIGINT) AS n, CAST(sum({targ}) AS BIGINT) AS s
  FROM {base}
),
{p}hist AS (
  SELECT (({feat} - lo) * {_N_BINS}) // (hi - lo + 1) AS bin,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum({targ}) AS BIGINT) AS sy,
         CAST(max({feat}) AS BIGINT) AS bin_max,
         CAST(min(n) AS BIGINT) AS n, CAST(min(s) AS BIGINT) AS s
  FROM {base} CROSS JOIN {p}rng
  GROUP BY 1
),
{p}cum AS (
  SELECT *,
         CAST(sum(cnt) OVER w AS BIGINT) AS n_left,
         CAST(sum(sy) OVER w AS BIGINT) AS s_left,
         CAST(max(bin_max) OVER w AS BIGINT) AS threshold
  FROM {p}hist
  WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
{p}scored AS (
  SELECT *,
         CAST(s_left AS DOUBLE) * CAST(s_left AS DOUBLE)
           / CAST(n_left AS DOUBLE)
         + CAST(s - s_left AS DOUBLE) * CAST(s - s_left AS DOUBLE)
           / CAST(n - n_left AS DOUBLE) AS gain
  FROM {p}cum WHERE n_left < n
),
{p}best AS (
  SELECT bin, threshold, n_left, n - n_left AS n_right,
         round(CAST(s_left AS DOUBLE) / n_left, 6) AS mean_left,
         round(CAST(s - s_left AS DOUBLE) / (n - n_left), 6) AS mean_right,
         round((gain - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS var_reduction
  FROM {p}scored ORDER BY gain DESC, bin ASC LIMIT 1
)"""


def stump_split_finder(spark: SparkSession, sf_dir: str) -> DataFrame:
    best = _stump_best_df(_design(spark, sf_dir), "x1", "y")
    return best.select(
        F.col("bin").alias("split_bin"),
        F.col("threshold").alias("split_x1_max"),
        "n_left",
        "n_right",
        "mean_left",
        "mean_right",
        "var_reduction",
    )


STUMP_SPLIT_SQL = f"""
WITH base AS ({_DESIGN_SQL}),
{_stump_sql("base", "x1", "y", "a_")}
SELECT bin AS split_bin, threshold AS split_x1_max, n_left, n_right,
       mean_left, mean_right, var_reduction
FROM a_best
"""


def boosted_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two boosting rounds, exactly replayable: round 1 fits a stump
    on x1 → y; its once-rounded leaf means predict; the residual is
    floor-quantized back to int64; round 2 fits a stump on x2 → the
    residual.  This is the gradient-boosting loop shape (fit, predict,
    residualize, repeat) with every cross-round handoff quantized so
    both engines walk the identical path — the k-means discipline
    applied to additive trees.  Per round: one ≤256-row histogram
    shuffle and a broadcast of a 1-row model."""
    design = _design(spark, sf_dir)
    b1 = _stump_best_df(design, "x1", "y")
    handoff = F.broadcast(
        b1.select(
            F.col("threshold").alias("t1"),
            F.col("mean_left").alias("ml1"),
            F.col("mean_right").alias("mr1"),
        )
    )
    design2 = (
        design.crossJoin(handoff)
        .withColumn(
            "pred1",
            F.when(F.col("x1") <= F.col("t1"), F.col("ml1")).otherwise(
                F.col("mr1")
            ),
        )
        .withColumn("r", F.floor(F.col("y") - F.col("pred1")).cast("long"))
    )
    b2 = _stump_best_df(design2, "x2", "r")
    return (
        b1.select(
            F.col("threshold").alias("r1_split_x1_max"),
            F.col("mean_left").alias("r1_mean_left"),
            F.col("mean_right").alias("r1_mean_right"),
            F.col("var_reduction").alias("r1_var_reduction"),
        )
        .crossJoin(
            b2.select(
                F.col("threshold").alias("r2_split_x2_max"),
                F.col("mean_left").alias("r2_mean_left"),
                F.col("mean_right").alias("r2_mean_right"),
                F.col("var_reduction").alias("r2_var_reduction"),
            )
        )
    )


BOOSTED_STUMPS_SQL = f"""
WITH base AS ({_DESIGN_SQL}),
{_stump_sql("base", "x1", "y", "a_")},
base2 AS (
  SELECT base.*,
         CAST(floor(y - (CASE WHEN x1 <= a_best.threshold
                              THEN a_best.mean_left
                              ELSE a_best.mean_right END)) AS BIGINT) AS r
  FROM base CROSS JOIN a_best
),
{_stump_sql("base2", "x2", "r", "b_")}
SELECT a_best.threshold AS r1_split_x1_max,
       a_best.mean_left AS r1_mean_left,
       a_best.mean_right AS r1_mean_right,
       a_best.var_reduction AS r1_var_reduction,
       b_best.threshold AS r2_split_x2_max,
       b_best.mean_left AS r2_mean_left,
       b_best.mean_right AS r2_mean_right,
       b_best.var_reduction AS r2_var_reduction
FROM a_best CROSS JOIN b_best
"""

# --- k-fold cross-validation by moment subtraction --------------------
#
# The held-out error estimate without k extra passes: per-fold moment
# sums (one grouped aggregate) plus window totals give each fold's
# LEAVE-FOLD-OUT training moments as an exact integer SUBTRACTION
# (total − fold), so all k models come from the same single scan that
# a plain fit costs.  Each fold's rows are then scored by the model
# that never saw them (4-row broadcast join on fold).  This is the
# moment-algebra dual of the target encoder's out-of-fold means —
# sufficient statistics make CV a bookkeeping exercise, not k jobs.

_CV_FOLDS = 4


def ridge_crossval_mse(spark: SparkSession, sf_dir: str) -> DataFrame:
    fold = F.conv(
        F.substring(F.md5(F.col("okey").cast("string")), 1, 15), 16, 10
    ).cast("long") % _CV_FOLDS
    design = _design(spark, sf_dir).withColumn("fold", fold)
    per = moment_sums(design, keys=("fold",))
    wall = Window.partitionBy()
    loo = per.select(
        "fold",
        *[
            (F.sum(c).over(wall) - F.col(c)).cast("long").alias(c)
            for c in list(per.columns)
            if c != "fold"
        ],
    )
    models = F.broadcast(
        with_betas(loo, LAM).select("fold", "b0", "b1", "b2")
    )
    scored = (
        design.join(models, "fold")
        .withColumn("x1d", F.col("x1").cast("double"))
        .withColumn("x2d", F.col("x2").cast("double"))
        .withColumn("yhat", F.expr(PREDICT_EXPR))
        .withColumn("resid", F.col("y").cast("double") - F.col("yhat"))
        .withColumn(
            "sq_err", F.floor(F.col("resid") * F.col("resid")).cast("long")
        )
    )
    n = F.count(F.lit(1))
    return scored.groupBy("fold").agg(
        n.alias("n_test"),
        F.round(F.sum("sq_err").cast("double") / n, 6).alias("mse"),
    )


RIDGE_CROSSVAL_SQL = f"""
WITH based AS ({_DESIGN_SQL}),
design AS (
  SELECT *, CAST(('0x' || substr(md5(okey::VARCHAR), 1, 15))::UBIGINT
                 % {_CV_FOLDS} AS BIGINT) AS fold
  FROM based
),
per AS ({moments_sql_select("SELECT fold, x1, x2, y FROM design",
                            keys=("fold",))}),
sums AS (
  SELECT fold,
         {", ".join(f"CAST(sum({c}) OVER () - {c} AS BIGINT) AS {c}"
                    for c in MOMENT_COLS)}
  FROM per
),
{betas_sql_select(LAM)},
scored AS (
  SELECT d.fold,
         CAST(floor((CAST(d.y AS DOUBLE)
              - (b.b0 + b.b1 * CAST(d.x1 AS DOUBLE)
                 + b.b2 * CAST(d.x2 AS DOUBLE)))
              * (CAST(d.y AS DOUBLE)
              - (b.b0 + b.b1 * CAST(d.x1 AS DOUBLE)
                 + b.b2 * CAST(d.x2 AS DOUBLE)))) AS BIGINT) AS sq_err
  FROM design d JOIN betas b ON d.fold = b.fold
)
SELECT fold, CAST(count(*) AS BIGINT) AS n_test,
       round(CAST(sum(sq_err) AS DOUBLE) / count(*), 6) AS mse
FROM scored GROUP BY fold
"""


# --- ALS user half-step (matrix-factorization inner loop) ------------
#
# Alternating least squares trains recommenders by freezing the item
# factor matrix and solving one small ridge system PER USER — exactly
# the grouped-moment shape: one key-shuffle of 10-int rows, then a
# row-wise Cramer solve per user, item factors broadcast (here: a
# 5-item factor table derived from md5, standing in for the previous
# iteration's item matrix — the engine has no ratings corpus, so the
# SHAPE is the certified capability, like λ).  With λ > 0 every
# per-user system is provably nonsingular (a user who only ever
# touches one item yields det = n·λ² > 0), so no user needs special-
# casing — the property ALS implementations rely on.  Top-50 users by
# interaction count keep the output bounded and deterministic.

# shared factor text over h = 60-bit md5 integer of the item id
_F1_EXPR = "h % 1000 - 500"
_F2_EXPR = "(h {div} 1000) % 1000 - 500"


def als_user_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    design = ev.select(
        "user_id",
        F.conv(F.substring(F.md5("event_type"), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("y"),
    ).select(
        "user_id",
        F.expr(_F1_EXPR).alias("x1"),
        F.expr(_F2_EXPR.format(div="div")).alias("x2"),
        "y",
    )
    fit = with_betas(moment_sums(design, keys=("user_id",)), LAM)
    return (
        fit.orderBy(F.desc("n"), F.asc("user_id"))
        .limit(50)
        .select("user_id", F.col("n").alias("n_events"), "b0", "b1", "b2")
    )


ALS_USER_SQL = f"""
WITH base AS (
  SELECT user_id,
         CAST(('0x' || substr(md5(event_type), 1, 15))::UBIGINT AS BIGINT) AS h,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
  FROM events
),
design AS (
  SELECT user_id, {_F1_EXPR} AS x1, {_F2_EXPR.format(div="//")} AS x2, y
  FROM base
),
sums AS ({moments_sql_select("SELECT user_id, x1, x2, y FROM design",
                             keys=("user_id",))}),
{betas_sql_select(LAM)}
SELECT user_id, n AS n_events, b0, b1, b2
FROM betas ORDER BY n DESC, user_id ASC LIMIT 50
"""


# --- classifier reliability diagram (calibration bins) ---------------
#
# Does the decision score MEAN anything?  Bin the raw scores into 10
# fixed-width bins over their observed range and compare each bin's
# mean score against its empirical positive rate.  The bin id is a
# shared double expression over identical operands (so both engines
# bucket identically), the mean score is the floor(x*1e6) int64 trick
# from the k-means trainer, and the positive rate is a ratio of exact
# counts.  One ≤10-group shuffle after the shuffle-free scoring pass.

_SCORE_BIN_EXPR = (
    "least(cast(floor((yhat - lo) * 10.0 / (hi - lo)) as bigint),"
    " cast(9 as bigint))"
)


def classifier_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    design = _class_design(spark, sf_dir)
    fit = ridge_fit(design, LAM)
    scored = score(design, fit, LAM)
    rng = scored.agg(F.min("yhat").alias("lo"), F.max("yhat").alias("hi"))
    binned = scored.crossJoin(F.broadcast(rng)).withColumn(
        "score_bin", F.expr(_SCORE_BIN_EXPR)
    )
    n = F.count(F.lit(1))
    sq = F.sum(F.floor(F.col("yhat") * 1_000_000).cast("long"))
    return (
        binned.groupBy("score_bin")
        .agg(
            n.alias("n_rows"),
            F.round(sq.cast("double") / (F.lit(1e6) * n), 6).alias(
                "mean_score"
            ),
            F.round(
                F.sum((F.col("y") == 1).cast("long")).cast("double") / n, 6
            ).alias("pos_rate"),
        )
    )


RELIABILITY_BINS_SQL = f"""
WITH base AS ({_CLASS_DESIGN_SQL}),
sums AS ({moments_sql_select("SELECT x1, x2, y FROM base")}),
{betas_sql_select(LAM)},
scored AS (
  SELECT y, (b0 + b1 * CAST(x1 AS DOUBLE) + b2 * CAST(x2 AS DOUBLE)) AS yhat
  FROM base CROSS JOIN betas
),
rng AS (SELECT min(yhat) AS lo, max(yhat) AS hi FROM scored)
SELECT {_SCORE_BIN_EXPR} AS score_bin,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(CAST(sum(CAST(floor(yhat * 1000000) AS BIGINT)) AS DOUBLE)
             / (1e6 * count(*)), 6) AS mean_score,
       round(CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS pos_rate
FROM scored CROSS JOIN rng
GROUP BY 1
"""


# --- leakage-safe target encoding (out-of-fold category means) --------
#
# The standard high-cardinality categorical feature for tabular/LLM
# metadata models: replace a category with the mean target of OTHER
# folds in the same category (md5 folds — no row sees its own target),
# Laplace-smoothed toward the global mean.  All sums are exact int64;
# the encode value is a fixed double expression over them.  One
# (category, fold) shuffle; the per-category totals come from a window
# over the tiny grouped table, never a second data pass.

_ENC_SMOOTH = 20  # pseudo-observations pulled toward the global mean


def target_encode_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    design = _design(spark, sf_dir)
    fold = F.conv(
        F.substring(F.md5(F.col("okey").cast("string")), 1, 15), 16, 10
    ).cast("long") % 4
    per = (
        design.withColumn("fold", fold)
        .groupBy("segment", "fold")
        .agg(
            F.count(F.lit(1)).alias("n_fold"),
            F.sum("y").cast("long").alias("s_fold"),
        )
    )
    wseg = Window.partitionBy("segment")
    wall = Window.partitionBy()
    enc = (
        per.withColumn("n_seg", F.sum("n_fold").over(wseg))
        .withColumn("s_seg", F.sum("s_fold").over(wseg))
        .withColumn("n_all", F.sum("n_fold").over(wall))
        .withColumn("s_all", F.sum("s_fold").over(wall))
        .withColumn(
            "encoded",
            F.round(
                F.expr(
                    f"(cast(s_seg - s_fold as double)"
                    f" + {_ENC_SMOOTH} * (cast(s_all as double)"
                    f" / cast(n_all as double)))"
                    f" / (cast(n_seg - n_fold as double) + {_ENC_SMOOTH})"
                ),
                6,
            ),
        )
    )
    return enc.select("segment", "fold", "n_fold", "encoded")


TARGET_ENCODE_SQL = f"""
WITH base AS ({_DESIGN_SQL}),
folded AS (
  SELECT segment,
         CAST(('0x' || substr(md5(okey::VARCHAR), 1, 15))::UBIGINT % 4
              AS BIGINT) AS fold,
         y
  FROM base
),
per AS (
  SELECT segment, fold, CAST(count(*) AS BIGINT) AS n_fold,
         CAST(sum(y) AS BIGINT) AS s_fold
  FROM folded GROUP BY 1, 2
),
tot AS (
  SELECT *,
         CAST(sum(n_fold) OVER (PARTITION BY segment) AS BIGINT) AS n_seg,
         CAST(sum(s_fold) OVER (PARTITION BY segment) AS BIGINT) AS s_seg,
         CAST(sum(n_fold) OVER () AS BIGINT) AS n_all,
         CAST(sum(s_fold) OVER () AS BIGINT) AS s_all
  FROM per
)
SELECT segment, fold, n_fold,
       round((CAST(s_seg - s_fold AS DOUBLE)
              + {_ENC_SMOOTH} * (CAST(s_all AS DOUBLE) / CAST(n_all AS DOUBLE)))
             / (CAST(n_seg - n_fold AS DOUBLE) + {_ENC_SMOOTH}), 6) AS encoded
FROM tot
"""

# --- d=5 design: the generated-elimination generalization ------------
#
# Everything above fits the HANDWRITTEN d=3 (intercept + 2 features)
# expression text.  This entry fits intercept + FOUR lineitem features
# through `RidgeSpec(4)` — the same moment/Cramer pattern with the
# determinant text GENERATED by first-row cofactor expansion
# (tests/test_regress.py pins RidgeSpec(2) == the handwritten d=3 text
# character-for-character, so this is a strict generalization, not a
# parallel implementation).  Shuffle is still O(partitions · d²): 21
# int64 moment sums, one keyless aggregate, constant-size solve.

_SPEC4 = RidgeSpec(4)

_D4_TERMS = [
    ("intercept", "b0"),
    ("quantity", "b1"),
    ("discount_pct", "b2"),
    ("tax_pct", "b3"),
    ("linenumber", "b4"),
]


def _design4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-feature int64 design over lineitem (all-double source columns,
    so floor-before-cast is the same IEEE op on both engines):
    y = floor(extendedprice) ~ quantity + discount% + tax% + linenumber."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.floor(F.col("l_quantity")).cast("long").alias("x1"),
        F.floor(F.col("l_discount") * 100).cast("long").alias("x2"),
        F.floor(F.col("l_tax") * 100).cast("long").alias("x3"),
        F.col("l_linenumber").cast("long").alias("x4"),
        F.floor(F.col("l_extendedprice")).cast("long").alias("y"),
    )


def ridge_fit_d4(spark: SparkSession, sf_dir: str) -> DataFrame:
    fit = _SPEC4.with_r2(_SPEC4.ridge_fit(_design4(spark, sf_dir), LAM))
    terms = F.array(
        *[
            F.struct(F.lit(t).alias("term"), F.col(b).alias("beta"))
            for t, b in _D4_TERMS
        ]
    )
    return fit.select(
        F.explode(terms).alias("t"),
        F.col("n").alias("n_rows"),
        F.col("r2"),
    ).select("t.term", "t.beta", "n_rows", "r2")


_D4_BASE_SQL = """
  SELECT CAST(floor(l_quantity) AS BIGINT) AS x1,
         CAST(floor(l_discount * 100) AS BIGINT) AS x2,
         CAST(floor(l_tax * 100) AS BIGINT) AS x3,
         CAST(l_linenumber AS BIGINT) AS x4,
         CAST(floor(l_extendedprice) AS BIGINT) AS y
  FROM lineitem
"""

RIDGE_FIT_D4_SQL = (
    f"WITH base AS ({_D4_BASE_SQL}),\n"
    f"sums AS ({_SPEC4.moments_sql_select('SELECT x1, x2, x3, x4, y FROM base')}),\n"
    f"{_SPEC4.betas_sql_select(LAM)},\n"
    f"{_SPEC4.r2_sql_select()}\n"
    + "\nUNION ALL ".join(
        f"SELECT '{t}' AS term, {b} AS beta, n AS n_rows, r2 FROM fit"
        if i == 0
        else f"SELECT '{t}', {b}, n, r2 FROM fit"
        for i, (t, b) in enumerate(_D4_TERMS)
    )
)


QUERIES = {
    "ridge_regression_fit": (ridge_regression_fit, RIDGE_FIT_SQL),
    "ridge_fit_d4": (ridge_fit_d4, RIDGE_FIT_D4_SQL),
    "ridge_segment_residuals": (ridge_segment_residuals, RIDGE_RESIDUALS_SQL),
    "ridge_lambda_sweep": (ridge_lambda_sweep, RIDGE_SWEEP_SQL),
    "ridge_online_stream": (ridge_online_stream, RIDGE_ONLINE_SQL),
    "ridge_models_by_segment": (ridge_models_by_segment, RIDGE_BY_SEGMENT_SQL),
    "ridge_classifier_eval": (ridge_classifier_eval, RIDGE_CLASSIFIER_SQL),
    "ridge_conformal_intervals": (ridge_conformal_intervals, RIDGE_CONFORMAL_SQL),
    "stump_split_finder": (stump_split_finder, STUMP_SPLIT_SQL),
    "boosted_stumps": (boosted_stumps, BOOSTED_STUMPS_SQL),
    "als_user_factors": (als_user_factors, ALS_USER_SQL),
    "ridge_crossval_mse": (ridge_crossval_mse, RIDGE_CROSSVAL_SQL),
    "classifier_reliability_bins": (
        classifier_reliability_bins,
        RELIABILITY_BINS_SQL,
    ),
    "target_encode_segments": (target_encode_segments, TARGET_ENCODE_SQL),
}
