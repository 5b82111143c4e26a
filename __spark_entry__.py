"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (association-study fan-out) on
sf0.001. ``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 (+ the training-data-pipeline extensions); ``oracle_sql()``
gives the DuckDB-equivalent SQL for every SQL-expressible one. Column
names and float rounding are aligned on both sides because the driver's
compare hashes values after sorting columns by name.

Float policy: aggregates that accumulate across partitions are rounded
(2-6 decimals depending on magnitude) in BOTH engines, so partition-order
float jitter cannot flip the hash.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clarite_python_spark.catalog import ClariteFrame
from clarite_python_spark.operators import (
    analyze,
    dedup,
    describe,
    evaluation,
    graph,
    joins,
    layout,
    modify,
    multimodal,
    pipeline,
    similarity,
    text,
)
from clarite_python_spark.operators import events as events_ops
from clarite_python_spark.sources.io import load_testdata
from clarite_python_spark.streaming.events import sessionized, windowed_counts


def _session_defaults(spark: SparkSession) -> None:
    """Runtime-settable confs the queries rely on (the driver owns the
    session, so set these per-call, not at builder time)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _session_defaults(spark)
    return load_testdata(spark, sf_dir, [name])[name]


def _scratch(sf_dir: str, name: str) -> str:
    """Gate-scratch directory keyed on a hash of the FULL sf_dir path —
    two sf dirs sharing a basename (or concurrent gate runs over
    different roots) must not race on overwrite-while-read."""
    import hashlib
    import os

    key = hashlib.md5(
        os.path.abspath(os.path.normpath(sf_dir)).encode()
    ).hexdigest()[:12]
    return os.path.join("/tmp/clarite_gate_scratch", key, name)


# --------------------------------------------------------------------------
# relational / QC queries over the TPC-H-ish tables
# --------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship agg (TPC-H Q1 shape): one scan, partial aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-heavy query: customer ⋈ orders ⋈ lineitem, top-10 revenue.
    No broadcast hint on customer: it is SF-proportional (150k rows × SF,
    BUILDING keeps ~20%), so a forced broadcast would demand a
    driver-side build of a multi-billion-row table at the 100-TB
    framing. AQE picks broadcast for it at gate scale on its own (the
    filtered scan is under autoBroadcastJoinThreshold) and degrades
    gracefully to a key-shuffled hash join at 100 TB; lineitem⋈orders
    always shuffles on the key."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust.where(F.col("c_mktsegment") == "BUILDING"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where customer and supplier
    share the nation — six-table join (lineitem ⋈ orders ⋈ customer ⋈
    supplier ⋈ nation ⋈ region). Only the constant-size dimensions
    (nation = 25 rows, region = 5 rows) carry explicit broadcast hints;
    customer and supplier are SF-proportional (150k / 10k rows × SF), so
    forcing a broadcast there would demand a driver-side build of
    multi-billion-row tables at the 100-TB framing. AQE still picks
    broadcast for them at gate scale (their post-scan size is under the
    10 MB autoBroadcastJoinThreshold), and at 100 TB it degrades
    gracefully to shuffle-hash on the join keys — the plan test pins
    all-hash-join / no-cartesian either way."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", F.desc("revenue"), "n_name")
    )


def categorize_types_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """modify.categorize type inference surfaced as (variable, type)."""
    cust = _t(spark, sf_dir, "customer")
    cf = ClariteFrame(cust.withColumnRenamed("c_custkey", "ID"))
    return describe.get_types(modify.categorize(cf)).orderBy("variable")


def percent_na_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cf = ClariteFrame(ev.withColumnRenamed("event_id", "ID").drop("ts"))
    return describe.percent_na(cf).select(
        "variable", F.round("percent_na", 6).alias("percent_na")
    )


def freq_table_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").drop("o_orderdate")
    cf = modify.categorize(ClariteFrame(orders.withColumnRenamed("o_orderkey", "ID")))
    return describe.freq_table(cf, only=["o_orderstatus", "o_orderpriority", "o_totalprice"])


def colfilter_min_cat_n_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-frequent-level counts that drive colfilter_min_cat_n."""
    orders = _t(spark, sf_dir, "orders").drop("o_orderdate")
    cf = modify.categorize(ClariteFrame(orders.withColumnRenamed("o_orderkey", "ID")))
    out = modify.colfilter_min_cat_n(cf, n=10)
    data = [(k, int(v)) for k, v in sorted(out.last_report["min_level_counts"].items())]
    return spark.createDataFrame(data, "variable string, min_level_count long")


def colfilter_percent_zero_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    cf = ClariteFrame(
        li.select(
            F.col("l_orderkey").alias("ID_raw"),
            F.monotonically_increasing_id().alias("ID"),
            "l_quantity",
            "l_discount",
            "l_tax",
        ).drop("ID_raw")
    )
    cf = modify.make_continuous(cf, only=["l_quantity", "l_discount", "l_tax"])
    out = modify.colfilter_percent_zero(cf, filter_percent=90.0)
    data = [(k, round(float(v), 6)) for k, v in sorted(out.last_report["percent_zero"].items())]
    return spark.createDataFrame(data, "variable string, percent_zero double")


def rowfilter_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cf = ClariteFrame(orders.withColumnRenamed("o_orderkey", "ID"))
    cf = modify.rowfilter(cf, "o_totalprice", "gte", 100000.0)
    cf = modify.rowfilter(cf, "o_orderstatus", "eq", "O")
    return cf.df.select(
        F.col("ID").alias("o_orderkey"),
        "o_custkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "o_orderpriority",
    ).orderBy("o_orderkey")


def rowfilter_incomplete_obs_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").drop("ts")
    cf = ClariteFrame(ev.withColumnRenamed("event_id", "ID"))
    out = modify.rowfilter_incomplete_obs(cf)
    return out.df.groupBy().agg(F.count(F.lit(1)).alias("n_complete"))


def recode_values_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").drop("o_orderdate")
    cf = ClariteFrame(orders.withColumnRenamed("o_orderkey", "ID"))
    cf = modify.recode_values(
        cf, {"O": "OPEN", "F": "FILLED", "P": "PENDING"}, only=["o_orderstatus"]
    )
    return cf.df.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n")).orderBy("o_orderstatus")


def remove_outliers_iqr_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-variable outlier-removal counts, IQR method, exact percentiles."""
    li = _t(spark, sf_dir, "lineitem")
    cf = ClariteFrame(
        li.select(
            F.monotonically_increasing_id().alias("ID"),
            "l_quantity",
            "l_extendedprice",
            "l_tax",
        )
    )
    cf = modify.make_continuous(cf, only=["l_quantity", "l_extendedprice", "l_tax"])
    counts = modify.outlier_counts(cf, method="iqr", cutoff=1.5)
    return counts.orderBy("variable")


def remove_outliers_approx_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-proves the APPROX (100-TB) outlier path (round 11):
    modify.outlier_bounds_check computes exact AND approx_percentile IQR
    bounds in one job; its ``approx_within_tol`` verdict is the
    documented tolerance contract (both approx bounds within 1% of the
    exact keep-range width; approx_percentile accuracy 10000 has rank
    error <= N/10000, so 1% is generous at any SF). The sketch itself
    is not SQL-replayable, so the hash-stable projection is (variable,
    n_removed [under EXACT bounds — threshold-compare counts, not raw
    interpolated floats, which differ in the last ulp between engines
    and flip a fixed-decimal rounding], approx_within_tol): the oracle
    recomputes the exact counts and asserts the tolerance verdict;
    Spark computes that verdict empirically."""
    li = _t(spark, sf_dir, "lineitem")
    cf = ClariteFrame(
        li.select(
            F.monotonically_increasing_id().alias("ID"),
            "l_quantity",
            "l_extendedprice",
            "l_tax",
        )
    )
    cf = modify.make_continuous(cf, only=["l_quantity", "l_extendedprice", "l_tax"])
    # include_counts (r13): fuses the outlier_counts pass onto the SAME
    # exact-bounds agg — the two-operator composition ran the exact
    # percentile aggregation twice; identical rows (same bounds, same
    # counting predicate, same join)
    out = modify.outlier_bounds_check(
        cf, method="iqr", cutoff=1.5, tol=0.01, include_counts=True
    )
    return out.select("variable", "n_removed", "approx_within_tol").orderBy("variable")


def remove_outliers_gaussian_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    cf = ClariteFrame(
        li.select(F.monotonically_increasing_id().alias("ID"), "l_quantity", "l_extendedprice")
    )
    cf = modify.make_continuous(cf, only=["l_quantity", "l_extendedprice"])
    counts = modify.outlier_counts(cf, method="gaussian", cutoff=3.0)
    return counts.orderBy("variable")


def transform_log_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    cf = ClariteFrame(
        li.select(F.monotonically_increasing_id().alias("ID"), "l_returnflag", "l_extendedprice")
    )
    cf = modify.make_continuous(cf, only=["l_extendedprice"])
    cf = modify.transform(cf, "log", only=["l_extendedprice"])
    return (
        cf.df.groupBy("l_returnflag")
        .agg(F.round(F.avg("l_extendedprice"), 6).alias("avg_log_price"))
        .orderBy("l_returnflag")
    )


def join_customer_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim join (merge_variables shape on a foreign key)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("c_custkey", "c_mktsegment", "n_name")
        .orderBy("c_custkey")
    )


def merge_observations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").drop("o_orderdate")
    base = orders.withColumnRenamed("o_orderkey", "ID")
    top = ClariteFrame(base.where(F.col("o_orderstatus") == "F"))
    bottom = ClariteFrame(base.where(F.col("o_orderstatus") == "O").drop("o_orderpriority"))
    out = modify.merge_observations(top, bottom, check_duplicates=False)
    return (
        out.df.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("o_orderstatus")
    )


def correlations_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    cf = ClariteFrame(
        li.select(
            F.monotonically_increasing_id().alias("ID"),
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
        )
    )
    cf = modify.make_continuous(cf, only=["l_quantity", "l_extendedprice", "l_discount", "l_tax"])
    out = describe.correlations(cf, threshold=0.0)
    return out.select("var1", "var2", F.round("correlation", 6).alias("correlation")).orderBy(
        "var1", "var2"
    )


def skewness_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    cf = ClariteFrame(
        li.select(F.monotonically_increasing_id().alias("ID"), "l_quantity", "l_extendedprice", "l_tax")
    )
    cf = modify.make_continuous(cf, only=["l_quantity", "l_extendedprice", "l_tax"])
    out = describe.skewness(cf)
    return out.select("variable", F.round("skew", 6).alias("skew")).orderBy("variable")


# --------------------------------------------------------------------------
# the regression engine
# --------------------------------------------------------------------------


def association_study_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-outcome GLM fan-out; with no covariates each Beta equals
    the simple-regression slope, which DuckDB can verify via regr_slope."""
    li = _t(spark, sf_dir, "lineitem")
    cf = ClariteFrame(
        li.select(
            F.monotonically_increasing_id().alias("ID"),
            "l_extendedprice",
            "l_quantity",
            "l_discount",
            "l_tax",
        )
    )
    cf = modify.make_continuous(cf, only=["l_extendedprice", "l_quantity", "l_discount", "l_tax"])
    res = analyze.association_study(cf, outcomes="l_extendedprice", min_n=10)
    return res.select(
        "Variable", "Outcome", "N", F.round("Beta", 6).alias("Beta")
    ).orderBy("Variable")


def association_study_covariates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariate-adjusted fan-out incl. a categorical RV (LRT).  Gaussian
    fits are closed-form OLS, so the DuckDB oracle recomputes Beta/SE/
    pvalue from explicit normal equations (see _assoc_covariates_oracle)."""
    li = _t(spark, sf_dir, "lineitem")
    cf = ClariteFrame(
        li.select(
            F.monotonically_increasing_id().alias("ID"),
            "l_extendedprice",
            "l_quantity",
            "l_tax",
            "l_returnflag",
            "l_linestatus",
        )
    )
    cf = modify.make_continuous(cf, only=["l_extendedprice", "l_quantity", "l_tax"])
    cf = modify.make_categorical(cf, only=["l_returnflag"])
    cf = modify.make_binary(cf, only=["l_linestatus"])
    res = analyze.association_study(
        cf, outcomes="l_extendedprice", covariates=["l_tax"], min_n=10
    )
    return res.select(
        "Variable",
        "Outcome",
        "Variable_type",
        "Converged",
        "N",
        F.round("Beta", 6).alias("Beta"),
        F.round("SE", 6).alias("SE"),
        F.round("pvalue", 6).alias("pvalue"),
    ).orderBy("Variable")


def association_study_weighted_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey-weighted fan-out (SurveyDesignSpec + sandwich vcov +
    survey-dof t tests; reference weighted_glm_regression.py) over a
    deterministic design derived from orders columns.  The continuous RV
    is weighted OLS, so the DuckDB oracle recomputes Beta, the linearized
    (stata) sandwich SE, and the survey-dof t p-value from weighted
    normal equations + per-cluster score sums (_assoc_weighted_oracle);
    the categorical RV's working-LRT p-value (saddlepoint _pFsum) is not
    SQL-expressible, so the projection masks that single cell to NULL on
    both sides — its Beta/SE/N/Weight/type stay compared."""
    from clarite_python_spark.survey import SurveyDesignSpec

    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("ID"),
        "o_totalprice",
        (F.col("o_custkey") % 7).cast("double").alias("cust_band"),
        ((F.col("o_orderkey") % 97) / 10.0).alias("ship_band"),
        "o_orderpriority",
        # deterministic design columns
        (F.col("o_custkey") % 5).cast("string").alias("strat"),
        (F.col("o_custkey") % 40).cast("string").alias("clust"),
        (1.0 + (F.col("o_orderkey") % 10) / 10.0).alias("wt"),
    )
    design = SurveyDesignSpec(
        base.select("ID", "strat", "clust", "wt"),
        strata="strat",
        cluster="clust",
        nest=True,
        weights="wt",
        single_cluster="certainty",
    )
    cf = ClariteFrame(
        base.select("ID", "o_totalprice", "cust_band", "ship_band", "o_orderpriority")
    )
    cf = modify.make_continuous(cf, only=["o_totalprice", "cust_band", "ship_band"])
    cf = modify.make_categorical(cf, only=["o_orderpriority"])
    res = analyze.association_study(
        cf,
        outcomes="o_totalprice",
        covariates=["cust_band"],
        survey_design_spec=design,
        min_n=10,
    )
    return res.select(
        "Variable",
        "Outcome",
        "Variable_type",
        "Weight",
        "Converged",
        "N",
        F.round("Beta", 6).alias("Beta"),
        F.round("SE", 6).alias("SE"),
        F.when(F.col("Variable_type") == "categorical", F.lit(None).cast("double"))
        .otherwise(F.round("pvalue", 6))
        .alias("pvalue"),
    ).orderBy("Variable")


def glm_logistic_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-outcome (Binomial/logit) fan-out.  The DuckDB oracle
    replays the kernel's IRLS as 30 unrolled MATERIALIZED CTE iterations
    (a fixed point is a fixed point: once converged, further iterations
    are numeric no-ops, so the unrolled chain lands on the same MLE the
    deviance-stop finds — see _glm_logistic_oracle).  Beta is rounded
    then ``+ 0.0`` to collapse the IEEE -0.0/EPS sign split on a
    true-zero coefficient."""
    orders = _t(spark, sf_dir, "orders")
    df = orders.select(
        F.col("o_orderkey").alias("ID"),
        F.when(F.col("o_orderstatus") == "F", "Case").otherwise("Control").alias("filled"),
        "o_totalprice",
        (F.col("o_custkey") % 100).cast("double").alias("cust_bucket"),
    )
    cf = ClariteFrame(df)
    cf = modify.categorize(cf, cont_min=3)
    cf = modify.make_binary(cf, only=["filled"])
    res = analyze.association_study(cf, outcomes="filled", min_n=10)
    return res.select(
        "Variable",
        "Outcome",
        "Variable_type",
        "Converged",
        "N",
        (F.round("Beta", 6) + F.lit(0.0)).alias("Beta"),
        F.round("pvalue", 6).alias("pvalue"),
    ).orderBy("Variable")


def interaction_study_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise interaction LRT.  Cont x cont pairs are closed-form OLS,
    so the DuckDB oracle recomputes the LRT from explicit normal
    equations (see _interaction_oracle)."""
    li = _t(spark, sf_dir, "lineitem")
    cf = ClariteFrame(
        li.select(
            F.monotonically_increasing_id().alias("ID"),
            "l_extendedprice",
            "l_quantity",
            "l_discount",
            "l_tax",
        )
    )
    cf = modify.make_continuous(cf, only=["l_extendedprice", "l_quantity", "l_discount", "l_tax"])
    res = analyze.interaction_study(cf, outcomes="l_extendedprice", min_n=10)
    return res.select(
        "Term1",
        "Term2",
        "Outcome",
        "Converged",
        "N",
        F.round("LRT_pvalue", 6).alias("LRT_pvalue"),
    ).orderBy("Term1", "Term2")


def corrected_pvalues_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bonferroni/BH window math over a deterministic synthetic pvalue."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", (((F.col("doc_id") * 37) % 1000 + 1) / 1000.0).alias("pvalue")
    )
    out = analyze.add_corrected_pvalues(base)
    return out.select(
        "doc_id",
        F.round("pvalue", 9).alias("pvalue"),
        F.round("pvalue_bonferroni", 9).alias("pvalue_bonferroni"),
        F.round("pvalue_fdr", 9).alias("pvalue_fdr"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# training-data-pipeline extensions
# --------------------------------------------------------------------------


def exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs).select("doc_id").orderBy("doc_id")


def minhash_dedup_md5_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MinHash-LSH near-dup removal with the PORTABLE 60-bit
    md5 hash family (operators/dedup.py:_md5_member): same shingling,
    banding, bucket join, exact-Jaccard verify and greedy anti-join as
    the xxhash64 production default, but every stage is reproducible in
    DuckDB — so unlike ``minhash_dedup_documents`` this one is
    oracle-checked end-to-end rather than rows-only."""
    docs = _t(spark, sf_dir, "documents")
    return (
        dedup.minhash_dedup(docs, hash_family="md5").select("doc_id").orderBy("doc_id")
    )


def minhash_dedup_md5_transitive_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components variant of the md5-family pipeline: the
    min-label propagation fixpoint equals min-over-transitive-closure,
    which DuckDB computes with a recursive CTE — so unlike the xxhash64
    transitive query this one is oracle-checked end-to-end."""
    docs = _t(spark, sf_dir, "documents")
    return (
        dedup.minhash_dedup(docs, hash_family="md5", transitive=True)
        .select("doc_id")
        .orderBy("doc_id")
    )


def minhash_dedup_keep_longest_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-best survivor policy (operators/dedup.py:minhash_dedup
    keep_col): per near-dup cluster keep the LONGEST member (n_chars,
    ties to smaller id) instead of the min id — the RefinedWeb/Dolma
    keep-the-best-copy rule. Oracle: recursive-CTE closure + a
    row_number window over (n_chars DESC, doc_id ASC) per cluster."""
    docs = _t(spark, sf_dir, "documents")
    return (
        dedup.minhash_dedup(docs, hash_family="md5", transitive=True, keep_col="n_chars")
        .select("doc_id")
        .orderBy("doc_id")
    )


def dedup_report_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source near-dup audit (operators/dedup.py:dedup_report): docs
    in clusters, min-id drops, distinct clusters touched, largest
    cluster — the pre-deletion report. Oracle: the md5 MinHash pipeline
    + recursive closure + the same label/size joins in SQL."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.dedup_report(docs, hash_family="md5").orderBy("source")


def simhash_md5_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints with the portable 60-bit md5 token hash
    (same sign-of-bit-sums algorithm as the xxhash64 default) — emitted
    as the fingerprint's integer VALUE so DuckDB can recompute it
    bit-for-bit (its hex formatting differs from Spark's conv)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        dedup.simhash(docs, bits=60, hash_family="md5")
        .select("doc_id", F.conv("simhash", 16, 10).cast("long").alias("simhash"))
        .orderBy("doc_id")
    )


def simhash_candidates_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-banded SimHash candidate pairs (Manku et al. 2007;
    operators/dedup.py:simhash_candidates) with the portable md5 token
    hash: the oracle recomputes the 60-bit fingerprints, replays the
    four 15-bit band slices (the MSB-first substring partition equals
    the shift-mask partition — same contiguous bit slices), the
    max_bucket cap, and the popcount-of-XOR verify, all in SQL."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_candidates(docs, hash_family="md5").orderBy("id_a", "id_b")


def simhash_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy SimHash near-dup removal (drop any doc within hamming 3 of
    a lower-id doc) — the token-permutation complement to minhash_dedup."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_dedup(docs, hash_family="md5").select("doc_id").orderBy("doc_id")


def fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.fingerprint(docs).orderBy("doc_id")


def text_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = text.text_stats(docs)
    return out.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        F.round("mean_token_len", 6).alias("mean_token_len"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
    ).orderBy("doc_id")


def token_counts_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("source", text.token_count("text").alias("n"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n").alias("n_tokens"))
        .orderBy("source")
    )


def language_id_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        text.language_id(docs)
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang_pred")
    )


def quality_score_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.quality_score(docs).select(
        "doc_id", F.round("quality", 6).alias("quality")
    ).orderBy("doc_id")


def paragraph_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style sub-document dedup. The synthetic corpus is single-line,
    so paragraph boundaries are induced by splitting on the frequent
    token 'batch' — which makes repeated fragments genuinely common and
    the first-occurrence-wins rule observable."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.paragraph_dedup(
        docs.select("doc_id", "text"), sep="batch"
    ).orderBy("doc_id")


def event_gaps_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered-window analytics: inter-event gap statistics via
    ``lag`` over (user, ts) — the product-analytics staple. One keyed
    shuffle; the window sorts within each user partition only. Gap
    stats stay exact integer microseconds (sum/max/count) so the
    cross-engine compare has no float-ulp surface; the mean is one
    division away for the caller."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; session TZ is pinned UTC so the cast is identity
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    return (
        ev.withColumn("gap", gap)
        .where(F.col("gap").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("gap").alias("gap_sum_us"),
            F.max("gap").alias("gap_max_us"),
        )
        .orderBy("user_id")
    )


def pivot_revenue_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivoted aggregation: returnflag rows x linestatus columns of
    summed revenue. Explicit pivot values keep the plan one pass (no
    distinct-discovery job) — the form to use at scale."""
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.withColumn("rev", rev)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("rev"), 2))
        .orderBy("l_returnflag")
    )


def quantiles_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per group (Spark
    ``percentile`` == DuckDB ``quantile_cont``). The exact form buffers
    per group — the approx_percentile sketch is the 100-TB variant
    (same API shape, mergeable)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("l_extendedprice", F.lit(0.9)), 6).alias("p90"),
            F.round(F.percentile("l_quantity", F.lit(0.25)), 6).alias("qty_p25"),
        )
        .orderBy("l_returnflag")
    )


def rollup_revenue_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level OLAP aggregation: revenue rolled up over
    (returnflag, linestatus) with subtotals and a grand total — one
    Expand + one aggregation in Spark (`rollup`), GROUPING SETS in the
    oracle. grouping_id disambiguates NULL data values from subtotal
    rows."""
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(rev), 2).alias("revenue"),
            F.grouping_id().alias("gid"),
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


def json_props_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: extract a field from the JSON
    ``props`` column (JVM ``get_json_object`` — codegen, no UDF) and
    aggregate it per event type. At scale the JSON parse is a row-local
    projection that fuses into the scan stage."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.round(F.avg("k"), 6).alias("k_avg"),
        )
        .orderBy("event_type")
    )


_ZBOUNDS = {"l_extendedprice": (900.0, 105000.0), "l_quantity": (1.0, 50.0)}


def zorder_key_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (price, quantity) with fixed
    anchors — the deterministic layout key behind optimize_layout
    (operators/layout.py). Aggregated into 64 buckets so every row's key
    is exercised while the result stays small."""
    li = _t(spark, sf_dir, "lineitem")
    z = layout.zorder_key(_ZBOUNDS, bits=8)
    return (
        li.select(z.alias("z"))
        .groupBy((F.col("z") % 64).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("z").alias("zsum"))
        .orderBy("bucket")
    )


def duplicate_spans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication profile (Lee et al. 2021 re-expressed
    as distributed 16-token windows): per-doc duplicated-window and
    covered-token counts with merged overlaps."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.duplicate_spans(
        docs.select("doc_id", "text"), n=16
    ).orderBy("doc_id")


def deterministic_shuffle_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed epoch shuffle: per-doc 60-bit shuffle key +
    shard assignment (pipeline.deterministic_shuffle; the within-shard
    sort is physical layout, the compare checks the key/shard values)."""
    docs = _t(spark, sf_dir, "documents")
    out = pipeline.deterministic_shuffle(docs.select("doc_id"), salt="ep0", n_shards=4)
    return out.select("doc_id", "shuffle_key", "shard").orderBy("doc_id")


def token_budget_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget source mixing: src0 capped at 3000 tokens, src1 cut
    entirely, other sources unlimited (pipeline.token_budget_sample)."""
    docs = _t(spark, sf_dir, "documents")
    out = pipeline.token_budget_sample(docs, {"src0": 3000, "src1": 0})
    return out.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "cum_tokens",
    ).orderBy("doc_id")


def jaccard_topk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text similarity search (dedup.jaccard_topk, md5
    family): banded MinHash candidates re-ranked by exact 3-gram
    Jaccard, top-5 neighbors per doc; scores rounded before ranking so
    the order replays exactly in SQL."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.jaccard_topk(
        docs.select("doc_id", "text"), k=5, hash_family="md5"
    ).orderBy("doc_id", "rank")


def feature_hash_embed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing BOW embeddings (text.feature_hash_embed, 32
    buckets, signed): registered UNNORMALIZED so every vector element
    is an exactly-representable integer count (float-identical in any
    engine); the L2 norm — the normalization's only other ingredient —
    rides as a rounded scalar, so the normalized form is covered too.
    The vector is serialized to a CSV string (scalar column) because the
    driver's pandas canonicalizer cannot sort container-typed columns —
    integer counts make the serialization bit-exact in both engines."""
    docs = _t(spark, sf_dir, "documents")
    emb = text.feature_hash_embed(docs, dim=32, normalize=False)
    return emb.select(
        "doc_id",
        F.concat_ws(
            ",",
            F.transform(
                F.col("embedding"), lambda x: x.cast("bigint").cast("string")
            ),
        ).alias("embedding_csv"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.col("embedding"),
                    F.lit(0.0),
                    lambda a, x: a + x.cast("double") * x.cast("double"),
                )
            ),
            6,
        ).alias("l2_norm"),
    ).orderBy("doc_id")


def split_leakage_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit (pipeline.split_leakage): hash-split
    60/20/20, then count the word 8-grams shared across split pairs —
    the soft-leakage measure for a benchmark split of one's own corpus.
    Oracle replays the md5-bucket split predicate + the source_overlap
    fingerprint matrix keyed by the split."""
    docs = _t(spark, sf_dir, "documents")
    return pipeline.split_leakage(
        docs, {"train": 0.6, "val": 0.2, "test": 0.2}, salt="lk"
    ).orderBy("split_a", "split_b")


def quality_budget_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-first token-budget selection (pipeline.token_budget_sample
    with order_col): per source, keep the LONGEST documents (n_chars as
    the quality proxy — any classifier score plugs in the same way)
    until 400 tokens (the cap bites at every sf); hash key breaks ties."""
    docs = _t(spark, sf_dir, "documents")
    out = pipeline.token_budget_sample(
        docs, 400, salt="qb", order_col="n_chars", descending=True
    )
    return out.select(
        "doc_id",
        "source",
        "n_chars",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "cum_tokens",
    ).orderBy("doc_id")


def corpus_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile (text.corpus_stats): counts, token
    moments, exact-dup rate on the shared md5 fingerprint."""
    docs = _t(spark, sf_dir, "documents")
    return text.corpus_stats(docs).orderBy("source")


def unigram_logprob_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram bits-per-token quality proxy with the
    vocabulary built from the corpus itself (text.unigram_logprob)."""
    docs = _t(spark, sf_dir, "documents")
    return text.unigram_logprob(docs).orderBy("doc_id")


def clean_corpus_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed cleaning pipeline as a per-document decision table:
    exact dedup + Gopher quality + repetition bounds + language filter
    (operators/pipeline.py:clean_corpus). The oracle recomputes every
    stage verdict independently and conjoins them."""
    docs = _t(spark, sf_dir, "documents")
    return pipeline.clean_corpus(docs).orderBy("doc_id")


def fuzzy_contamination_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (MinHash) decontamination with the portable md5 hash family:
    src0 documents play the benchmark; corpus docs near-duplicating one
    (band collision -> shingle Jaccard >= 0.5) are flagged with their
    matching benchmark id. The oracle replays the full banding pipeline
    (shared _minhash_md5_pipeline CTEs) with cross-set pairs."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("source") == "src0")
    corpus = docs.where(F.col("source") != "src0")
    out = dedup.fuzzy_contamination(
        corpus, bench, threshold=0.5, hash_family="md5"
    )
    return out.select(
        "doc_id", "bench_id", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("doc_id", "bench_id")


def repetition_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters: duplicate-word fraction + top word
    2-/3-gram character coverage per document."""
    docs = _t(spark, sf_dir, "documents")
    return text.repetition_stats(docs).orderBy("doc_id")


def contamination_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: documents from source 'src0' play
    the evaluation benchmark; every other document is checked for shared
    word 5-grams against that set (dedup.contamination — broadcast
    benchmark set, corpus never shuffles before the per-doc count)."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("source") == "src0")
    corpus = docs.where(F.col("source") != "src0")
    return dedup.contamination(corpus, bench, n=5).orderBy("doc_id")


def remove_contaminated_spans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style span-level decontamination (dedup.
    remove_contaminated_spans): src0 plays the evaluation benchmark;
    every 5-gram window of the rest that appears verbatim in src0 is
    deleted and the documents are rebuilt from the survivors."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("source") == "src0")
    corpus = docs.where(F.col("source") != "src0")
    return dedup.remove_contaminated_spans(corpus, bench, n=5).orderBy("doc_id")


def gopher_rules_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule flags (published thresholds, min_words
    lowered to 50 — the corpus spans 10-99 words so the word-count rule
    splits it): per-doc stats + per-rule booleans, one projection."""
    docs = _t(spark, sf_dir, "documents")
    return text.gopher_rules(docs).orderBy("doc_id")


def minhash_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup removal with the DEFAULT Spark-native
    xxhash64 family — oracle-checked end-to-end: the DuckDB twin
    reproduces xxhash64 itself in SQL (functions/xxhsql.py) and replays
    shingling, signatures, banding, bucket caps, and the Jaccard
    verify."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_dedup(docs, threshold=0.8).select("doc_id").orderBy("doc_id")


def minhash_clusters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster labels (the audit view behind transitive dedup):
    every doc in a verified near-dup component with the component's min
    id as its label. Oracle: the recursive-CTE closure over the
    SQL-replayed xxhash64 pipeline emits (id, label) instead of
    survivors."""
    docs = _t(spark, sf_dir, "documents")
    return (
        dedup.minhash_clusters(docs, threshold=0.8)
        .orderBy("doc_id")
    )


def minhash_dedup_transitive_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components clustering variant: iterative min-label
    propagation over the verified near-dup pairs keeps exactly one doc
    per cluster (dedup.py:_min_label_components); the oracle computes
    the same fixpoint as a recursive-CTE transitive closure over the
    SQL-replayed xxhash64 pipeline."""
    docs = _t(spark, sf_dir, "documents")
    return (
        dedup.minhash_dedup(docs, threshold=0.8, transitive=True)
        .select("doc_id")
        .orderBy("doc_id")
    )


def simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (xxhash64, 64 bits) — oracle-checked: the
    DuckDB twin recomputes every token hash via the SQL xxhash64 and
    matches the fingerprint hex strings bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash(docs).orderBy("doc_id")


def similarity_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.cosine_topk(emb, queries, k=10)
    return out.select(
        "query_id", "vec_id", "rank", F.round("cosine", 6).alias("cosine")
    ).orderBy("query_id", "rank")


def dataset_card_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card (text.dataset_card): corpus_stats +
    dominant language/share + mean quality — the release summary table.
    The oracle recomputes every stage (stats agg, per-doc language CASE
    chain, per-doc raw quality, lang-mode window, three joins)."""
    docs = _t(spark, sf_dir, "documents")
    return text.dataset_card(docs).orderBy("source")


def normalize_text_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style ingest normalization (operators/text.py:normalize_text):
    tag strip, control-char removal, whitespace collapse, newline cap —
    one codegen regexp_replace chain, replayed verbatim in DuckDB
    (tested: Java regex and RE2 agree on every class used)."""
    docs = _t(spark, sf_dir, "documents")
    return text.normalize_text(docs).select("doc_id", "text").orderBy("doc_id")


def ngram_novelty_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 3-gram novelty (operators/text.py:ngram_novelty):
    fraction of a doc's distinct grams unique to it in the corpus. The
    engine shuffles xxhash64 longs; the oracle counts the raw gram
    strings — identical counts unless xxhash64 collides, which the
    value hash would catch."""
    docs = _t(spark, sf_dir, "documents")
    return text.ngram_novelty(docs).orderBy("doc_id")


def event_transitions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order next-event transition matrix
    (operators/events.py:event_transitions): lead() over one user-key
    shuffle, (from,to) count agg, conditional p normalized over the
    O(#types²) table. Oracle replays lead/count/normalize in SQL."""
    ev = _t(spark, sf_dir, "events")
    return events_ops.event_transitions(ev)


def corpus_divergence_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram KL/JS divergence between two source groups
    (text.corpus_divergence, alpha=0.5 over the union vocabulary) —
    the mixture-drift monitor. The oracle replays both smoothed
    distributions and every log term in SQL."""
    docs = _t(spark, sf_dir, "documents")
    a = docs.where(F.col("source") < "src5")
    b = docs.where(F.col("source") >= "src5")
    return text.corpus_divergence(a, b)


def stratified_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified split (pipeline.stratified_split): every
    source stratum lands exactly floor(cum·n + 0.5) rows per split in
    md5-content order — the oracle replays the rank, the stratum count,
    and the threshold arithmetic."""
    docs = _t(spark, sf_dir, "documents")
    out = pipeline.stratified_split(
        docs, {"train": 0.6, "val": 0.2, "test": 0.1}, by="source", salt="s7"
    )
    return out.select("doc_id", "source", "split").orderBy("doc_id")


def clip_outliers_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (modify.clip_outliers, IQR 0.25, exact percentiles):
    per-variable count/mean/min/max AFTER clamping — min/max expose the
    clamp bounds themselves, so the oracle checks the exact quantile
    arithmetic AND that the clamp bites (cutoff 0.25 clips both tails of
    the near-uniform TPC-H columns; 1.5 would never bind)."""
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_tax"]
    cf = ClariteFrame(
        li.select(F.monotonically_increasing_id().alias("ID"), *cols)
    )
    cf = modify.make_continuous(cf, only=cols)
    out = modify.clip_outliers(cf, method="iqr", cutoff=0.25).df
    v = out.unpivot(["ID"], cols, "variable", "x")
    return (
        v.groupBy("variable")
        .agg(
            F.count("x").alias("n"),
            F.round(F.avg("x"), 6).alias("mean_c"),
            F.round(F.min("x"), 6).alias("min_c"),
            F.round(F.max("x"), 6).alias("max_c"),
        )
        .orderBy("variable")
    )


def pmi_collocations_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 bigram collocations by PMI (operators/text.py:
    pmi_collocations): row-local pair extraction, two map-side-combined
    count aggs, count-floor before the term joins, broadcast totals.
    The oracle replays counts and the log-ratio in SQL."""
    docs = _t(spark, sf_dir, "documents")
    return text.pmi_collocations(docs, k=30, min_count=3).orderBy("rank")


def quantize_int8_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization
    (operators/similarity.py:quantize_embeddings): scale = max|v|/127,
    q = clamp(floor(v/scale + 0.5), -127, 127) — floor(x+0.5) half-up so
    DuckDB reproduces every byte; the oracle recomputes the full tinyint
    arrays and the 9-dp scales. The quantized vector is serialized to a
    CSV string (scalar column) because the driver's pandas canonicalizer
    cannot sort container-typed columns — int8 values are exact, so the
    serialization stays bit-exact in both engines."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.quantize_embeddings(emb)
    return out.select(
        "vec_id",
        F.concat_ws(
            ",",
            F.transform(F.col("qvec"), lambda x: x.cast("int").cast("string")),
        ).alias("qvec_csv"),
        "scale",
    ).orderBy("vec_id")


def quantize_binary_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit binarization packed into 32-bit words
    (operators/similarity.py:quantize_binary) — the 32x compression
    lever for binary ANN. bit j of word w set iff v[32w+j] > 0; 32-bit
    words because 1<<63 overflows ANSI signed-64 in both engines, so
    the oracle replays the packing EXACTLY (nested list_transform +
    shifted powers of two). Words serialized to a CSV string (driver
    canonicalizer cannot sort containers); integers, so bit-exact."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.quantize_binary(emb, dim=64)
    return out.select(
        "vec_id",
        F.concat_ws(
            ",", F.transform(F.col("bvec"), lambda x: x.cast("string"))
        ).alias("bvec_csv"),
    ).orderBy("vec_id")


def hamming_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary first-pass retriever (operators/similarity.py:
    hamming_topk): XOR+popcount over the 32x-compressed sign-bit pack,
    per-query top-10, integer distances with id tiebreak (Hamming ties
    are common — determinism is load-bearing). Oracle replays packing,
    xor/bit_count fold, and the window."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.hamming_topk(emb, queries, k=10, dim=64).orderBy(
        "query_id", "rank"
    )


def hamming_stored_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored-index twin of hamming_topk_embeddings (round 11):
    similarity.build_binary_index persists the bit pack once (the
    build_postings pattern), then hamming_topk(None, queries,
    index_dir=...) serves the batch scanning ONLY the bit-pack parquet
    (1/32 of the float bytes, no re-packing). Oracle is IDENTICAL to
    hamming_topk_embeddings — the stored path is contract-equal to the
    inline path (parity-tested row-for-row)."""
    emb = _t(spark, sf_dir, "embeddings")
    idx = _scratch(sf_dir, "binary_index")
    similarity.build_binary_index(emb, idx, dim=64)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.hamming_topk(
        None, queries, k=10, index_dir=idx
    ).orderBy("query_id", "rank")


def binary_rerank_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage binary retrieval (operators/similarity.py:
    binary_rerank): Hamming shortlist of 50 over the bit pack, then
    exact cosine rerank of only the shortlist — the production shape
    for binary indexes (scan bits, rerank floats). Oracle replays both
    stages."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.binary_rerank(emb, queries, k=10, shortlist_k=50, dim=64)
    return out.select(
        "query_id", "vec_id", "rank", F.round("cosine", 6).alias("cosine")
    ).orderBy("query_id", "rank")


def binary_rerank_stored_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully INDEX-RESIDENT two-stage binary retrieval (round 12):
    build_binary_index(store_vectors=True) persists bit pack + float
    sidecar once, then binary_rerank(corpus=None, index_dir=...) serves
    the whole batch from the stored index — Hamming stage 1 scans only
    bvec/ (1/32 of the float bytes), exact stage 2 id-fetches the
    vectors/ sidecar. No live corpus is mounted at serve time. Oracle
    IDENTICAL to binary_rerank_embeddings (stored path is contract-equal
    to live; tests/test_round12_ops.py pins row-for-row parity)."""
    emb = _t(spark, sf_dir, "embeddings")
    idx = _scratch(sf_dir, "binary_index_vec")
    similarity.build_binary_index(emb, idx, dim=64, store_vectors=True)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.binary_rerank(
        None, queries, k=10, shortlist_k=50, index_dir=idx
    )
    return out.select(
        "query_id", "vec_id", "rank", F.round("cosine", 6).alias("cosine")
    ).orderBy("query_id", "rank")


def ann_recall_binary_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the binary shortlist-then-rerank configuration
    (shortlist_k=100) vs float brute force on the same 20
    md5-deterministic queries as ann_recall_embeddings — prices the
    32x compression's rank damage per-corpus instead of assuming it."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ann_recall(
        emb, k=10, n_queries=20, method="binary", shortlist_k=100, dim=64
    )


def train_bpe_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary trainer (operators/text.py:train_bpe,
    round 12): 12 merge rounds over the documents corpus — each round
    one distinct-word pair-count aggregation + a row-local greedy fold,
    the bounded-iteration discipline of the IRLS/CC kernels. Oracle
    replays all 12 rounds as chained CTEs (window-based greedy merge,
    proven equivalent to the fold on the overlap edge cases); also
    pinned against an independent pure-Python BPE in
    tests/test_round12_ops.py."""
    docs = _t(spark, sf_dir, "documents")
    return text.train_bpe(docs, n_merges=12).orderBy("rank")


def bpe_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving half of the BPE loop (operators/text.py:bpe_encode,
    round 12): train 12 merges on documents, then segment every doc
    with the trained table — the rules replay over the distinct-word
    vocab (row-local folds), docs reassemble via one positional join.
    Oracle replays training AND encoding (the train CTE chain extended
    with the final vocab rebuild + doc join). Tokens are emitted
    space-joined (tokens never contain whitespace — they are substrings
    of whitespace-split words), because the driver's canonicalizer
    hashes scalar columns only. r13: the 12-rule table comes from the
    bit-identical strategy='driver' trainer (parity-pinned, own gate
    row train_bpe_driver_documents) — this row gates the ENCODER; the
    distributed trainer keeps its own row (train_bpe_documents)."""
    docs = _t(spark, sf_dir, "documents")
    merges = text.train_bpe(docs, n_merges=12, strategy="driver")
    out = text.bpe_encode(docs, merges)
    return out.select(
        "doc_id",
        F.concat_ws(" ", "tokens").alias("toks"),
        "n_tokens",
    ).orderBy("doc_id")


def pack_token_sequences_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact fixed-length sequence packing (operators/text.py:
    pack_token_sequences, round 13 — the MATERIALIZING twin of
    pipeline.pack_sequences' doc-level layout) — the concat-and-chunk step after
    tokenization in a pretraining pipeline: all documents' whitespace
    tokens concatenated in doc_id order, cut into 64-token sequences,
    final partial dropped. Distributed prefix-sum (repartitionByRange +
    partition-local window + broadcast partition offsets — NO
    single-task global window; plan-pinned in
    tests/test_round13_ops.py). Oracle replays the stream with a window
    cumsum + lateral unnest + gp//64 grouping; tokens space-joined for
    the scalar-hash canonicalizer."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", text.tokens(F.col("text")).alias("tokens"))
    out = text.pack_token_sequences(toks, seq_len=64)
    return out.select(
        "seq_id",
        F.concat_ws(" ", "tokens").alias("toks"),
        "n_tokens",
        "n_docs",
    ).orderBy("seq_id")


def train_bpe_driver_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME 12-merge training as train_bpe_documents but through
    strategy='driver' (operators/text.py:_train_bpe_driver, round 13):
    the exact incremental pair-delta trainer — heap-ordered merge
    selection over the collected (word, count) table, only words
    containing the merged pair touched per round. Bit-identical to the
    distributed loop (measured 10k merges in ~34 s at 1M docs vs
    ~0.9 s/merge distributed, BASELINE.md round 13), so the oracle is
    shared with the distributed row — the production-vocabulary path
    gets its own hash-green gate row."""
    docs = _t(spark, sf_dir, "documents")
    return text.train_bpe(docs, n_merges=12, strategy="driver").orderBy("rank")


def bpe_encode_pandas_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bpe_encode through the Arrow-batched rank-priority segmenter
    (operators/text.py:_bpe_segment_pandas, round 13 — one vocab pass
    instead of n_rules chained fold projections, the 30k-rule serving
    path): same 12-rule table as bpe_encode_documents (same
    strategy='driver' trainer, r13), provably the same segmentation
    (rule operands are only producible by lower ranks in trained
    tables), so the oracle is shared."""
    docs = _t(spark, sf_dir, "documents")
    merges = text.train_bpe(docs, n_merges=12, strategy="driver")
    out = text.bpe_encode(docs, merges, encode_impl="pandas")
    return out.select(
        "doc_id",
        F.concat_ws(" ", "tokens").alias("toks"),
        "n_tokens",
    ).orderBy("doc_id")


def knn_graph_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus×corpus kNN graph (operators/similarity.py:knn_graph,
    round 12): top-5 cosine neighbors for EVERY vector via the IVF
    cell-local shuffle equi-join — NO broadcast of either corpus side
    (every other *_topk broadcasts the query set; this is the SemDeDup/
    graph-curation input shape where that plan is structurally wrong).
    Oracle replays the whole path: k-means training CTEs, argmax cell
    assignment, per-vector top-2 probes, same-cell pair scoring with
    self excluded, two-stage top-k (per-cell then global — the global
    is what the oracle checks; the per-cell stage is a superset
    refinement, invisible in the result)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.knn_graph(emb, k=5, n_lists=8, n_probe=2)
    return out.select(
        "vec_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    ).orderBy("vec_id", "rank")


def knn_graph_recall_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the kNN graph (n_lists=8, n_probe=4) vs exact
    brute-force neighbors (self excluded both sides) on the 20
    md5-deterministic sample queries — prices the probe budget of the
    graph plan the same way ann_recall prices the retrievers."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.knn_graph_recall(
        emb, k=10, n_queries=20, n_lists=8, n_probe=4
    )


def knn_graph_pandas_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME kNN graph as knn_graph_embeddings but through
    ``assign_impl='pandas'`` (operators/similarity.py:_assign_cells_pandas
    — one Arrow-batched numpy matmul per batch instead of inlined-
    centroid codegen): the documented scale path past the ~512-list
    codegen ceiling gets its OWN hash-green gate row (round-13 punch
    list #4) instead of inheriting trust from the codegen parity pin.
    Oracle: identical replay to knn_graph_embeddings — the two impls
    agree bit-for-bit on this corpus (ULP ties don't materialize)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.knn_graph(emb, k=5, n_lists=8, n_probe=2, assign_impl="pandas")
    return out.select(
        "vec_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    ).orderBy("vec_id", "rank")


def cluster_embeddings_pandas_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cluster_embeddings through the Arrow-batched assignment
    (round 13: assign_impl plumbed through the whole quantizer family);
    cosine comes from the SAME numpy batch (top-dot / row norm) and is
    rounded to 6dp like the codegen row, so the oracle is shared."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cluster_embeddings(emb, k=8, assign_impl="pandas").orderBy(
        "vec_id"
    )


def quantized_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine over int8-quantized vectors — the 4x scan/IO
    lever: same broadcast+window plan as cosine_topk but the corpus
    arrays are tinyint. The oracle requantizes both sides in SQL and
    replays the ranking."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.quantized_topk(emb, queries, k=10)
    return out.select(
        "query_id", "vec_id", "rank", F.round("cosine_q", 6).alias("cosine_q")
    ).orderBy("query_id", "rank")


def ann_recall_quantized_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the int8-quantized ranking vs the float brute force
    on the same 20 md5-deterministic queries as ann_recall_embeddings —
    measures the rank damage of 4x-compressed vectors (0.995 at
    sf0.001; measured per-corpus, not assumed)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ann_recall(emb, k=10, n_queries=20, method="quantized")


def similarity_truncated_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncated-dimension top-k
    (operators/similarity.py:truncated_topk, first 16 of 64 dims): the
    4x dim-cut lever. On this corpus the embeddings are random (not
    front-loaded), so the measured recall is intentionally poor — see
    ann_recall_truncated_embeddings for the number; the operator's
    value is that it MEASURES instead of assuming the Matryoshka
    property."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.truncated_topk(emb, queries, k=10, dim=16)
    return out.select(
        "query_id", "vec_id", "rank", F.round("cosine_t", 6).alias("cosine_t")
    ).orderBy("query_id", "rank")


def ann_recall_truncated_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of 16-of-64-dim truncated cosine vs full-dim brute
    force on the 20 md5-deterministic queries — the measured
    counter-example: random features keep only ~dim/D of the signal
    (0.23 at sf0.001), so dimension truncation is NOT a safe compression
    for this corpus, unlike int8 quantization (0.995)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ann_recall(emb, k=10, n_queries=20, method="truncated", dim=16)


def cluster_embeddings_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical k-means assignment for every vector
    (operators/similarity.py:cluster_embeddings, k=8): the oracle
    unrolls the full quantizer training (sorted-sample seeded init +
    10 assignment/update rounds) as recursive MATERIALIZED CTEs — same
    machinery as the IVF/semantic-dedup oracles, gate-corpus-specific
    like them (the seeded init indices depend on the row count)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cluster_embeddings(emb, k=8).orderBy("vec_id")


def pq_codes_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes (operators/similarity.py:pq_codes,
    m=4 subspaces x k_sub=8 centroids = 4096 possible codes, 12 bits
    per vector): per-subspace Euclidean k-means codebooks trained on the
    deterministic sorted sample, encoding as a pure codegen projection.
    The oracle unrolls all four subspaces' k-means training at once (a
    subspace COLUMN in the CTEs, not four CTE chains) and replays the
    packed code + reconstruction cosine."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pq_codes(emb, m=4, k_sub=8).orderBy("vec_id")


def pq_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (operators/similarity.py:pq_topk):
    raw queries scored against 12-bit reconstructions — the 64x-at-rest
    compression lever for billion-scale ANN. Oracle reconstructs every
    corpus vector from the replayed codebooks and reranks."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.pq_topk(emb, queries, k=10, m=4, k_sub=8)
    return out.select(
        "query_id", "vec_id", "rank", F.round("cosine_pq", 6).alias("cosine_pq")
    ).orderBy("query_id", "rank")


def ann_recall_pq_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the 12-bit PQ ranking vs float brute force on the 20
    md5-deterministic queries — the honest rank-damage number for the
    most aggressive compression in the family (measured per-corpus, not
    read off the PAMI curve)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ann_recall(emb, k=10, n_queries=20, method="pq", m=4, k_sub=8)


def ivf_pq_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse pruning + PQ compressed scoring
    (operators/similarity.py:ivf_pq_topk, n_lists=8/n_probe=4, m=4/
    k_sub=8) — the IVFADC composition: probe join cuts the scanned
    fraction, reconstructions cut bytes per row. Oracle chains BOTH
    training replays (spherical coarse k-means + per-subspace PQ
    k-means) and reranks probed candidates."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_pq_topk(
        emb, queries, k=10, n_lists=8, n_probe=4, m=4, k_sub=8
    )
    return out.select(
        "query_id", "vec_id", "rank", F.round("cosine_pq", 6).alias("cosine_pq")
    ).orderBy("query_id", "rank")


def ivf_pq_residual_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC with RESIDUAL codes (operators/similarity.py:ivf_pq_topk
    residual=True, n_lists=8/n_probe=4, m=4/k_sub=8): PQ trains on
    v - coarse_centroid with one shared codebook (Jégou's classic
    refinement); reconstruction = centroid + decoded residual. Oracle
    chains the coarse k-means replay, the per-vector residual CTE, and
    the SAME per-subspace PQ training machinery run on the residual
    relation — proving the whole residual pipeline bit-for-bit."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_pq_topk(
        emb, queries, k=10, n_lists=8, n_probe=4, m=4, k_sub=8, residual=True
    )
    return out.select(
        "query_id", "vec_id", "rank", F.round("cosine_pq", 6).alias("cosine_pq")
    ).orderBy("query_id", "rank")


def ann_recall_ivf_pq_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the composed IVF+PQ ranking vs float brute force on
    the 20 md5-deterministic queries — the number that prices the double
    approximation (probe pruning x 12-bit codes) on THIS corpus."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ann_recall(
        emb, k=10, n_queries=20, method="ivf_pq", n_lists=8, n_probe=4, m=4, k_sub=8
    )


def similarity_rp_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random-projection top-k
    (operators/similarity.py:rp_topk, 64 -> 16 dims): the model-agnostic
    4x dim-cut — JL preserves angles for ANY embedding distribution,
    unlike Matryoshka truncation which needs front-loaded models. The
    oracle replays the same seeded-numpy projection matrix as SQL
    literals (the lsh_topk idiom)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.rp_topk(emb, queries, k=10, out_dim=16)
    return out.select(
        "query_id", "vec_id", "rank", F.round("cosine_p", 6).alias("cosine_p")
    ).orderBy("query_id", "rank")


def ann_recall_rp_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the 16-dim JL projection vs full-dim brute force on
    the 20 md5-deterministic queries — measured head-to-head against
    ann_recall_truncated_embeddings (same 4x compression). Honest
    result: on ISOTROPIC random vectors the two are equivalent (~dim/D
    of the signal; 0.22 vs 0.25 at sf0.01) because coordinate
    truncation IS a random projection when no axis is special. JL's
    value is the guarantee holding for ANY embedding model — including
    back-loaded ones where truncation collapses to ~0 — not a win on
    random data."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ann_recall(emb, k=10, n_queries=20, method="rp", out_dim=16)


def similarity_lsh_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN — numpy-seeded hyperplanes inlined as SQL
    literals in the oracle (hash-green)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.lsh_topk(emb, queries, k=10, n_planes=6)
    return out.select("query_id", "vec_id", "rank", F.round("cosine", 6).alias("cosine")).orderBy(
        "query_id", "rank"
    )


def similarity_lsh_multi_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-amplified multi-table LSH ANN (operators/similarity.py:
    lsh_topk_multi): 8 independent 4-plane tables, candidate iff any
    band's bucket collides, exact cosine re-rank. Closes single-table
    lsh_topk's measured 0.155 recall@10 gap (multi-band config measures
    0.705 on the gate corpus — see ann_recall_multi_embeddings). The
    oracle inlines all 8 seeded plane sets and ORs the band equalities."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.lsh_topk_multi(emb, queries, k=10, n_planes=4, n_bands=8)
    return out.select(
        "query_id", "vec_id", "rank", F.round("cosine", 6).alias("cosine")
    ).orderBy("query_id", "rank")


def ann_recall_multi_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the OR-amplified 8x4-plane LSH vs exact brute force
    on the same 20 md5-deterministic queries as ann_recall_embeddings —
    the measured case for banding over single-bucket LSH (0.705 vs
    0.11 on the gate corpus at ~n_bands/2^planes = half-corpus expected
    candidate fraction)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ann_recall(
        emb, k=10, n_queries=20, method="lsh_multi", n_planes=4, n_bands=8
    )


def similarity_ivf_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with every list probed: the coarse-quantizer machinery
    (spherical k-means, list assignment, probe equi-join, exact scoring)
    must reproduce brute-force top-k exactly, so it shares the brute
    oracle. Partial-probe recall is pinned in tests/test_similarity_ivf.py."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_topk(emb, queries, k=10, n_lists=8, n_probe=8, dim=64)
    return out.select(
        "query_id", "vec_id", "rank", F.round("cosine", 6).alias("cosine")
    ).orderBy("query_id", "rank")


def similarity_ivf_probe_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with partial probes (the actual scale configuration: expected
    scan fraction n_probe/n_lists).  Oracle-checked end-to-end including
    the k-means quantizer training — see _ivf_probe_oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_topk(emb, queries, k=10, n_lists=8, n_probe=4, dim=64)
    return out.select(
        "query_id", "vec_id", "rank", F.round("cosine", 6).alias("cosine")
    ).orderBy("query_id", "rank")


def multimodal_features_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing demo: text bytes as a binary payload through
    the mapInPandas decode stage. Payloads here are not BMP/PPM, so they
    take the deterministic stub branch (real image bytes take the
    pure-numpy codec, functions/imagecodec.py — oracle-checked by
    multimodal_pixels_documents). The stub derives features hash-directly
    from the payload SHA-256, so DuckDB recomputes the feature sums
    exactly (_fake_features, operators/multimodal.py)."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload")
    )
    feats = multimodal.decode_image_features(media, dim=8)
    return feats.select(
        "media_id", F.round(F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 4).alias("feat_sum")
    ).orderBy("media_id")


def multimodal_metadata_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable multimodal metadata stage: byte length + SHA-256
    content hash of each payload (operators/multimodal.py:
    with_media_metadata) — pure JVM column expressions, no decode."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload")
    )
    out = multimodal.with_media_metadata(media)
    return out.select(
        "media_id", F.col("n_bytes").cast("long").alias("n_bytes"), "content_sha"
    ).orderBy("media_id")


def multimodal_pixels_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode path, oracle-checked end-to-end: each document's text
    bytes become an 8x4 binary P6 (PPM) payload; the pure-numpy codec
    (functions/imagecodec.py) decodes it inside the mapInPandas stage and
    emits exact pixel statistics, which the DuckDB oracle recomputes from
    the same bytes (hex-pair extraction)."""
    docs = _t(spark, sf_dir, "documents")
    payload = F.concat(
        F.encode(F.lit("P6\n8 4\n255\n"), "utf-8"),
        F.substring(F.encode("text", "utf-8"), 1, 96),
    )
    media = (
        docs.where(F.length(F.encode("text", "utf-8")) >= 96)
        .select(F.col("doc_id").alias("media_id"), payload.alias("payload"))
    )
    feats = multimodal.decode_image_features(media, dim=8)
    return feats.select(
        "media_id",
        *[F.round(F.col("features")[i], 6).alias(f"f{i}") for i in range(8)],
    ).orderBy("media_id")


def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: 8 k-means clusters, greedy
    within-cluster removal at cosine >= 0.45 (the threshold the exact
    near-dup query shows has real pairs on this corpus). Survivors +
    cluster id; the DuckDB oracle replays quantizer training end-to-end
    via the shared _kmeans_ctes prefix."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(emb, n_clusters=8, threshold=0.45).orderBy("vec_id")


def multimodal_audio_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode path, oracle-checked end-to-end: each document's
    first 96 text bytes become the data chunk of an 8-bit mono 8 kHz PCM
    WAV; the pure-numpy codec (functions/audiocodec.py) decodes it inside
    the mapInPandas stage and emits exact sample statistics (RMS, peak,
    zero-crossing rate in raw centered units), which the DuckDB oracle
    recomputes from the same bytes (hex-pair extraction, v = byte-128)."""
    import struct as _struct

    docs = _t(spark, sf_dir, "documents")
    hdr = (
        b"RIFF" + _struct.pack("<I", 36 + 96) + b"WAVE"
        + b"fmt " + _struct.pack("<I", 16)
        + _struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
        + b"data" + _struct.pack("<I", 96)
    )
    payload = F.concat(F.lit(hdr), F.substring(F.encode("text", "utf-8"), 1, 96))
    media = docs.where(F.length(F.encode("text", "utf-8")) >= 96).select(
        F.col("doc_id").alias("media_id"), payload.alias("payload")
    )
    feats = multimodal.decode_audio_features(media)
    return feats.select(
        "media_id",
        "decoded",
        "sample_rate",
        "n_channels",
        "n_frames",
        F.round("duration_ms", 6).alias("duration_ms"),
        F.round("rms", 6).alias("rms"),
        "peak",
        F.round("zcr", 6).alias("zcr"),
    ).orderBy("media_id")


def multimodal_video_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video path, oracle-checked end-to-end: each document's first
    48 text bytes become three 2x2 24-bit DIB frames inside a standard
    AVI container (functions/videocodec.py builds the header; frame
    payloads are spliced from the text). sample_frames REALLY demuxes
    the RIFF structure, wraps each frame as a BMP, and the image codec
    decodes real pixels; the DuckDB oracle recomputes the channel means
    from the same bytes via the DIB byte layout (BGR, 4-byte row pad,
    bottom-up)."""
    import numpy as np

    from clarite_python_spark.functions.videocodec import encode_avi

    avi = encode_avi([np.zeros((2, 2, 3), np.uint8)] * 3)
    offs = []
    p = 0
    while True:
        p = avi.find(b"00db", p)
        if p < 0:
            break
        offs.append(p)
        p += 4
    assert len(offs) == 3 and all(len(avi) >= o + 24 for o in offs)
    docs = _t(spark, sf_dir, "documents")
    enc = F.encode("text", "utf-8")
    payload = F.concat(
        F.lit(avi[: offs[0] + 8]),
        F.substring(enc, 1, 16),
        F.lit(avi[offs[0] + 24 : offs[1] + 8]),
        F.substring(enc, 17, 16),
        F.lit(avi[offs[1] + 24 : offs[2] + 8]),
        F.substring(enc, 33, 16),
    )
    media = docs.where(F.length(enc) >= 48).select(
        F.col("doc_id").alias("media_id"), payload.alias("payload")
    )
    frames = multimodal.sample_frames(media, every_n=1, max_frames=3)
    feats = multimodal.decode_image_features(
        frames.select(
            (F.col("media_id") * 10 + F.col("frame_idx")).alias("media_id"),
            F.col("frame_payload").alias("payload"),
        ),
        dim=3,
    )
    return feats.select(
        F.col("media_id").alias("frame_key"),
        *[F.round(F.col("features")[i], 6).alias(f"f{i}") for i in range(3)],
    ).orderBy("frame_key")


def windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = windowed_counts(ev, "1 hour")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        F.round("total_value", 4).alias("total_value"),
    ).orderBy("window_start", "event_type")


def sessionized_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session aggregation via Spark's native session_window
    (streaming/events.py:sessionized; 4-hour inactivity gap). The oracle
    is the classic gaps-and-islands SQL."""
    ev = _t(spark, sf_dir, "events")
    out = sessionized(ev, gap="4 hours")
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
        "n_events",
        F.round("total_value", 4).alias("total_value"),
    ).orderBy("user_id", "session_start")


def ngram_jaccard_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs over all (id_a < id_b)
    pairs at threshold 0.2 (operators/dedup.py:ngram_jaccard_pairs).

    All-pairs candidates here make the result oracle-checkable; the scale
    path is the same verify kernel fed by MinHash-LSH candidates
    (``minhash_dedup_documents``), which is O(corpus), not O(n^2)."""
    docs = _t(spark, sf_dir, "documents")
    # strategy='index', candidates=None (r13): the all-pairs result is
    # exactly the colliding-pairs set the inverted index materializes —
    # the pair exchange carries 8-byte rows for the Σ df(g)² colliding
    # pairs (1.27M at sf0.1) instead of two whole shingle arrays for
    # each of the 12.5M explicit candidates, and the O(n²) candidate
    # frame is never built; identical jaccard values (exact integer
    # ratios both ways)
    out = dedup.ngram_jaccard_pairs(
        docs, None, shingle_n=3, threshold=0.2, strategy="index"
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")).orderBy(
        "id_a", "id_b"
    )


def containment_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment over all (id_a < id_b) pairs at
    threshold 0.25 (operators/dedup.py:containment_pairs) — the
    doc-in-doc detector Jaccard misses. All-pairs candidates over the
    first 1,000 ids make the result oracle-checkable at every sf (the
    whole corpus at sf0.01; a 500k-pair slice at sf0.1 — the unbounded
    12.5M-pair form is exactly what the operator's candidate-source
    contract says not to do); at scale the verify kernel is fed by
    rare-gram-collision candidates instead."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    ids = docs.select("doc_id")
    cands = (
        ids.select(F.col("doc_id").alias("id_a"))
        .join(ids.select(F.col("doc_id").alias("id_b")), F.col("id_a") < F.col("id_b"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    out = dedup.containment_pairs(docs, cands, shingle_n=3, threshold=0.25)
    return out.select(
        "id_a",
        "id_b",
        F.round("containment_a_in_b", 6).alias("containment_a_in_b"),
        F.round("containment_b_in_a", 6).alias("containment_b_in_a"),
        F.round("containment", 6).alias("containment"),
    ).orderBy("id_a", "id_b")


def embedding_neardup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact all-pairs baseline at
    threshold 0.45; ``n_planes>0`` in the operator is the LSH-blocked
    scale path)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.embedding_neardup(emb, threshold=0.45, exact=True)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine")).orderBy(
        "id_a", "id_b"
    )


def embedding_neardup_lsh_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked near-dup pairs (the scale-default path: banded
    random-hyperplane blocking, equi-join on (band, bucket) — no cross
    join). Oracle-checked (banded buckets reproduced in SQL); the
    subset + recall contract vs the exact path is also asserted in
    tests/test_similarity_neardup.py."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.embedding_neardup(emb, threshold=0.45)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine")).orderBy(
        "id_a", "id_b"
    )


def colfilter_min_n_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """colfilter_min_n contract (reference modify.py:284-340) over
    deterministic engineered sparsity; returns the operator's report
    (variable, n_non_null, kept) — one batched agg scan."""
    ev = _t(spark, sf_dir, "events")
    data = ev.select(
        F.col("event_id").alias("ID"),
        F.col("value").alias("v_full"),
        F.when(F.col("user_id") % 2 == 0, F.col("value")).alias("v_half"),
        F.when(F.col("user_id") % 10 == 0, F.col("value")).alias("v_sparse"),
    )
    total = data.count()
    out = modify.colfilter_min_n(ClariteFrame(data), n=int(total * 0.6))
    rep = out.last_report
    kept = set(rep["kept"])
    rows = [
        (v, int(rep["non_na_counts"][v]), v in kept)
        for v in sorted(rep["non_na_counts"])
    ]
    return spark.createDataFrame(rows, "variable string, n_non_null long, kept boolean").orderBy(
        "variable"
    )


def get_significant_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """add_corrected_pvalues -> get_significant(fdr <= 0.97) pipeline
    (reference cli/commands/analyze.py:299-324)."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", (((F.col("doc_id") * 37) % 1000 + 1) / 1000.0).alias("pvalue")
    )
    out = analyze.get_significant(
        analyze.add_corrected_pvalues(base), pvalue=0.97, method="fdr"
    )
    return out.select(
        "doc_id",
        F.round("pvalue", 9).alias("pvalue"),
        F.round("pvalue_bonferroni", 9).alias("pvalue_bonferroni"),
        F.round("pvalue_fdr", 9).alias("pvalue_fdr"),
    ).orderBy("doc_id")


def winnow_fingerprints_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints, k=3 window=4
    (operators/text.py:winnow_fingerprints); DuckDB recomputes the
    k-gram hashes and sliding minima with list lambdas."""
    docs = _t(spark, sf_dir, "documents")
    return text.winnow_fingerprints(docs, k=3, window=4, hash_family="md5").orderBy(
        "doc_id", "fingerprint"
    )


def winnow_fingerprints_xxh_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing with the DEFAULT JVM-native xxhash64 gram hashes —
    oracle-checked via the SQL XXH64 (one hash per DISTINCT gram,
    re-joined by position before the sliding minima)."""
    docs = _t(spark, sf_dir, "documents")
    return text.winnow_fingerprints(docs, k=3, window=4).orderBy(
        "doc_id", "fingerprint"
    )


def winnow_matches_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc overlap pairs on winnowing fingerprints (md5 family;
    bucket-capped self-join, operators/text.py:winnow_matches)."""
    docs = _t(spark, sf_dir, "documents")
    return text.winnow_matches(docs, hash_family="md5", min_shared=2).orderBy(
        "id_a", "id_b"
    )


def chunk_documents_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (operators/pipeline.py:
    chunk_documents): 64-token chunks, 16-token overlap."""
    docs = _t(spark, sf_dir, "documents")
    return pipeline.chunk_documents(docs, chunk_tokens=64, overlap=16).orderBy(
        "doc_id", "chunk_id"
    )


def label_centroids_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label class prototypes via posexplode + (label, dim) agg
    (operators/similarity.py:label_centroids)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.label_centroids(emb)
    return out.select(
        "label", "pos", F.round("centroid", 6).alias("centroid"), "n"
    ).orderBy("label", "pos")


def rolling_fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling-hash fingerprints
    (operators/text.py:rolling_fingerprint); oracle folds the identical
    arithmetic with DuckDB list_reduce."""
    docs = _t(spark, sf_dir, "documents")
    return text.rolling_fingerprint(docs).orderBy("doc_id")


def bpe_token_counts_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretokenizer (BPE-ish regex) vs whitespace token counts per doc
    (operators/text.py:bpe_token_count; pattern is Java∩RE2 so the
    oracle runs the same string)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count("text").alias("ws_tokens"),
        text.bpe_token_count("text").alias("bpe_tokens"),
    ).orderBy("doc_id")


def incremental_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest dedup (operators/dedup.py:incremental_dedup): the
    second half of the corpus arrives as a 'new batch' and is anti-joined
    on fingerprint against the first half, then deduped within itself."""
    docs = _t(spark, sf_dir, "documents")
    mid = 250  # sf-stable split point: doc_ids are dense from 0
    seen = docs.where(F.col("doc_id") < mid)
    new = docs.where(F.col("doc_id") >= mid)
    out = dedup.incremental_dedup(new, seen)
    return out.select("doc_id").orderBy("doc_id")


def simhash_clusters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming near-dup cluster labels (simhash twin of
    minhash_clusters): oracle = the simhash pair CTEs + recursive
    min-label closure."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_clusters(docs, hash_family="md5").orderBy("doc_id")


def incremental_simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-state incremental near-dup
    (operators/dedup.py:incremental_simhash_dedup): the second half of
    the corpus arrives as a batch and is Hamming-checked against the
    first half's 8-byte fingerprints (band equi-join + popcount), then
    simhash-deduped within itself. The oracle recomputes both halves'
    md5 fingerprints, the band collision, the cross-set verify, and the
    within-batch greedy pass."""
    docs = _t(spark, sf_dir, "documents")
    mid = 250  # sf-stable split point: doc_ids are dense from 0
    seen = docs.where(F.col("doc_id") < mid)
    new = docs.where(F.col("doc_id") >= mid)
    out = dedup.incremental_simhash_dedup(new, seen, hash_family="md5")
    return out.select("doc_id").orderBy("doc_id")


def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/joins.py): every click gets the user's most
    recent at-or-before purchase. Oracle is DuckDB's native ASOF LEFT
    JOIN; the Spark plan is union + one keyed shuffle + running window —
    no range/cartesian join."""
    from clarite_python_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    buys = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    out = asof_join(clicks, buys, on="ts", by="user_id")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.round("purchase_value", 4).alias("purchase_value"),
        F.col("ts_right").alias("purchase_ts"),
    ).orderBy("event_id")


def interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join (operators/joins.py:interval_join): all
    clicks within 2 h at-or-after a purchase by the same user. The Spark
    plan is a binned EQUI-join (no inequality-join cartesian); the oracle
    is the naive inequality join, which DuckDB executes exactly."""
    from clarite_python_spark.operators.joins import interval_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    buys = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"),
        F.col("event_id").alias("purchase_id"),
    )
    out = interval_join(clicks, buys, by="user_id", bin_width=3600.0)
    return out.select("event_id", "user_id", "purchase_id").orderBy("event_id", "purchase_id")


def top_tokens_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: global top-25 tokens (explode -> partial-agg
    count -> TakeOrderedAndProject)."""
    docs = _t(spark, sf_dir, "documents")
    return text.top_tokens(docs, k=25).orderBy("rank")


def user_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the applyInPandasWithState running-stats operator
    (streaming/state.py) — per-user count/sum/mean/variance; the stream's
    final emission per key equals these rows (parity-tested)."""
    from clarite_python_spark.streaming.state import user_stats

    ev = _t(spark, sf_dir, "events")
    out = user_stats(ev)
    return out.select(
        "user_id",
        "n_events",
        F.round("total_value", 4).alias("total_value"),
        F.round("mean_value", 6).alias("mean_value"),
        F.round("var_value", 6).alias("var_value"),
    ).orderBy("user_id")


def deterministic_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based train/val/test assignment (operators/pipeline.py:
    deterministic_split) — per-split row counts."""
    docs = _t(spark, sf_dir, "documents")
    out = pipeline.deterministic_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1}, salt="s1")
    return out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).orderBy("split")


def epoch_repeat_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch upsampling (operators/pipeline.py:epoch_repeat):
    2.5 epochs = 2 copies each + a deterministic md5-bucket coin for the
    third. Oracle replays the bucket predicate and unnests a range."""
    docs = _t(spark, sf_dir, "documents")
    out = pipeline.epoch_repeat(docs, 2.5, salt="ep")
    return out.select("doc_id", "source", "epoch")


def dsir_logweights_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed-n-gram importance log-weights (pipeline.py:
    dsir_logweights, Xie et al. 2023) against a src0 target sample —
    the quality-matched data-selection scorer. Oracle rebuilds the
    64-bucket unigram+bigram multinomials and per-doc ratio sums in
    SQL (md5 per DISTINCT gram, like the winnowing twin)."""
    docs = _t(spark, sf_dir, "documents")
    target = docs.where(F.col("source") == "src0")
    return pipeline.dsir_logweights(docs, target, n_buckets=64)


def dsir_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR Gumbel-top-50 selection (pipeline.py:dsir_sample): noise is
    -ln(-ln(u)) with u from the md5 key of the id, so the chosen SET is
    engine-reproducible — the oracle replays weights + noise + the
    rounded-score ordering."""
    docs = _t(spark, sf_dir, "documents")
    target = docs.where(F.col("source") == "src0")
    return pipeline.dsir_sample(docs, target, 50, n_buckets=64)


def line_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/CCNet-style boilerplate-line removal (operators/
    dedup.py:line_dedup): lines repeated >= 2 times within a source are
    removed in ALL their occurrences (contrast paragraph_dedup's C4
    first-wins rule). Line boundaries induced by splitting on the
    frequent token 'batch', same as the paragraph query."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.line_dedup(
        docs.select("doc_id", "source", "text"),
        sep="batch",
        min_repeat=2,
        scope_col="source",
    ).orderBy("doc_id")


def perplexity_buckets_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity partitioning (operators/
    pipeline.py:perplexity_buckets): unigram bits/token scored per doc,
    then per-language ntile(3) ordered by (rounded score, id) — both
    engines compute the identical rounded score, so the ordering and
    bucket assignment replay exactly."""
    docs = _t(spark, sf_dir, "documents")
    return pipeline.perplexity_buckets(docs).orderBy("doc_id")


def shard_by_tokens_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-token training-shard assignment (operators/pipeline.py:
    shard_by_tokens): hash-ordered cumsum per source, shard = previous
    cumulative total / 2000 tokens — the same window replay as
    token_budget_sample's oracle plus the shard division."""
    docs = _t(spark, sf_dir, "documents")
    out = pipeline.shard_by_tokens(docs, 2000, salt="shrd")
    return out.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "cum_tokens",
        "shard",
    ).orderBy("doc_id")


def weighted_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel-top-k weighted sampling without replacement (operators/
    pipeline.py:weighted_sample): 60 documents drawn proportional to
    n_chars, noise content-addressed from the id's md5 key so the
    chosen set replays exactly in SQL."""
    docs = _t(spark, sf_dir, "documents")
    out = pipeline.weighted_sample(docs, 60, weight_col="n_chars", salt="wsq")
    return out.select("doc_id", "n_chars", "sample_score").orderBy("doc_id")


def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-mixture sampling: keep all of src0, none of
    src1, 40% of everything else — the corpus-reweighting step."""
    docs = _t(spark, sf_dir, "documents")
    out = pipeline.deterministic_sample(
        docs, by="source", fractions={"src0": 1.0, "src1": 0.0}, fraction=0.4, salt="mix"
    )
    return out.select("doc_id", "source").orderBy("doc_id")


def pack_sequences_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-chunk sequence packing at 512 tokens per source."""
    docs = _t(spark, sf_dir, "documents")
    out = pipeline.pack_sequences(docs, max_tokens=512)
    return out.select("source", "doc_id", "n_tokens", "seq_id", "seq_offset").orderBy(
        "source", "doc_id"
    )


def redact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails/phones/IPv4) with per-doc counts; the
    pattern table is restricted to the Java-regex ∩ RE2 subset so the
    oracle applies the SAME strings."""
    docs = _t(spark, sf_dir, "documents")
    return text.redact(docs).orderBy("doc_id")


def domain_cap_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (pipeline.domain_cap): at most 15 docs per
    source, winners = lowest deterministic hash keys. Runs WITH the
    scale-path key prefilter (margin 3.0) — the oracle ranks the full
    groups, so a hash match also proves the prefilter is lossless on
    this data (15 < 25 docs/source at sf0.01, so the cap bites)."""
    docs = _t(spark, sf_dir, "documents")
    out = pipeline.domain_cap(docs, max_docs=15, salt="cap", prefilter_margin=3.0)
    return out.select("doc_id", "source", "cap_rank").orderBy("doc_id")


def temperature_mixture_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing (pipeline.temperature_mixture,
    tau=0.5, target 300 rows): small sources upweighted, rates quantized
    to integer buckets so the accept set is engine-exact."""
    docs = _t(spark, sf_dir, "documents")
    out = pipeline.temperature_mixture(docs, tau=0.5, target_rows=300, salt="tmix")
    return out.select("doc_id", "source", "rate_buckets").orderBy("doc_id")


def mixture_report_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix planning report (pipeline.mixture_report, 1M-token
    budget, tau=0.7, max_epochs=2): per-source token mass, temperature
    weight, floor-allocated tokens, effective epochs, and the
    epoch-cap's budget shortfall. The oracle replays the closed-form
    arithmetic (power/floor/least) over the same whitespace token
    counts."""
    docs = _t(spark, sf_dir, "documents")
    return pipeline.mixture_report(docs, 1_000_000, tau=0.7, max_epochs=2.0)


def tfidf_top_terms_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by smoothed tf-idf
    (text.tfidf_top_terms), deterministic tie-break."""
    docs = _t(spark, sf_dir, "documents")
    return text.tfidf_top_terms(docs, k=3).orderBy("doc_id", "rank")


def bigram_logprob_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-1-smoothed corpus bigram LM bits-per-bigram per document
    (text.bigram_logprob) — the KenLM-style quality proxy, one order up
    from unigram_logprob."""
    docs = _t(spark, sf_dir, "documents")
    return text.bigram_logprob(docs).orderBy("doc_id")


def quality_classifier_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (fasttext-style) quality probe over the text_stats features
    (text.quality_classifier): sigmoid score + keep flag, pure codegen."""
    docs = _t(spark, sf_dir, "documents")
    return text.quality_classifier(docs).orderBy("doc_id")


def remove_duplicate_spans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee-et-al exact-substring REMOVAL (dedup.remove_duplicate_spans,
    n=16 like the duplicate_spans profile query): tokens under any
    corpus-duplicated 16-gram are cut and the doc reassembled. The
    oracle groups on window TEXT where Spark groups on xxhash64 of it —
    count-equivalent absent a 64-bit collision (same trade as
    duplicate_spans_documents)."""
    docs = _t(spark, sf_dir, "documents")
    out = dedup.remove_duplicate_spans(docs, n=16, min_count=2)
    return out.orderBy("doc_id")


def ann_recall_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the 6-plane LSH ANN vs exact brute-force cosine on
    20 md5-deterministic query vectors (operators/similarity.py:
    ann_recall) — the measured counterpart of the 1/2^planes candidate-
    fraction theory; oracle replays query sampling, both pipelines, and
    the intersection."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ann_recall(emb, k=10, n_queries=20, method="lsh", n_planes=6)


def ivf_recall_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the partial-probe IVF configuration (n_probe=4 of
    n_lists=8 — expected scan fraction 1/2) vs exact brute force on the
    same 20 md5-deterministic queries as ann_recall_embeddings; the
    oracle replays quantizer training (shared k-means CTEs), probe
    selection, both top-k pipelines, and the intersection. Like
    similarity_ivf_probe, the k-means replay inlines seeded init
    indices for the gate corpus (n=500), so this oracle is
    gate-corpus-specific by construction (the LSH recall twin, whose
    planes fix only the dim, checks at any SF)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ann_recall(
        emb, k=10, n_queries=20, method="ivf", n_lists=8, n_probe=4, dim=64
    )


def lsh_recall_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-recall measurement of the md5 MinHash-LSH config
    (operators/dedup.py:lsh_recall): exact all-pairs Jaccard ground
    truth on a deterministic half-sample vs the banded candidates —
    the measure-don't-guess harness for (num_hashes, bands) at scale.
    The oracle replays sampling, banding, truth, and the intersection."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.lsh_recall(
        docs, threshold=0.5, sample_fraction=0.5, salt="recall",
        hash_family="md5",
    )


def token_percentiles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact token-count percentiles (p25/p50/p75/p95) — the
    corpus length profile corpus_stats' min/mean/max misses; grouped
    exact `percentile` == DuckDB quantile_cont (the quantiles_lineitem
    equivalence), approx_percentile is the documented sketch variant at
    scale."""
    docs = _t(spark, sf_dir, "documents")
    n_tok = text.token_count("text")
    qs = F.percentile(
        n_tok, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.95))
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(qs.getItem(0), 4).alias("p25"),
            F.round(qs.getItem(1), 4).alias("p50"),
            F.round(qs.getItem(2), 4).alias("p75"),
            F.round(qs.getItem(3), 4).alias("p95"),
        )
        .orderBy("source")
    )


def source_overlap_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication overlap matrix
    (operators/dedup.py:source_overlap, word-8-gram granularity —
    whole-doc fingerprints find nothing on this corpus, partial
    boilerplate sharing is the live signal): distinct shared 8-gram
    fingerprints per unordered source pair + per-side distinct counts."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.source_overlap(docs, granularity="ngram", n=8).orderBy(
        "source_a", "source_b"
    )


def funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup -> view -> purchase
    (operators/events.py:funnel): per-user furthest stage + the time it
    was achieved. The greedy scan equals the t_k = min{ts > t_(k-1)}
    recursion, which is exactly what the oracle's stage-wise min-joins
    compute."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    out = events_ops.funnel(ev, ["signup", "view", "purchase"])
    return out.select(
        "user_id",
        "stage",
        F.date_format("stage_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("stage_ts"),
    ).orderBy("user_id")


def funnel_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed conversion funnel: signup -> view -> purchase must all
    happen within 6 hours of the user's FIRST signup (fixed anchor, no
    re-anchoring — operators/events.py:funnel max_span_seconds). The
    oracle adds the deadline bound to each stage's min-join."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    out = events_ops.funnel(
        ev, ["signup", "view", "purchase"], max_span_seconds=6 * 3600
    )
    return out.select(
        "user_id",
        "stage",
        F.date_format("stage_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("stage_ts"),
    ).orderBy("user_id")


def funnel_times_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert rows (operators/events.py:funnel_times): one row
    per (user, stage reached) with the stage's first-achievement time
    and the exact integer-microsecond duration since the previous stage
    — no float surface in the compare."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    out = events_ops.funnel_times(ev, ["signup", "view", "purchase"])
    return out.select(
        "user_id",
        "stage",
        F.date_format("stage_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("stage_ts"),
        "since_prev_us",
    ).orderBy("user_id", "stage")


def funnel_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel bar chart: users reaching stage >= k for every stage
    (operators/events.py:funnel_counts)."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    return events_ops.funnel_counts(ev, ["signup", "view", "purchase"]).orderBy("stage")


def retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle
    (operators/events.py:retention_cohorts)."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    return events_ops.retention_cohorts(ev, period_days=7).orderBy(
        "cohort_date", "period_offset"
    )


# --------------------------------------------------------------------------
# driver API
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the association-study
    GLM fan-out (CLARITE's core capability) over lineitem."""
    return association_study_covariates(spark, "/root/testdata/sf0.001")


def leakage_safe_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split (pipeline.leakage_safe_split,
    minhash xxhash64 family, defaults shared with minhash_clusters):
    every near-dup cluster lands in ONE split, so the leakage that
    split_leakage measures after the fact is prevented at assignment
    time. The oracle replays the recursive-closure cluster labels
    (same machinery as minhash_clusters_documents), coalesces
    singletons to their own id, and applies the md5 bucket rule to the
    label."""
    docs = _t(spark, sf_dir, "documents")
    out = pipeline.leakage_safe_split(
        docs, {"train": 0.6, "val": 0.2, "test": 0.2}, salt="ls"
    )
    return out.select("doc_id", "cluster_label", "split").orderBy("doc_id")


def attribution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution (operators/events.py:
    attribution): purchase conversions credited to the most recent
    strictly-prior click/view/signup within a 7-day lookback; the
    oracle replays the ignore-nulls running window and the lookback
    void rule."""
    ev = _t(spark, sf_dir, "events")
    out = events_ops.attribution(
        ev,
        conversion="purchase",
        channels=["click", "view", "signup"],
        model="last_touch",
        lookback_seconds=7 * 86400,
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        F.round("value", 4).alias("value"),
        "channel",
        "touch_event_id",
        F.date_format("touch_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "touch_ts"
        ),
    ).orderBy("event_id")


def cramers_v_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise categorical association (describe.cramers_v) over
    lang / source / a derived length bucket — the chi-square analogue
    of correlations for the categorical half of a QC screen. The
    oracle recomputes each pair's contingency closed form
    n*(sum o^2/(ra*cb) - 1) in SQL."""
    docs = (
        _t(spark, sf_dir, "documents")
        .withColumn(
            "len_bucket",
            F.when(F.col("n_chars") < 200, "short")
            .when(F.col("n_chars") < 400, "mid")
            .otherwise("long"),
        )
        .select("doc_id", "lang", "source", "len_bucket")
    )
    cf = modify.make_categorical(
        ClariteFrame(docs.withColumnRenamed("doc_id", "ID"))
    )
    return describe.cramers_v(cf, only=["lang", "source", "len_bucket"])


def idf_hash_embed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """idf-weighted hashing-trick embeddings
    (operators/text.py:feature_hash_embed(idf_weight=True), dim=32,
    unnormalized) — the stopword-suppressed retrieval form. Registered
    as a posexplode projection (doc, pos, round(val, 6)) so the FULL
    vector is oracle-checked without container columns or string
    float-formatting hazards."""
    docs = _t(spark, sf_dir, "documents")
    emb = text.feature_hash_embed(docs, dim=32, normalize=False, idf_weight=True)
    return (
        emb.select("doc_id", F.posexplode("embedding").alias("pos", "val"))
        .select(
            "doc_id",
            "pos",
            F.round(F.col("val").cast("double"), 6).alias("val"),
        )
        .orderBy("doc_id", "pos")
    )


def fuzzy_join_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked-Levenshtein record linkage (operators/joins.py:fuzzy_join,
    d=2) over the distinct part names — every near-miss name pair
    without a cartesian product (length-band equi-join + thresholded
    codegen levenshtein). The oracle replays DuckDB's own levenshtein —
    integer distances, bit-exact."""
    part = _t(spark, sf_dir, "part")
    names = part.select("p_name").distinct()
    out = joins.fuzzy_join(names, names, "p_name", "p_name", max_distance=2)
    return (
        out.where(F.col("p_name") < F.col("p_name_r"))
        .select(
            F.col("p_name").alias("name_a"),
            F.col("p_name_r").alias("name_b"),
            "distance",
        )
        .orderBy("name_a", "name_b")
    )


def bm25_topk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 retrieval (operators/text.py:bm25_topk) for
    three fixed lexical queries — the standard relevance ranking, one
    step up from jaccard_topk's set overlap. Scores round to 6 dp
    BEFORE ranking so the order is engine-replayable; the oracle
    replays postings, idf, and the saturation formula in SQL."""
    docs = _t(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        [(0, "hash join merge"), (1, "slow scan filter"), (2, "vector column batch")],
        "query_id long, query string",
    )
    return text.bm25_topk(docs, queries, k=10)


def bm25_stored_topk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored-postings BM25 (operators/text.py:build_postings +
    bm25_topk(postings_dir=...)): the corpus shuffle is paid ONCE into a
    persisted postings/df/stats artifact, then the query batch runs
    against the artifact with no corpus rescan — the amortization the
    10M-doc measurement priced (postings agg ~= 99% of inline cost).
    The oracle replays the identical math from the raw table, proving
    the two-phase path changes nothing."""
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        [(0, "parquet row group"), (1, "broadcast hash join")],
        "query_id long, query string",
    )
    pdir = tempfile.mkdtemp(prefix="bm25_postings_")
    text.build_postings(docs, pdir)
    return text.bm25_topk(None, queries, k=10, postings_dir=pdir)


def hybrid_rrf_topk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+dense retrieval (operators/text.py:rrf_fuse,
    Cormack et al. SIGIR 2009): BM25 top-20 over documents fused with
    cosine top-20 over the row-aligned embeddings table by reciprocal
    rank, final top-10 per query. The oracle replays BOTH retrievers
    (the bm25 postings/idf SQL and a brute-force cosine ranking) and the
    1/(60+rank) fusion."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    qtext = spark.createDataFrame(
        [(0, "hash join merge"), (1, "slow scan filter"), (2, "vector column batch")],
        "query_id long, query string",
    )
    qvec = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    lex = text.bm25_topk(docs, qtext, k=20)
    dense = similarity.cosine_topk(emb, qvec, k=20).withColumnRenamed(
        "vec_id", "doc_id"
    )
    return text.rrf_fuse(lex, dense, k=10)


def session_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session rollup (operators/events.py:session_stats,
    4-hour gap): session count, event totals, mean/max per session,
    mean session span seconds, total value. Oracle extends the
    sessionized gaps-and-islands SQL with the per-user reduction."""
    ev = _t(spark, sf_dir, "events")
    return events_ops.session_stats(ev, gap="4 hours")


def event_anomalies_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily volume z-score anomalies per event type
    (operators/events.py:event_anomalies, trailing-7-day baseline,
    |z| >= 2): the stream collapses to a (type, day) count before any
    window. Oracle replays the strictly-prior ROWS window with
    stddev_samp in SQL."""
    ev = _t(spark, sf_dir, "events")
    return events_ops.event_anomalies(ev, window=7, z_threshold=2.0)


def incremental_embedding_neardup_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Vector daily-ingest dedup (similarity.incremental_embedding_neardup,
    history = even ids, batch = odd ids, cosine 0.45): cross-set banded
    drop where history wins, then the greedy within-batch pass. Output
    projected to the kept id column (the engine returns full rows; the
    embedding array stays out of the driver's scalar-only canonicalizer)."""
    emb = _t(spark, sf_dir, "embeddings")
    hist = emb.where(F.col("vec_id") % 2 == 0)
    batch = emb.where(F.col("vec_id") % 2 == 1)
    out = similarity.incremental_embedding_neardup(batch, hist, threshold=0.45)
    return out.select("vec_id").orderBy("vec_id")


def mutual_information_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise mutual information + NMI (describe.mutual_information)
    over the same lang / source / length-bucket triple as cramers_v —
    the information-theoretic redundancy screen. Oracle recomputes
    observed-cell MI and margin entropies per pair in SQL."""
    docs = (
        _t(spark, sf_dir, "documents")
        .withColumn(
            "len_bucket",
            F.when(F.col("n_chars") < 200, "short")
            .when(F.col("n_chars") < 400, "mid")
            .otherwise("long"),
        )
        .select("doc_id", "lang", "source", "len_bucket")
    )
    cf = modify.make_categorical(
        ClariteFrame(docs.withColumnRenamed("doc_id", "ID"))
    )
    return describe.mutual_information(cf, only=["lang", "source", "len_bucket"])


def theils_u_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient (describe.theils_u) over the same
    lang / source / length-bucket triple — the ASYMMETRIC redundancy
    screen (U(x|y) = MI/H(x) differs by direction where NMI averages).
    Oracle reuses the MI cell replay with per-direction entropy
    normalizers."""
    docs = (
        _t(spark, sf_dir, "documents")
        .withColumn(
            "len_bucket",
            F.when(F.col("n_chars") < 200, "short")
            .when(F.col("n_chars") < 400, "mid")
            .otherwise("long"),
        )
        .select("doc_id", "lang", "source", "len_bucket")
    )
    cf = modify.make_categorical(
        ClariteFrame(docs.withColumnRenamed("doc_id", "ID"))
    )
    return describe.theils_u(cf, only=["lang", "source", "len_bucket"])


def embedding_drift_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between the even- and odd-id halves of the
    embeddings table (similarity.embedding_drift): centroid cosine +
    mean-norm shift + centroid L2 — the vector twin of
    corpus_divergence. The oracle recomputes per-dim means via lockstep
    unnest and the same reductions."""
    emb = _t(spark, sf_dir, "embeddings")
    a = emb.where(F.col("vec_id") % 2 == 0)
    b = emb.where(F.col("vec_id") % 2 == 1)
    return similarity.embedding_drift(a, b)


def mmr_rerank_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified retrieval (similarity.mmr_rerank, Carbonell &
    Goldstein SIGIR 1998): 3 query vectors, 20 exact-cosine candidates
    each, greedy top-5 at lambda=0.7. The oracle unrolls all five greedy
    selection steps in SQL (argmax per step with the same round-6 +
    min-id tie-break), so the sequential diversity penalty itself is
    value-checked, not just the candidate ranking."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.mmr_rerank(emb, qvec, k=5, fetch_k=20, lambda_=0.7)


def rank_eval_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality scoring (evaluation.rank_eval): cosine top-10
    for the first 5 query vectors, judged against same-label relevance
    (binary qrels) — per query nDCG@10 / recall / precision / MRR. This
    is the harness that prices the ANN approximations' quality knobs.
    Oracle replays the dense ranking and every metric in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    qvec = q.select(F.col("vec_id").alias("query_id"), "embedding")
    res = similarity.cosine_topk(emb, qvec, k=10)
    qrels = (
        q.select(F.col("vec_id").alias("query_id"), "label")
        .join(emb.select("vec_id", "label"), "label")
        .select("query_id", "vec_id", F.lit(1.0).alias("rel"))
    )
    return evaluation.rank_eval(res, qrels, k=10, doc_col="vec_id")


def rank_eval_macro_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro-averaged retrieval summary (evaluation.rank_eval_macro):
    the single-row unweighted mean of rank_eval_embeddings' per-query
    metrics — the TREC-macro leaderboard number. Oracle wraps the
    rank_eval replay in one AVG."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    qvec = q.select(F.col("vec_id").alias("query_id"), "embedding")
    res = similarity.cosine_topk(emb, qvec, k=10)
    qrels = (
        q.select(F.col("vec_id").alias("query_id"), "label")
        .join(emb.select("vec_id", "label"), "label")
        .select("query_id", "vec_id", F.lit(1.0).alias("rel"))
    )
    return evaluation.rank_eval_macro(res, qrels, k=10, doc_col="vec_id")


def table_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (evaluation.table_diff): 'old' = orders with key%3
    != 0, 'new' = key%5 != 0 with price restated (+100.0) on key%7 == 0
    and priority restated on key%13 == 0 — added/removed/changed rows
    with per-column change lists. Oracle is the same FULL OUTER JOIN
    with null-safe column compares."""
    o = _t(spark, sf_dir, "orders")
    old = o.where(F.col("o_orderkey") % 3 != 0)
    new = (
        o.where(F.col("o_orderkey") % 5 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 100.0
            ).otherwise(F.col("o_totalprice")),
        )
        .withColumn(
            "o_orderpriority",
            F.when(F.col("o_orderkey") % 13 == 0, F.lit("9-RESTATED")).otherwise(
                F.col("o_orderpriority")
            ),
        )
    )
    return evaluation.table_diff(
        old,
        new,
        keys=["o_orderkey"],
        compare=["o_orderstatus", "o_totalprice", "o_orderpriority"],
    )


def table_diff_snapshot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored-snapshot twin of table_diff_orders (round 11): the same
    old/new construction, but the OLD side goes through
    evaluation.save_snapshot -> table_diff(new, snapshot_dir=...) — the
    daily-ingest QA loop where yesterday's table is a parquet snapshot,
    not a live frame. Oracle is IDENTICAL to table_diff_orders (the dir
    form is contract-equal to the frame form; tests/test_round11_ops.py
    pins row-for-row parity)."""
    o = _t(spark, sf_dir, "orders")
    old = o.where(F.col("o_orderkey") % 3 != 0)
    new = (
        o.where(F.col("o_orderkey") % 5 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 100.0
            ).otherwise(F.col("o_totalprice")),
        )
        .withColumn(
            "o_orderpriority",
            F.when(F.col("o_orderkey") % 13 == 0, F.lit("9-RESTATED")).otherwise(
                F.col("o_orderpriority")
            ),
        )
    )
    snap = _scratch(sf_dir, "table_diff_orders")
    evaluation.save_snapshot(
        old.select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"),
        snap,
    )
    return evaluation.table_diff(
        new,
        keys=["o_orderkey"],
        compare=["o_orderstatus", "o_totalprice", "o_orderpriority"],
        snapshot_dir=snap,
    )


def _cc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic path graph over customer ids: key -> key-1 except at
    multiples of 5, so components are 5-node chains (diameter 4 — the
    propagation loop actually iterates) at every SF without any giant
    component (the recursive-CTE oracle stays closure-sized-bounded)."""
    cust = _t(spark, sf_dir, "customer")
    return cust.where(F.col("c_custkey") % 5 != 0).select(
        F.col("c_custkey").alias("src"),
        (F.col("c_custkey") - 1).alias("dst"),
    )


def connected_components_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Public connected components (graph.connected_components, the
    min-label kernel behind minhash/simhash clustering) over the 5-node
    customer path graph. Oracle computes the transitive closure with a
    recursive CTE and takes min reachable id per node."""
    return graph.connected_components(_cc_edges(spark, sf_dir), "src", "dst").orderBy(
        "node"
    )


def component_sizes_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-size rollup (graph.component_sizes) of the same path
    graph — every component must come out exactly 5 nodes, proven
    value-wise by the closure oracle's own rollup."""
    return graph.component_sizes(_cc_edges(spark, sf_dir), "src", "dst").orderBy(
        "component"
    )


def mmr_ivf_rerank_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale composition: IVF partial-probe ANN (n_lists=8,
    n_probe=4) supplies the candidates, mmr_rerank(candidates=...)
    diversifies them — the exact-cosine fetch never runs. The oracle
    chains the FULL IVF replay (k-means quantizer training + list
    assignment + probe join) into the unrolled greedy MMR steps, so the
    end-to-end ANN->MMR pipeline is value-proven, not just each stage."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cand = similarity.ivf_topk(emb, qvec, k=20, n_lists=8, n_probe=4, dim=64)
    return similarity.mmr_rerank(
        emb, qvec, k=5, lambda_=0.7, candidates=cand
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering note: the driver's correctness gate samples the FIRST 50
    # entries of this dict. Every registered query has at least one
    # driver-green CORRECTNESS row (union r1-r13; the r10 verdict
    # verified zero never-sampled, zero last-known-fail). Round 14
    # rotation (VERDICT.md r13 items 1 and 8): restore driver coverage
    # of the 12 dedup/CC/describe rows the partial r12-build rotation
    # displaced (exact_dedup, the five minhash_* rows, both simhash
    # rows, dedup_report, connected_components/component_sizes,
    # skewness, get_significant) — these are exactly the queries whose
    # internals round 13 rewrote (CC kernel, simhash/minhash SQL
    # renders, exact_dedup fingerprint) — plus ngram_jaccard_documents
    # (the r13 inverted-index path, never driver-attested). Displaced:
    # the 12 rows CORRECTNESS_r13 newly driver-proved (quantizer/BPE/
    # knn_pandas family) and table_diff_snapshot_orders (driver-green
    # r11+r12+r13, code untouched since r11). The local full gate
    # (scripts/check_correctness.py) always runs ALL entries.
    return {
        "skewness_lineitem": skewness_lineitem,
        "get_significant_documents": get_significant_documents,
        "exact_dedup_documents": exact_dedup_documents,
        "minhash_dedup_transitive_documents": minhash_dedup_transitive_documents,
        "minhash_clusters_documents": minhash_clusters_documents,
        "minhash_dedup_keep_longest_documents": minhash_dedup_keep_longest_documents,
        "simhash_dedup_documents": simhash_dedup_documents,
        "simhash_clusters_documents": simhash_clusters_documents,
        "minhash_dedup_md5_transitive_documents": minhash_dedup_md5_transitive_documents,
        "dedup_report_documents": dedup_report_documents,
        "connected_components_customer": connected_components_customer,
        "component_sizes_customer": component_sizes_customer,
        "ngram_jaccard_documents": ngram_jaccard_documents,
        "knn_graph_embeddings": knn_graph_embeddings,
        "knn_graph_recall_embeddings": knn_graph_recall_embeddings,
        "train_bpe_documents": train_bpe_documents,
        "bpe_encode_documents": bpe_encode_documents,
        "binary_rerank_stored_embeddings": binary_rerank_stored_embeddings,
        "remove_outliers_approx_lineitem": remove_outliers_approx_lineitem,
        "quantize_binary_embeddings": quantize_binary_embeddings,
        "hamming_topk_embeddings": hamming_topk_embeddings,
        "hamming_stored_topk_embeddings": hamming_stored_topk_embeddings,
        "binary_rerank_embeddings": binary_rerank_embeddings,
        "ann_recall_binary_embeddings": ann_recall_binary_embeddings,
        "rank_eval_macro_embeddings": rank_eval_macro_embeddings,
        "association_study_lineitem": association_study_lineitem,
        "association_study_covariates": association_study_covariates,
        "association_study_weighted_orders": association_study_weighted_orders,
        "glm_logistic_orders": glm_logistic_orders,
        "interaction_study_lineitem": interaction_study_lineitem,
        "corrected_pvalues_documents": corrected_pvalues_documents,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_top_revenue_orders": q3_top_revenue_orders,
        "categorize_types_customer": categorize_types_customer,
        "percent_na_events": percent_na_events,
        "freq_table_orders": freq_table_orders,
        "colfilter_min_cat_n_orders": colfilter_min_cat_n_orders,
        "colfilter_percent_zero_lineitem": colfilter_percent_zero_lineitem,
        "colfilter_min_n_events": colfilter_min_n_events,
        "rowfilter_orders": rowfilter_orders,
        "rowfilter_incomplete_obs_events": rowfilter_incomplete_obs_events,
        "recode_values_orders": recode_values_orders,
        "remove_outliers_iqr_lineitem": remove_outliers_iqr_lineitem,
        "remove_outliers_gaussian_lineitem": remove_outliers_gaussian_lineitem,
        "transform_log_lineitem": transform_log_lineitem,
        "clip_outliers_lineitem": clip_outliers_lineitem,
        "join_customer_nation": join_customer_nation,
        "merge_observations_orders": merge_observations_orders,
        "correlations_lineitem": correlations_lineitem,
        # --- end of head-50; rows below run in the local full gate and
        # remain driver-attested from earlier rounds ---
        "pack_token_sequences_documents": pack_token_sequences_documents,
        "knn_graph_pandas_embeddings": knn_graph_pandas_embeddings,
        "cluster_embeddings_pandas_embeddings": cluster_embeddings_pandas_embeddings,
        "train_bpe_driver_documents": train_bpe_driver_documents,
        "bpe_encode_pandas_documents": bpe_encode_pandas_documents,
        "similarity_ivf_embeddings": similarity_ivf_embeddings,
        "similarity_ivf_probe_embeddings": similarity_ivf_probe_embeddings,
        "cluster_embeddings_embeddings": cluster_embeddings_embeddings,
        "semantic_dedup_embeddings": semantic_dedup_embeddings,
        "ivf_pq_topk_embeddings": ivf_pq_topk_embeddings,
        "ivf_pq_residual_topk_embeddings": ivf_pq_residual_topk_embeddings,
        "ivf_recall_embeddings": ivf_recall_embeddings,
        "table_diff_snapshot_orders": table_diff_snapshot_orders,
        "mmr_rerank_embeddings": mmr_rerank_embeddings,
        "mmr_ivf_rerank_embeddings": mmr_ivf_rerank_embeddings,
        "table_diff_orders": table_diff_orders,
        "rank_eval_embeddings": rank_eval_embeddings,
        "q5_local_supplier_volume": q5_local_supplier_volume,
        "fingerprint_documents": fingerprint_documents,
        "text_stats_documents": text_stats_documents,
        "token_counts_by_source": token_counts_by_source,
        "language_id_documents": language_id_documents,
        "quality_score_documents": quality_score_documents,
        "gopher_rules_documents": gopher_rules_documents,
        "fuzzy_join_part_names": fuzzy_join_part_names,
        "idf_hash_embed_documents": idf_hash_embed_documents,
        "theils_u_documents": theils_u_documents,
        "bm25_stored_topk_documents": bm25_stored_topk_documents,
        "hybrid_rrf_topk_documents": hybrid_rrf_topk_documents,
        "winnow_fingerprints_documents": winnow_fingerprints_documents,
        "winnow_fingerprints_xxh_documents": winnow_fingerprints_xxh_documents,
        "winnow_matches_documents": winnow_matches_documents,
        "chunk_documents_documents": chunk_documents_documents,
        "label_centroids_embeddings": label_centroids_embeddings,
        "rolling_fingerprint_documents": rolling_fingerprint_documents,
        "bpe_token_counts_documents": bpe_token_counts_documents,
        "incremental_dedup_documents": incremental_dedup_documents,
        "asof_join_events": asof_join_events,
        "interval_join_events": interval_join_events,
        "top_tokens_documents": top_tokens_documents,
        "user_stats_events": user_stats_events,
        "deterministic_split_documents": deterministic_split_documents,
        "stratified_sample_documents": stratified_sample_documents,
        "pack_sequences_documents": pack_sequences_documents,
        "redact_documents": redact_documents,
        "domain_cap_documents": domain_cap_documents,
        "temperature_mixture_documents": temperature_mixture_documents,
        "tfidf_top_terms_documents": tfidf_top_terms_documents,
        "bigram_logprob_documents": bigram_logprob_documents,
        "quality_classifier_documents": quality_classifier_documents,
        "remove_duplicate_spans_documents": remove_duplicate_spans_documents,
        "source_overlap_documents": source_overlap_documents,
        "token_percentiles_by_source": token_percentiles_by_source,
        "lsh_recall_documents": lsh_recall_documents,
        "ann_recall_embeddings": ann_recall_embeddings,
        "funnel_events": funnel_events,
        "funnel_window_events": funnel_window_events,
        "funnel_times_events": funnel_times_events,
        "funnel_counts_events": funnel_counts_events,
        "retention_events": retention_events,
        "feature_hash_embed_documents": feature_hash_embed_documents,
        "quantize_int8_embeddings": quantize_int8_embeddings,
        "leakage_safe_split_documents": leakage_safe_split_documents,
        "attribution_events": attribution_events,
        "cramers_v_documents": cramers_v_documents,
        "embedding_drift_embeddings": embedding_drift_embeddings,
        "pq_codes_embeddings": pq_codes_embeddings,
        "pq_topk_embeddings": pq_topk_embeddings,
        "ann_recall_pq_embeddings": ann_recall_pq_embeddings,
        "ann_recall_ivf_pq_embeddings": ann_recall_ivf_pq_embeddings,
        "mixture_report_documents": mixture_report_documents,
        "containment_pairs_documents": containment_pairs_documents,
        "mutual_information_documents": mutual_information_documents,
        "incremental_embedding_neardup_embeddings": incremental_embedding_neardup_embeddings,
        "event_anomalies_events": event_anomalies_events,
        "session_stats_events": session_stats_events,
        "bm25_topk_documents": bm25_topk_documents,
        "line_dedup_documents": line_dedup_documents,
        "perplexity_buckets_documents": perplexity_buckets_documents,
        "weighted_sample_documents": weighted_sample_documents,
        "shard_by_tokens_documents": shard_by_tokens_documents,
        "remove_contaminated_spans_documents": remove_contaminated_spans_documents,
        "quality_budget_sample_documents": quality_budget_sample_documents,
        "split_leakage_documents": split_leakage_documents,
        "jaccard_topk_documents": jaccard_topk_documents,
        "epoch_repeat_documents": epoch_repeat_documents,
        "dsir_logweights_documents": dsir_logweights_documents,
        "dsir_sample_documents": dsir_sample_documents,
        "simhash_md5_documents": simhash_md5_documents,
        "simhash_candidates_documents": simhash_candidates_documents,
        "incremental_simhash_documents": incremental_simhash_documents,
        "simhash_documents": simhash_documents,
        "similarity_topk_embeddings": similarity_topk_embeddings,
        "dataset_card_documents": dataset_card_documents,
        "normalize_text_documents": normalize_text_documents,
        "ngram_novelty_documents": ngram_novelty_documents,
        "event_transitions_events": event_transitions_events,
        "corpus_divergence_documents": corpus_divergence_documents,
        "stratified_split_documents": stratified_split_documents,
        "pmi_collocations_documents": pmi_collocations_documents,
        "quantized_topk_embeddings": quantized_topk_embeddings,
        "ann_recall_quantized_embeddings": ann_recall_quantized_embeddings,
        "similarity_truncated_embeddings": similarity_truncated_embeddings,
        "ann_recall_truncated_embeddings": ann_recall_truncated_embeddings,
        "similarity_rp_embeddings": similarity_rp_embeddings,
        "ann_recall_rp_embeddings": ann_recall_rp_embeddings,
        "similarity_lsh_embeddings": similarity_lsh_embeddings,
        "similarity_lsh_multi_embeddings": similarity_lsh_multi_embeddings,
        "ann_recall_multi_embeddings": ann_recall_multi_embeddings,
        "multimodal_features_documents": multimodal_features_documents,
        "multimodal_metadata_documents": multimodal_metadata_documents,
        "multimodal_pixels_documents": multimodal_pixels_documents,
        "multimodal_audio_documents": multimodal_audio_documents,
        "multimodal_video_documents": multimodal_video_documents,
        "windowed_events": windowed_events,
        "sessionized_events": sessionized_events,
        "embedding_neardup_embeddings": embedding_neardup_embeddings,
        "embedding_neardup_lsh_embeddings": embedding_neardup_lsh_embeddings,
        "paragraph_dedup_documents": paragraph_dedup_documents,
        "duplicate_spans_documents": duplicate_spans_documents,
        "zorder_key_lineitem": zorder_key_lineitem,
        "json_props_events": json_props_events,
        "rollup_revenue_lineitem": rollup_revenue_lineitem,
        "pivot_revenue_lineitem": pivot_revenue_lineitem,
        "event_gaps_events": event_gaps_events,
        "quantiles_lineitem": quantiles_lineitem,
        "contamination_documents": contamination_documents,
        "fuzzy_contamination_documents": fuzzy_contamination_documents,
        "repetition_stats_documents": repetition_stats_documents,
        "clean_corpus_documents": clean_corpus_documents,
        "unigram_logprob_documents": unigram_logprob_documents,
        "corpus_stats_documents": corpus_stats_documents,
        "deterministic_shuffle_documents": deterministic_shuffle_documents,
        "token_budget_sample_documents": token_budget_sample_documents,
        "minhash_dedup_documents": minhash_dedup_documents,
        "minhash_dedup_md5_documents": minhash_dedup_md5_documents,
    }


_EN = "'the','a','of','and','to','in','is','that','it','for'"
_ES = "'el','la','de','que','y','en','un','una','los','las'"
_DE = "'der','die','das','und','ist','nicht','ein','eine','zu','mit'"
_FR = "'le','la','les','de','et','un','une','est','que','pour'"

_TOKENS = "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '')"

# redaction pattern table (operators/text.py:PII_PATTERNS) — single-quote
# safe by construction (character classes only)
from clarite_python_spark.operators.text import PII_PATTERNS as _PII  # noqa: E402
from clarite_python_spark.operators.text import BPE_ISH_PATTERN as _BPE  # noqa: E402

_BPE_SQL = _BPE.replace("'", "''")  # SQL single-quote escape


def _winnow_fps_cte() -> str:
    """Shared CTE chain for the winnowing twins (k=3, window=4, md5
    family): lowercased tokens -> 60-bit k-gram hashes -> sliding-window
    minima -> distinct fingerprints as table ``fps``."""
    return f"""toks AS (
              SELECT doc_id, list_transform({_TOKENS}, x -> lower(x)) AS t
              FROM documents
            ), grams AS (
              SELECT doc_id,
                     CASE WHEN len(t) >= 3 THEN
                       list_transform(range(1, len(t) - 1),
                         i -> CAST(list_sum(list_transform(range(1, 16),
                                k -> (CAST(strpos('0123456789abcdef',
                                       substr(md5(array_to_string(t[i:i+2], ' ')), k, 1)) AS BIGINT) - 1)
                                     << ((15 - k) * 4))) AS BIGINT))
                     END AS g
              FROM toks
            ), mins AS (
              SELECT doc_id,
                     CASE WHEN len(g) >= 4 THEN
                            list_transform(range(1, len(g) - 2), i -> list_min(g[i:i+3]))
                          WHEN len(g) >= 1 THEN [list_min(g)]
                     END AS m
              FROM grams
            ), fps AS (
              SELECT doc_id, unnest(list_distinct(m)) AS fingerprint
              FROM mins WHERE m IS NOT NULL
            )"""


def _winnow_xxh_oracle() -> str:
    """xxhash64-family winnowing twin: SQL XXH64 per DISTINCT lowercased
    3-gram, joined back by position, then the same sliding-minimum and
    distinct stages as the md5 chain (signed mins — Spark's array_min
    over longs)."""
    from clarite_python_spark.functions import xxhsql

    ctes: list[tuple[str, str]] = [
        (
            "toks",
            f"SELECT doc_id, list_transform({_TOKENS}, x -> lower(x)) AS t FROM documents",
        ),
        (
            "ex",
            """SELECT doc_id, i::INT AS pos, array_to_string(t[i::INT : i::INT + 2], ' ') AS gram
          FROM toks, unnest(range(1, len(t) - 1)) u(i) WHERE len(t) >= 3""",
        ),
        ("dg", "SELECT DISTINCT gram FROM ex"),
    ]
    h_ctes, h_fin = xxhsql.string_hash_ctes(
        "wx", "SELECT gram FROM dg", "gram", ["gram"], max_len=32, out_col="h"
    )
    ctes += h_ctes
    ctes += [
        ("hg", f"SELECT doc_id, pos, h FROM ex JOIN {h_fin} USING (gram)"),
        ("glist", "SELECT doc_id, list(h ORDER BY pos) AS g FROM hg GROUP BY doc_id"),
        (
            "mins",
            """SELECT doc_id,
                 CASE WHEN len(g) >= 4 THEN
                        list_transform(range(1, len(g) - 2), i -> list_min(g[i:i+3]))
                      WHEN len(g) >= 1 THEN [list_min(g)]
                 END AS m
          FROM glist""",
        ),
        (
            "fps",
            "SELECT doc_id, unnest(list_distinct(m)) AS fingerprint FROM mins WHERE m IS NOT NULL",
        ),
    ]
    body = ",\n".join(f"{n} AS MATERIALIZED ({q})" for n, q in ctes)
    return (
        "WITH " + body + "\nSELECT doc_id, fingerprint FROM fps ORDER BY doc_id, fingerprint"
    )


def _md5_key(id_expr: str, salt: str) -> str:
    """DuckDB twin of functions.hashing.md5_60bit over ``id:salt`` (the
    full 60-bit key, no modulus). CAST AS BIGINT: DuckDB's list_sum
    promotes to HUGEINT, which the driver's type-sensitive hasher would
    flag against Spark's long (CORRECTNESS_r05 root cause)."""
    return (
        f"CAST(list_sum(list_transform(range(1, 16), "
        f"k -> (CAST(strpos('0123456789abcdef', "
        f"substr(md5({id_expr} || ':{salt}'), k, 1)) AS BIGINT) - 1) "
        f"<< ((15 - k) * 4))) AS BIGINT)"
    )


def _md5_bucket(id_expr: str, salt: str, buckets: int = 10000) -> str:
    """DuckDB twin of pipeline.hash_bucket: 60-bit value of the first 15
    md5 hex chars of ``id:salt``, mod buckets — same shift-parse idiom as
    the md5 MinHash oracle."""
    return (
        f"(CAST(list_sum(list_transform(range(1, 16), "
        f"k -> (CAST(strpos('0123456789abcdef', "
        f"substr(md5({id_expr} || ':{salt}'), k, 1)) AS BIGINT) - 1) "
        f"<< ((15 - k) * 4))) AS BIGINT) % {buckets})"
    )


def _lang_score(words: str) -> str:
    return (
        f"list_sum(list_transform({_TOKENS}, x -> CASE WHEN x IN ({words}) THEN 1 ELSE 0 END))"
        f" * 1.0 / greatest(len({_TOKENS}), 1)"
    )


def _lsh_bucket_sql(vec_expr: str, planes) -> str:
    """Signed-random-projection bucket id as DuckDB SQL over literal
    hyperplanes — bit b = sign(list_dot_product(vec, plane_b)), matching
    operators/similarity.py:_bucket exactly (same seeded planes, same
    double-precision dot)."""
    bits = [
        "(CASE WHEN list_dot_product({v}, [{lits}]) >= 0 THEN {bit} ELSE 0 END)".format(
            v=vec_expr,
            lits=",".join(repr(float(x)) for x in plane),
            bit=1 << b,
        )
        for b, plane in enumerate(planes)
    ]
    return "(" + " + ".join(bits) + ")"


def _similarity_lsh_oracle() -> str:
    """DuckDB twin of lsh_topk(k=10, n_planes=6, seed=42): same bucket
    assignment via inlined plane literals, equi-join on bucket, exact
    cosine ranking inside the bucket."""
    from clarite_python_spark.operators.similarity import _hyperplanes

    bucket = _lsh_bucket_sql("embedding::DOUBLE[]", _hyperplanes(64, 6, 42))
    return f"""
        WITH e2 AS (
          SELECT vec_id, embedding::DOUBLE[] AS v, {bucket} AS bucket FROM embeddings
        ), q AS (
          SELECT vec_id AS query_id, v AS qvec, bucket FROM e2 WHERE vec_id < 5
        ), scored AS (
          SELECT q.query_id, e2.vec_id,
                 list_dot_product(e2.v, q.qvec)
                   / (sqrt(list_dot_product(e2.v, e2.v))
                      * sqrt(list_dot_product(q.qvec, q.qvec))) AS cosine
          FROM e2 JOIN q ON e2.bucket = q.bucket
        ), ranked AS (
          SELECT query_id, vec_id, cosine,
                 CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
          FROM scored
        )
        SELECT query_id, vec_id, rank, round(cosine, 6) AS cosine
        FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
    """


def _ivf_recall_oracle() -> str:
    """DuckDB twin of ann_recall(method='ivf', k=10, n_queries=20,
    n_lists=8, n_probe=4): shared k-means training CTEs, corpus list
    assignment, md5-keyed query sampling, exact + probed top-10, and
    the intersection counts."""
    ctes = _kmeans_ctes(n_rows=_oracle_embed_rows())
    key = _md5_key("vec_id", "annrecall")
    final = f"""
        corp AS MATERIALIZED (
          SELECT e.vec_id, e.embedding::DOUBLE[] AS raw,
                 (SELECT c.j FROM c10 c
                  ORDER BY list_dot_product(e.embedding::DOUBLE[], c.v)
                           / sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) DESC,
                           c.j ASC LIMIT 1) AS lst
          FROM embeddings e),
        q AS MATERIALIZED (
          SELECT e.vec_id AS query_id, e.embedding::DOUBLE[] AS qvec
          FROM embeddings e JOIN (SELECT vec_id, {key} AS kq FROM embeddings) kk
            ON kk.vec_id = e.vec_id
          ORDER BY kk.kq, e.vec_id LIMIT 20),
        exact AS (
          SELECT query_id, vec_id FROM (
            SELECT q.query_id, co.vec_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                     list_dot_product(co.raw, q.qvec)
                       / (sqrt(list_dot_product(co.raw, co.raw))
                          * sqrt(list_dot_product(q.qvec, q.qvec))) DESC,
                     co.vec_id ASC) AS rnk
            FROM corp co CROSS JOIN q
          ) WHERE rnk <= 10),
        probes AS MATERIALIZED (
          SELECT q.query_id, q.qvec, c.j AS lst,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY list_dot_product(q.qvec, c.v)
                            / sqrt(list_dot_product(q.qvec, q.qvec)) DESC,
                            c.j DESC) AS pr
          FROM q, c10 c),
        approx AS (
          SELECT query_id, vec_id FROM (
            SELECT p.query_id, co.vec_id,
                   row_number() OVER (PARTITION BY p.query_id ORDER BY
                     list_dot_product(co.raw, p.qvec)
                       / (sqrt(list_dot_product(co.raw, co.raw))
                          * sqrt(list_dot_product(p.qvec, p.qvec))) DESC,
                     co.vec_id ASC) AS rnk
            FROM (SELECT * FROM probes WHERE pr <= 4) p
            JOIN corp co ON co.lst = p.lst
          ) WHERE rnk <= 10),
        hits AS (
          SELECT exact.query_id, exact.vec_id FROM exact
          JOIN approx ON approx.query_id = exact.query_id
                     AND approx.vec_id = exact.vec_id)
        SELECT (SELECT count(*) FROM q) AS n_queries,
               CAST(10 AS INT) AS k,
               (SELECT count(*) FROM exact) AS n_exact,
               (SELECT count(*) FROM approx) AS n_approx,
               (SELECT count(*) FROM hits) AS n_hits,
               CASE WHEN (SELECT count(*) FROM exact) > 0
                    THEN round((SELECT count(*) FROM hits) * 1.0
                               / (SELECT count(*) FROM exact), 6) END AS recall
    """
    return "WITH " + ",\n".join(ctes) + ",\n" + final


def _knn_graph_corp_cte() -> str:
    """Shared corpus CTE for the knn_graph oracles (chains after
    _kmeans_ctes' c10): every vector with its raw doubles, norm, and
    first-argmax cell — the same assignment idiom as _ivf_probe_oracle."""
    return """
        corp AS MATERIALIZED (
          SELECT e.vec_id, e.embedding::DOUBLE[] AS raw,
                 sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) AS nrm,
                 (SELECT c.j FROM c10 c
                  ORDER BY list_dot_product(e.embedding::DOUBLE[], c.v)
                           / sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) DESC,
                           c.j ASC LIMIT 1) AS lst
          FROM embeddings e)"""


def _knn_graph_oracle(k: int = 5, n_probe: int = 2) -> str:
    """DuckDB twin of knn_graph_embeddings: k-means training replay,
    argmax cell assignment, per-vector top-n_probe probes (ties: higher
    cell id first, the reverse(array_sort(struct(d,i))) convention),
    same-cell pair scoring with self excluded, global per-vector top-k.
    The engine's per-cell pre-rank (stage 1) keeps a superset of the
    global top-k, so the oracle only needs the global rank."""
    ctes = _kmeans_ctes(n_rows=_oracle_embed_rows())
    final = f"""
        {_knn_graph_corp_cte().strip()},
        probes AS MATERIALIZED (
          SELECT q.vec_id, q.raw AS qvec, q.nrm AS qnrm, c.j AS lst,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.raw, c.v) / q.nrm DESC,
                            c.j DESC) AS pr
          FROM corp q, c10 c),
        scored AS (
          SELECT p.vec_id, co.vec_id AS neighbor_id,
                 list_dot_product(co.raw, p.qvec) / (co.nrm * p.qnrm) AS cosine
          FROM (SELECT * FROM probes WHERE pr <= {n_probe}) p
          JOIN corp co ON co.lst = p.lst AND co.vec_id <> p.vec_id),
        ranked AS (
          SELECT vec_id, neighbor_id, cosine,
                 CAST(row_number() OVER (PARTITION BY vec_id
                   ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
          FROM scored)
        SELECT vec_id, neighbor_id, rank, round(cosine, 6) AS cosine
        FROM ranked WHERE rank <= {k} ORDER BY vec_id, rank
    """
    return "WITH " + ",\n".join(ctes) + ",\n" + final


def _knn_graph_recall_oracle(k: int = 10, n_queries: int = 20, n_probe: int = 4) -> str:
    """DuckDB twin of knn_graph_recall_embeddings: the knn_graph replay
    (probe budget n_probe) filtered to the md5-sampled query ids vs the
    exact self-excluded brute-force top-k, intersect-counted."""
    ctes = _kmeans_ctes(n_rows=_oracle_embed_rows())
    key = _md5_key("CAST(vec_id AS VARCHAR)", "annrecall")
    final = f"""
        {_knn_graph_corp_cte().strip()},
        q AS MATERIALIZED (
          SELECT vec_id AS query_id FROM
            (SELECT vec_id, {key} AS kq FROM embeddings)
          ORDER BY kq, vec_id LIMIT {n_queries}),
        exact AS (
          SELECT query_id, vec_id FROM (
            SELECT q.query_id, co.vec_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                     list_dot_product(co.raw, qq.raw) / (co.nrm * qq.nrm) DESC,
                     co.vec_id ASC) AS rnk
            FROM q JOIN corp qq ON qq.vec_id = q.query_id
            JOIN corp co ON co.vec_id <> q.query_id
          ) WHERE rnk <= {k}),
        probes AS MATERIALIZED (
          SELECT g.vec_id, g.raw AS qvec, g.nrm AS qnrm, c.j AS lst,
                 row_number() OVER (PARTITION BY g.vec_id
                   ORDER BY list_dot_product(g.raw, c.v) / g.nrm DESC,
                            c.j DESC) AS pr
          FROM corp g, c10 c),
        approx AS (
          SELECT vec_id AS query_id, neighbor_id AS vec_id FROM (
            SELECT p.vec_id, co.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY p.vec_id ORDER BY
                     list_dot_product(co.raw, p.qvec) / (co.nrm * p.qnrm) DESC,
                     co.vec_id ASC) AS rnk
            FROM (SELECT * FROM probes WHERE pr <= {n_probe}) p
            JOIN corp co ON co.lst = p.lst AND co.vec_id <> p.vec_id
          ) v WHERE rnk <= {k} AND vec_id IN (SELECT query_id FROM q)),
        hits AS (
          SELECT exact.query_id, exact.vec_id FROM exact
          JOIN approx ON approx.query_id = exact.query_id
                     AND approx.vec_id = exact.vec_id)
        SELECT (SELECT count(*) FROM q) AS n_queries,
               CAST({k} AS INT) AS k,
               (SELECT count(*) FROM exact) AS n_exact,
               (SELECT count(*) FROM approx) AS n_approx,
               (SELECT count(*) FROM hits) AS n_hits,
               CASE WHEN (SELECT count(*) FROM exact) > 0
                    THEN round((SELECT count(*) FROM hits) * 1.0
                               / (SELECT count(*) FROM exact), 6) END AS recall
    """
    return "WITH " + ",\n".join(ctes) + ",\n" + final


def _train_bpe_oracle(n_merges: int = 12, emit: str = "merges") -> str:
    """DuckDB twin of train_bpe(n_merges) on documents: the base
    word-count table (lowercased whitespace tokens split into chars),
    then ``n_merges`` chained CTE rounds each replaying one BPE step —
    adjacent-pair count (lead() over zipped unnest), top-1 by
    (count DESC, lhs, rhs), and the greedy left-to-right merge
    application expressed relationally: candidate positions grouped
    into consecutive runs (runs longer than 1 only occur when lhs==rhs)
    keep odd run offsets, kept positions fuse with their successor,
    successor positions are consumed — verified equivalent to the
    engine's aggregate-fold on the aaa/aaaa/abab overlap cases. The
    gate corpus never triggers the engine's min_pair_count early stop
    at these params (every merge count >> 2), so the fixed-round replay
    is exact. MATERIALIZED is load-bearing, as in the IRLS/k-means
    chains."""
    toks = (
        "list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), "
        "x -> x != '')"
    )
    ctes = [
        f"""w0 AS MATERIALIZED (
          SELECT word, string_split(word, '') AS syms, cnt FROM (
            SELECT w AS word, count(*) AS cnt FROM (
              SELECT unnest({toks}) AS w FROM documents) GROUP BY w))"""
    ]
    sel = []
    for r in range(1, n_merges + 1):
        ctes.append(f"""pos{r} AS MATERIALIZED (
          SELECT word, cnt, i, s,
                 lead(s) OVER (PARTITION BY word ORDER BY i) AS nxt
          FROM (SELECT word, cnt, unnest(range(len(syms))) AS i,
                       unnest(syms) AS s FROM w{r - 1}))""")
        ctes.append(f"""b{r} AS MATERIALIZED (
          SELECT s AS s1, nxt AS s2, sum(cnt) AS c FROM pos{r}
          WHERE nxt IS NOT NULL GROUP BY s, nxt
          ORDER BY c DESC, s1, s2 LIMIT 1)""")
        sel.append(
            f"SELECT CAST({r} AS INT) AS rank, s1 AS lhs, s2 AS rhs, "
            f"CAST(c AS BIGINT) AS freq FROM b{r}"
        )
        if r == n_merges and emit == "merges":
            break
        ctes.append(f"""keep{r} AS MATERIALIZED (
          SELECT word, i FROM (
            SELECT word, i,
                   row_number() OVER (PARTITION BY word, grp ORDER BY i) AS rr
            FROM (
              SELECT p.word, p.i,
                     p.i - row_number() OVER (PARTITION BY p.word
                                              ORDER BY p.i) AS grp
              FROM pos{r} p, b{r}
              WHERE p.s = b{r}.s1 AND p.nxt = b{r}.s2))
          WHERE rr % 2 = 1)""")
        ctes.append(f"""w{r} AS MATERIALIZED (
          SELECT word, cnt, list(tok ORDER BY i) AS syms FROM (
            SELECT p.word, p.cnt, p.i,
                   CASE WHEN k1.i IS NOT NULL THEN p.s || p.nxt
                        WHEN k2.i IS NOT NULL THEN NULL
                        ELSE p.s END AS tok
            FROM pos{r} p
            LEFT JOIN keep{r} k1 ON k1.word = p.word AND k1.i = p.i
            LEFT JOIN keep{r} k2 ON k2.word = p.word AND k2.i = p.i - 1)
          WHERE tok IS NOT NULL GROUP BY word, cnt)""")
    if emit == "encode":
        # replay complete: w{n_merges} is the fully merged vocab; join
        # each doc's positional words against it and reassemble
        toks_final = f"""
        docw AS MATERIALIZED (
          SELECT doc_id, i AS pos, w FROM (
            SELECT doc_id, unnest(range(len(ws))) AS i, unnest(ws) AS w
            FROM (SELECT doc_id, {toks} AS ws FROM documents))),
        enc AS (
          SELECT d.doc_id, d.pos, v.syms
          FROM docw d JOIN w{n_merges} v ON v.word = d.w),
        agg AS (
          SELECT doc_id, flatten(list(syms ORDER BY pos)) AS tokens
          FROM enc GROUP BY doc_id)
        SELECT d.doc_id,
               COALESCE(array_to_string(a.tokens, ' '), '') AS toks,
               CAST(COALESCE(len(a.tokens), 0) AS INT) AS n_tokens
        FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id"""
        return "WITH " + ",\n".join(ctes) + "," + toks_final
    body = " UNION ALL ".join(sel)
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT * FROM ({body}) ORDER BY rank"
    )


def _epoch_repeat_oracle() -> str:
    """DuckDB twin of epoch_repeat(2.5, salt='ep'): 2 copies + an extra
    when the 10k-quantized md5 bucket falls under frac(2.5)*10000."""
    b = _md5_bucket("CAST(doc_id AS VARCHAR)", "ep")
    return f"""
        SELECT doc_id, source, CAST(e AS INT) AS epoch
        FROM (SELECT doc_id, source, {b} AS bkt FROM documents) d,
             unnest(range(2 + CASE WHEN bkt < 5000 THEN 1 ELSE 0 END)) u(e)
    """


def _dsir_logweights_oracle() -> str:
    """DuckDB twin of dsir_logweights(n_buckets=64, alpha=1, salt='dsir',
    target = src0): lowercased unigram+bigram grams, md5 bucket per
    DISTINCT gram, add-1-smoothed 64-bucket multinomials for target and
    corpus, per-doc sum of bucket log-ratios (round 6; docs with no
    grams get weight 0 like Spark's empty-array aggregate)."""
    key = _md5_key("gram", "dsir")
    return f"""
        WITH toks AS (
          SELECT doc_id, source, list_transform({_TOKENS}, x -> lower(x)) AS t
          FROM documents
        ), g AS (
          SELECT doc_id, source, unnest(list_concat(
            t,
            CASE WHEN len(t) >= 2
                 THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
                 ELSE [] END)) AS gram
          FROM toks
        ), dg AS (SELECT DISTINCT gram FROM g),
        gb AS (SELECT gram, ({key}) % 64 AS b FROM dg),
        gg AS (SELECT doc_id, source, b FROM g JOIN gb USING (gram)),
        raw AS (SELECT b, count(*) AS c FROM gg GROUP BY b),
        tgt AS (SELECT b, count(*) AS c FROM gg WHERE source = 'src0' GROUP BY b),
        tot AS (
          SELECT (SELECT sum(c) FROM raw) AS nr, (SELECT sum(c) FROM tgt) AS nt
        ),
        ratio AS (
          SELECT r.b,
                 ln((COALESCE(t.c, 0) + 1.0) / (tot.nt + 64.0))
                   - ln((r.c + 1.0) / (tot.nr + 64.0)) AS lr
          FROM raw r LEFT JOIN tgt t USING (b), tot
        ),
        w AS (
          SELECT doc_id, CAST(count(*) AS INT) AS n_grams,
                 round(sum(lr), 6) AS log_weight
          FROM gg JOIN ratio USING (b) GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(w.n_grams, 0) AS n_grams,
               COALESCE(w.log_weight, 0.0) AS log_weight
        FROM documents d LEFT JOIN w USING (doc_id)
    """


def _dsir_sample_oracle() -> str:
    """DuckDB twin of dsir_sample(n=50, n_buckets=64, salt='dsir'):
    the log-weight twin + deterministic Gumbel noise from the id's md5
    key, ordered by the ROUNDED score (ties by id) — the same rounded
    comparison Spark sorts on, so the chosen set is engine-exact."""
    key = _md5_key("CAST(doc_id AS VARCHAR)", "dsir:g")
    return f"""
        WITH base AS ({_dsir_logweights_oracle()})
        SELECT doc_id, n_grams, log_weight,
               round(log_weight + (-ln(-ln((({key}) + 1.0) / 1152921504606846976.0))), 6) AS score
        FROM base ORDER BY score DESC, doc_id ASC LIMIT 50
    """


def _multi_band_cols_sql() -> tuple[str, str]:
    """(select-list fragment, OR-join fragment) for the 8x4-plane
    OR-amplified LSH twins: band b's bucket uses the seed-(42+b) plane
    set, matching operators/similarity.py:lsh_topk_multi exactly."""
    from clarite_python_spark.operators.similarity import _hyperplanes

    buckets = [
        _lsh_bucket_sql("embedding::DOUBLE[]", _hyperplanes(64, 4, 42 + b))
        for b in range(8)
    ]
    sel = ", ".join(f"{bq} AS b{b}" for b, bq in enumerate(buckets))
    orj = " OR ".join(f"e2.b{b} = q.b{b}" for b in range(8))
    return sel, orj


def _similarity_lsh_multi_oracle() -> str:
    """DuckDB twin of lsh_topk_multi(k=10, n_planes=4, n_bands=8,
    seed=42): 8 independent inlined plane sets, candidate iff ANY band
    bucket matches (a single OR-join emits each pair once), exact
    cosine re-rank."""
    sel, orj = _multi_band_cols_sql()
    return f"""
        WITH e2 AS (
          SELECT vec_id, embedding::DOUBLE[] AS v, {sel} FROM embeddings
        ), q AS (
          SELECT vec_id AS query_id, v AS qvec,
                 {", ".join(f"b{b}" for b in range(8))}
          FROM e2 WHERE vec_id < 5
        ), scored AS (
          SELECT q.query_id, e2.vec_id,
                 list_dot_product(e2.v, q.qvec)
                   / (sqrt(list_dot_product(e2.v, e2.v))
                      * sqrt(list_dot_product(q.qvec, q.qvec))) AS cosine
          FROM e2 JOIN q ON {orj}
        ), ranked AS (
          SELECT query_id, vec_id, cosine,
                 CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
          FROM scored
        )
        SELECT query_id, vec_id, rank, round(cosine, 6) AS cosine
        FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
    """


def _ann_recall_multi_oracle() -> str:
    """DuckDB twin of ann_recall(method='lsh_multi', k=10, n_queries=20,
    n_planes=4, n_bands=8): md5-keyed query sampling, brute-force exact
    top-10, OR-amplified banded top-10, intersection counts."""
    sel, orj = _multi_band_cols_sql()
    key = _md5_key("vec_id", "annrecall")
    return f"""
        WITH e2 AS (
          SELECT vec_id, embedding::DOUBLE[] AS v, {sel} FROM embeddings
        ), q AS (
          SELECT e2.*, e2.vec_id AS query_id, e2.v AS qvec
          FROM e2 JOIN (SELECT vec_id, {key} AS kq FROM embeddings) kk
            ON kk.vec_id = e2.vec_id
          ORDER BY kk.kq, e2.vec_id LIMIT 20
        ), exact AS (
          SELECT query_id, vec_id FROM (
            SELECT q.query_id, e2.vec_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                     list_dot_product(e2.v, q.qvec)
                       / (sqrt(list_dot_product(e2.v, e2.v))
                          * sqrt(list_dot_product(q.qvec, q.qvec))) DESC,
                     e2.vec_id ASC) AS rnk
            FROM e2 CROSS JOIN q
          ) WHERE rnk <= 10
        ), approx AS (
          SELECT query_id, vec_id FROM (
            SELECT q.query_id, e2.vec_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                     list_dot_product(e2.v, q.qvec)
                       / (sqrt(list_dot_product(e2.v, e2.v))
                          * sqrt(list_dot_product(q.qvec, q.qvec))) DESC,
                     e2.vec_id ASC) AS rnk
            FROM e2 JOIN q ON {orj}
          ) WHERE rnk <= 10
        ), hits AS (
          SELECT exact.query_id, exact.vec_id FROM exact
          JOIN approx ON approx.query_id = exact.query_id
                     AND approx.vec_id = exact.vec_id
        )
        SELECT (SELECT count(*) FROM q) AS n_queries,
               CAST(10 AS INT) AS k,
               (SELECT count(*) FROM exact) AS n_exact,
               (SELECT count(*) FROM approx) AS n_approx,
               (SELECT count(*) FROM hits) AS n_hits,
               CASE WHEN (SELECT count(*) FROM exact) > 0
                    THEN round((SELECT count(*) FROM hits) * 1.0
                               / (SELECT count(*) FROM exact), 6) END AS recall
    """


def _quant_cte() -> str:
    """DuckDB twin of similarity.quantize_embeddings(bits=8): per-vector
    symmetric int8 quantization — scale = max|v|/127 (1.0 for all-zero),
    q = clamp(floor(v/scale + 0.5), -127, 127). floor(x+0.5) matches the
    Spark side exactly (no banker's-rounding ties). Yields CTE ``qz``
    with (vec_id, v DOUBLE[], qv DOUBLE[] of integral values, scale)."""
    return """
        base AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS amax
          FROM embeddings
        ), qz AS (
          SELECT vec_id, v,
                 list_transform(v, x -> least(greatest(floor(x / scale + 0.5), -127.0), 127.0)) AS qv,
                 scale
          FROM (SELECT vec_id, v,
                       CASE WHEN amax > 0 THEN amax / 127.0 ELSE 1.0 END AS scale
                FROM base)
        )
    """


def _ann_recall_quantized_oracle() -> str:
    """DuckDB twin of ann_recall(k=10, n_queries=20, method='quantized'):
    md5-keyed query sampling, float brute-force exact top-10, int8
    requantized top-10, intersection counts."""
    key = _md5_key("vec_id", "annrecall")
    return f"""
        WITH {_quant_cte()}, q AS (
          SELECT qz.vec_id AS query_id, qz.v AS qvec, qz.qv AS qqv
          FROM qz JOIN (SELECT vec_id, {key} AS kq FROM embeddings) kk
            ON kk.vec_id = qz.vec_id
          ORDER BY kk.kq, qz.vec_id LIMIT 20
        ), exact AS (
          SELECT query_id, vec_id FROM (
            SELECT q.query_id, qz.vec_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                     list_dot_product(qz.v, q.qvec)
                       / (sqrt(list_dot_product(qz.v, qz.v))
                          * sqrt(list_dot_product(q.qvec, q.qvec))) DESC,
                     qz.vec_id ASC) AS rnk
            FROM qz CROSS JOIN q
          ) WHERE rnk <= 10
        ), approx AS (
          SELECT query_id, vec_id FROM (
            SELECT q.query_id, qz.vec_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                     list_dot_product(qz.qv, q.qqv)
                       / (sqrt(list_dot_product(qz.qv, qz.qv))
                          * sqrt(list_dot_product(q.qqv, q.qqv))) DESC,
                     qz.vec_id ASC) AS rnk
            FROM qz CROSS JOIN q
          ) WHERE rnk <= 10
        ), hits AS (
          SELECT exact.query_id, exact.vec_id FROM exact
          JOIN approx ON approx.query_id = exact.query_id
                     AND approx.vec_id = exact.vec_id
        )
        SELECT (SELECT count(*) FROM q) AS n_queries,
               CAST(10 AS INT) AS k,
               (SELECT count(*) FROM exact) AS n_exact,
               (SELECT count(*) FROM approx) AS n_approx,
               (SELECT count(*) FROM hits) AS n_hits,
               CASE WHEN (SELECT count(*) FROM exact) > 0
                    THEN round((SELECT count(*) FROM hits) * 1.0
                               / (SELECT count(*) FROM exact), 6) END AS recall
    """


def _ann_recall_truncated_oracle() -> str:
    """DuckDB twin of ann_recall(k=10, n_queries=20, method='truncated',
    dim=16): md5-keyed query sampling, full-dim exact top-10, 16-dim
    truncated top-10, intersection counts."""
    key = _md5_key("vec_id", "annrecall")
    return f"""
        WITH e2 AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 (embedding::DOUBLE[])[1:16] AS tv
          FROM embeddings
        ), q AS (
          SELECT e2.vec_id AS query_id, e2.v AS qvec, e2.tv AS qtv
          FROM e2 JOIN (SELECT vec_id, {key} AS kq FROM embeddings) kk
            ON kk.vec_id = e2.vec_id
          ORDER BY kk.kq, e2.vec_id LIMIT 20
        ), exact AS (
          SELECT query_id, vec_id FROM (
            SELECT q.query_id, e2.vec_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                     list_dot_product(e2.v, q.qvec)
                       / (sqrt(list_dot_product(e2.v, e2.v))
                          * sqrt(list_dot_product(q.qvec, q.qvec))) DESC,
                     e2.vec_id ASC) AS rnk
            FROM e2 CROSS JOIN q
          ) WHERE rnk <= 10
        ), approx AS (
          SELECT query_id, vec_id FROM (
            SELECT q.query_id, e2.vec_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                     list_dot_product(e2.tv, q.qtv)
                       / (sqrt(list_dot_product(e2.tv, e2.tv))
                          * sqrt(list_dot_product(q.qtv, q.qtv))) DESC,
                     e2.vec_id ASC) AS rnk
            FROM e2 CROSS JOIN q
          ) WHERE rnk <= 10
        ), hits AS (
          SELECT exact.query_id, exact.vec_id FROM exact
          JOIN approx ON approx.query_id = exact.query_id
                     AND approx.vec_id = exact.vec_id
        )
        SELECT (SELECT count(*) FROM q) AS n_queries,
               CAST(10 AS INT) AS k,
               (SELECT count(*) FROM exact) AS n_exact,
               (SELECT count(*) FROM approx) AS n_approx,
               (SELECT count(*) FROM hits) AS n_hits,
               CASE WHEN (SELECT count(*) FROM exact) > 0
                    THEN round((SELECT count(*) FROM hits) * 1.0
                               / (SELECT count(*) FROM exact), 6) END AS recall
    """


def _rp_proj_sql(vec_expr: str) -> str:
    """The rp_topk(out_dim=16, seed=42) projection as a SQL literal:
    16 list_dot_products against the same seeded-numpy plane rows the
    engine inlines (repr round-trips doubles exactly in both engines)."""
    from clarite_python_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 16, 42)
    rows = ", ".join(
        f"list_dot_product({vec_expr}, [{', '.join(repr(float(x)) for x in p)}])"
        for p in planes
    )
    return f"[{rows}]"


def _similarity_rp_oracle() -> str:
    """DuckDB twin of rp_topk(k=10, out_dim=16, seed=42): project both
    sides with the literal JL matrix, exact cosine ranking."""
    return f"""
        WITH e2 AS (
          SELECT vec_id, {_rp_proj_sql("embedding::DOUBLE[]")} AS pv FROM embeddings
        ), q AS (
          SELECT vec_id AS query_id, pv AS qpv FROM e2 WHERE vec_id < 5
        ), scored AS (
          SELECT q.query_id, e2.vec_id,
                 list_dot_product(e2.pv, q.qpv)
                   / (sqrt(list_dot_product(e2.pv, e2.pv))
                      * sqrt(list_dot_product(q.qpv, q.qpv))) AS cosine_p
          FROM e2 CROSS JOIN q
        ), ranked AS (
          SELECT query_id, vec_id, cosine_p,
                 CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine_p DESC, vec_id ASC) AS INT) AS rank
          FROM scored
        )
        SELECT query_id, vec_id, rank, round(cosine_p, 6) AS cosine_p
        FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
    """


def _ann_recall_rp_oracle() -> str:
    """DuckDB twin of ann_recall(k=10, n_queries=20, method='rp',
    out_dim=16): md5-keyed query sampling, full-dim exact top-10,
    JL-projected top-10, intersection counts."""
    key = _md5_key("vec_id", "annrecall")
    return f"""
        WITH e2 AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 {_rp_proj_sql("embedding::DOUBLE[]")} AS pv
          FROM embeddings
        ), q AS (
          SELECT e2.vec_id AS query_id, e2.v AS qvec, e2.pv AS qpv
          FROM e2 JOIN (SELECT vec_id, {key} AS kq FROM embeddings) kk
            ON kk.vec_id = e2.vec_id
          ORDER BY kk.kq, e2.vec_id LIMIT 20
        ), exact AS (
          SELECT query_id, vec_id FROM (
            SELECT q.query_id, e2.vec_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                     list_dot_product(e2.v, q.qvec)
                       / (sqrt(list_dot_product(e2.v, e2.v))
                          * sqrt(list_dot_product(q.qvec, q.qvec))) DESC,
                     e2.vec_id ASC) AS rnk
            FROM e2 CROSS JOIN q
          ) WHERE rnk <= 10
        ), approx AS (
          SELECT query_id, vec_id FROM (
            SELECT q.query_id, e2.vec_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                     list_dot_product(e2.pv, q.qpv)
                       / (sqrt(list_dot_product(e2.pv, e2.pv))
                          * sqrt(list_dot_product(q.qpv, q.qpv))) DESC,
                     e2.vec_id ASC) AS rnk
            FROM e2 CROSS JOIN q
          ) WHERE rnk <= 10
        ), hits AS (
          SELECT exact.query_id, exact.vec_id FROM exact
          JOIN approx ON approx.query_id = exact.query_id
                     AND approx.vec_id = exact.vec_id
        )
        SELECT (SELECT count(*) FROM q) AS n_queries,
               CAST(10 AS INT) AS k,
               (SELECT count(*) FROM exact) AS n_exact,
               (SELECT count(*) FROM approx) AS n_approx,
               (SELECT count(*) FROM hits) AS n_hits,
               CASE WHEN (SELECT count(*) FROM exact) > 0
                    THEN round((SELECT count(*) FROM hits) * 1.0
                               / (SELECT count(*) FROM exact), 6) END AS recall
    """


def _binary_cte() -> str:
    """Shared sign-bit packing CTE (quantize_binary twin): (vec_id,
    v double[64], bv bigint[2]) — bit j of word w set iff v[32w+j] > 0,
    32-bit words because 1<<63 overflows ANSI signed-64 in both engines."""
    return """bz AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 list_transform(range(0, 2), w ->
                   list_sum(list_transform(range(1, 33), j ->
                     CASE WHEN embedding[w*32 + j] > 0
                          THEN (1::BIGINT << (j-1)) ELSE 0::BIGINT END))) AS bv
          FROM embeddings
        )"""


_HAMMING_SQL = (
    "CAST(list_sum(list_transform(range(1, 3), "
    "i -> bit_count(xor(b.bv[i], q.qbv[i])))) AS INT)"
)


def _ann_recall_binary_oracle() -> str:
    """DuckDB twin of ann_recall(k=10, n_queries=20, method='binary',
    shortlist_k=100): md5-keyed query sampling, float brute-force top-10,
    Hamming-shortlist-100 -> exact-cosine-rerank top-10, intersection."""
    key = _md5_key("vec_id", "annrecall")
    return f"""
        WITH {_binary_cte()}, q AS (
          SELECT bz.vec_id AS query_id, bz.v AS qvec, bz.bv AS qbv
          FROM bz JOIN (SELECT vec_id, {key} AS kq FROM embeddings) kk
            ON kk.vec_id = bz.vec_id
          ORDER BY kk.kq, bz.vec_id LIMIT 20
        ), exact AS (
          SELECT query_id, vec_id FROM (
            SELECT q.query_id, b.vec_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                     list_dot_product(b.v, q.qvec)
                       / (sqrt(list_dot_product(b.v, b.v))
                          * sqrt(list_dot_product(q.qvec, q.qvec))) DESC,
                     b.vec_id ASC) AS rnk
            FROM bz b CROSS JOIN q
          ) WHERE rnk <= 10
        ), short AS (
          SELECT query_id, vec_id FROM (
            SELECT q.query_id, b.vec_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                     {_HAMMING_SQL} ASC, b.vec_id ASC) AS rnk
            FROM bz b CROSS JOIN q
          ) WHERE rnk <= 100
        ), approx AS (
          SELECT query_id, vec_id FROM (
            SELECT s.query_id, s.vec_id,
                   row_number() OVER (PARTITION BY s.query_id ORDER BY
                     list_dot_product(b.v, q.qvec)
                       / (sqrt(list_dot_product(b.v, b.v))
                          * sqrt(list_dot_product(q.qvec, q.qvec))) DESC,
                     s.vec_id ASC) AS rnk
            FROM short s
            JOIN bz b ON b.vec_id = s.vec_id
            JOIN q ON q.query_id = s.query_id
          ) WHERE rnk <= 10
        ), hits AS (
          SELECT exact.query_id, exact.vec_id FROM exact
          JOIN approx ON approx.query_id = exact.query_id
                     AND approx.vec_id = exact.vec_id
        )
        SELECT (SELECT count(*) FROM q) AS n_queries,
               CAST(10 AS INT) AS k,
               (SELECT count(*) FROM exact) AS n_exact,
               (SELECT count(*) FROM approx) AS n_approx,
               (SELECT count(*) FROM hits) AS n_hits,
               CASE WHEN (SELECT count(*) FROM exact) > 0
                    THEN round((SELECT count(*) FROM hits) * 1.0
                               / (SELECT count(*) FROM exact), 6) END AS recall
    """


def _ann_recall_oracle() -> str:
    """DuckDB twin of ann_recall(k=10, n_queries=20, method='lsh',
    n_planes=6, seed=42): md5-keyed query sampling, brute-force exact
    top-10, bucketed LSH top-10, and the intersection counts."""
    from clarite_python_spark.operators.similarity import _hyperplanes

    bucket = _lsh_bucket_sql("embedding::DOUBLE[]", _hyperplanes(64, 6, 42))
    key = _md5_key("vec_id", "annrecall")
    return f"""
        WITH e2 AS (
          SELECT vec_id, embedding::DOUBLE[] AS v, {bucket} AS bucket FROM embeddings
        ), q AS (
          SELECT e2.vec_id AS query_id, e2.v AS qvec, e2.bucket AS qbucket
          FROM e2 JOIN (SELECT vec_id, {key} AS kq FROM embeddings) kk
            ON kk.vec_id = e2.vec_id
          ORDER BY kk.kq, e2.vec_id LIMIT 20
        ), exact AS (
          SELECT query_id, vec_id FROM (
            SELECT q.query_id, e2.vec_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                     list_dot_product(e2.v, q.qvec)
                       / (sqrt(list_dot_product(e2.v, e2.v))
                          * sqrt(list_dot_product(q.qvec, q.qvec))) DESC,
                     e2.vec_id ASC) AS rnk
            FROM e2 CROSS JOIN q
          ) WHERE rnk <= 10
        ), approx AS (
          SELECT query_id, vec_id FROM (
            SELECT q.query_id, e2.vec_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                     list_dot_product(e2.v, q.qvec)
                       / (sqrt(list_dot_product(e2.v, e2.v))
                          * sqrt(list_dot_product(q.qvec, q.qvec))) DESC,
                     e2.vec_id ASC) AS rnk
            FROM e2 JOIN q ON e2.bucket = q.qbucket
          ) WHERE rnk <= 10
        ), hits AS (
          SELECT exact.query_id, exact.vec_id FROM exact
          JOIN approx ON approx.query_id = exact.query_id
                     AND approx.vec_id = exact.vec_id
        )
        SELECT (SELECT count(*) FROM q) AS n_queries,
               CAST(10 AS INT) AS k,
               (SELECT count(*) FROM exact) AS n_exact,
               (SELECT count(*) FROM approx) AS n_approx,
               (SELECT count(*) FROM hits) AS n_hits,
               CASE WHEN (SELECT count(*) FROM exact) > 0
                    THEN round((SELECT count(*) FROM hits) * 1.0
                               / (SELECT count(*) FROM exact), 6) END AS recall
    """


def _neardup_lsh_oracle() -> str:
    """DuckDB twin of embedding_neardup(threshold=0.45, n_planes=6,
    n_bands=8, seed=42): 8 band buckets of 6 sign-bits each (slices of
    one 48-plane draw), pair is a candidate iff any band collides, then
    exact cosine filter."""
    from clarite_python_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 6 * 8, 42)
    band_cols = ",\n                 ".join(
        f"{_lsh_bucket_sql('embedding::DOUBLE[]', planes[k * 6 : (k + 1) * 6])} AS b{k}"
        for k in range(8)
    )
    any_band = " OR ".join(f"a.b{k} = b.b{k}" for k in range(8))
    return f"""
        WITH e2 AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 {band_cols}
          FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
        FROM e2 a JOIN e2 b ON a.vec_id < b.vec_id AND ({any_band})
        WHERE list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v))
                   * sqrt(list_dot_product(b.v, b.v))) >= 0.45
        ORDER BY id_a, id_b
    """


def _balanced_sum(terms: list[str]) -> str:
    """Parenthesize a sum as a balanced tree (DuckDB's binder caps
    expression recursion at 128, so a left-deep 73-term chain won't bind)."""
    while len(terms) > 1:
        terms = [
            f"({terms[i]} + {terms[i + 1]})" if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def _erfc_cols(x: str, tt: str) -> str:
    """DuckDB expression for erfc({x}) given column refs {x} >= 0 and
    {tt} = {x}^2: Maclaurin series of erf to 72 terms (abs err < 3e-12 on
    [0, 3.7], verified against math.erfc), one-term asymptotic upper bound
    beyond 3.7 where erfc < 1.7e-7 — both branches round identically to
    the engine's math.erfc at the 6-decimal comparison precision."""
    coefs = [
        ((-1) ** n) / (math.factorial(n) * (2 * n + 1)) for n in range(73)
    ]
    poly = _balanced_sum([f"({c!r})*pow({tt}, {n})" for n, c in enumerate(coefs)])
    return (
        f"(CASE WHEN {x} > 3.7 THEN exp(-{tt})/({x}*sqrt(pi())) "
        f"ELSE 1.0 - 2.0/sqrt(pi())*{x}*{poly} END)"
    )


def _assoc_covariates_oracle() -> str:
    """DuckDB twin of association_study_covariates: the Gaussian fits are
    closed-form normal equations, solved here by sequential FWL
    orthogonalization (residualize y/RV on [1, l_tax], then regress) —
    the same math fit_glm solves via lstsq (functions/glm.py:68-84,
    reference glm_regression.py:259-275).  Wald p-values use the engine's
    t distribution (use_t=True, df = n-3) via the normal tail plus the
    first-order 1/nu Cornish-Fisher correction (abs err < 3e-9 at
    nu ~ 6e4, verified vs functions/distributions.t_sf); the categorical
    LRT has df=2 so chi2_sf(x, 2) = exp(-x/2) exactly."""
    wald = (
        f"2.0*(0.5*{_erfc_cols('xx', 'tt')} "
        "+ exp(-tv*tv/2.0)/sqrt(2.0*pi())*(tv*tv*tv+tv)/(4.0*(n-3)))"
    )
    return f"""
        WITH b AS (
          SELECT l_extendedprice AS y, l_tax AS c,
                 l_quantity AS xq,
                 CASE WHEN l_linestatus = 'O' THEN 1.0 ELSE 0.0 END AS xb,
                 CASE WHEN l_returnflag = 'N' THEN 1.0 ELSE 0.0 END AS dn,
                 CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS dr
          FROM lineitem
          WHERE l_extendedprice IS NOT NULL AND l_tax IS NOT NULL
            AND l_quantity IS NOT NULL AND l_linestatus IS NOT NULL
            AND l_returnflag IS NOT NULL
        ), m AS (
          SELECT avg(y) my, avg(c) mc, avg(xq) mq, avg(xb) mb,
                 avg(dn) mn, avg(dr) mr, count(*) n FROM b
        ), d AS (
          SELECT y-my ry, c-mc rc, xq-mq rq, xb-mb rb, dn-mn rn, dr-mr rr FROM b, m
        ), s1 AS (
          SELECT sum(rc*ry)/sum(rc*rc) gy, sum(rc*rq)/sum(rc*rc) gq,
                 sum(rc*rb)/sum(rc*rc) gb, sum(rc*rn)/sum(rc*rc) gn,
                 sum(rc*rr)/sum(rc*rc) gr FROM d
        ), d2 AS (
          SELECT ry-gy*rc ry2, rq-gq*rc rq2, rb-gb*rc rb2,
                 rn-gn*rc rn2, rr-gr*rc rr2 FROM d, s1
        ), s2 AS (
          SELECT sum(rq2*ry2) sqy, sum(rq2*rq2) sqq,
                 sum(rb2*ry2) sby, sum(rb2*rb2) sbb,
                 sum(ry2*ry2) syy,
                 sum(rn2*ry2) sny, sum(rn2*rn2) snn, sum(rn2*rr2) snr,
                 sum(rr2*ry2) sry_, sum(rr2*rr2) srr,
                 (SELECT n FROM m) n
          FROM d2
        ), raw AS (
          SELECT 'l_quantity' AS Variable, 'continuous' AS Variable_type, n,
                 sqy/sqq AS beta, sqrt((syy - sqy*sqy/sqq)/(n-3)/sqq) AS se,
                 NULL::DOUBLE AS lrstat
          FROM s2
          UNION ALL
          SELECT 'l_linestatus', 'binary', n,
                 sby/sbb, sqrt((syy - sby*sby/sbb)/(n-3)/sbb), NULL::DOUBLE
          FROM s2
          UNION ALL
          SELECT 'l_returnflag', 'categorical', n, NULL::DOUBLE, NULL::DOUBLE,
                 2.0 + n*ln( syy*(n-4)
                   / (((syy - sny*sny/snn)
                       - pow(sry_ - (snr/snn)*sny, 2)/(srr - snr*snr/snn))*(n-2)) )
          FROM s2
        ), stats AS (
          SELECT *, abs(beta/se)/sqrt(2.0) AS xx,
                 pow(abs(beta/se), 2)/2.0 AS tt, abs(beta/se) AS tv
          FROM raw
        )
        SELECT Variable, 'l_extendedprice' AS Outcome, Variable_type,
               TRUE AS Converged, n AS N,
               round(coalesce(beta, 'nan'::DOUBLE), 6) AS Beta,
               round(coalesce(se, 'nan'::DOUBLE), 6) AS SE,
               round(CASE WHEN Variable_type = 'categorical' THEN exp(-lrstat/2.0)
                     ELSE {wald} END, 6) AS pvalue
        FROM stats ORDER BY Variable
    """


def _interaction_oracle() -> str:
    """DuckDB twin of interaction_study_lineitem: full model
    [1, t1, t2, t1*t2] vs restricted [1, t1, t2] per pair, SSRs by
    sequential FWL orthogonalization; lrstat uses the profiled Gaussian
    llf convention (scale = ssr/df_resid, functions/olsagg.py:256-268),
    so lrstat = (df_r - df_f) + n*ln(ssr_r*df_f/(ssr_f*df_r)) and the
    df=1 chi-square tail is erfc(sqrt(lrstat/2))."""

    def pair(t1: str, t2: str) -> str:
        return f"""
          SELECT '{t1}' AS Term1, '{t2}' AS Term2, n, lrstat FROM (
            WITH b AS (
              SELECT l_extendedprice y, {t1} a, {t2} bb, ({t1})*({t2}) p FROM lineitem
              WHERE l_extendedprice IS NOT NULL AND {t1} IS NOT NULL AND {t2} IS NOT NULL
            ), m AS (SELECT avg(y) my, avg(a) ma, avg(bb) mb, avg(p) mp, count(*) n FROM b),
            d AS (SELECT y-my ry, a-ma ra, bb-mb rb, p-mp rp FROM b, m),
            s1 AS (SELECT sum(ra*ry)/sum(ra*ra) gy, sum(ra*rb)/sum(ra*ra) gb,
                          sum(ra*rp)/sum(ra*ra) gp FROM d),
            d2 AS (SELECT ry-gy*ra ry2, rb-gb*ra rb2, rp-gp*ra rp2 FROM d, s1),
            s2 AS (SELECT sum(rb2*ry2)/sum(rb2*rb2) hy, sum(rb2*rp2)/sum(rb2*rb2) hp FROM d2),
            d3 AS (SELECT ry2-hy*rb2 ry3, rp2-hp*rb2 rp3 FROM d2, s2),
            s3 AS (SELECT sum(ry3*ry3) ssr_r, sum(rp3*ry3) spy, sum(rp3*rp3) spp,
                          (SELECT n FROM m) n FROM d3)
            SELECT n, (1.0 + n*ln(ssr_r*(n-4)/((ssr_r - spy*spy/spp)*(n-3)))) AS lrstat
            FROM s3
          )"""

    pairs = [
        ("l_quantity", "l_discount"),
        ("l_quantity", "l_tax"),
        ("l_discount", "l_tax"),
    ]
    inner = " UNION ALL ".join(pair(*p) for p in pairs)
    return f"""
        WITH raw AS ({inner}),
        stats AS (SELECT *, sqrt(lrstat/2.0) AS xx, lrstat/2.0 AS tt FROM raw)
        SELECT Term1, Term2, 'l_extendedprice' AS Outcome, TRUE AS Converged, n AS N,
               round({_erfc_cols('xx', 'tt')}, 6) AS LRT_pvalue
        FROM stats ORDER BY Term1, Term2
    """


def _t_sf_odd_sql(t: str, nu: str) -> str:
    """DuckDB expression for the Student-t survival P(T > {t}) at odd
    integer df {nu} (<= 83): the elementary closed form
    1/2 - [arctan(xs) + xs/(1+xs^2) * sum a_j/(1+xs^2)^j]/pi with
    a_0 = 1, a_j = a_{j-1} * 2j/(2j+1) — the a_j are df-independent, so
    terms are gated on j <= (nu-3)/2.  Verified to < 7e-13 abs err
    against functions/distributions.t_sf.  Requires a column ``xs`` =
    {t}/sqrt({nu}) in scope."""
    a = [1.0]
    for j in range(1, 41):
        a.append(a[-1] * 2 * j / (2 * j + 1.0))
    terms = [
        f"(CASE WHEN {j} <= ({nu}-3)/2 THEN ({a[j]!r})/pow(1.0+xs*xs, {j}) ELSE 0.0 END)"
        for j in range(1, 41)
    ]
    return (
        f"(0.5 - (atan(xs) + xs/(1.0+xs*xs)*(1.0 + {_balanced_sum(terms)}))/pi())"
    )


def _assoc_weighted_oracle() -> str:
    """DuckDB twin of association_study_weighted_orders' continuous-RV
    row: weighted OLS beta by weighted FWL orthogonalization, the
    linearized (stata) sandwich SE from per-(stratum, cluster) score sums
    — z_hc = sum_i w_i e_i rx_i / sum(w rx^2) is the RV component of the
    influence sums, centered on the stratum mean with the nh/(nh-1)
    small-sample factor (functions/wglm.py:143-245, reference
    survey_model.py:105-168) — and the survey-dof t test
    (#clusters - #strata - 2, wglm.py:325-341).  Weight normalization by
    the design mean (design.py:194) cancels algebraically and is omitted.
    nh here counts observed clusters; the engine counts full-design
    clusters — identical because the design columns are never null, so
    every cluster is observed.  The categorical row's working-LRT
    p-value (saddlepoint) is masked to NULL in both the Spark projection
    and here; its Beta/SE are null in the engine's weighted path."""
    return f"""
        WITH b AS (
          SELECT o_totalprice AS y,
                 CAST(o_custkey % 7 AS DOUBLE) AS c,
                 (o_orderkey % 97) / 10.0 AS x,
                 CAST(o_custkey % 5 AS VARCHAR) AS strat,
                 CAST(o_custkey % 40 AS VARCHAR) AS clust,
                 1.0 + (o_orderkey % 10) / 10.0 AS w,
                 o_orderpriority
          FROM orders
          WHERE o_totalprice IS NOT NULL AND o_custkey IS NOT NULL
            AND o_orderkey IS NOT NULL
        ), m AS (
          SELECT sum(w*y)/sum(w) my, sum(w*c)/sum(w) mc, sum(w*x)/sum(w) mx,
                 count(*) n FROM b
        ), d AS (
          SELECT y-my ry, c-mc rc, x-mx rx, strat, clust, w FROM b, m
        ), s1 AS (
          SELECT sum(w*rc*ry)/sum(w*rc*rc) gy, sum(w*rc*rx)/sum(w*rc*rc) gx FROM d
        ), d2 AS (
          SELECT ry-gy*rc ry2, rx-gx*rc rx2, strat, clust, w FROM d, s1
        ), s2 AS (
          SELECT sum(w*rx2*ry2)/sum(w*rx2*rx2) beta, sum(w*rx2*rx2) sxx FROM d2
        ), cl AS (
          SELECT strat, clust,
                 sum(w*(ry2 - beta*rx2)*rx2)/(SELECT sxx FROM s2) AS z
          FROM d2, s2 GROUP BY strat, clust
        ), cs AS (
          SELECT strat, z, avg(z) OVER (PARTITION BY strat) AS zbar,
                 count(*) OVER (PARTITION BY strat) AS nh
          FROM cl
        ), v AS (
          SELECT sum(nh/(nh-1.0)*pow(z - zbar, 2)) AS vv,
                 (SELECT count(DISTINCT clust) FROM cl)
                   - (SELECT count(DISTINCT strat) FROM cl) - 2 AS dof
          FROM cs
        ), stats AS (
          SELECT (SELECT beta FROM s2) beta, sqrt(vv) se, dof,
                 (SELECT n FROM m) n,
                 abs((SELECT beta FROM s2)/sqrt(vv)) AS tv,
                 abs((SELECT beta FROM s2)/sqrt(vv))/sqrt(dof) AS xs
          FROM v
        )
        SELECT * FROM (
          SELECT 'ship_band' AS Variable, 'o_totalprice' AS Outcome,
                 'continuous' AS Variable_type, 'wt' AS Weight,
                 TRUE AS Converged, n AS N,
                 round(beta, 6) AS Beta, round(se, 6) AS SE,
                 round(2.0*{_t_sf_odd_sql('tv', 'dof')}, 6) AS pvalue
          FROM stats
          UNION ALL
          SELECT 'o_orderpriority', 'o_totalprice', 'categorical', 'wt',
                 TRUE, (SELECT n FROM m), NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE
        ) ORDER BY Variable
    """


def _oracle_embed_rows() -> int:
    """Row count of the embeddings table the k-means-replay oracles are
    being generated FOR. The engine's quantizer init indices depend only
    on (seed, sample rows) where sample rows = min(10_000, corpus), so
    these oracles are corpus-size-specific by construction; the driver
    always runs them at sf0.01 (n=500, the default), and
    scripts/check_correctness.py exports CLARITE_ORACLE_EMBED_ROWS from
    the actual parquet count so the same oracles stay exact at ANY sf
    (e.g. the sf0.1 full-registry sweep, n=2000)."""
    import os

    return int(os.environ.get("CLARITE_ORACLE_EMBED_ROWS", "500"))


def _kmeans_ctes(n_rows: int = 500, n_lists: int = 8, seed: int = 42, iters: int = 10) -> list[str]:
    """Shared CTE prefix reproducing the engine's spherical-k-means
    quantizer training in DuckDB (sorted-sample init + ``iters``
    assignment/update rounds); ends with ``c{iters}`` holding the final
    unit centroids. Used by both the IVF partial-probe and the
    semantic-dedup oracles."""
    import numpy as np

    init = np.random.RandomState(seed).choice(n_rows, size=n_lists, replace=False)
    vals = ", ".join(f"({j}, {int(ci)})" for j, ci in enumerate(init))
    ctes = [
        """m AS MATERIALIZED (
           SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS idx,
                  list_transform(embedding::DOUBLE[],
                    x -> x / greatest(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 1e-12)) AS v
           FROM embeddings)""",
        f"""c0 AS MATERIALIZED (
           SELECT t.j, m.v FROM m JOIN (VALUES {vals}) t(j, ci) ON m.idx = t.ci)""",
    ]
    for k in range(1, iters + 1):
        ctes.append(f"""a{k} AS MATERIALIZED (
          SELECT vec_id, v, j FROM (
            SELECT m.vec_id, m.v, c.j,
                   row_number() OVER (PARTITION BY m.vec_id
                                      ORDER BY list_dot_product(m.v, c.v) DESC, c.j ASC) AS rn
            FROM m, c{k - 1} c) WHERE rn = 1)""")
        ctes.append(f"""c{k} AS MATERIALIZED (
          SELECT j, list_transform(sv, x -> x / greatest(sqrt(list_dot_product(sv, sv)), 1e-12)) AS v
          FROM (
            SELECT j, list(mval ORDER BY d) AS sv FROM (
              SELECT j, d, avg(val) AS mval FROM (
                SELECT a.j, unnest(a.v) AS val, unnest(range(len(a.v))) AS d FROM a{k} a)
              GROUP BY j, d)
            GROUP BY j))""")
    return ctes


def _semantic_dedup_oracle() -> str:
    """DuckDB twin of semantic_dedup_embeddings: the shared k-means
    prefix trains the 8 centroids, every vector is assigned to its
    first-argmax cluster (scale-invariant, so raw dots suffice), and
    within-cluster pairs at cosine >= 0.45 greedily remove the higher
    id. Survivors keep their cluster id."""
    ctes = _kmeans_ctes(n_rows=_oracle_embed_rows())
    final = """
        corp AS MATERIALIZED (
          SELECT e.vec_id, e.embedding::DOUBLE[] AS raw,
                 sqrt(list_dot_product(e.embedding::DOUBLE[],
                                       e.embedding::DOUBLE[])) AS nrm,
                 (SELECT c.j FROM c10 c
                  ORDER BY list_dot_product(e.embedding::DOUBLE[], c.v) DESC,
                           c.j ASC LIMIT 1)::INT AS cluster
          FROM embeddings e),
        removed AS (
          -- dot >= t*na*nb (the engine's multiplication form — per-pair
          -- work is one codegen dot, norms carried as scalars)
          SELECT DISTINCT y.vec_id FROM corp x JOIN corp y
            ON x.cluster = y.cluster AND x.vec_id < y.vec_id
          WHERE list_dot_product(x.raw, y.raw) >= 0.45 * x.nrm * y.nrm)
        SELECT c.vec_id, c.cluster FROM corp c
        LEFT JOIN removed r ON c.vec_id = r.vec_id
        WHERE r.vec_id IS NULL ORDER BY c.vec_id
    """
    return "WITH " + ",\n".join(ctes) + ",\n" + final


def _cluster_embeddings_oracle() -> str:
    """DuckDB twin of cluster_embeddings(k=8, seed=42): the shared
    k-means training CTEs, then per-vector first-argmax assignment and
    the cosine to the assigned centroid."""
    ctes = _kmeans_ctes(n_rows=_oracle_embed_rows())
    final = """
        final AS (
          SELECT e.vec_id,
                 (SELECT c.j FROM c10 c
                  ORDER BY list_dot_product(e.embedding::DOUBLE[], c.v)
                           / greatest(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 1e-12) DESC,
                           c.j ASC LIMIT 1)::INT AS cluster,
                 (SELECT round(list_dot_product(e.embedding::DOUBLE[], c.v)
                           / greatest(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 1e-12), 6)
                  FROM c10 c
                  ORDER BY list_dot_product(e.embedding::DOUBLE[], c.v) DESC,
                           c.j ASC LIMIT 1) AS cosine
          FROM embeddings e)
        SELECT vec_id, cluster, cosine FROM final ORDER BY vec_id
    """
    return "WITH " + ",\n".join(ctes) + ",\n" + final


def _pq_ctes(
    n_rows: int,
    m: int = 4,
    k_sub: int = 8,
    seed: int = 42,
    iters: int = 10,
    dim: int = 64,
    base: str | None = None,
) -> list[str]:
    """Shared CTE prefix replaying operators/similarity.py:_train_pq in
    DuckDB: per-subspace Euclidean k-means on the ``base`` relation's
    subvectors (sorted sample = whole gate corpus, seeded init per
    subspace seed+mi, first argmin assignment, mean update, empty
    clusters keep the previous centroid via COALESCE). ``base`` must
    expose (vec_id, idx, v); default is the raw embeddings table — the
    residual oracle passes its ``resid`` CTE instead, replaying
    _train_pq_residual with the identical machinery. All m subspaces
    train at once — the subspace id is a COLUMN (``mi``) in every CTE,
    so the chain is 2 CTEs per iteration regardless of m, not m chains.
    Ends with ``pqrecon`` holding each vector's packed code and
    concatenated-centroid reconstruction. Corpus-size-specific like
    _kmeans_ctes (the seeded init indices depend on n rows)."""
    import numpy as np

    if base is None:
        base = (
            "(SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS idx, "
            "embedding::DOUBLE[] AS v FROM embeddings)"
        )
    dsub = dim // m
    init = []
    for mi in range(m):
        idxs = np.random.RandomState(seed + mi).choice(
            n_rows, size=min(k_sub, n_rows), replace=False
        )
        init += [f"({mi}, {j}, {int(ci)})" for j, ci in enumerate(idxs)]
    vals = ", ".join(init)
    ctes = [
        f"""sub AS MATERIALIZED (
          SELECT b.vec_id, b.idx, mi, (b.v)[(mi*{dsub}+1):((mi+1)*{dsub})] AS s
          FROM {base} AS b,
               (SELECT unnest(range({m})) AS mi))""",
        f"""pc0 AS MATERIALIZED (
          SELECT t.mi, t.j, sub.s AS v FROM sub
          JOIN (VALUES {vals}) t(mi, j, ci)
            ON sub.mi = t.mi AND sub.idx = t.ci)""",
    ]
    for kk in range(1, iters + 1):
        ctes.append(f"""pa{kk} AS MATERIALIZED (
          SELECT vec_id, mi, s, j FROM (
            SELECT sub.vec_id, sub.mi, sub.s, c.j,
                   row_number() OVER (PARTITION BY sub.vec_id, sub.mi
                     ORDER BY list_dot_product(c.v, c.v)
                              - 2 * list_dot_product(sub.s, c.v) ASC,
                              c.j ASC) AS rn
            FROM sub JOIN pc{kk - 1} c ON c.mi = sub.mi) WHERE rn = 1)""")
        ctes.append(f"""pc{kk} AS MATERIALIZED (
          SELECT p.mi, p.j, COALESCE(n.v, p.v) AS v
          FROM pc{kk - 1} p LEFT JOIN (
            SELECT mi, j, list(mval ORDER BY d) AS v FROM (
              SELECT mi, j, d, avg(val) AS mval FROM (
                SELECT a.mi, a.j, unnest(a.s) AS val,
                       unnest(range(len(a.s))) AS d FROM pa{kk} a)
              GROUP BY mi, j, d)
            GROUP BY mi, j) n ON n.mi = p.mi AND n.j = p.j)""")
    ctes.append(f"""pqcode AS MATERIALIZED (
      SELECT vec_id, mi, j AS code FROM (
        SELECT sub.vec_id, sub.mi, c.j,
               row_number() OVER (PARTITION BY sub.vec_id, sub.mi
                 ORDER BY list_dot_product(sub.s, c.v)
                          - 0.5 * list_dot_product(c.v, c.v) DESC,
                          c.j ASC) AS rn
        FROM sub JOIN pc{iters} c ON c.mi = sub.mi) WHERE rn = 1)""")
    ctes.append(f"""pqrecon AS MATERIALIZED (
      SELECT pqcode.vec_id,
             flatten(list(c.v ORDER BY pqcode.mi)) AS r,
             CAST(sum(pqcode.code
                      * CAST(power({k_sub}, pqcode.mi) AS BIGINT)) AS BIGINT)
               AS pq_code
      FROM pqcode JOIN pc{iters} c
        ON c.mi = pqcode.mi AND c.j = pqcode.code
      GROUP BY pqcode.vec_id)""")
    return ctes


def _pq_codes_oracle() -> str:
    """DuckDB twin of pq_codes_embeddings (m=4, k_sub=8): the shared PQ
    training prefix, then each vector's packed base-8 code and cosine
    to its codebook reconstruction."""
    ctes = _pq_ctes(n_rows=_oracle_embed_rows())
    final = """
        SELECT e.vec_id, r.pq_code,
               round(list_dot_product(e.embedding::DOUBLE[], r.r)
                 / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(r.r, r.r))), 6) AS recon_cosine
        FROM embeddings e JOIN pqrecon r ON r.vec_id = e.vec_id
        ORDER BY e.vec_id
    """
    return "WITH " + ",\n".join(ctes) + "\n" + final


def _pq_topk_oracle() -> str:
    """DuckDB twin of pq_topk_embeddings: raw queries (vec_id < 5)
    cosine-ranked against every corpus vector's PQ reconstruction,
    ties by corpus id."""
    ctes = _pq_ctes(n_rows=_oracle_embed_rows())
    final = """
        q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id < 5),
        scored AS (
          SELECT q.query_id, r.vec_id,
                 list_dot_product(r.r, q.qv)
                   / (sqrt(list_dot_product(r.r, r.r))
                      * sqrt(list_dot_product(q.qv, q.qv))) AS c
          FROM pqrecon r CROSS JOIN q),
        ranked AS (
          SELECT query_id, vec_id, c,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY c DESC, vec_id ASC) AS INT) AS rank
          FROM scored)
        SELECT query_id, vec_id, rank, round(c, 6) AS cosine_pq
        FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
    """
    return "WITH " + ",\n".join(ctes) + ",\n" + final


def _ann_recall_pq_oracle() -> str:
    """DuckDB twin of ann_recall(k=10, n_queries=20, method='pq', m=4,
    k_sub=8): md5-keyed query sampling, float brute-force exact top-10,
    PQ-reconstruction top-10, intersection counts."""
    ctes = _pq_ctes(n_rows=_oracle_embed_rows())
    key = _md5_key("vec_id", "annrecall")
    final = f"""
        q AS (
          SELECT e.vec_id AS query_id, e.embedding::DOUBLE[] AS qv
          FROM embeddings e
          JOIN (SELECT vec_id, {key} AS kq FROM embeddings) kk
            ON kk.vec_id = e.vec_id
          ORDER BY kk.kq, e.vec_id LIMIT 20),
        exact AS (
          SELECT query_id, vec_id FROM (
            SELECT q.query_id, e.vec_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                     list_dot_product(e.embedding::DOUBLE[], q.qv)
                       / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(q.qv, q.qv))) DESC,
                     e.vec_id ASC) AS rnk
            FROM embeddings e CROSS JOIN q
          ) WHERE rnk <= 10),
        approx AS (
          SELECT query_id, vec_id FROM (
            SELECT q.query_id, r.vec_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                     list_dot_product(r.r, q.qv)
                       / (sqrt(list_dot_product(r.r, r.r))
                          * sqrt(list_dot_product(q.qv, q.qv))) DESC,
                     r.vec_id ASC) AS rnk
            FROM pqrecon r CROSS JOIN q
          ) WHERE rnk <= 10),
        hits AS (
          SELECT exact.query_id, exact.vec_id FROM exact
          JOIN approx ON approx.query_id = exact.query_id
                     AND approx.vec_id = exact.vec_id)
        SELECT (SELECT count(*) FROM q) AS n_queries,
               CAST(10 AS INT) AS k,
               (SELECT count(*) FROM exact) AS n_exact,
               (SELECT count(*) FROM approx) AS n_approx,
               (SELECT count(*) FROM hits) AS n_hits,
               CASE WHEN (SELECT count(*) FROM exact) > 0
                    THEN round((SELECT count(*) FROM hits) * 1.0
                               / (SELECT count(*) FROM exact), 6) END AS recall
    """
    return "WITH " + ",\n".join(ctes) + ",\n" + final


def _ivf_pq_topk_oracle() -> str:
    """DuckDB twin of ivf_pq_topk_embeddings: the spherical-k-means
    prefix (coarse lists, c10) AND the PQ prefix (pqrecon) chained —
    the two CTE families share only the base table, so concatenation is
    safe — then list assignment, per-query top-4 probes (ties: higher
    centroid id, matching reverse(array_sort)), and cosine reranking of
    probed candidates against reconstructions."""
    ctes = _kmeans_ctes(n_rows=_oracle_embed_rows()) + _pq_ctes(
        n_rows=_oracle_embed_rows()
    )
    final = """
        corp AS MATERIALIZED (
          SELECT e.vec_id, r.r AS recon,
                 (SELECT c.j FROM c10 c
                  ORDER BY list_dot_product(e.embedding::DOUBLE[], c.v) DESC,
                           c.j ASC LIMIT 1) AS lst
          FROM embeddings e JOIN pqrecon r ON r.vec_id = e.vec_id),
        probes AS MATERIALIZED (
          SELECT q.vec_id AS query_id, q.embedding::DOUBLE[] AS qvec, c.j AS lst,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.embedding::DOUBLE[], c.v) DESC,
                            c.j DESC) AS pr
          FROM embeddings q, c10 c WHERE q.vec_id < 5),
        scored AS (
          SELECT p.query_id, co.vec_id,
                 list_dot_product(co.recon, p.qvec)
                   / (sqrt(list_dot_product(co.recon, co.recon))
                      * sqrt(list_dot_product(p.qvec, p.qvec))) AS c
          FROM (SELECT * FROM probes WHERE pr <= 4) p
          JOIN corp co ON co.lst = p.lst),
        ranked AS (
          SELECT query_id, vec_id, c,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY c DESC, vec_id ASC) AS INT) AS rank
          FROM scored)
        SELECT query_id, vec_id, rank, round(c, 6) AS cosine_pq
        FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
    """
    return "WITH " + ",\n".join(ctes) + ",\n" + final


def _residual_ctes(dim: int = 64) -> list[str]:
    """CTEs chaining after _kmeans_ctes: per-vector coarse assignment
    (first argmax of the centroid dot, ties by lower j — replaying both
    the Spark corpus rule and _train_pq_residual's sample rule, which
    are the same rule) and the residual vector v - centroid, shaped as
    the (vec_id, idx, v) base relation _pq_ctes consumes."""
    return [
        """assign AS MATERIALIZED (
          SELECT vec_id, ev, j AS lst, cv FROM (
            SELECT e.vec_id, e.embedding::DOUBLE[] AS ev, c.j, c.v AS cv,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY list_dot_product(e.embedding::DOUBLE[], c.v) DESC,
                              c.j ASC) AS rn
            FROM embeddings e, c10 c) WHERE rn = 1)""",
        f"""resid AS MATERIALIZED (
          SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS idx,
                 list_transform(range(1, {dim} + 1), i -> ev[i] - cv[i]) AS v
          FROM assign)""",
    ]


def _ivf_pq_residual_topk_oracle() -> str:
    """DuckDB twin of ivf_pq_residual_topk_embeddings: coarse k-means
    prefix, per-vector residuals, the SAME PQ training machinery run on
    the residual relation, reconstruction = centroid + decoded residual,
    then the identical probe/rerank tail as the raw ivf_pq oracle."""
    ctes = (
        _kmeans_ctes(n_rows=_oracle_embed_rows())
        + _residual_ctes()
        + _pq_ctes(n_rows=_oracle_embed_rows(), base="resid")
    )
    final = """
        corp AS MATERIALIZED (
          SELECT a.vec_id,
                 list_transform(range(1, 65), i -> a.cv[i] + r.r[i]) AS recon,
                 a.lst
          FROM assign a JOIN pqrecon r ON r.vec_id = a.vec_id),
        probes AS MATERIALIZED (
          SELECT q.vec_id AS query_id, q.embedding::DOUBLE[] AS qvec, c.j AS lst,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.embedding::DOUBLE[], c.v) DESC,
                            c.j DESC) AS pr
          FROM embeddings q, c10 c WHERE q.vec_id < 5),
        scored AS (
          SELECT p.query_id, co.vec_id,
                 list_dot_product(co.recon, p.qvec)
                   / (sqrt(list_dot_product(co.recon, co.recon))
                      * sqrt(list_dot_product(p.qvec, p.qvec))) AS c
          FROM (SELECT * FROM probes WHERE pr <= 4) p
          JOIN corp co ON co.lst = p.lst),
        ranked AS (
          SELECT query_id, vec_id, c,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY c DESC, vec_id ASC) AS INT) AS rank
          FROM scored)
        SELECT query_id, vec_id, rank, round(c, 6) AS cosine_pq
        FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
    """
    return "WITH " + ",\n".join(ctes) + ",\n" + final


def _ann_recall_ivf_pq_oracle() -> str:
    """DuckDB twin of ann_recall(k=10, n_queries=20, method='ivf_pq'):
    md5-keyed query sampling, float brute-force exact top-10, the
    probe-pruned PQ-reconstruction top-10, intersection counts."""
    ctes = _kmeans_ctes(n_rows=_oracle_embed_rows()) + _pq_ctes(
        n_rows=_oracle_embed_rows()
    )
    key = _md5_key("vec_id", "annrecall")
    final = f"""
        corp AS MATERIALIZED (
          SELECT e.vec_id, r.r AS recon,
                 (SELECT c.j FROM c10 c
                  ORDER BY list_dot_product(e.embedding::DOUBLE[], c.v) DESC,
                           c.j ASC LIMIT 1) AS lst
          FROM embeddings e JOIN pqrecon r ON r.vec_id = e.vec_id),
        q AS (
          SELECT e.vec_id AS query_id, e.embedding::DOUBLE[] AS qv
          FROM embeddings e
          JOIN (SELECT vec_id, {key} AS kq FROM embeddings) kk
            ON kk.vec_id = e.vec_id
          ORDER BY kk.kq, e.vec_id LIMIT 20),
        probes AS MATERIALIZED (
          SELECT q.query_id, q.qv, c.j AS lst,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY list_dot_product(q.qv, c.v) DESC, c.j DESC) AS pr
          FROM q, c10 c),
        exact AS (
          SELECT query_id, vec_id FROM (
            SELECT q.query_id, e.vec_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                     list_dot_product(e.embedding::DOUBLE[], q.qv)
                       / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(q.qv, q.qv))) DESC,
                     e.vec_id ASC) AS rnk
            FROM embeddings e CROSS JOIN q
          ) WHERE rnk <= 10),
        approx AS (
          SELECT query_id, vec_id FROM (
            SELECT p.query_id, co.vec_id,
                   row_number() OVER (PARTITION BY p.query_id ORDER BY
                     list_dot_product(co.recon, p.qv)
                       / (sqrt(list_dot_product(co.recon, co.recon))
                          * sqrt(list_dot_product(p.qv, p.qv))) DESC,
                     co.vec_id ASC) AS rnk
            FROM (SELECT * FROM probes WHERE pr <= 4) p
            JOIN corp co ON co.lst = p.lst
          ) WHERE rnk <= 10),
        hits AS (
          SELECT exact.query_id, exact.vec_id FROM exact
          JOIN approx ON approx.query_id = exact.query_id
                     AND approx.vec_id = exact.vec_id)
        SELECT (SELECT count(*) FROM q) AS n_queries,
               CAST(10 AS INT) AS k,
               (SELECT count(*) FROM exact) AS n_exact,
               (SELECT count(*) FROM approx) AS n_approx,
               (SELECT count(*) FROM hits) AS n_hits,
               CASE WHEN (SELECT count(*) FROM exact) > 0
                    THEN round((SELECT count(*) FROM hits) * 1.0
                               / (SELECT count(*) FROM exact), 6) END AS recall
    """
    return "WITH " + ",\n".join(ctes) + ",\n" + final


def _ivf_probe_oracle() -> str:
    """DuckDB twin of similarity_ivf_probe_embeddings — the ENTIRE IVF
    path including quantizer training: spherical k-means (10 iterations,
    assignment = first-argmax over centroid dots, mean + renormalize
    update) unrolled as MATERIALIZED CTE pairs, then corpus list
    assignment, per-query top-4 probe selection (ties: higher centroid
    id first, matching reverse(array_sort(struct(d, i)))), candidate
    scoring and per-query top-10.  Reproducible because the engine's
    sample is sorted (operators/similarity.py:_train_centroids orders by
    id before limit) and the seeded init indices depend only on
    (seed=42, n rows) — inlined here for the driver's sf0.01 corpus
    (n=500, like the LSH plane literals which fix dim=64).  Empty
    k-means clusters would diverge (the engine re-seeds from its RNG);
    none occur on this corpus — a mismatch would flag it."""
    ctes = _kmeans_ctes(n_rows=_oracle_embed_rows())
    final = """
        corp AS MATERIALIZED (
          SELECT e.vec_id, e.embedding::DOUBLE[] AS raw,
                 (SELECT c.j FROM c10 c
                  ORDER BY list_dot_product(e.embedding::DOUBLE[], c.v)
                           / sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) DESC,
                           c.j ASC LIMIT 1) AS lst
          FROM embeddings e),
        probes AS MATERIALIZED (
          SELECT q.vec_id AS query_id, q.embedding::DOUBLE[] AS qvec, c.j AS lst,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.embedding::DOUBLE[], c.v)
                            / sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) DESC,
                            c.j DESC) AS pr
          FROM embeddings q, c10 c WHERE q.vec_id < 5),
        scored AS (
          SELECT p.query_id, co.vec_id,
                 list_dot_product(co.raw, p.qvec)
                   / (sqrt(list_dot_product(co.raw, co.raw)) * sqrt(list_dot_product(p.qvec, p.qvec))) AS cosine
          FROM (SELECT * FROM probes WHERE pr <= 4) p
          JOIN corp co ON co.lst = p.lst),
        ranked AS (
          SELECT query_id, vec_id, cosine,
                 CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
          FROM scored)
        SELECT query_id, vec_id, rank, round(cosine, 6) AS cosine
        FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
    """
    return "WITH " + ",\n".join(ctes) + ",\n" + final


def _multimodal_features_oracle() -> str:
    """DuckDB twin of the hash-direct feature stub: feature i = big-endian
    uint32 i of sha256(payload) / 2^32 (operators/multimodal.py:
    _fake_features); the query sums the 8 features.  Hex digits are
    parsed with the same exact shift arithmetic as the minhash twin."""
    hx = "(CAST(strpos('0123456789abcdef', substr(sha256(text), {p}, 1)) AS BIGINT) - 1)"

    def u32(i: int) -> str:
        terms = [f"({hx.format(p=8 * i + kk + 1)} << {4 * (7 - kk)})" for kk in range(8)]
        return "(" + " + ".join(terms) + ")"

    feat_sum = " + ".join(f"({u32(i)} / 4294967296.0)" for i in range(8))
    return f"""
        SELECT doc_id AS media_id, round({feat_sum}, 4) AS feat_sum
        FROM documents ORDER BY media_id
    """


def _glm_logistic_inner(rv_expr: str, n_iter: int = 30) -> str:
    """Unrolled-IRLS DuckDB fit of ``filled ~ 1 + {rv_expr}``: replays
    functions/glm.fit_binomial step for step — same start
    (mu0 = clip(mean(y), 1e-6)), same eta/mu clips, same working-weight
    floor, 2x2 normal-equation solve in closed form — as {n_iter}
    chained CTE iterations.  MATERIALIZED is load-bearing: DuckDB
    otherwise inlines the chain and the i_{{k-1}} references blow up
    exponentially.  The engine stops on relative deviance change < 1e-8
    (~8 iterations here); the fixed extra iterations move the already-
    converged coefficients by O(1e-15), invisible at the 6-decimal
    comparison.  SE/p are z-based Wald (use_t=False for Binomial):
    SE = sqrt([ (X'WX)^-1 ]_11) at the final mu, p = erfc(|z|/sqrt(2))."""
    ctes = [
        "b AS MATERIALIZED (SELECT CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y, "
        f"{rv_expr} AS x FROM orders WHERE o_orderstatus IS NOT NULL)",
        "s0 AS MATERIALIZED (SELECT least(greatest(avg(y), 1e-6), 1.0-1e-6) AS mu0 FROM b)",
    ]

    def sums(eta: str, mu: str) -> str:
        w = f"greatest(({mu})*(1.0-({mu})), 1e-10)"
        z = f"(({eta}) + (b.y - ({mu}))/({w}))"
        return (
            f"SELECT sum({w}) sw, sum({w}*b.x) swx, sum({w}*b.x*b.x) swxx, "
            f"sum({w}*{z}) swz, sum({w}*b.x*{z}) swxz"
        )

    solve = (
        "(swxx*swz - swx*swxz)/(sw*swxx - swx*swx) AS b0, "
        "(sw*swxz - swx*swz)/(sw*swxx - swx*swx) AS b1"
    )
    ctes.append(
        f"i1 AS MATERIALIZED (SELECT {solve} FROM "
        f"({sums('ln(p.mu0/(1.0-p.mu0))', 'p.mu0')} FROM b, s0 p))"
    )
    eta = "greatest(least(p.b0 + p.b1*b.x, 30.0), -30.0)"
    mu = f"least(greatest(1.0/(1.0+exp(-({eta}))), 1e-10), 1.0-1e-10)"
    for k in range(2, n_iter + 1):
        ctes.append(
            f"i{k} AS MATERIALIZED (SELECT {solve} FROM "
            f"({sums(eta, mu)} FROM b, i{k - 1} p))"
        )
    w = f"greatest(({mu})*(1.0-({mu})), 1e-10)"
    ctes.append(
        f"fin AS MATERIALIZED (SELECT max(p.b1) AS beta, "
        f"sqrt(max(sw)/(max(sw)*max(swxx) - max(swx)*max(swx))) AS se, max(n) AS n FROM "
        f"(SELECT sum({w}) sw, sum({w}*b.x) swx, sum({w}*b.x*b.x) swxx, count(*) n "
        f"FROM b, i{n_iter} p) s, i{n_iter} p)"
    )
    ctes.append(
        "stats AS (SELECT beta, se, n, abs(beta/se)/sqrt(2.0) AS xx, "
        "pow(abs(beta/se),2)/2.0 AS tt FROM fin)"
    )
    return (
        "WITH " + ", ".join(ctes) + " SELECT n AS N, (round(beta, 6) + 0.0) AS Beta, "
        f"round({_erfc_cols('xx', 'tt')}, 6) AS pvalue FROM stats"
    )


def _glm_logistic_oracle() -> str:
    def one(rv_expr: str, label: str) -> str:
        return (
            f"SELECT '{label}' AS Variable, 'filled' AS Outcome, "
            f"'continuous' AS Variable_type, TRUE AS Converged, N, Beta, pvalue "
            f"FROM ({_glm_logistic_inner(rv_expr)})"
        )

    return (
        one("o_totalprice", "o_totalprice")
        + " UNION ALL "
        + one("CAST(o_custkey % 100 AS DOUBLE)", "cust_bucket")
        + " ORDER BY Variable"
    )


def _minhash_md5_pipeline(source: str = "documents") -> str:
    """Shared CTE chain for the md5-family MinHash twins: word-3-gram
    shingles, 32 signature members (min over shingles of the 60-bit
    value of the first 15 md5 hex chars of ``shingle:j``, parsed with
    exact shift arithmetic), 8 x 4 banding on joined-value strings,
    bucket-size-capped candidate pairs, exact Jaccard >= 0.8 verify."""
    return rf"""toksrc AS MATERIALIZED (
          SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS toks
          FROM {source}
        ), docs AS MATERIALIZED (
          SELECT doc_id,
                 list_distinct(
                   CASE WHEN len(toks) >= 3
                        THEN list_transform(range(1, len(toks) - 1),
                                            i -> array_to_string(toks[i:i+2], ' '))
                        ELSE [array_to_string(toks, ' ')] END) AS sh
          FROM toksrc
        ), members AS MATERIALIZED (
          SELECT doc_id, s, r.range AS j,
                 list_sum(list_transform(range(1, 16),
                    k -> (CAST(strpos('0123456789abcdef',
                           substr(md5(s || ':' || CAST(r.range AS VARCHAR)), k, 1)) AS BIGINT) - 1)
                         << ((15 - k) * 4))) AS h
          FROM (SELECT doc_id, unnest(sh) AS s FROM docs) u
          CROSS JOIN range(0, 32) r
        ), sigs AS MATERIALIZED (
          SELECT doc_id, list(mh ORDER BY j) AS sig
          FROM (SELECT doc_id, j, min(h) AS mh FROM members GROUP BY doc_id, j)
          GROUP BY doc_id
        ), bands AS MATERIALIZED (
          SELECT doc_id, r.range AS b,
                 array_to_string(sig[r.range*4+1 : r.range*4+4], ',') AS bucket
          FROM sigs CROSS JOIN range(0, 8) r
        ), bsize AS MATERIALIZED (
          SELECT b, bucket, count(*) AS c FROM bands GROUP BY b, bucket
        ), pairs AS MATERIALIZED (
          SELECT DISTINCT a.doc_id AS id_a, bb.doc_id AS id_b
          FROM bands a
          JOIN bands bb ON a.b = bb.b AND a.bucket = bb.bucket AND a.doc_id < bb.doc_id
          JOIN bsize s ON s.b = a.b AND s.bucket = a.bucket
          WHERE s.c <= 1000
        ), dups AS MATERIALIZED (
          SELECT id_a, id_b FROM (
            SELECT p.id_a, p.id_b,
                   len(list_intersect(da.sh, db.sh)) * 1.0
                     / greatest(len(list_distinct(da.sh || db.sh)), 1) AS jac
            FROM pairs p
            JOIN docs da ON da.doc_id = p.id_a
            JOIN docs db ON db.doc_id = p.id_b
          ) WHERE jac >= 0.8
        )"""


def _fuzzy_contamination_oracle() -> str:
    """Cross-set variant of the md5 MinHash twin: banding over ALL
    documents (corpus ∪ benchmark = the whole table, so the engine's
    union-bucket size cap equals count(*) per bucket here), pairs are
    (corpus, src0-benchmark) collisions, verify is shingle Jaccard
    >= 0.5."""
    return (
        "WITH "
        + _minhash_md5_pipeline()
        + """, bsz AS MATERIALIZED (
          SELECT b, bucket, count(*) AS c FROM bands GROUP BY b, bucket
        ), xpairs AS MATERIALIZED (
          SELECT DISTINCT ca.doc_id AS doc_id, bb.doc_id AS bench_id
          FROM bands ca
          JOIN bands bb ON ca.b = bb.b AND ca.bucket = bb.bucket
          JOIN documents dc ON dc.doc_id = ca.doc_id
          JOIN documents db2 ON db2.doc_id = bb.doc_id
          JOIN bsz s ON s.b = ca.b AND s.bucket = ca.bucket
          WHERE dc.source != 'src0' AND db2.source = 'src0' AND s.c <= 1000
        )
        SELECT doc_id, bench_id, round(jac, 6) AS jaccard FROM (
          SELECT p.doc_id, p.bench_id,
                 len(list_intersect(da.sh, db.sh)) * 1.0
                   / greatest(len(list_distinct(da.sh || db.sh)), 1) AS jac
          FROM xpairs p
          JOIN docs da ON da.doc_id = p.doc_id
          JOIN docs db ON db.doc_id = p.bench_id
        ) WHERE jac >= 0.5
        ORDER BY doc_id, bench_id
    """
    )


def _zorder_oracle() -> str:
    """The SQL twin of the Z-order key (layout.zorder_key_sql) — same
    floor/clamp/interleave arithmetic, bucketed like the Spark query."""
    from clarite_python_spark.operators.layout import zorder_key_sql

    z = zorder_key_sql(_ZBOUNDS, bits=8)
    return f"""
        WITH z AS (SELECT {z} AS z FROM lineitem)
        SELECT z % 64 AS bucket, count(*) AS n,
               CAST(sum(z) AS BIGINT) AS zsum
        FROM z GROUP BY bucket ORDER BY bucket
    """


def _minhash_xxh_pipeline() -> str:
    """CTE chain for the DEFAULT xxhash64-family MinHash dedup — the
    same stages as _minhash_md5_pipeline but with Spark's xxhash64
    reproduced in SQL (functions/xxhsql.py): member j of a shingle is
    the chained two-arg hash xxh64_long(j, xxh64_bytes(shingle, 42)),
    band buckets are the single-arg hash of the joined signature string.
    Hash work is deduplicated: one bytes-hash per DISTINCT shingle
    (~16.5k at the gate corpus), one long-chain per (shingle, j), one
    string hash per (doc, band). Ends with the same ``docs``/``dups``
    CTE names as the md5 pipeline so the greedy/transitive tails are
    shared. Shingles here are <= 32 bytes (measured; single-tail path),
    bucket strings <= 96 (3-stripe path)."""
    from clarite_python_spark.functions import xxhsql

    ctes: list[tuple[str, str]] = [
        (
            "toksrc",
            r"""SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS toks
           FROM documents""",
        ),
        (
            "docs",
            """SELECT doc_id,
                 list_distinct(
                   CASE WHEN len(toks) >= 3
                        THEN list_transform(range(1, len(toks) - 1),
                                            i -> array_to_string(toks[i:i+2], ' '))
                        ELSE [array_to_string(toks, ' ')] END) AS sh
          FROM toksrc""",
        ),
        ("dsh", "SELECT DISTINCT unnest(sh) AS s FROM docs"),
    ]
    h1_ctes, h1_fin = xxhsql.string_hash_ctes(
        "mh1", "SELECT s FROM dsh", "s", ["s"], max_len=32, out_col="h1"
    )
    ctes += h1_ctes
    mem_base = f"SELECT s, h1, r.range::BIGINT AS j FROM {h1_fin} CROSS JOIN range(0, 32) r"
    mem_ctes, mem_fin = xxhsql.long_chain_ctes(
        "mh2", mem_base, "j", "h1", ["s", "j"], out_col="h"
    )
    ctes += mem_ctes
    ctes += [
        ("shing", "SELECT doc_id, unnest(sh) AS s FROM docs"),
        (
            "sigm",
            f"SELECT doc_id, j, min(h) AS mh FROM shing JOIN {mem_fin} USING (s) GROUP BY doc_id, j",
        ),
        ("sigs", "SELECT doc_id, list(mh ORDER BY j) AS sig FROM sigm GROUP BY doc_id"),
        (
            "bandsrc",
            """SELECT doc_id, r.range AS b,
                 array_to_string(sig[r.range*4+1 : r.range*4+4], ',') AS joined
          FROM sigs CROSS JOIN range(0, 8) r""",
        ),
    ]
    bh_ctes, bh_fin = xxhsql.string_hash_ctes(
        "mhb", "SELECT doc_id, b, joined FROM bandsrc", "joined", ["doc_id", "b"],
        max_len=96, out_col="bh",
    )
    ctes += bh_ctes
    ctes += [
        ("bands", f"SELECT doc_id, b, CAST(bh AS VARCHAR) AS bucket FROM {bh_fin}"),
        ("bsize", "SELECT b, bucket, count(*) AS c FROM bands GROUP BY b, bucket"),
        (
            "pairs",
            """SELECT DISTINCT a.doc_id AS id_a, bb.doc_id AS id_b
          FROM bands a
          JOIN bands bb ON a.b = bb.b AND a.bucket = bb.bucket AND a.doc_id < bb.doc_id
          JOIN bsize s ON s.b = a.b AND s.bucket = a.bucket
          WHERE s.c <= 1000""",
        ),
        (
            "dups",
            """SELECT id_a, id_b FROM (
            SELECT p.id_a, p.id_b,
                   len(list_intersect(da.sh, db.sh)) * 1.0
                     / greatest(len(list_distinct(da.sh || db.sh)), 1) AS jac
            FROM pairs p
            JOIN docs da ON da.doc_id = p.id_a
            JOIN docs db ON db.doc_id = p.id_b
          ) WHERE jac >= 0.8""",
        ),
    ]
    return ",\n".join(f"{n} AS MATERIALIZED ({q})" for n, q in ctes)


def _minhash_xxh_oracle() -> str:
    """Greedy xxhash64-family dedup (the engine's DEFAULT path)."""
    return (
        "WITH "
        + _minhash_xxh_pipeline()
        + """
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT id_b FROM dups)
        ORDER BY doc_id
    """
    )


def _minhash_xxh_transitive_oracle() -> str:
    """Connected-components xxhash64 variant (same closure tail as the
    md5 twin)."""
    return (
        "WITH RECURSIVE "
        + _minhash_xxh_pipeline()
        + """, sym AS MATERIALIZED (
          SELECT id_a AS src, id_b AS dst FROM dups
          UNION SELECT id_b, id_a FROM dups
        ), reach AS (
          SELECT src, dst FROM sym
          UNION
          SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
        ), labels AS (
          SELECT src AS id, least(src, min(dst)) AS label FROM reach GROUP BY src
        )
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT id FROM labels WHERE label != id)
        ORDER BY doc_id
    """
    )


def _minhash_clusters_oracle() -> str:
    """Cluster labels from the same recursive closure as the transitive
    oracle: (id, min-reachable-id) for every node of a verified pair."""
    return (
        "WITH RECURSIVE "
        + _minhash_xxh_pipeline()
        + """, sym AS MATERIALIZED (
          SELECT id_a AS src, id_b AS dst FROM dups
          UNION SELECT id_b, id_a FROM dups
        ), reach AS (
          SELECT src, dst FROM sym
          UNION
          SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
        )
        SELECT src AS doc_id, least(src, min(dst)) AS cluster_label
        FROM reach GROUP BY src ORDER BY doc_id
    """
    )


def _simhash_xxh_oracle() -> str:
    """xxhash64-family SimHash (bits=64): per-token hashes (only ~31
    distinct tokens in the corpus) feed occurrence-weighted ±1 bit sums;
    the fingerprint hex string is assembled nibble-by-nibble MSB-first
    with leading zeros stripped — exactly Spark's ``conv(bits, 2, 16)``
    formatting (uppercase, '0' for zero)."""
    from clarite_python_spark.functions import xxhsql

    powers = ", ".join(f"({b}, {1 << b}::HUGEINT)" for b in range(64))
    nibbles = " || ".join(
        f"substr('0123456789ABCDEF', ((v // {1 << (4 * k)}) % 16)::INT + 1, 1)"
        for k in range(15, -1, -1)
    )
    ctes: list[tuple[str, str]] = [
        (
            "toksrc",
            r"""SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS toks
           FROM documents""",
        ),
        ("tok", "SELECT DISTINCT unnest(toks) AS t FROM toksrc"),
    ]
    th_ctes, th_fin = xxhsql.string_hash_ctes(
        "sh1", "SELECT t FROM tok", "t", ["t"], max_len=16, out_col="th"
    )
    ctes += th_ctes
    ctes += [
        (
            "thu",
            f"""SELECT t, CASE WHEN th < 0 THEN th::HUGEINT + {1 << 64}
                 ELSE th::HUGEINT END AS u FROM {th_fin}""",
        ),
        ("occ", "SELECT doc_id, unnest(toks) AS t FROM toksrc"),
        ("powers", f"SELECT * FROM (VALUES {powers}) p(b, p)"),
        (
            "bits",
            """SELECT o.doc_id, pw.b, pw.p,
                 sum(CASE WHEN (u // pw.p) % 2 = 1 THEN 1 ELSE -1 END) AS cnt
          FROM occ o JOIN thu USING (t) CROSS JOIN powers pw
          GROUP BY o.doc_id, pw.b, pw.p""",
        ),
        (
            "val",
            """SELECT doc_id,
                 sum(CASE WHEN cnt >= 0 THEN p ELSE 0::HUGEINT END) AS v
          FROM bits GROUP BY doc_id""",
        ),
        (
            "hexed",
            f"SELECT doc_id, regexp_replace({nibbles}, '^0+', '') AS hx FROM val",
        ),
    ]
    body = ",\n".join(f"{n} AS MATERIALIZED ({q})" for n, q in ctes)
    return (
        "WITH "
        + body
        + """
        SELECT doc_id, CASE WHEN hx = '' THEN '0' ELSE hx END AS simhash
        FROM hexed ORDER BY doc_id
    """
    )


def _simhash_fp_sql() -> str:
    """The 60-bit md5 SimHash fingerprint CTE prefix (same algorithm as
    the simhash_md5_documents oracle); ends with `fp(doc_id, v)`."""
    return r"""toksrc AS MATERIALIZED (
              SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS toks
              FROM documents
            ), th AS MATERIALIZED (
              SELECT doc_id,
                     list_sum(list_transform(range(1, 16),
                        k -> (CAST(strpos('0123456789abcdef', substr(md5(t), k, 1)) AS BIGINT) - 1)
                             << ((15 - k) * 4))) AS h
              FROM (SELECT doc_id, unnest(toks) AS t FROM toksrc) u
            ), cnts AS MATERIALIZED (
              SELECT doc_id, r.range AS b,
                     sum(CASE WHEN ((h >> r.range) & 1) = 1 THEN 1 ELSE -1 END) AS c
              FROM th CROSS JOIN range(0, 60) r
              GROUP BY doc_id, r.range
            ), fp0 AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN c >= 0 THEN 1::BIGINT << b ELSE 0 END)
                          AS BIGINT) AS v
              FROM cnts GROUP BY doc_id
            ), fp AS MATERIALIZED (
              SELECT d.doc_id, coalesce(f.v, (1::BIGINT << 60) - 1) AS v
              FROM documents d LEFT JOIN fp0 f ON f.doc_id = d.doc_id
            )"""


def _simhash_pairs_sql() -> str:
    """Shared CTE body for the simhash_candidates / simhash_dedup
    oracles: the fingerprint prefix, four 15-bit contiguous band slices
    (shift-mask — the same bit-position partition as the engine's
    MSB-first substrings, so the bucket equivalence classes are
    identical), the max_bucket<=1000 cap, and the popcount-of-XOR
    hamming<=3 verify. Ends with a `ver(id_a, id_b, hamming)` CTE."""
    return _simhash_fp_sql() + r""", bands AS MATERIALIZED (
              SELECT doc_id, v, r.range AS band, (v >> (r.range * 15)) & 32767 AS bucket
              FROM fp CROSS JOIN range(0, 4) r
            ), good AS (
              SELECT band, bucket FROM bands GROUP BY band, bucket
              HAVING count(*) > 1 AND count(*) <= 1000
            ), ver AS MATERIALIZED (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(bit_count(xor(a.v, b.v)) AS INT) AS hamming
              FROM bands a
              JOIN bands b USING (band, bucket)
              JOIN good USING (band, bucket)
              WHERE a.doc_id < b.doc_id
                AND bit_count(xor(a.v, b.v)) <= 3
            )"""


def _minhash_md5_oracle() -> str:
    """Greedy variant: drop any doc with a verified lower-id near-dup."""
    return (
        "WITH "
        + _minhash_md5_pipeline()
        + """
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT id_b FROM dups)
        ORDER BY doc_id
    """
    )


def _minhash_md5_transitive_oracle() -> str:
    """Connected-components variant: the engine's min-label propagation
    fixpoint labels every vertex with the min id of its component, which
    equals min over the transitive closure — a recursive CTE here."""
    return (
        "WITH RECURSIVE "
        + _minhash_md5_pipeline()
        + """, sym AS MATERIALIZED (
          SELECT id_a AS src, id_b AS dst FROM dups
          UNION SELECT id_b, id_a FROM dups
        ), reach AS (
          SELECT src, dst FROM sym
          UNION
          SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
        ), labels AS (
          SELECT src AS id, least(src, min(dst)) AS label FROM reach GROUP BY src
        )
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT id FROM labels WHERE label != id)
        ORDER BY doc_id
    """
    )


def _minhash_md5_keep_longest_oracle() -> str:
    """keep_col='n_chars' survivor policy: transitive clusters, keep the
    longest member per cluster (ties to smaller id)."""
    return (
        "WITH RECURSIVE "
        + _minhash_md5_pipeline()
        + """, sym AS MATERIALIZED (
          SELECT id_a AS src, id_b AS dst FROM dups
          UNION SELECT id_b, id_a FROM dups
        ), reach AS (
          SELECT src, dst FROM sym
          UNION
          SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
        ), labels AS (
          SELECT src AS id, least(src, min(dst)) AS label FROM reach GROUP BY src
        ), ranked AS (
          SELECT l.id,
                 row_number() OVER (PARTITION BY l.label
                   ORDER BY d.n_chars DESC, l.id ASC) AS r
          FROM labels l JOIN documents d ON d.doc_id = l.id
        )
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT id FROM ranked WHERE r > 1)
        ORDER BY doc_id
    """
    )


def _clean_corpus_oracle() -> str:
    """DuckDB twin of clean_corpus_documents: the four stage verdicts
    (exact-dedup winner, gopher_pass, repetition bounds, language)
    recomputed independently and conjoined."""
    norm_text = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
    return f"""
        WITH ded AS (
          SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5({norm_text})
        ), gq AS (
          SELECT doc_id, toks,
                 CAST(len(toks) AS INT) AS n_words,
                 round(list_sum(list_transform(toks, x -> length(x)))
                       / (greatest(len(toks), 1) * 1.0), 6) AS mwl,
                 round(((length(text) - length(replace(text, '#', '')))
                        + (length(text) - length(replace(text, '...', ''))) / 3)
                       / (greatest(len(toks), 1) * 1.0), 6) AS sym,
                 round(coalesce(list_sum(list_transform(
                         list_filter(string_split(text, chr(10)), x -> trim(x) != ''),
                         x -> CASE WHEN trim(x) LIKE '-%' OR trim(x) LIKE '*%'
                                    OR trim(x) LIKE '•%' THEN 1 ELSE 0 END)), 0)
                       / (greatest(len(list_filter(string_split(text, chr(10)),
                                                   x -> trim(x) != '')), 1) * 1.0), 6) AS bul,
                 round(coalesce(list_sum(list_transform(
                         list_filter(string_split(text, chr(10)), x -> trim(x) != ''),
                         x -> CASE WHEN trim(x) LIKE '%...' OR trim(x) LIKE '%…'
                                   THEN 1 ELSE 0 END)), 0)
                       / (greatest(len(list_filter(string_split(text, chr(10)),
                                                   x -> trim(x) != '')), 1) * 1.0), 6) AS ell,
                 round(coalesce(list_sum(list_transform(toks,
                         x -> CASE WHEN regexp_matches(x, '[A-Za-z]') THEN 1 ELSE 0 END)), 0)
                       / (greatest(len(toks), 1) * 1.0), 6) AS alp,
                 ({" + ".join(
                     f"CASE WHEN list_contains(toks, '{w}') THEN 1 ELSE 0 END"
                     for w in ["the", "be", "to", "of", "and", "that", "have", "with"]
                 )}) AS nstop
          FROM (SELECT doc_id, text, {_TOKENS} AS toks FROM documents)
        ), grm AS (
          SELECT doc_id, chars, n, gram FROM (
            SELECT doc_id, length(text) AS chars, 2 AS n,
                   unnest(list_transform(generate_series(1, len({_TOKENS}) - 1),
                          i -> concat_ws(' ', {_TOKENS}[i], {_TOKENS}[i+1]))) AS gram
            FROM documents WHERE len({_TOKENS}) >= 2)
        ), topg AS (
          SELECT doc_id, round(cnt * length(gram) / (greatest(chars, 1) * 1.0), 6) AS top2
          FROM (
            SELECT doc_id, gram, max(chars) AS chars, count(*) AS cnt,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY count(*) DESC, gram ASC) AS rn
            FROM grm GROUP BY doc_id, gram)
          WHERE rn = 1
        ), rep AS (
          SELECT t.doc_id,
                 (round((len(toks) - len(list_distinct(toks)))
                        / (greatest(len(toks), 1) * 1.0), 6) <= 0.9
                  AND coalesce(g.top2, 0.0) <= 0.9) AS keep_repetition
          FROM (SELECT doc_id, {_TOKENS} AS toks FROM documents) t
          LEFT JOIN topg g ON t.doc_id = g.doc_id
        ), lng AS (
          SELECT doc_id, CASE
            WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
            WHEN greatest({_lang_score(_DE)}, {_lang_score(_EN)},
                          {_lang_score(_ES)}, {_lang_score(_FR)}) = 0 THEN 'unknown'
            WHEN {_lang_score(_DE)} >= {_lang_score(_EN)}
             AND {_lang_score(_DE)} >= {_lang_score(_ES)}
             AND {_lang_score(_DE)} >= {_lang_score(_FR)} THEN 'de'
            WHEN {_lang_score(_EN)} >= {_lang_score(_ES)}
             AND {_lang_score(_EN)} >= {_lang_score(_FR)} THEN 'en'
            WHEN {_lang_score(_ES)} >= {_lang_score(_FR)} THEN 'es'
            ELSE 'fr' END AS lang_pred
          FROM documents
        )
        SELECT d.doc_id,
               (ded.doc_id IS NOT NULL) AS keep_dedup,
               (gq.n_words >= 50 AND gq.n_words <= 100000
                AND gq.mwl >= 3.0 AND gq.mwl <= 10.0 AND gq.sym < 0.1
                AND gq.bul < 0.9 AND gq.ell < 0.3 AND gq.alp >= 0.8
                AND gq.nstop >= 2) AS keep_quality,
               rep.keep_repetition,
               (lng.lang_pred = 'en') AS keep_language,
               ((ded.doc_id IS NOT NULL)
                AND (gq.n_words >= 50 AND gq.n_words <= 100000
                     AND gq.mwl >= 3.0 AND gq.mwl <= 10.0 AND gq.sym < 0.1
                     AND gq.bul < 0.9 AND gq.ell < 0.3 AND gq.alp >= 0.8
                     AND gq.nstop >= 2)
                AND rep.keep_repetition AND (lng.lang_pred = 'en')) AS keep
        FROM documents d
        LEFT JOIN ded ON d.doc_id = ded.doc_id
        JOIN gq ON d.doc_id = gq.doc_id
        JOIN rep ON d.doc_id = rep.doc_id
        JOIN lng ON d.doc_id = lng.doc_id
        ORDER BY d.doc_id
    """


def _leakage_safe_split_oracle() -> str:
    """Cluster labels from the transitive closure (same recursive CTE as
    the minhash_clusters oracle), singletons coalesced to their own id,
    then pipeline.hash_bucket's md5 rule applied to the LABEL."""
    b = _md5_bucket("CAST(cluster_label AS VARCHAR)", "ls")
    return (
        "WITH RECURSIVE "
        + _minhash_xxh_pipeline()
        + f""", sym AS MATERIALIZED (
          SELECT id_a AS src, id_b AS dst FROM dups
          UNION SELECT id_b, id_a FROM dups
        ), reach AS (
          SELECT src, dst FROM sym
          UNION
          SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
        ), labels AS (
          SELECT src AS doc_id, least(src, min(dst)) AS cluster_label
          FROM reach GROUP BY src
        ), lab AS (
          SELECT d.doc_id,
                 coalesce(l.cluster_label, d.doc_id) AS cluster_label
          FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
        )
        SELECT doc_id, cluster_label,
               CASE WHEN {b} < 6000 THEN 'train'
                    WHEN {b} < 8000 THEN 'val'
                    ELSE 'test' END AS split
        FROM lab ORDER BY doc_id
    """
    )


def _cramers_v_oracle() -> str:
    """Per-pair contingency closed form n*(sum o^2/(ra*cb) - 1) with
    window margins; pairs mirror describe.cramers_v's combinations
    order over (lang, source, len_bucket)."""
    pairs = [
        ("lang", "source"),
        ("lang", "len_bucket"),
        ("source", "len_bucket"),
    ]
    branches = []
    for a, b in pairs:
        branches.append(f"""
          SELECT '{a}' AS var1, '{b}' AS var2,
                 CAST(sum(o) AS BIGINT) AS n,
                 round(sum(o) * (sum(o * o / (ra * cb)) - 1.0), 6) AS chi2,
                 CASE WHEN least(count(DISTINCT va), count(DISTINCT vb)) > 1
                      THEN round(sqrt((sum(o) * (sum(o * o / (ra * cb)) - 1.0))
                           / (sum(o) * (least(count(DISTINCT va), count(DISTINCT vb)) - 1))), 6)
                 END AS cramers_v
          FROM (
            SELECT va, vb, o,
                   sum(o) OVER (PARTITION BY va) AS ra,
                   sum(o) OVER (PARTITION BY vb) AS cb
            FROM (
              SELECT {a} AS va, {b} AS vb, CAST(count(*) AS DOUBLE) AS o
              FROM d WHERE {a} IS NOT NULL AND {b} IS NOT NULL
              GROUP BY 1, 2
            )
          )""")
    union = " UNION ALL ".join(f"({br})" for br in branches)
    return f"""
        WITH d AS (
          SELECT lang, source,
                 CASE WHEN n_chars < 200 THEN 'short'
                      WHEN n_chars < 400 THEN 'mid'
                      ELSE 'long' END AS len_bucket
          FROM documents
        )
        SELECT * FROM ({union})
        ORDER BY cramers_v DESC NULLS LAST, var1, var2
    """


def _mutual_information_oracle() -> str:
    """Per-pair MI over observed cells (absent cells contribute exactly
    0) + margin entropies for the NMI normalization; pairs mirror
    describe.mutual_information's combinations order."""
    pairs = [
        ("lang", "source"),
        ("lang", "len_bucket"),
        ("source", "len_bucket"),
    ]
    branches = []
    for a, b in pairs:
        branches.append(f"""
          WITH c AS (
            SELECT {a} AS va, {b} AS vb, CAST(count(*) AS DOUBLE) AS o
            FROM d WHERE {a} IS NOT NULL AND {b} IS NOT NULL GROUP BY 1, 2
          ), m AS (
            SELECT va, vb, o,
                   sum(o) OVER (PARTITION BY va) AS ra,
                   sum(o) OVER (PARTITION BY vb) AS cb,
                   sum(o) OVER () AS n
            FROM c
          ), agg AS (
            SELECT max(n) AS n,
                   sum((o / n) * ln(o * n / (ra * cb))) AS mi
            FROM m
          ), ha AS (
            SELECT -sum((ra / n) * ln(ra / n)) AS h
            FROM (SELECT DISTINCT va, ra, n FROM m)
          ), hb AS (
            SELECT -sum((cb / n) * ln(cb / n)) AS h
            FROM (SELECT DISTINCT vb, cb, n FROM m)
          )
          SELECT '{a}' AS var1, '{b}' AS var2,
                 CAST(agg.n AS BIGINT) AS n,
                 round(agg.mi, 6) AS mi,
                 CASE WHEN least(ha.h, hb.h) > 1e-12
                      THEN round(agg.mi / least(ha.h, hb.h), 6) END AS nmi
          FROM agg, ha, hb""")
    union = " UNION ALL ".join(f"({br})" for br in branches)
    return """
        WITH d AS (
          SELECT lang, source,
                 CASE WHEN n_chars < 200 THEN 'short'
                      WHEN n_chars < 400 THEN 'mid'
                      ELSE 'long' END AS len_bucket
          FROM documents
        )
    """ + f"""
        SELECT * FROM ({union})
        ORDER BY nmi DESC NULLS LAST, var1, var2
    """


def _incremental_embedding_neardup_oracle() -> str:
    """DuckDB twin of incremental_embedding_neardup(threshold=0.45,
    n_planes=6, n_bands=8, seed=42) with history = even ids, batch =
    odd ids: banded cross-set drop (history wins), then the greedy
    within-batch pass over the survivors."""
    from clarite_python_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 6 * 8, 42)
    band_cols = ",\n                 ".join(
        f"{_lsh_bucket_sql('embedding::DOUBLE[]', planes[k * 6 : (k + 1) * 6])} AS b{k}"
        for k in range(8)
    )
    any_band = " OR ".join(f"a.b{k} = b.b{k}" for k in range(8))
    cos = (
        "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) "
        "* sqrt(list_dot_product(b.v, b.v)))"
    )
    return f"""
        WITH e2 AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 {band_cols}
          FROM embeddings
        ),
        crossdrop AS (
          SELECT DISTINCT a.vec_id FROM e2 a JOIN e2 b
            ON a.vec_id % 2 = 1 AND b.vec_id % 2 = 0 AND ({any_band})
          WHERE {cos} >= 0.45
        ),
        kept1 AS (
          SELECT * FROM e2 WHERE vec_id % 2 = 1
            AND vec_id NOT IN (SELECT vec_id FROM crossdrop)
        ),
        within AS (
          SELECT DISTINCT b.vec_id FROM kept1 a JOIN kept1 b
            ON a.vec_id < b.vec_id AND ({any_band})
          WHERE {cos} >= 0.45
        )
        SELECT vec_id FROM kept1
        WHERE vec_id NOT IN (SELECT vec_id FROM within)
        ORDER BY vec_id
    """


def _theils_u_oracle() -> str:
    """Per-pair observed-cell MI with per-direction entropy normalizers
    (U(x|y) = MI / H(x)); pairs mirror describe.theils_u's combinations
    order."""
    pairs = [
        ("lang", "source"),
        ("lang", "len_bucket"),
        ("source", "len_bucket"),
    ]
    branches = []
    for a, b in pairs:
        branches.append(f"""
          WITH c AS (
            SELECT {a} AS va, {b} AS vb, CAST(count(*) AS DOUBLE) AS o
            FROM d WHERE {a} IS NOT NULL AND {b} IS NOT NULL GROUP BY 1, 2
          ), m AS (
            SELECT va, vb, o,
                   sum(o) OVER (PARTITION BY va) AS ra,
                   sum(o) OVER (PARTITION BY vb) AS cb,
                   sum(o) OVER () AS n
            FROM c
          ), agg AS (
            SELECT max(n) AS n,
                   sum((o / n) * ln(o * n / (ra * cb))) AS mi
            FROM m
          ), ha AS (
            SELECT -sum((ra / n) * ln(ra / n)) AS h
            FROM (SELECT DISTINCT va, ra, n FROM m)
          ), hb AS (
            SELECT -sum((cb / n) * ln(cb / n)) AS h
            FROM (SELECT DISTINCT vb, cb, n FROM m)
          )
          SELECT '{a}' AS var1, '{b}' AS var2,
                 CAST(agg.n AS BIGINT) AS n,
                 CASE WHEN ha.h > 1e-12
                      THEN round(agg.mi / ha.h, 6) END AS u_var1_given_var2,
                 CASE WHEN hb.h > 1e-12
                      THEN round(agg.mi / hb.h, 6) END AS u_var2_given_var1
          FROM agg, ha, hb""")
    union = " UNION ALL ".join(f"({br})" for br in branches)
    return f"""
        WITH d AS (
          SELECT lang, source,
                 CASE WHEN n_chars < 200 THEN 'short'
                      WHEN n_chars < 400 THEN 'mid'
                      ELSE 'long' END AS len_bucket
          FROM documents
        )
        SELECT * FROM ({union})
        ORDER BY var1, var2
    """


def _embedding_drift_oracle() -> str:
    """Lockstep-unnest per-dim means for each half, then the same
    centroid cosine / L2 / mean-norm reductions as the Spark side."""

    def side(pred: str, s: str) -> str:
        return f"""
        h_{s} AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE {pred}),
        c_{s} AS (
          SELECT d, avg(x) AS c
          FROM (SELECT unnest(v) AS x,
                       unnest(range(1, len(v) + 1)) AS d FROM h_{s})
          GROUP BY d
        ),
        s_{s} AS (
          SELECT CAST(count(*) AS BIGINT) AS n_{s},
                 avg(sqrt(list_dot_product(v, v))) AS mean_norm_{s}
          FROM h_{s}
        )"""

    return f"""
        WITH {side("vec_id % 2 = 0", "a")}, {side("vec_id % 2 = 1", "b")},
        red AS (
          SELECT sum(c_a.c * c_b.c) AS dot,
                 sum(c_a.c * c_a.c) AS na,
                 sum(c_b.c * c_b.c) AS nb,
                 sum((c_a.c - c_b.c) * (c_a.c - c_b.c)) AS sq
          FROM c_a JOIN c_b USING (d)
        )
        SELECT n_a, n_b,
               round(dot / (sqrt(na) * sqrt(nb)), 6) AS centroid_cosine,
               round(mean_norm_a, 6) AS mean_norm_a,
               round(mean_norm_b, 6) AS mean_norm_b,
               round(sqrt(sq), 6) AS centroid_l2
        FROM s_a, s_b, red
    """


def _mmr_oracle_sql(
    k: int = 5,
    fetch_k: int = 20,
    lam: float = 0.7,
    n_queries: int = 3,
    ivf_candidates: bool = False,
) -> str:
    """Unrolled greedy MMR replay: candidate CTE = the cosine_topk ranking
    (fetch_k per query), then one (cand_i, sel_i, selall_i) CTE triple per
    selection step — each step anti-joins already-picked docs, scores
    lambda*rel - (1-lambda)*max-sim-to-selected rounded to 6, and picks
    the per-query argmax with min-doc-id tie-break, exactly the Spark
    kernel's loop. Constants are emitted via repr() so the SQL multiplies
    by the SAME doubles numpy does (1-0.7 != 0.3 in IEEE).

    ``ivf_candidates=True`` swaps the brute-force candidate CTE for the
    full IVF partial-probe replay (k-means quantizer training + list
    assignment + n_probe=4 probe join, the _ivf_probe_oracle machinery) —
    proving the mmr_rerank(candidates=ivf_topk(...)) composition
    value-exactly, not just the rerank kernel."""

    def cos(a: str, b: str) -> str:
        return (
            f"list_dot_product({a},{b})/(sqrt(list_dot_product({a},{a}))"
            f"*sqrt(list_dot_product({b},{b})))"
        )

    l_ = repr(float(lam))
    m_ = repr(1.0 - float(lam))
    ev = "e.embedding::DOUBLE[]"
    if ivf_candidates:
        head_ctes = _kmeans_ctes(n_rows=_oracle_embed_rows()) + [
            """corp AS MATERIALIZED (
          SELECT e.vec_id, e.embedding::DOUBLE[] AS raw,
                 (SELECT c.j FROM c10 c
                  ORDER BY list_dot_product(e.embedding::DOUBLE[], c.v)
                           / sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) DESC,
                           c.j ASC LIMIT 1) AS lst
          FROM embeddings e)""",
            f"""probes AS MATERIALIZED (
          SELECT q.vec_id AS query_id, q.embedding::DOUBLE[] AS qvec, c.j AS lst,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.embedding::DOUBLE[], c.v)
                            / sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) DESC,
                            c.j DESC) AS pr
          FROM embeddings q, c10 c WHERE q.vec_id < {n_queries})""",
            f"""cand AS (
          SELECT query_id, doc_id, rel, v FROM (
            SELECT p.query_id, co.vec_id AS doc_id,
                   {cos('co.raw', 'p.qvec')} AS rel,
                   co.raw AS v,
                   row_number() OVER (PARTITION BY p.query_id
                     ORDER BY {cos('co.raw', 'p.qvec')} DESC, co.vec_id ASC) AS rnk
            FROM (SELECT * FROM probes WHERE pr <= 4) p
            JOIN corp co ON co.lst = p.lst
          ) WHERE rnk <= {fetch_k})""",
        ]
        head = "\n        WITH " + ",\n".join(head_ctes)
    else:
        head = f"""
        WITH qv AS (
          SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
          FROM embeddings WHERE vec_id < {n_queries}
        ), cand AS (
          SELECT query_id, doc_id, rel, v FROM (
            SELECT qv.query_id, e.vec_id AS doc_id,
                   {cos(ev, 'qv.v')} AS rel,
                   e.embedding::DOUBLE[] AS v,
                   row_number() OVER (PARTITION BY qv.query_id
                     ORDER BY {cos(ev, 'qv.v')} DESC, e.vec_id ASC) AS rnk
            FROM embeddings e CROSS JOIN qv
          ) WHERE rnk <= {fetch_k}
        )"""
    parts = [
        head,
        f""", sel1 AS (
          SELECT query_id, doc_id, mmr, 1 AS rank, v FROM (
            SELECT query_id, doc_id, round({l_} * rel, 6) AS mmr, v,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY round({l_} * rel, 6) DESC, doc_id ASC) AS rn
            FROM cand) WHERE rn = 1
        ), selall1 AS (SELECT query_id, doc_id, mmr, rank, v FROM sel1)"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f""", cand{i} AS (
          SELECT c.query_id, c.doc_id,
                 round({l_} * c.rel - {m_} * max({cos('c.v', 's.v')}), 6) AS mmr,
                 c.v
          FROM cand c JOIN selall{i - 1} s USING (query_id)
          WHERE NOT EXISTS (SELECT 1 FROM selall{i - 1} x
                            WHERE x.query_id = c.query_id
                              AND x.doc_id = c.doc_id)
          GROUP BY c.query_id, c.doc_id, c.rel, c.v
        ), sel{i} AS (
          SELECT query_id, doc_id, mmr, {i} AS rank, v FROM (
            SELECT query_id, doc_id, mmr, v,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY mmr DESC, doc_id ASC) AS rn
            FROM cand{i}) WHERE rn = 1
        ), selall{i} AS (
          SELECT * FROM selall{i - 1} UNION ALL SELECT * FROM sel{i})"""
        )
    parts.append(
        f"""
        SELECT query_id, doc_id AS vec_id, CAST(rank AS INT) AS rank, mmr
        FROM selall{k} ORDER BY query_id, rank"""
    )
    return "".join(parts)


def oracle_sql() -> dict[str, str]:
    norm_text = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
    out = {
        "mmr_rerank_embeddings": _mmr_oracle_sql(k=5, fetch_k=20, lam=0.7),
        "mmr_ivf_rerank_embeddings": _mmr_oracle_sql(
            k=5, fetch_k=20, lam=0.7, ivf_candidates=True
        ),
        "rank_eval_embeddings": """
            WITH q AS (
              SELECT vec_id AS query_id, label, embedding::DOUBLE[] AS v
              FROM embeddings WHERE vec_id < 5
            ), res AS (
              SELECT query_id, doc_id, rnk AS rank FROM (
                SELECT q.query_id, e.vec_id AS doc_id,
                       row_number() OVER (PARTITION BY q.query_id ORDER BY
                         list_dot_product(e.embedding::DOUBLE[], q.v)
                           / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                    e.embedding::DOUBLE[]))
                              * sqrt(list_dot_product(q.v, q.v))) DESC,
                         e.vec_id ASC) AS rnk
                FROM embeddings e CROSS JOIN q
              ) WHERE rnk <= 10
            ), qrels AS (
              SELECT q.query_id, e.vec_id AS doc_id, 1.0 AS rel
              FROM q JOIN embeddings e ON e.label = q.label
            ), joined AS (
              SELECT r.query_id, r.rank, COALESCE(j.rel, 0.0) AS rel
              FROM res r LEFT JOIN qrels j
                ON j.query_id = r.query_id AND j.doc_id = r.doc_id
            ), hit AS (
              SELECT query_id,
                     CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS hits,
                     sum(CASE WHEN rel > 0
                         THEN (pow(2.0, rel) - 1.0) / log2(rank + 1.0)
                         ELSE 0.0 END) AS dcg,
                     COALESCE(max(CASE WHEN rel > 0 THEN 1.0 / rank END), 0.0)
                       AS mrr
              FROM joined GROUP BY query_id
            ), ideal AS (
              SELECT query_id,
                     CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_rel,
                     sum(CASE WHEN rel > 0 AND irank <= 10
                         THEN (pow(2.0, rel) - 1.0) / log2(irank + 1.0)
                         ELSE 0.0 END) AS idcg
              FROM (
                SELECT query_id, rel, doc_id,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY rel DESC, doc_id ASC) AS irank
                FROM qrels
              ) GROUP BY query_id
            )
            SELECT COALESCE(h.query_id, i.query_id) AS query_id,
                   COALESCE(i.n_rel, 0) AS n_rel,
                   COALESCE(h.hits, 0) AS hits,
                   round(COALESCE(h.hits, 0) / 10.0, 6) AS precision,
                   round(CASE WHEN COALESCE(i.n_rel, 0) > 0
                         THEN COALESCE(h.hits, 0) * 1.0 / i.n_rel
                         ELSE 0.0 END, 6) AS recall,
                   round(COALESCE(h.mrr, 0.0), 6) AS mrr,
                   round(CASE WHEN COALESCE(i.idcg, 0.0) > 0
                         THEN COALESCE(h.dcg, 0.0) / i.idcg
                         ELSE 0.0 END, 6) AS ndcg
            FROM hit h FULL OUTER JOIN ideal i ON h.query_id = i.query_id
            ORDER BY query_id
        """,
        "table_diff_orders": """
            WITH old_s AS (
              SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
              FROM orders WHERE o_orderkey % 3 <> 0
            ), new_s AS (
              SELECT o_orderkey, o_orderstatus,
                     CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100.0
                          ELSE o_totalprice END AS o_totalprice,
                     CASE WHEN o_orderkey % 13 = 0 THEN '9-RESTATED'
                          ELSE o_orderpriority END AS o_orderpriority
              FROM orders WHERE o_orderkey % 5 <> 0
            ), j AS (
              SELECT o.o_orderkey AS ok, n.o_orderkey AS nk,
                     COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                     CASE WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                          THEN 1 ELSE 0 END AS d1,
                     CASE WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                          THEN 1 ELSE 0 END AS d2,
                     CASE WHEN o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
                          THEN 1 ELSE 0 END AS d3
              FROM old_s o FULL OUTER JOIN new_s n
                ON o.o_orderkey = n.o_orderkey
            )
            SELECT o_orderkey,
                   CASE WHEN nk IS NULL THEN 'removed'
                        WHEN ok IS NULL THEN 'added'
                        ELSE 'changed' END AS status,
                   CAST(CASE WHEN ok IS NULL OR nk IS NULL THEN 0
                        ELSE d1 + d2 + d3 END AS INT) AS n_changed,
                   CASE WHEN ok IS NULL OR nk IS NULL THEN ''
                        ELSE concat_ws(',',
                          CASE WHEN d1 = 1 THEN 'o_orderstatus' END,
                          CASE WHEN d2 = 1 THEN 'o_totalprice' END,
                          CASE WHEN d3 = 1 THEN 'o_orderpriority' END)
                   END AS changed_cols
            FROM j
            WHERE ok IS NULL OR nk IS NULL OR d1 + d2 + d3 > 0
        """,
        "connected_components_customer": """
            WITH RECURSIVE e AS (
              SELECT c_custkey AS a, c_custkey - 1 AS b
              FROM customer WHERE c_custkey % 5 <> 0
            ), sym AS (
              SELECT a, b FROM e UNION SELECT b, a FROM e
            ), reach(n, m) AS (
              SELECT a, a FROM (SELECT DISTINCT a FROM sym)
              UNION
              SELECT r.n, s.b FROM reach r JOIN sym s ON s.a = r.m
            )
            SELECT n AS node, min(m) AS component
            FROM reach GROUP BY n ORDER BY node
        """,
        "component_sizes_customer": """
            WITH RECURSIVE e AS (
              SELECT c_custkey AS a, c_custkey - 1 AS b
              FROM customer WHERE c_custkey % 5 <> 0
            ), sym AS (
              SELECT a, b FROM e UNION SELECT b, a FROM e
            ), reach(n, m) AS (
              SELECT a, a FROM (SELECT DISTINCT a FROM sym)
              UNION
              SELECT r.n, s.b FROM reach r JOIN sym s ON s.a = r.m
            ), comp AS (
              SELECT n AS node, min(m) AS component FROM reach GROUP BY n
            )
            SELECT component, CAST(count(*) AS BIGINT) AS n_nodes
            FROM comp GROUP BY component ORDER BY component
        """,
        "similarity_lsh_embeddings": _similarity_lsh_oracle(),
        "epoch_repeat_documents": _epoch_repeat_oracle(),
        "dsir_logweights_documents": _dsir_logweights_oracle(),
        "dsir_sample_documents": _dsir_sample_oracle(),
        "weighted_sample_documents": f"""
            SELECT doc_id, n_chars,
                   round(ln(n_chars)
                         + (-ln(-ln((({_md5_key("CAST(doc_id AS VARCHAR)", "wsq:ws")}) + 1.0)
                                    / 1152921504606846976.0))), 6) AS sample_score
            FROM documents
            WHERE n_chars IS NOT NULL AND n_chars > 0
            ORDER BY sample_score DESC, doc_id ASC LIMIT 60
        """,
        "similarity_lsh_multi_embeddings": _similarity_lsh_multi_oracle(),
        "ann_recall_multi_embeddings": _ann_recall_multi_oracle(),
        "embedding_neardup_lsh_embeddings": _neardup_lsh_oracle(),
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q5_local_supplier_volume": """
            SELECT r.r_name, n.n_name,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
                           AND c.c_nationkey = s.s_nationkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name, n.n_name
            ORDER BY r.r_name, revenue DESC, n.n_name
        """,
        "q3_top_revenue_orders": """
            SELECT o_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey
            ORDER BY revenue DESC, o_orderkey ASC
            LIMIT 10
        """,
        "categorize_types_customer": """
            WITH s AS (
              SELECT 'c_name' AS variable, count(c_name) AS n, count(DISTINCT c_name) AS d,
                     sum(CASE WHEN c_name IS NOT NULL AND try_cast(c_name AS DOUBLE) IS NULL THEN 1 ELSE 0 END) AS bad
              FROM customer
              UNION ALL
              SELECT 'c_nationkey', count(c_nationkey), count(DISTINCT c_nationkey),
                     sum(CASE WHEN c_nationkey IS NOT NULL AND try_cast(CAST(c_nationkey AS VARCHAR) AS DOUBLE) IS NULL THEN 1 ELSE 0 END)
              FROM customer
              UNION ALL
              SELECT 'c_acctbal', count(c_acctbal), count(DISTINCT c_acctbal),
                     sum(CASE WHEN c_acctbal IS NOT NULL AND try_cast(CAST(c_acctbal AS VARCHAR) AS DOUBLE) IS NULL THEN 1 ELSE 0 END)
              FROM customer
              UNION ALL
              SELECT 'c_mktsegment', count(c_mktsegment), count(DISTINCT c_mktsegment),
                     sum(CASE WHEN c_mktsegment IS NOT NULL AND try_cast(c_mktsegment AS DOUBLE) IS NULL THEN 1 ELSE 0 END)
              FROM customer
            )
            SELECT variable,
                   CASE WHEN n = 0 THEN 'dropped'
                        WHEN d = 1 THEN 'constant'
                        WHEN d = 2 THEN 'binary'
                        WHEN d BETWEEN 3 AND 6 THEN 'categorical'
                        WHEN d >= 15 AND bad = 0 THEN 'continuous'
                        ELSE 'unknown' END AS type
            FROM s ORDER BY variable
        """,
        "percent_na_events": """
            SELECT variable, round(percent_na, 6) AS percent_na FROM (
              SELECT 'user_id' AS variable, (1.0 - count(user_id)*1.0/count(*)) * 100 AS percent_na FROM events
              UNION ALL SELECT 'event_type', (1.0 - count(event_type)*1.0/count(*)) * 100 FROM events
              UNION ALL SELECT 'value', (1.0 - count(value)*1.0/count(*)) * 100 FROM events
              UNION ALL SELECT 'props', (1.0 - count(props)*1.0/count(*)) * 100 FROM events
            ) ORDER BY variable
        """,
        "freq_table_orders": """
            SELECT variable, value, count FROM (
              SELECT 'o_orderstatus' AS variable, o_orderstatus AS value, count(*) AS count
              FROM orders GROUP BY o_orderstatus
              UNION ALL
              SELECT 'o_orderpriority', o_orderpriority, count(*) FROM orders GROUP BY o_orderpriority
              UNION ALL
              SELECT 'o_totalprice', '<Non-Categorical Values>', count(o_totalprice) FROM orders
            ) ORDER BY variable, count DESC, value
        """,
        "colfilter_min_cat_n_orders": """
            SELECT variable, min(cnt) AS min_level_count FROM (
              SELECT 'o_orderstatus' AS variable, o_orderstatus AS value, count(*) AS cnt
              FROM orders GROUP BY o_orderstatus
              UNION ALL
              SELECT 'o_orderpriority', o_orderpriority, count(*) FROM orders GROUP BY o_orderpriority
            ) GROUP BY variable ORDER BY variable
        """,
        "colfilter_percent_zero_lineitem": """
            SELECT variable, round(percent_zero, 6) AS percent_zero FROM (
              SELECT 'l_discount' AS variable,
                     sum(CASE WHEN l_discount = 0 THEN 1 ELSE 0 END) * 100.0 / count(l_discount) AS percent_zero
              FROM lineitem
              UNION ALL
              SELECT 'l_quantity', sum(CASE WHEN l_quantity = 0 THEN 1 ELSE 0 END) * 100.0 / count(l_quantity) FROM lineitem
              UNION ALL
              SELECT 'l_tax', sum(CASE WHEN l_tax = 0 THEN 1 ELSE 0 END) * 100.0 / count(l_tax) FROM lineitem
            ) ORDER BY variable
        """,
        "rowfilter_orders": """
            SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice, o_orderpriority
            FROM orders
            WHERE o_totalprice >= 100000 AND o_orderstatus = 'O'
            ORDER BY o_orderkey
        """,
        "rowfilter_incomplete_obs_events": """
            SELECT count(*) AS n_complete FROM events
            WHERE event_id IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL
              AND value IS NOT NULL AND props IS NOT NULL
        """,
        "recode_values_orders": """
            SELECT CASE o_orderstatus WHEN 'O' THEN 'OPEN' WHEN 'F' THEN 'FILLED'
                        WHEN 'P' THEN 'PENDING' ELSE o_orderstatus END AS o_orderstatus,
                   count(*) AS n
            FROM orders GROUP BY 1 ORDER BY 1
        """,
        "remove_outliers_iqr_lineitem": """
            WITH b AS (
              SELECT 'l_quantity' AS variable,
                     quantile_cont(l_quantity, 0.25) AS q1, quantile_cont(l_quantity, 0.75) AS q3 FROM lineitem
              UNION ALL
              SELECT 'l_extendedprice', quantile_cont(l_extendedprice, 0.25), quantile_cont(l_extendedprice, 0.75) FROM lineitem
              UNION ALL
              SELECT 'l_tax', quantile_cont(l_tax, 0.25), quantile_cont(l_tax, 0.75) FROM lineitem
            ), v AS (
              SELECT 'l_quantity' AS variable, l_quantity AS x FROM lineitem
              UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
              UNION ALL SELECT 'l_tax', l_tax FROM lineitem
            )
            SELECT v.variable,
                   CAST(sum(CASE WHEN x < q1 - 1.5*(q3-q1) OR x > q3 + 1.5*(q3-q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
            FROM v JOIN b ON v.variable = b.variable
            GROUP BY v.variable ORDER BY v.variable
        """,
        "remove_outliers_approx_lineitem": """
            WITH b AS (
              SELECT 'l_quantity' AS variable,
                     quantile_cont(l_quantity, 0.25) AS q1, quantile_cont(l_quantity, 0.75) AS q3 FROM lineitem
              UNION ALL
              SELECT 'l_extendedprice', quantile_cont(l_extendedprice, 0.25), quantile_cont(l_extendedprice, 0.75) FROM lineitem
              UNION ALL
              SELECT 'l_tax', quantile_cont(l_tax, 0.25), quantile_cont(l_tax, 0.75) FROM lineitem
            ), v AS (
              SELECT 'l_quantity' AS variable, l_quantity AS x FROM lineitem
              UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
              UNION ALL SELECT 'l_tax', l_tax FROM lineitem
            )
            SELECT v.variable,
                   CAST(sum(CASE WHEN x < q1 - 1.5*(q3-q1) OR x > q3 + 1.5*(q3-q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
                   true AS approx_within_tol
            FROM v JOIN b ON v.variable = b.variable
            GROUP BY v.variable ORDER BY v.variable
        """,
        "dataset_card_documents": f"""
            WITH stats AS (
              SELECT source,
                     count(*) AS n_docs,
                     CAST(sum(len({_TOKENS})) AS BIGINT) AS total_tokens,
                     round(avg(len({_TOKENS})), 4) AS mean_tokens,
                     CAST(min(len({_TOKENS})) AS INT) AS min_tokens,
                     CAST(max(len({_TOKENS})) AS INT) AS max_tokens,
                     count(DISTINCT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))) AS distinct_docs,
                     round(1.0 - count(DISTINCT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))) * 1.0 / count(*), 6)
                       AS dup_rate
              FROM documents GROUP BY source
            ), lscored AS (
              SELECT doc_id, source,
                     regexp_matches(text, '[一-鿿]') AS is_cjk,
                     {_lang_score(_DE)} AS s_de,
                     {_lang_score(_EN)} AS s_en,
                     {_lang_score(_ES)} AS s_es,
                     {_lang_score(_FR)} AS s_fr
              FROM documents
            ), lang AS (
              SELECT doc_id, source, CASE
                WHEN is_cjk THEN 'zh'
                WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'unknown'
                WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS lang_pred
              FROM lscored
            ), lc AS (
              SELECT source, lang_pred, count(*) AS n_lang
              FROM lang GROUP BY source, lang_pred
            ), top AS (
              SELECT source, lang_pred AS top_lang, n_lang FROM (
                SELECT source, lang_pred, n_lang,
                       row_number() OVER (PARTITION BY source
                         ORDER BY n_lang DESC, lang_pred ASC) AS r
                FROM lc
              ) WHERE r = 1
            ), qs AS (
              SELECT doc_id, source,
                     length(text) AS n_chars,
                     len({_TOKENS}) AS n_tokens,
                     length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / greatest(length(text), 1) AS digit_ratio,
                     length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')) AS punct_chars
              FROM documents
            ), q AS (
              SELECT source,
                     round(avg((least(n_tokens / 50.0, 1.0)
                          + greatest(0.0, 1.0 - (punct_chars * 1.0 / greatest(n_chars, 1)) * 5.0)
                          + greatest(0.0, 1.0 - digit_ratio * 5.0)) / 3.0), 6) AS mean_quality
              FROM qs GROUP BY source
            )
            SELECT stats.*, top.top_lang, q.mean_quality,
                   round(top.n_lang / stats.n_docs, 6) AS top_lang_share
            FROM stats JOIN top USING (source) JOIN q USING (source)
            ORDER BY source
        """,
        "normalize_text_documents": r"""
            SELECT doc_id, trim(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(text, '<[^>\n]{0,500}>', ' ', 'g'),
                      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
                    '[^\S\n]+', ' ', 'g'),
                  ' ?\n ?', chr(10), 'g'),
                '\n{3,}', chr(10) || chr(10), 'g')
            ) AS text
            FROM documents ORDER BY doc_id
        """,
        "ngram_novelty_documents": f"""
            WITH t AS (
              SELECT doc_id, {_TOKENS} AS toks FROM documents
            ), g AS (
              SELECT doc_id, unnest(
                       CASE WHEN len(toks) >= 3
                            THEN list_distinct(list_transform(
                                   generate_series(1, len(toks) - 2),
                                   i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
                            ELSE [array_to_string(toks, ' ')] END) AS gram
              FROM t
            ), dfreq AS (
              SELECT gram, count(*) AS df FROM g GROUP BY gram
            )
            SELECT g.doc_id,
                   CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(sum(CASE WHEN dfreq.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
                   round(sum(CASE WHEN dfreq.df = 1 THEN 1 ELSE 0 END) * 1.0
                         / count(*), 6) AS novelty
            FROM g JOIN dfreq USING (gram)
            GROUP BY g.doc_id ORDER BY g.doc_id
        """,
        "event_transitions_events": """
            WITH ev AS (
              SELECT user_id, event_id, ts, event_type FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
            ), nx AS (
              SELECT event_type AS from_type,
                     lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts ASC, event_id ASC) AS to_type
              FROM ev
            ), c AS (
              SELECT from_type, to_type, count(*) AS n
              FROM nx WHERE to_type IS NOT NULL GROUP BY from_type, to_type
            )
            SELECT from_type, to_type, n,
                   round(CAST(n AS DOUBLE)
                         / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
            FROM c ORDER BY from_type, to_type
        """,
        "corpus_divergence_documents": f"""
            WITH ca AS (
              SELECT w, count(*) AS ca FROM (
                SELECT lower(unnest({_TOKENS})) AS w FROM documents WHERE source < 'src5'
              ) GROUP BY w
            ), cb AS (
              SELECT w, count(*) AS cb FROM (
                SELECT lower(unnest({_TOKENS})) AS w FROM documents WHERE source >= 'src5'
              ) GROUP BY w
            ), j AS (
              SELECT coalesce(ca.ca, 0) AS ca, coalesce(cb.cb, 0) AS cb
              FROM ca FULL OUTER JOIN cb ON ca.w = cb.w
            ), tot AS (
              SELECT CAST(count(*) AS DOUBLE) AS v,
                     CAST(sum(ca) AS DOUBLE) AS na,
                     CAST(sum(cb) AS DOUBLE) AS nb
              FROM j
            ), p AS (
              SELECT tot.v, tot.na, tot.nb,
                     (ca + 0.5) / (tot.na + 0.5 * tot.v) AS pa,
                     (cb + 0.5) / (tot.nb + 0.5 * tot.v) AS pb
              FROM j, tot
            )
            SELECT CAST(v AS BIGINT) AS v,
                   CAST(na AS BIGINT) AS n_a,
                   CAST(nb AS BIGINT) AS n_b,
                   round(sum(pa * ln(pa / pb) / ln(2.0)), 6) AS kl_ab,
                   round(sum(pb * ln(pb / pa) / ln(2.0)), 6) AS kl_ba,
                   round(sum((pa * ln(pa / ((pa + pb) / 2.0))
                              + pb * ln(pb / ((pa + pb) / 2.0))) / 2.0 / ln(2.0)), 6) AS js
            FROM p GROUP BY v, na, nb
        """,
        "stratified_split_documents": f"""
            WITH r AS (
              SELECT doc_id, source,
                     row_number() OVER (PARTITION BY source
                       ORDER BY {_md5_key("doc_id", "s7")} ASC, doc_id ASC) AS rn,
                     count(*) OVER (PARTITION BY source) AS n
              FROM documents
            )
            SELECT doc_id, source,
                   CASE WHEN rn <= floor(0.6 * n + 0.5) THEN 'train'
                        WHEN rn <= floor(0.8 * n + 0.5) THEN 'val'
                        WHEN rn <= floor(0.9 * n + 0.5) THEN 'test'
                        ELSE NULL END AS split
            FROM r ORDER BY doc_id
        """,
        "clip_outliers_lineitem": """
            WITH b AS (
              SELECT 'l_quantity' AS variable,
                     quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS q1,
                     quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) AS q3 FROM lineitem
              UNION ALL
              SELECT 'l_extendedprice',
                     quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25),
                     quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75) FROM lineitem
              UNION ALL
              SELECT 'l_tax',
                     quantile_cont(CAST(l_tax AS DOUBLE), 0.25),
                     quantile_cont(CAST(l_tax AS DOUBLE), 0.75) FROM lineitem
            ), v AS (
              SELECT 'l_quantity' AS variable, CAST(l_quantity AS DOUBLE) AS x FROM lineitem
              UNION ALL SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem
              UNION ALL SELECT 'l_tax', CAST(l_tax AS DOUBLE) FROM lineitem
            ), c AS (
              SELECT v.variable,
                     greatest(least(x, q3 + 0.25*(q3-q1)), q1 - 0.25*(q3-q1)) AS xc
              FROM v JOIN b ON v.variable = b.variable
            )
            SELECT variable, CAST(count(xc) AS BIGINT) AS n,
                   round(avg(xc), 6) AS mean_c,
                   round(min(xc), 6) AS min_c,
                   round(max(xc), 6) AS max_c
            FROM c GROUP BY variable ORDER BY variable
        """,
        "remove_outliers_gaussian_lineitem": """
            WITH b AS (
              SELECT 'l_quantity' AS variable,
                     avg(l_quantity) - 3*stddev_samp(l_quantity) AS lo,
                     avg(l_quantity) + 3*stddev_samp(l_quantity) AS hi FROM lineitem
              UNION ALL
              SELECT 'l_extendedprice',
                     avg(l_extendedprice) - 3*stddev_samp(l_extendedprice),
                     avg(l_extendedprice) + 3*stddev_samp(l_extendedprice) FROM lineitem
            ), v AS (
              SELECT 'l_quantity' AS variable, l_quantity AS x FROM lineitem
              UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
            )
            SELECT v.variable,
                   CAST(sum(CASE WHEN x < lo OR x > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
            FROM v JOIN b ON v.variable = b.variable
            GROUP BY v.variable ORDER BY v.variable
        """,
        "transform_log_lineitem": """
            SELECT l_returnflag, round(avg(ln(l_extendedprice)), 6) AS avg_log_price
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "join_customer_nation": """
            SELECT c_custkey, c_mktsegment, n_name
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            ORDER BY c_custkey
        """,
        "merge_observations_orders": """
            SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
            FROM orders WHERE o_orderstatus IN ('F', 'O')
            GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        "correlations_lineitem": """
            SELECT var1, var2, round(correlation, 6) AS correlation FROM (
              SELECT 'l_quantity' AS var1, 'l_extendedprice' AS var2, corr(l_quantity, l_extendedprice) AS correlation FROM lineitem
              UNION ALL SELECT 'l_quantity', 'l_discount', corr(l_quantity, l_discount) FROM lineitem
              UNION ALL SELECT 'l_quantity', 'l_tax', corr(l_quantity, l_tax) FROM lineitem
              UNION ALL SELECT 'l_extendedprice', 'l_discount', corr(l_extendedprice, l_discount) FROM lineitem
              UNION ALL SELECT 'l_extendedprice', 'l_tax', corr(l_extendedprice, l_tax) FROM lineitem
              UNION ALL SELECT 'l_discount', 'l_tax', corr(l_discount, l_tax) FROM lineitem
            ) ORDER BY var1, var2
        """,
        "skewness_lineitem": """
            SELECT variable, round(skew, 6) AS skew FROM (
              SELECT 'l_quantity' AS variable,
                     (sum(pow(l_quantity - (SELECT avg(l_quantity) FROM lineitem), 3)) / count(*))
                     / pow(stddev_pop(l_quantity), 3) AS skew FROM lineitem
              UNION ALL
              SELECT 'l_extendedprice',
                     (sum(pow(l_extendedprice - (SELECT avg(l_extendedprice) FROM lineitem), 3)) / count(*))
                     / pow(stddev_pop(l_extendedprice), 3) FROM lineitem
              UNION ALL
              SELECT 'l_tax',
                     (sum(pow(l_tax - (SELECT avg(l_tax) FROM lineitem), 3)) / count(*))
                     / pow(stddev_pop(l_tax), 3) FROM lineitem
            ) ORDER BY variable
        """,
        "association_study_lineitem": """
            SELECT Variable, Outcome, N, round(Beta, 6) AS Beta FROM (
              SELECT 'l_quantity' AS Variable, 'l_extendedprice' AS Outcome,
                     count(*) AS N, regr_slope(l_extendedprice, l_quantity) AS Beta FROM lineitem
              UNION ALL
              SELECT 'l_discount', 'l_extendedprice', count(*), regr_slope(l_extendedprice, l_discount) FROM lineitem
              UNION ALL
              SELECT 'l_tax', 'l_extendedprice', count(*), regr_slope(l_extendedprice, l_tax) FROM lineitem
            ) ORDER BY Variable
        """,
        "association_study_covariates": _assoc_covariates_oracle(),
        "association_study_weighted_orders": _assoc_weighted_oracle(),
        "glm_logistic_orders": _glm_logistic_oracle(),
        "minhash_dedup_md5_documents": _minhash_md5_oracle(),
        "fuzzy_contamination_documents": _fuzzy_contamination_oracle(),
        "minhash_dedup_documents": _minhash_xxh_oracle(),
        "winnow_fingerprints_xxh_documents": _winnow_xxh_oracle(),
        "minhash_dedup_transitive_documents": _minhash_xxh_transitive_oracle(),
        "minhash_clusters_documents": _minhash_clusters_oracle(),
        "simhash_documents": _simhash_xxh_oracle(),
        "minhash_dedup_md5_transitive_documents": _minhash_md5_transitive_oracle(),
        "minhash_dedup_keep_longest_documents": _minhash_md5_keep_longest_oracle(),
        "dedup_report_documents": (
            "WITH RECURSIVE "
            + _minhash_md5_pipeline()
            + """, sym AS MATERIALIZED (
              SELECT id_a AS src, id_b AS dst FROM dups
              UNION SELECT id_b, id_a FROM dups
            ), reach AS (
              SELECT src, dst FROM sym
              UNION
              SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
            ), labels AS (
              SELECT src AS id, least(src, min(dst)) AS label FROM reach GROUP BY src
            ), sizes AS (
              SELECT label, count(*) AS csize FROM labels GROUP BY label
            )
            SELECT d.source,
                   count(*) AS n_docs,
                   CAST(count(l.label) AS BIGINT) AS n_in_clusters,
                   CAST(coalesce(sum(CASE WHEN l.label != l.id THEN 1 END), 0) AS BIGINT) AS n_dropped,
                   CAST(count(DISTINCT l.label) AS BIGINT) AS n_clusters,
                   CAST(coalesce(max(s.csize), 0) AS BIGINT) AS max_cluster
            FROM documents d
            LEFT JOIN labels l ON l.id = d.doc_id
            LEFT JOIN sizes s ON s.label = l.label
            GROUP BY d.source ORDER BY d.source
        """
        ),
        "similarity_ivf_probe_embeddings": _ivf_probe_oracle(),
        "knn_graph_embeddings": _knn_graph_oracle(),
        # the pandas-assignment twins replay the SAME oracle: the two
        # impls are bit-identical on this corpus (parity tests +
        # round-13 sweeps at sf0.01 and sf0.1)
        "knn_graph_pandas_embeddings": _knn_graph_oracle(),
        "cluster_embeddings_pandas_embeddings": _cluster_embeddings_oracle(),
        "knn_graph_recall_embeddings": _knn_graph_recall_oracle(),
        "train_bpe_documents": _train_bpe_oracle(),
        "bpe_encode_documents": _train_bpe_oracle(emit="encode"),
        # the r13 scale-path twins share the oracles: driver strategy is
        # bit-identical to the distributed loop, the pandas segmenter is
        # provably the same segmentation for trained tables
        "train_bpe_driver_documents": _train_bpe_oracle(),
        "bpe_encode_pandas_documents": _train_bpe_oracle(emit="encode"),
        "pack_token_sequences_documents": f"""
        WITH t AS (
          SELECT doc_id, {_TOKENS} AS toks FROM documents),
        n AS (
          SELECT doc_id, toks,
                 COALESCE(SUM(len(toks)) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
          FROM t),
        pos AS (
          SELECT doc_id, off + u.i - 1 AS gp, toks[u.i] AS tok
          FROM n, unnest(range(1, len(toks) + 1)) u(i)),
        ch AS (
          SELECT gp // 64 AS seq_id,
                 string_agg(tok, ' ' ORDER BY gp) AS toks,
                 COUNT(*) AS n_tokens,
                 COUNT(DISTINCT doc_id) AS n_docs
          FROM pos GROUP BY 1),
        tot AS (SELECT COUNT(*) AS n FROM pos)
        SELECT CAST(seq_id AS BIGINT) AS seq_id, toks,
               CAST(n_tokens AS INT) AS n_tokens,
               CAST(n_docs AS INT) AS n_docs
        FROM ch, tot WHERE (seq_id + 1) * 64 <= tot.n ORDER BY seq_id
        """,
        "cluster_embeddings_embeddings": _cluster_embeddings_oracle(),
        "pq_codes_embeddings": _pq_codes_oracle(),
        "pq_topk_embeddings": _pq_topk_oracle(),
        "ann_recall_pq_embeddings": _ann_recall_pq_oracle(),
        "ivf_pq_topk_embeddings": _ivf_pq_topk_oracle(),
        "ivf_pq_residual_topk_embeddings": _ivf_pq_residual_topk_oracle(),
        "ann_recall_ivf_pq_embeddings": _ann_recall_ivf_pq_oracle(),
        "semantic_dedup_embeddings": _semantic_dedup_oracle(),
        "multimodal_features_documents": _multimodal_features_oracle(),
        "simhash_md5_documents": r"""
            WITH toksrc AS MATERIALIZED (
              SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS toks
              FROM documents
            ), th AS MATERIALIZED (
              SELECT doc_id,
                     list_sum(list_transform(range(1, 16),
                        k -> (CAST(strpos('0123456789abcdef', substr(md5(t), k, 1)) AS BIGINT) - 1)
                             << ((15 - k) * 4))) AS h
              FROM (SELECT doc_id, unnest(toks) AS t FROM toksrc) u
            ), cnts AS MATERIALIZED (
              SELECT doc_id, r.range AS b,
                     sum(CASE WHEN ((h >> r.range) & 1) = 1 THEN 1 ELSE -1 END) AS c
              FROM th CROSS JOIN range(0, 60) r
              GROUP BY doc_id, r.range
            ), fp AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN c >= 0 THEN 1::BIGINT << b ELSE 0 END)
                          AS BIGINT) AS v
              FROM cnts GROUP BY doc_id
            )
            SELECT d.doc_id, coalesce(f.v, (1::BIGINT << 60) - 1) AS simhash
            FROM documents d LEFT JOIN fp f ON f.doc_id = d.doc_id
            ORDER BY d.doc_id
        """,
        "simhash_candidates_documents": "WITH "
        + _simhash_pairs_sql()
        + """
            SELECT id_a, id_b, hamming FROM ver ORDER BY id_a, id_b
        """,
        "simhash_dedup_documents": "WITH "
        + _simhash_pairs_sql()
        + """
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT id_b FROM ver)
            ORDER BY doc_id
        """,
        "simhash_clusters_documents": "WITH RECURSIVE "
        + _simhash_pairs_sql()
        + """, sym AS MATERIALIZED (
              SELECT id_a AS src, id_b AS dst FROM ver
              UNION SELECT id_b, id_a FROM ver
            ), reach AS (
              SELECT src, dst FROM sym
              UNION
              SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
            )
            SELECT src AS doc_id, least(src, min(dst)) AS cluster_label
            FROM reach GROUP BY src ORDER BY doc_id
        """,
        "incremental_simhash_documents": "WITH "
        + _simhash_fp_sql()
        + """, ball AS MATERIALIZED (
              SELECT doc_id, v, r.range AS band, (v >> (r.range * 15)) & 32767 AS bucket
              FROM fp CROSS JOIN range(0, 4) r
            ), sok AS (
              SELECT band, bucket FROM ball WHERE doc_id < 250
              GROUP BY band, bucket HAVING count(*) <= 1000
            ), hits AS MATERIALIZED (
              SELECT DISTINCT n.doc_id
              FROM ball n
              JOIN ball s ON s.band = n.band AND s.bucket = n.bucket
              JOIN sok ON sok.band = n.band AND sok.bucket = n.bucket
              WHERE n.doc_id >= 250 AND s.doc_id < 250
                AND bit_count(xor(n.v, s.v)) <= 3
            ), fbands AS MATERIALIZED (
              SELECT * FROM ball
              WHERE doc_id >= 250 AND doc_id NOT IN (SELECT doc_id FROM hits)
            ), fgood AS (
              SELECT band, bucket FROM fbands GROUP BY band, bucket
              HAVING count(*) > 1 AND count(*) <= 1000
            ), fver AS (
              SELECT DISTINCT b.doc_id AS id_b
              FROM fbands a
              JOIN fbands b ON a.band = b.band AND a.bucket = b.bucket
              JOIN fgood g ON g.band = a.band AND g.bucket = a.bucket
              WHERE a.doc_id < b.doc_id AND bit_count(xor(a.v, b.v)) <= 3
            )
            SELECT doc_id FROM documents
            WHERE doc_id >= 250
              AND doc_id NOT IN (SELECT doc_id FROM hits)
              AND doc_id NOT IN (SELECT id_b FROM fver)
            ORDER BY doc_id
        """,
        "interaction_study_lineitem": _interaction_oracle(),
        "corrected_pvalues_documents": """
            WITH base AS (
              SELECT doc_id, ((doc_id * 37) % 1000 + 1) / 1000.0 AS pvalue FROM documents
            ), ranked AS (
              SELECT doc_id, pvalue,
                     count(*) OVER () AS m,
                     row_number() OVER (ORDER BY pvalue) AS rnk
              FROM base
            )
            SELECT doc_id, round(pvalue, 9) AS pvalue,
                   round(least(pvalue * m, 1.0), 9) AS pvalue_bonferroni,
                   round(min(least(pvalue * m / rnk, 1.0))
                         OVER (ORDER BY pvalue DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 9) AS pvalue_fdr
            FROM ranked ORDER BY doc_id
        """,
        "exact_dedup_documents": f"""
            SELECT min(doc_id) AS doc_id FROM documents
            GROUP BY md5({norm_text}) ORDER BY doc_id
        """,
        "fingerprint_documents": f"""
            SELECT doc_id, md5({norm_text}) AS fingerprint FROM documents ORDER BY doc_id
        """,
        "text_stats_documents": f"""
            SELECT doc_id,
                   CAST(length(text) AS INT) AS n_chars,
                   CAST(len({_TOKENS}) AS INT) AS n_tokens,
                   round(list_sum(list_transform({_TOKENS}, x -> length(x))) * 1.0
                         / greatest(len({_TOKENS}), 1), 6) AS mean_token_len,
                   round(list_sum(list_transform({_TOKENS}, x -> CASE WHEN x IN ({_EN}) THEN 1 ELSE 0 END)) * 1.0
                         / greatest(len({_TOKENS}), 1), 6) AS stopword_ratio
            FROM documents ORDER BY doc_id
        """,
        "token_counts_by_source": f"""
            SELECT source, count(*) AS n_docs, CAST(sum(len({_TOKENS})) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source ORDER BY source
        """,
        "language_id_documents": f"""
            WITH scored AS (
              SELECT doc_id,
                     regexp_matches(text, '[一-鿿]') AS is_cjk,
                     {_lang_score(_DE)} AS s_de,
                     {_lang_score(_EN)} AS s_en,
                     {_lang_score(_ES)} AS s_es,
                     {_lang_score(_FR)} AS s_fr
              FROM documents
            ), best AS (
              -- tie semantics match the Spark op: iterate langs in sorted
              -- order (de,en,es,fr), replace only on STRICT improvement
              SELECT doc_id, CASE
                WHEN is_cjk THEN 'zh'
                WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'unknown'
                WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS lang_pred
              FROM scored
            )
            SELECT lang_pred, count(*) AS n FROM best GROUP BY lang_pred ORDER BY lang_pred
        """,
        "quality_score_documents": f"""
            WITH s AS (
              SELECT doc_id,
                     length(text) AS n_chars,
                     len({_TOKENS}) AS n_tokens,
                     length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / greatest(length(text), 1) AS digit_ratio,
                     length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')) AS punct_chars
              FROM documents
            )
            SELECT doc_id,
                   round((least(n_tokens / 50.0, 1.0)
                        + greatest(0.0, 1.0 - (punct_chars * 1.0 / greatest(n_chars, 1)) * 5.0)
                        + greatest(0.0, 1.0 - digit_ratio * 5.0)) / 3.0, 6) AS quality
            FROM s ORDER BY doc_id
        """,
        "paragraph_dedup_documents": """
            WITH p AS (
              SELECT doc_id, string_split(text, 'batch') AS parts FROM documents
            ), ex AS (
              SELECT doc_id, i::INT AS pos, trim(parts[i::INT + 1]) AS para
              FROM p, unnest(range(len(parts))) t(i)
            ), nz AS (
              SELECT * FROM ex WHERE length(para) > 0
            ), win AS (
              SELECT doc_id, pos, para,
                     row_number() OVER (
                       PARTITION BY md5(lower(para)) ORDER BY doc_id, pos
                     ) AS rn,
                     count(*) OVER (PARTITION BY doc_id) AS n_paras_total
              FROM nz
            )
            SELECT doc_id,
                   string_agg(para, chr(10) ORDER BY pos) AS text,
                   count(*) AS n_paras_kept,
                   max(n_paras_total) AS n_paras_total
            FROM win WHERE rn = 1
            GROUP BY doc_id ORDER BY doc_id
        """,
        "line_dedup_documents": """
            WITH p AS (
              SELECT doc_id, source, string_split(text, 'batch') AS parts
              FROM documents
            ), ex AS (
              SELECT doc_id, source, i::INT AS pos, trim(parts[i::INT + 1]) AS line
              FROM p, unnest(range(len(parts))) t(i)
            ), nz AS (
              SELECT * FROM ex WHERE length(line) > 0
            ), rep AS (
              SELECT source, md5(lower(line)) AS k, count(*) AS n
              FROM nz GROUP BY source, k
            ), tot AS (
              SELECT doc_id, count(*) AS n_lines_total FROM nz GROUP BY doc_id
            ), kept AS (
              SELECT nz.doc_id, nz.source, nz.pos, nz.line
              FROM nz JOIN rep
                ON rep.source = nz.source AND rep.k = md5(lower(nz.line))
              WHERE rep.n < 2
            )
            SELECT doc_id, source,
                   string_agg(line, chr(10) ORDER BY pos) AS text,
                   count(*) AS n_lines_kept,
                   max(n_lines_total) AS n_lines_total
            FROM kept JOIN tot USING (doc_id)
            GROUP BY doc_id, source ORDER BY doc_id
        """,
        "zorder_key_lineitem": _zorder_oracle(),
        "event_gaps_events": """
            WITH g AS (
              SELECT user_id,
                     epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS gap
              FROM events
            )
            SELECT user_id, count(*) AS n_gaps,
                   CAST(sum(gap) AS BIGINT) AS gap_sum_us,
                   CAST(max(gap) AS BIGINT) AS gap_max_us
            FROM g WHERE gap IS NOT NULL
            GROUP BY user_id ORDER BY user_id
        """,
        "pivot_revenue_lineitem": """
            SELECT l_returnflag,
                   round(sum(l_extendedprice * (1 - l_discount)) FILTER (WHERE l_linestatus = 'F'), 2) AS F,
                   round(sum(l_extendedprice * (1 - l_discount)) FILTER (WHERE l_linestatus = 'O'), 2) AS O
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "quantiles_lineitem": """
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
                   round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
                   round(quantile_cont(l_quantity, 0.25), 6) AS qty_p25
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "rollup_revenue_lineitem": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
            ORDER BY gid, l_returnflag, l_linestatus
        """,
        "json_props_events": """
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
                   round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS k_avg
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "duplicate_spans_documents": f"""
            WITH t AS (
              SELECT doc_id,
                     list_transform({_TOKENS}, x -> lower(x)) AS tk
              FROM documents
            ), d AS (
              SELECT doc_id, len(tk) AS n_tokens, tk FROM t
            ), wins AS (
              SELECT doc_id, r.i::BIGINT AS pos,
                     array_to_string(tk[r.i + 1 : r.i + 16], ' ') AS g
              FROM d, unnest(range(greatest(n_tokens - 15, 0))) r(i)
            ), cnt AS (
              SELECT g FROM wins GROUP BY g HAVING count(*) >= 2
            ), dup AS (
              SELECT doc_id, pos FROM wins JOIN cnt USING (g)
            ), lagd AS (
              SELECT doc_id, pos,
                     lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lp
              FROM dup
            ), cov AS (
              SELECT doc_id, count(*) AS dup_windows,
                     sum(CASE WHEN lp IS NULL THEN 16
                              ELSE least(16, pos - lp) END) AS dup_tokens
              FROM lagd GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(n_tokens AS INT) AS n_tokens,
                   CAST(greatest(n_tokens - 15, 0) AS INT) AS n_windows,
                   CAST(coalesce(dup_windows, 0) AS BIGINT) AS dup_windows,
                   CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens,
                   CASE WHEN n_tokens > 0
                        THEN round(coalesce(dup_tokens, 0) * 1.0 / n_tokens, 6)
                        ELSE 0.0 END AS dup_fraction
            FROM d LEFT JOIN cov USING (doc_id) ORDER BY d.doc_id
        """,
        "clean_corpus_documents": _clean_corpus_oracle(),
        "corpus_stats_documents": f"""
            SELECT source,
                   count(*) AS n_docs,
                   CAST(sum(len({_TOKENS})) AS BIGINT) AS total_tokens,
                   round(avg(len({_TOKENS})), 4) AS mean_tokens,
                   CAST(min(len({_TOKENS})) AS INT) AS min_tokens,
                   CAST(max(len({_TOKENS})) AS INT) AS max_tokens,
                   count(DISTINCT md5({norm_text})) AS distinct_docs,
                   round(1.0 - count(DISTINCT md5({norm_text})) * 1.0 / count(*), 6)
                     AS dup_rate
            FROM documents GROUP BY source ORDER BY source
        """,
        "unigram_logprob_documents": f"""
            WITH ex AS (
              SELECT doc_id, lower(unnest({_TOKENS})) AS tok FROM documents
            ), vocab AS (
              SELECT tok, count(*) AS n FROM ex GROUP BY tok
            ), tot AS (
              SELECT sum(n) AS total, count(*) AS v FROM vocab
            )
            SELECT doc_id, count(*) AS n_tokens,
                   round(avg(-ln((vocab.n + 1.0) / (tot.total + tot.v + 1))
                             / ln(2)), 4) AS bits_per_token
            FROM ex JOIN vocab USING (tok), tot
            GROUP BY doc_id ORDER BY doc_id
        """,
        "perplexity_buckets_documents": f"""
            WITH ex AS (
              SELECT doc_id, lower(unnest({_TOKENS})) AS tok FROM documents
            ), vocab AS (
              SELECT tok, count(*) AS n FROM ex GROUP BY tok
            ), tot AS (
              SELECT sum(n) AS total, count(*) AS v FROM vocab
            ), lp AS (
              SELECT doc_id, count(*) AS n_tokens,
                     round(avg(-ln((vocab.n + 1.0) / (tot.total + tot.v + 1))
                               / ln(2)), 4) AS bits_per_token
              FROM ex JOIN vocab USING (tok), tot
              GROUP BY doc_id
            ), b AS (
              SELECT lp.doc_id, d.lang, lp.n_tokens, lp.bits_per_token,
                     CAST(ntile(3) OVER (
                       PARTITION BY d.lang
                       ORDER BY lp.bits_per_token, lp.doc_id
                     ) AS INT) AS bucket
              FROM lp JOIN documents d USING (doc_id)
            )
            SELECT doc_id, lang, n_tokens, bits_per_token, bucket,
                   (['head', 'middle', 'tail'])[bucket] AS bucket_label
            FROM b ORDER BY doc_id
        """,
        "deterministic_shuffle_documents": f"""
            SELECT doc_id,
                   {_md5_key("doc_id", "ep0")} AS shuffle_key,
                   CAST({_md5_key("doc_id", "ep0")} % 4 AS INT) AS shard
            FROM documents ORDER BY doc_id
        """,
        "quality_budget_sample_documents": f"""
            WITH t AS (
              SELECT doc_id, source, n_chars, {_md5_key("doc_id", "qb")} AS k,
                     CAST(len({_TOKENS}) AS BIGINT) AS n_tokens
              FROM documents
            ), c AS (
              SELECT doc_id, source, n_chars, n_tokens,
                     CAST(sum(n_tokens) OVER (
                       PARTITION BY source ORDER BY n_chars DESC, k
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS BIGINT) AS cum_tokens
              FROM t
            )
            SELECT doc_id, source, n_chars, n_tokens, cum_tokens FROM c
            WHERE (cum_tokens - n_tokens) < 400
            ORDER BY doc_id
        """,
        "token_budget_sample_documents": f"""
            WITH t AS (
              SELECT doc_id, source, {_md5_key("doc_id", "")} AS k,
                     CAST(len({_TOKENS}) AS BIGINT) AS n_tokens
              FROM documents
            ), c AS (
              SELECT doc_id, source, n_tokens,
                     CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY k
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
              FROM t
            )
            SELECT doc_id, source, n_tokens, cum_tokens FROM c
            WHERE CASE source
                    WHEN 'src0' THEN (cum_tokens - n_tokens) < 3000
                    WHEN 'src1' THEN (cum_tokens - n_tokens) < 0
                    ELSE true END
            ORDER BY doc_id
        """,
        "shard_by_tokens_documents": f"""
            WITH t AS (
              SELECT doc_id, source, {_md5_key("doc_id", "shrd")} AS k,
                     CAST(len({_TOKENS}) AS BIGINT) AS n_tokens
              FROM documents
            )
            SELECT doc_id, source, n_tokens,
                   CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY k
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                     AS cum_tokens,
                   CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY k
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
                     / 2000.0) AS BIGINT) AS shard
            FROM t ORDER BY doc_id
        """,
        "repetition_stats_documents": f"""
            WITH t AS (
              SELECT doc_id, length(text) AS chars, {_TOKENS} AS toks FROM documents
            ), g AS (
              SELECT doc_id, chars, 2 AS n,
                     unnest(list_transform(generate_series(1, len(toks) - 1),
                            i -> concat_ws(' ', toks[i], toks[i+1]))) AS gram
              FROM t WHERE len(toks) >= 2
              UNION ALL
              SELECT doc_id, chars, 3 AS n,
                     unnest(list_transform(generate_series(1, len(toks) - 2),
                            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS gram
              FROM t WHERE len(toks) >= 3
            ), c AS (
              SELECT doc_id, n, gram, max(chars) AS chars, count(*) AS cnt
              FROM g GROUP BY doc_id, n, gram
            ), top AS (
              SELECT doc_id, n, cnt, gram, chars,
                     row_number() OVER (PARTITION BY doc_id, n
                                        ORDER BY cnt DESC, gram ASC) AS rn
              FROM c
            ), f AS (
              SELECT doc_id, n,
                     round(cnt * length(gram) / (greatest(chars, 1) * 1.0), 6) AS frac
              FROM top WHERE rn = 1
            )
            SELECT t.doc_id,
                   round((len(toks) - len(list_distinct(toks)))
                         / (greatest(len(toks), 1) * 1.0), 6) AS dup_word_frac,
                   coalesce(max(CASE WHEN f.n = 2 THEN f.frac END), 0.0) AS top2_char_frac,
                   coalesce(max(CASE WHEN f.n = 3 THEN f.frac END), 0.0) AS top3_char_frac
            FROM t LEFT JOIN f ON t.doc_id = f.doc_id
            GROUP BY t.doc_id, toks
            ORDER BY t.doc_id
        """,
        "contamination_documents": f"""
            WITH t AS (
              SELECT doc_id, source, {_TOKENS} AS toks FROM documents
            ), g AS (
              SELECT doc_id, source,
                     CASE WHEN len(toks) >= 5
                          THEN list_distinct(list_transform(
                                 generate_series(1, len(toks) - 4),
                                 i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
                                                toks[i+3], toks[i+4])))
                          ELSE [array_to_string(toks, ' ')] END AS grams
              FROM t
            ), bench AS (
              SELECT DISTINCT unnest(grams) AS gram FROM g WHERE source = 'src0'
            ), corpus AS (
              SELECT doc_id, unnest(grams) AS gram FROM g WHERE source != 'src0'
            ), m AS (
              SELECT c.doc_id, count(*) AS n_ngrams,
                     CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_contaminated
              FROM corpus c LEFT JOIN bench b ON c.gram = b.gram
              GROUP BY c.doc_id
            )
            SELECT doc_id, n_ngrams, n_contaminated,
                   round(n_contaminated * 1.0 / n_ngrams, 6) AS contamination_frac,
                   n_contaminated > 0 AS contaminated
            FROM m ORDER BY doc_id
        """,
        "gopher_rules_documents": f"""
            WITH s AS (
              SELECT doc_id, {_TOKENS} AS toks,
                     length(text) - length(replace(text, '#', '')) AS n_hash,
                     (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell,
                     list_filter(string_split(text, chr(10)), x -> trim(x) != '') AS lines
              FROM documents
            ), m AS (
              SELECT doc_id,
                     CAST(len(toks) AS INT) AS n_words,
                     round(list_sum(list_transform(toks, x -> length(x)))
                           / (greatest(len(toks), 1) * 1.0), 6) AS mean_word_len,
                     round((n_hash + n_ell) / (greatest(len(toks), 1) * 1.0), 6) AS symbol_ratio,
                     round(coalesce(list_sum(list_transform(lines,
                             x -> CASE WHEN trim(x) LIKE '-%' OR trim(x) LIKE '*%'
                                        OR trim(x) LIKE '•%' THEN 1 ELSE 0 END)), 0)
                           / (greatest(len(lines), 1) * 1.0), 6) AS bullet_frac,
                     round(coalesce(list_sum(list_transform(lines,
                             x -> CASE WHEN trim(x) LIKE '%...' OR trim(x) LIKE '%…'
                                       THEN 1 ELSE 0 END)), 0)
                           / (greatest(len(lines), 1) * 1.0), 6) AS ellipsis_frac,
                     round(coalesce(list_sum(list_transform(toks,
                             x -> CASE WHEN regexp_matches(x, '[A-Za-z]') THEN 1 ELSE 0 END)), 0)
                           / (greatest(len(toks), 1) * 1.0), 6) AS alpha_frac,
                     ({" + ".join(
                         f"CASE WHEN list_contains(toks, '{w}') THEN 1 ELSE 0 END"
                         for w in ["the", "be", "to", "of", "and", "that", "have", "with"]
                     )}) AS n_stopwords
              FROM s
            )
            SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
                   ellipsis_frac, alpha_frac, n_stopwords,
                   (n_words >= 50 AND n_words <= 100000) AS pass_word_count,
                   (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS pass_word_len,
                   (symbol_ratio < 0.1) AS pass_symbols,
                   (bullet_frac < 0.9) AS pass_bullets,
                   (ellipsis_frac < 0.3) AS pass_ellipsis,
                   (alpha_frac >= 0.8) AS pass_alpha,
                   (n_stopwords >= 2) AS pass_stopwords,
                   (n_words >= 50 AND n_words <= 100000
                    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                    AND symbol_ratio < 0.1 AND bullet_frac < 0.9
                    AND ellipsis_frac < 0.3 AND alpha_frac >= 0.8
                    AND n_stopwords >= 2) AS gopher_pass
            FROM m ORDER BY doc_id
        """,
        "similarity_topk_embeddings": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id < 5
            ), scored AS (
              SELECT q.query_id, e.vec_id,
                     list_dot_product(e.embedding::DOUBLE[], q.qvec)
                       / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(q.qvec, q.qvec))) AS cosine
              FROM embeddings e CROSS JOIN q
            ), ranked AS (
              SELECT query_id, vec_id, cosine,
                     CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
              FROM scored
            )
            SELECT query_id, vec_id, rank, round(cosine, 6) AS cosine
            FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
        """,
        "quantize_int8_embeddings": f"""
            WITH {_quant_cte()}
            SELECT vec_id,
                   array_to_string(list_transform(qv, x -> CAST(CAST(x AS INTEGER) AS VARCHAR)), ',') AS qvec_csv,
                   scale
            FROM qz ORDER BY vec_id
        """,
        "quantize_binary_embeddings": f"""
            WITH {_binary_cte()}
            SELECT vec_id,
                   array_to_string(list_transform(bv, x -> CAST(x AS VARCHAR)), ',') AS bvec_csv
            FROM bz ORDER BY vec_id
        """,
        "hamming_topk_embeddings": f"""
            WITH {_binary_cte()}, q AS (
              SELECT vec_id AS query_id, bv AS qbv FROM bz WHERE vec_id < 5
            ), scored AS (
              SELECT q.query_id, b.vec_id, {_HAMMING_SQL} AS hamming
              FROM bz b CROSS JOIN q
            ), ranked AS (
              SELECT query_id, vec_id, hamming,
                     CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY hamming ASC, vec_id ASC) AS INT) AS rank
              FROM scored
            )
            SELECT query_id, vec_id, hamming, rank
            FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
        """,
        "binary_rerank_embeddings": f"""
            WITH {_binary_cte()}, q AS (
              SELECT vec_id AS query_id, bv AS qbv, v AS qvec
              FROM bz WHERE vec_id < 5
            ), short AS (
              SELECT query_id, vec_id FROM (
                SELECT q.query_id, b.vec_id,
                       row_number() OVER (PARTITION BY q.query_id ORDER BY
                         {_HAMMING_SQL} ASC, b.vec_id ASC) AS rnk
                FROM bz b CROSS JOIN q
              ) WHERE rnk <= 50
            ), rer AS (
              SELECT s.query_id, s.vec_id,
                     list_dot_product(b.v, q.qvec)
                       / (sqrt(list_dot_product(b.v, b.v))
                          * sqrt(list_dot_product(q.qvec, q.qvec))) AS cosine
              FROM short s
              JOIN bz b ON b.vec_id = s.vec_id
              JOIN q ON q.query_id = s.query_id
            ), ranked AS (
              SELECT query_id, vec_id, cosine,
                     CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
              FROM rer
            )
            SELECT query_id, vec_id, rank, round(cosine, 6) AS cosine
            FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
        """,
        "ann_recall_binary_embeddings": _ann_recall_binary_oracle(),
        "leakage_safe_split_documents": _leakage_safe_split_oracle(),
        "attribution_events": """
            WITH w AS (
              SELECT user_id, event_id, ts, event_type, value,
                     last_value(CASE WHEN event_type IN ('click','view','signup')
                                     THEN struct_pack(t := ts, i := event_id, c := event_type)
                                END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
              FROM events
            ), conv AS (
              SELECT *,
                     (touch IS NOT NULL
                      AND struct_extract(touch, 't') >= ts - INTERVAL 7 DAY) AS ok
              FROM w WHERE event_type = 'purchase'
            )
            SELECT event_id, user_id,
                   strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
                   round(value, 4) AS value,
                   CASE WHEN ok THEN struct_extract(touch, 'c') END AS channel,
                   CASE WHEN ok THEN struct_extract(touch, 'i') END AS touch_event_id,
                   CASE WHEN ok THEN strftime(struct_extract(touch, 't'),
                                              '%Y-%m-%d %H:%M:%S.%f') END AS touch_ts
            FROM conv ORDER BY event_id
        """,
        "cramers_v_documents": _cramers_v_oracle(),
        "mutual_information_documents": _mutual_information_oracle(),
        "theils_u_documents": _theils_u_oracle(),
        "incremental_embedding_neardup_embeddings": _incremental_embedding_neardup_oracle(),
        "embedding_drift_embeddings": _embedding_drift_oracle(),
        "quantized_topk_embeddings": f"""
            WITH {_quant_cte()}, q AS (
              SELECT vec_id AS query_id, qv AS qqv FROM qz WHERE vec_id < 5
            ), scored AS (
              SELECT q.query_id, qz.vec_id,
                     list_dot_product(qz.qv, q.qqv)
                       / (sqrt(list_dot_product(qz.qv, qz.qv))
                          * sqrt(list_dot_product(q.qqv, q.qqv))) AS cosine_q
              FROM qz CROSS JOIN q
            ), ranked AS (
              SELECT query_id, vec_id, cosine_q,
                     CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine_q DESC, vec_id ASC) AS INT) AS rank
              FROM scored
            )
            SELECT query_id, vec_id, rank, round(cosine_q, 6) AS cosine_q
            FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
        """,
        "ann_recall_quantized_embeddings": _ann_recall_quantized_oracle(),
        "similarity_truncated_embeddings": """
            WITH t AS (
              SELECT vec_id, (embedding::DOUBLE[])[1:16] AS tv FROM embeddings
            ), q AS (
              SELECT vec_id AS query_id, tv AS qv FROM t WHERE vec_id < 5
            ), scored AS (
              SELECT q.query_id, t.vec_id,
                     list_dot_product(t.tv, q.qv)
                       / (sqrt(list_dot_product(t.tv, t.tv))
                          * sqrt(list_dot_product(q.qv, q.qv))) AS cosine_t
              FROM t CROSS JOIN q
            ), ranked AS (
              SELECT query_id, vec_id, cosine_t,
                     CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine_t DESC, vec_id ASC) AS INT) AS rank
              FROM scored
            )
            SELECT query_id, vec_id, rank, round(cosine_t, 6) AS cosine_t
            FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
        """,
        "ann_recall_truncated_embeddings": _ann_recall_truncated_oracle(),
        "similarity_rp_embeddings": _similarity_rp_oracle(),
        "ann_recall_rp_embeddings": _ann_recall_rp_oracle(),
        # IVF with n_probe == n_lists scores the full corpus per query,
        # so the exact brute-force ranking is its oracle too
        "similarity_ivf_embeddings": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id < 5
            ), scored AS (
              SELECT q.query_id, e.vec_id,
                     list_dot_product(e.embedding::DOUBLE[], q.qvec)
                       / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(q.qvec, q.qvec))) AS cosine
              FROM embeddings e CROSS JOIN q
            ), ranked AS (
              SELECT query_id, vec_id, cosine,
                     CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
              FROM scored
            )
            SELECT query_id, vec_id, rank, round(cosine, 6) AS cosine
            FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
        """,
        # REAL-decode oracle: rebuild the 8x4 P6 payload's pixel bytes via
        # hex-pair extraction and recompute the codec's exact pixel
        # statistics (channel means/stds /255, 2-bin gray histogram) in
        # double math identical to operators/multimodal.py:_pixel_features
        "multimodal_pixels_documents": """
            WITH b AS (
              SELECT doc_id AS media_id, substr(hex(encode(text)), 1, 192) AS px_hex
              FROM documents WHERE octet_length(encode(text)) >= 96
            ), byt AS (
              SELECT media_id, i::INT AS i,
                     concat('0x', substr(px_hex, i::INT*2+1, 2))::INT AS v
              FROM b, unnest(range(96)) t(i)
            ), ch AS (
              SELECT media_id, (i%3)::INT AS c, v,
                     avg(v) OVER (PARTITION BY media_id, i%3) AS m
              FROM byt
            ), stat AS (
              SELECT media_id,
                round(avg(v) FILTER (c=0)/255.0, 6) AS f0,
                round(avg(v) FILTER (c=1)/255.0, 6) AS f1,
                round(avg(v) FILTER (c=2)/255.0, 6) AS f2,
                round(sqrt(avg((v-m)*(v-m)) FILTER (c=0))/255.0, 6) AS f3,
                round(sqrt(avg((v-m)*(v-m)) FILTER (c=1))/255.0, 6) AS f4,
                round(sqrt(avg((v-m)*(v-m)) FILTER (c=2))/255.0, 6) AS f5
              FROM ch GROUP BY media_id
            ), gray AS (
              SELECT media_id, i//3 AS px_i, sum(v)/3.0 AS g
              FROM byt GROUP BY media_id, i//3
            ), hist AS (
              SELECT media_id,
                round(sum(CASE WHEN g < 127.5 THEN 1 ELSE 0 END)/32.0, 6) AS f6,
                round(sum(CASE WHEN g >= 127.5 THEN 1 ELSE 0 END)/32.0, 6) AS f7
              FROM gray GROUP BY media_id
            )
            SELECT media_id, f0, f1, f2, f3, f4, f5, f6, f7
            FROM stat JOIN hist USING (media_id)
            ORDER BY media_id
        """,
        # REAL-decode audio oracle: re-extract the 96 data-chunk bytes via
        # hex pairs, re-center (v = byte - 128) and recompute the codec's
        # exact sample statistics (RMS / peak / zero-crossing rate)
        "multimodal_audio_documents": """
            WITH b AS (
              SELECT doc_id AS media_id, substr(hex(encode(text)), 1, 192) AS hx
              FROM documents WHERE octet_length(encode(text)) >= 96
            ), byt AS (
              SELECT media_id, i::INT AS i,
                     concat('0x', substr(hx, i::INT*2+1, 2))::INT - 128 AS v
              FROM b, unnest(range(96)) t(i)
            ), lagd AS (
              SELECT media_id, v,
                     lag(v) OVER (PARTITION BY media_id ORDER BY i) AS pv
              FROM byt
            ), agg AS (
              SELECT media_id,
                     count(*)::BIGINT AS n_frames,
                     round(sqrt(avg((v*v)::DOUBLE)), 6) AS rms,
                     max(abs(v))::BIGINT AS peak,
                     round(sum(CASE WHEN pv IS NOT NULL AND pv * v < 0
                                    THEN 1 ELSE 0 END) / 95.0, 6) AS zcr
              FROM lagd GROUP BY media_id
            )
            SELECT media_id, true AS decoded, 8000 AS sample_rate,
                   1 AS n_channels, n_frames,
                   round(n_frames * 1000.0 / 8000, 6) AS duration_ms,
                   rms, peak, zcr
            FROM agg ORDER BY media_id
        """,
        # REAL-demux video oracle: the three 2x2 DIB frames are the doc's
        # first 48 text bytes; per frame, channel means come from the DIB
        # layout (row stride 8 with 2 pad bytes; BGR order -> j%3: 2=R,
        # 1=G, 0=B), matching demux -> BMP-wrap -> decode -> mean exactly
        "multimodal_video_documents": """
            WITH b AS (
              SELECT doc_id AS media_id, substr(hex(encode(text)), 1, 96) AS hx
              FROM documents WHERE octet_length(encode(text)) >= 48
            ), byt AS (
              SELECT media_id, i::INT AS i,
                     concat('0x', substr(hx, i::INT*2+1, 2))::INT AS v
              FROM b, unnest(range(48)) t(i)
            ), px AS (
              SELECT media_id, i//16 AS f, (i%16)%8 AS j, v
              FROM byt WHERE (i%16)%8 < 6
            ), agg AS (
              SELECT media_id, f,
                     round(avg(v) FILTER (j%3=2)/255.0, 6) AS f0,
                     round(avg(v) FILTER (j%3=1)/255.0, 6) AS f1,
                     round(avg(v) FILTER (j%3=0)/255.0, 6) AS f2
              FROM px GROUP BY media_id, f
            )
            SELECT media_id*10 + f AS frame_key, f0, f1, f2
            FROM agg ORDER BY frame_key
        """,
        # gaps-and-islands: a session breaks when the gap to the previous
        # event of the same user is >= the inactivity window (Spark's
        # session_window merges [ts, ts+gap) windows that OVERLAP, so an
        # exact-gap boundary starts a new session in both engines)
        "sessionized_events": """
            WITH e AS (
              SELECT user_id, ts, value FROM events
              WHERE ts IS NOT NULL AND user_id IS NOT NULL
            ), flagged AS (
              SELECT user_id, ts, value,
                     -- strictly > gap: session_window MERGES an event at
                     -- exactly last+gap (window end is inclusive for the
                     -- merge test; pinned by the sessionization property
                     -- test's ==gap example, and re-verified directly on
                     -- Spark 4.1.2 in round 10: two events exactly gap
                     -- apart yield ONE session — so the round-9 advice to
                     -- flip this to >= was checked and is wrong; the
                     -- session_stats oracle below shares this condition)
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                            OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                               > INTERVAL 4 HOUR
                          THEN 1 ELSE 0 END AS new_s
              FROM e
            ), sessions AS (
              SELECT user_id, ts, value,
                     sum(new_s) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS sid
              FROM flagged
            )
            SELECT user_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
                   strftime(max(ts) + INTERVAL 4 HOUR, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
                   count(*) AS n_events,
                   round(sum(value), 4) AS total_value
            FROM sessions
            GROUP BY user_id, sid
            ORDER BY user_id, session_start
        """,
        "multimodal_metadata_documents": """
            SELECT doc_id AS media_id,
                   octet_length(encode(text)) AS n_bytes,
                   sha256(text) AS content_sha
            FROM documents
            ORDER BY media_id
        """,
        "idf_hash_embed_documents": f"""
            WITH ex AS (
              SELECT doc_id, lower(unnest({_TOKENS})) AS tok FROM documents
            ), dfq AS (
              SELECT tok, count(*) AS df
              FROM (SELECT DISTINCT doc_id, tok FROM ex) GROUP BY tok
            ), nn AS (
              SELECT count(*) AS n FROM documents
            ), sp AS (
              SELECT e.doc_id,
                     ({_md5_key("tok", "fh")}) % 32 AS b,
                     ((({_md5_key("tok", "fh#s")}) % 2) * 2 - 1)
                       * (ln((nn.n + 1.0) / (dfq.df + 1.0)) + 1.0) AS s
              FROM ex e JOIN dfq USING (tok), nn
            ), agg AS (
              SELECT doc_id, b, sum(s) AS v FROM sp GROUP BY doc_id, b
            ), grid AS (
              SELECT ids.doc_id, r.i AS pos
              FROM (SELECT DISTINCT doc_id FROM sp) ids CROSS JOIN range(32) r(i)
            )
            SELECT grid.doc_id, CAST(grid.pos AS INT) AS pos,
                   round(CAST(CAST(coalesce(agg.v, 0) AS FLOAT) AS DOUBLE), 6) AS val
            FROM grid LEFT JOIN agg
              ON agg.doc_id = grid.doc_id AND agg.b = grid.pos
            ORDER BY grid.doc_id, pos
        """,
        "fuzzy_join_part_names": """
            WITH n AS (SELECT DISTINCT p_name FROM part)
            SELECT a.p_name AS name_a, b.p_name AS name_b,
                   CAST(levenshtein(a.p_name, b.p_name) AS INT) AS distance
            FROM n a JOIN n b ON a.p_name < b.p_name
            WHERE levenshtein(a.p_name, b.p_name) <= 2
            ORDER BY name_a, name_b
        """,
        "bm25_topk_documents": f"""
            WITH q(query_id, query) AS (
              VALUES (0, 'hash join merge'), (1, 'slow scan filter'),
                     (2, 'vector column batch')
            ), b2 AS (
              SELECT doc_id,
                     list_transform({_TOKENS}, t -> lower(t)) AS toks,
                     len({_TOKENS}) AS dl
              FROM documents
            ), tf AS (
              SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf FROM (
                SELECT doc_id, dl, unnest(toks) AS term FROM b2
              ) GROUP BY 1, 2, 3
            ), dfq AS (
              SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
            ), st AS (
              SELECT count(*) AS n, avg(dl) AS avgdl FROM b2
            ), qt AS (
              SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id,
                     unnest(list_distinct(list_filter(
                       regexp_split_to_array(trim(lower(query)), '\\s+'),
                       x -> x != ''))) AS term
              FROM q
            ), scored AS (
              SELECT qt.query_id, tf.doc_id,
                     round(sum(
                       ln((st.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
                       * tf.tf * 2.2
                       / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))
                     ), 6) AS bm25
              FROM tf
              JOIN qt ON qt.term = tf.term
              JOIN dfq ON dfq.term = tf.term, st
              GROUP BY 1, 2
            ), ranked AS (
              SELECT query_id, doc_id, bm25,
                     CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY bm25 DESC, doc_id ASC) AS INT) AS rank
              FROM scored
            )
            SELECT query_id, doc_id, rank, bm25
            FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
        """,
        # both retrievers replayed (bm25 postings/idf SQL at k=20 + brute
        # force cosine at k=20) and fused by reciprocal rank 1/(60+rank)
        "hybrid_rrf_topk_documents": f"""
            WITH q(query_id, query) AS (
              VALUES (0, 'hash join merge'), (1, 'slow scan filter'),
                     (2, 'vector column batch')
            ), b2 AS (
              SELECT doc_id,
                     list_transform({_TOKENS}, t -> lower(t)) AS toks,
                     len({_TOKENS}) AS dl
              FROM documents
            ), tf AS (
              SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf FROM (
                SELECT doc_id, dl, unnest(toks) AS term FROM b2
              ) GROUP BY 1, 2, 3
            ), dfq AS (
              SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
            ), st AS (
              SELECT count(*) AS n, avg(dl) AS avgdl FROM b2
            ), qt AS (
              SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id,
                     unnest(list_distinct(list_filter(
                       regexp_split_to_array(trim(lower(query)), '\\s+'),
                       x -> x != ''))) AS term
              FROM q
            ), bscored AS (
              SELECT qt.query_id, tf.doc_id,
                     round(sum(
                       ln((st.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
                       * tf.tf * 2.2
                       / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))
                     ), 6) AS bm25
              FROM tf
              JOIN qt ON qt.term = tf.term
              JOIN dfq ON dfq.term = tf.term, st
              GROUP BY 1, 2
            ), lex AS (
              SELECT query_id, doc_id, rnk AS ra FROM (
                SELECT query_id, doc_id,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY bm25 DESC, doc_id ASC) AS rnk
                FROM bscored) WHERE rnk <= 20
            ), qv AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
              FROM embeddings WHERE vec_id < 3
            ), dense AS (
              SELECT query_id, doc_id, rnk AS rb FROM (
                SELECT qv.query_id, e.vec_id AS doc_id,
                       row_number() OVER (PARTITION BY qv.query_id ORDER BY
                         list_dot_product(e.embedding::DOUBLE[], qv.v)
                           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                              * sqrt(list_dot_product(qv.v, qv.v))) DESC,
                         e.vec_id ASC) AS rnk
                FROM embeddings e CROSS JOIN qv) WHERE rnk <= 20
            ), fused AS (
              SELECT COALESCE(lex.query_id, dense.query_id) AS query_id,
                     COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
                     round(COALESCE(1.0 / (60 + lex.ra), 0.0)
                           + COALESCE(1.0 / (60 + dense.rb), 0.0), 6) AS rrf
              FROM lex FULL OUTER JOIN dense
                ON lex.query_id = dense.query_id AND lex.doc_id = dense.doc_id
            ), ranked AS (
              SELECT query_id, doc_id, rrf,
                     CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY rrf DESC, doc_id ASC) AS INT) AS rank
              FROM fused)
            SELECT query_id, doc_id, rank, rrf
            FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
        """,
        # identical replay math as bm25_topk_documents, different query
        # batch — proves the stored-postings two-phase Spark path (build
        # artifact, then score with no corpus rescan) is value-identical
        # to computing from the raw table
        "bm25_stored_topk_documents": f"""
            WITH q(query_id, query) AS (
              VALUES (0, 'parquet row group'), (1, 'broadcast hash join')
            ), b2 AS (
              SELECT doc_id,
                     list_transform({_TOKENS}, t -> lower(t)) AS toks,
                     len({_TOKENS}) AS dl
              FROM documents
            ), tf AS (
              SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf FROM (
                SELECT doc_id, dl, unnest(toks) AS term FROM b2
              ) GROUP BY 1, 2, 3
            ), dfq AS (
              SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
            ), st AS (
              SELECT count(*) AS n, avg(dl) AS avgdl FROM b2
            ), qt AS (
              SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id,
                     unnest(list_distinct(list_filter(
                       regexp_split_to_array(trim(lower(query)), '\\s+'),
                       x -> x != ''))) AS term
              FROM q
            ), scored AS (
              SELECT qt.query_id, tf.doc_id,
                     round(sum(
                       ln((st.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
                       * tf.tf * 2.2
                       / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))
                     ), 6) AS bm25
              FROM tf
              JOIN qt ON qt.term = tf.term
              JOIN dfq ON dfq.term = tf.term, st
              GROUP BY 1, 2
            ), ranked AS (
              SELECT query_id, doc_id, bm25,
                     CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY bm25 DESC, doc_id ASC) AS INT) AS rank
              FROM scored
            )
            SELECT query_id, doc_id, rank, bm25
            FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
        """,
        "session_stats_events": """
            WITH e AS (
              SELECT user_id, ts, value FROM events
              WHERE ts IS NOT NULL AND user_id IS NOT NULL
            ), flagged AS (
              SELECT user_id, ts, value,
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                            OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                               > INTERVAL 4 HOUR
                          THEN 1 ELSE 0 END AS new_s
              FROM e
            ), sessions AS (
              SELECT user_id, ts, value,
                     sum(new_s) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS sid
              FROM flagged
            ), per_s AS (
              SELECT user_id, sid,
                     CAST(count(*) AS BIGINT) AS n_events,
                     sum(value) AS total_value,
                     epoch_us((max(ts) + INTERVAL 4 HOUR) - min(ts)) AS dur_us
              FROM sessions GROUP BY user_id, sid
            )
            SELECT user_id,
                   count(*) AS n_sessions,
                   CAST(sum(n_events) AS BIGINT) AS n_events,
                   round(avg(n_events), 6) AS mean_events,
                   CAST(max(n_events) AS BIGINT) AS max_events,
                   round(avg(dur_us) / 1000000.0, 6) AS mean_session_secs,
                   round(sum(total_value), 4) AS total_value
            FROM per_s GROUP BY user_id ORDER BY user_id
        """,
        "event_anomalies_events": """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                     CAST(count(*) AS BIGINT) AS n_events
              FROM events
              WHERE event_type IS NOT NULL AND ts IS NOT NULL
              GROUP BY 1, 2
            ), w AS (
              SELECT event_type, d, n_events,
                     avg(n_events) OVER win AS bm,
                     stddev_samp(n_events) OVER win AS bs,
                     count(n_events) OVER win AS bn
              FROM daily
              WINDOW win AS (PARTITION BY event_type ORDER BY d
                             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
            )
            SELECT event_type, strftime(d, '%Y-%m-%d') AS day, n_events,
                   round(bm, 6) AS base_mean,
                   round(bs, 6) AS base_std,
                   CASE WHEN bn >= 3 AND bs > 0
                        THEN round((n_events - bm) / bs, 6) END AS z,
                   CASE WHEN bn >= 3 AND bs > 0
                        THEN abs((n_events - bm) / bs) >= 2.0 END AS is_anomaly
            FROM w ORDER BY event_type, day
        """,
        "windowed_events": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type, count(*) AS n, round(sum(value), 4) AS total_value
            FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "ngram_jaccard_documents": f"""
            WITH t AS (
              SELECT doc_id, {_TOKENS} AS toks FROM documents
            ), sh AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 3
                          THEN list_distinct(list_transform(
                                 generate_series(1, len(toks) - 2),
                                 i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
                          ELSE [array_to_string(toks, ' ')] END AS sh
              FROM t
            ), scored AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     len(list_intersect(a.sh, b.sh)) * 1.0
                       / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) AS jaccard
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            )
            SELECT id_a, id_b, round(jaccard, 6) AS jaccard
            FROM scored WHERE jaccard >= 0.2 ORDER BY id_a, id_b
        """,
        "containment_pairs_documents": f"""
            WITH t AS (
              SELECT doc_id, {_TOKENS} AS toks FROM documents
              WHERE doc_id < 1000
            ), sh AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 3
                          THEN list_distinct(list_transform(
                                 generate_series(1, len(toks) - 2),
                                 i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
                          ELSE [array_to_string(toks, ' ')] END AS sh
              FROM t
            ), scored AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     len(list_intersect(a.sh, b.sh)) * 1.0
                       / greatest(len(a.sh), 1) AS c_ab,
                     len(list_intersect(a.sh, b.sh)) * 1.0
                       / greatest(len(b.sh), 1) AS c_ba
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            )
            SELECT id_a, id_b,
                   round(c_ab, 6) AS containment_a_in_b,
                   round(c_ba, 6) AS containment_b_in_a,
                   round(greatest(c_ab, c_ba), 6) AS containment
            FROM scored WHERE greatest(c_ab, c_ba) >= 0.25
            ORDER BY id_a, id_b
        """,
        "embedding_neardup_embeddings": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                         / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                            * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                    / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                       * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.45
            ORDER BY id_a, id_b
        """,
        "colfilter_min_n_events": """
            WITH tot AS (SELECT count(*) AS total FROM events),
            counts AS (
              SELECT 'v_full' AS variable, count(value) AS n_non_null FROM events
              UNION ALL
              SELECT 'v_half', count(CASE WHEN user_id % 2 = 0 THEN value END) FROM events
              UNION ALL
              SELECT 'v_sparse', count(CASE WHEN user_id % 10 = 0 THEN value END) FROM events
            )
            SELECT variable, n_non_null,
                   n_non_null >= CAST(floor(total * 0.6) AS BIGINT) AS kept
            FROM counts, tot ORDER BY variable
        """,
        "get_significant_documents": """
            WITH base AS (
              SELECT doc_id, ((doc_id * 37) % 1000 + 1) / 1000.0 AS pvalue FROM documents
            ), ranked AS (
              SELECT doc_id, pvalue,
                     count(*) OVER () AS m,
                     row_number() OVER (ORDER BY pvalue) AS rnk
              FROM base
            ), corrected AS (
              SELECT doc_id, pvalue,
                     least(pvalue * m, 1.0) AS pvalue_bonferroni,
                     min(least(pvalue * m / rnk, 1.0))
                       OVER (ORDER BY pvalue DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pvalue_fdr
              FROM ranked
            )
            SELECT doc_id, round(pvalue, 9) AS pvalue,
                   round(pvalue_bonferroni, 9) AS pvalue_bonferroni,
                   round(pvalue_fdr, 9) AS pvalue_fdr
            FROM corrected WHERE pvalue_fdr <= 0.97 ORDER BY doc_id
        """,
        "winnow_fingerprints_documents": f"""
            WITH {_winnow_fps_cte()}
            SELECT doc_id, fingerprint FROM fps ORDER BY doc_id, fingerprint
        """,
        "winnow_matches_documents": f"""
            WITH {_winnow_fps_cte()}, sizes AS (
              SELECT fingerprint, count(*) AS c FROM fps GROUP BY fingerprint
            ), ok AS (
              SELECT f.doc_id, f.fingerprint
              FROM fps f JOIN sizes s USING (fingerprint) WHERE s.c <= 1000
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
            FROM ok a JOIN ok b USING (fingerprint)
            WHERE a.doc_id < b.doc_id
            GROUP BY id_a, id_b HAVING count(*) >= 2
            ORDER BY id_a, id_b
        """,
        "chunk_documents_documents": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKENS} AS t, len({_TOKENS}) AS n FROM documents
            ), chunks AS (
              SELECT doc_id, t, i.range AS chunk_id
              FROM toks
              CROSS JOIN range(0, 100000) i
              WHERE n > 0 AND i.range < CAST(ceil(greatest(n - 16, 1) / 48.0) AS BIGINT)
            )
            SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
                   array_to_string(t[chunk_id*48 + 1 : chunk_id*48 + 64], ' ') AS chunk_text,
                   CAST(len(t[chunk_id*48 + 1 : chunk_id*48 + 64]) AS INT) AS chunk_tokens_n
            FROM chunks ORDER BY doc_id, chunk_id
        """,
        "label_centroids_embeddings": """
            SELECT label, CAST(i.range AS INT) AS pos,
                   round(avg(embedding[i.range + 1]), 6) AS centroid,
                   count(*) AS n
            FROM embeddings
            CROSS JOIN range(0, 64) i
            GROUP BY label, pos ORDER BY label, pos
        """,
        "rolling_fingerprint_documents": f"""
            SELECT doc_id,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform({_TOKENS},
                         t -> CAST(list_sum(list_transform(range(1, 16),
                                k -> (CAST(strpos('0123456789abcdef',
                                       substr(md5(lower(t)), k, 1)) AS BIGINT) - 1)
                                     << ((15 - k) * 4))) AS BIGINT) % 2147483647)),
                     (a, b) -> (a * 131 + b) % 2147483647) AS rolling_fp
            FROM documents ORDER BY doc_id
        """,
        "bpe_token_counts_documents": f"""
            SELECT doc_id,
                   CAST(len({_TOKENS}) AS INT) AS ws_tokens,
                   CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) AS INT) AS bpe_tokens
            FROM documents ORDER BY doc_id
        """,
        "incremental_dedup_documents": f"""
            WITH seen AS (
              SELECT DISTINCT md5({norm_text}) AS fp FROM documents WHERE doc_id < 250
            ), fresh AS (
              SELECT doc_id, md5({norm_text}) AS fp FROM documents
              WHERE doc_id >= 250
            )
            SELECT min(doc_id) AS doc_id
            FROM fresh WHERE fp NOT IN (SELECT fp FROM seen)
            GROUP BY fp ORDER BY doc_id
        """,
        "asof_join_events": """
            WITH clicks AS (
              SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
            ), buys AS (
              SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
            )
            SELECT c.event_id, c.user_id, c.ts,
                   round(b.value, 4) AS purchase_value,
                   b.ts AS purchase_ts
            FROM clicks c ASOF LEFT JOIN buys b
              ON c.user_id = b.user_id AND c.ts >= b.ts
            ORDER BY c.event_id
        """,
        "interval_join_events": """
            SELECT c.event_id, c.user_id, p.event_id AS purchase_id
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
              ON c.user_id = p.user_id
             AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 2 HOURS
            ORDER BY c.event_id, purchase_id
        """,
        "top_tokens_documents": f"""
            WITH tok AS (
              SELECT lower(unnest({_TOKENS})) AS token FROM documents
            ), vocab AS (
              SELECT token, count(*) AS n FROM tok GROUP BY token
            )
            SELECT token, n,
                   CAST(row_number() OVER (ORDER BY n DESC, token) AS INT) AS rank
            FROM vocab ORDER BY n DESC, token LIMIT 25
        """,
        "user_stats_events": """
            SELECT user_id,
                   count(value) AS n_events,
                   round(sum(value), 4) AS total_value,
                   round(avg(value), 6) AS mean_value,
                   round(var_samp(value), 6) AS var_value
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        "deterministic_split_documents": f"""
            WITH b AS (
              SELECT CASE
                       WHEN {_md5_bucket("doc_id", "s1")} < 8000 THEN 'train'
                       WHEN {_md5_bucket("doc_id", "s1")} < 9000 THEN 'val'
                       ELSE 'test'
                     END AS split
              FROM documents
            )
            SELECT split, count(*) AS n FROM b GROUP BY split ORDER BY split
        """,
        "stratified_sample_documents": f"""
            SELECT doc_id, source FROM documents
            WHERE {_md5_bucket("doc_id", "mix")} <
                  CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 0 ELSE 4000 END
            ORDER BY doc_id
        """,
        "pack_sequences_documents": f"""
            WITH toks AS (
              SELECT source, doc_id, CAST(len({_TOKENS}) AS BIGINT) AS n_tokens
              FROM documents
            ), laid AS (
              SELECT source, doc_id, n_tokens,
                     CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
                          AS BIGINT) AS start
              FROM toks
            )
            SELECT source, doc_id, n_tokens,
                   start // 512 AS seq_id, start % 512 AS seq_offset
            FROM laid ORDER BY source, doc_id
        """,
        "redact_documents": f"""
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(text,
                       '{_PII["email"]}', '[email]', 'g'),
                       '{_PII["ipv4"]}', '[ipv4]', 'g'),
                       '{_PII["phone"]}', '[phone]', 'g') AS text_redacted,
                   CAST(len(regexp_extract_all(text, '{_PII["email"]}')) AS INT) AS n_email,
                   CAST(len(regexp_extract_all(text, '{_PII["ipv4"]}')) AS INT) AS n_ipv4,
                   CAST(len(regexp_extract_all(text, '{_PII["phone"]}')) AS INT) AS n_phone,
                   CAST(len(regexp_extract_all(text, '{_PII["email"]}'))
                      + len(regexp_extract_all(text, '{_PII["ipv4"]}'))
                      + len(regexp_extract_all(text, '{_PII["phone"]}')) AS INT) AS n_redacted
            FROM documents ORDER BY doc_id
        """,
        "domain_cap_documents": f"""
            WITH k AS (
              SELECT doc_id, source, {_md5_key("doc_id", "cap")} AS key
              FROM documents
            ), r AS (
              SELECT doc_id, source,
                     CAST(row_number() OVER (PARTITION BY source
                          ORDER BY key, doc_id) AS INT) AS cap_rank
              FROM k
            )
            SELECT doc_id, source, cap_rank FROM r
            WHERE cap_rank <= 15 ORDER BY doc_id
        """,
        "temperature_mixture_documents": f"""
            WITH c AS (
              SELECT source, count(*) AS n FROM documents GROUP BY source
            ), t AS (
              SELECT sum(pow(n, 0.5)) AS z FROM c
            ), r AS (
              SELECT source,
                     CAST(floor(least(1.0, pow(n, 0.5) / z * 300.0 / n)
                          * 10000 + 0.5) AS INT) AS rate_buckets
              FROM c, t
            )
            SELECT d.doc_id, d.source, r.rate_buckets
            FROM documents d JOIN r USING (source)
            WHERE {_md5_bucket("doc_id", "tmix")} < r.rate_buckets
            ORDER BY doc_id
        """,
        "mixture_report_documents": f"""
            WITH c AS (
              SELECT source, count(*) AS n_docs,
                     CAST(sum(len({_TOKENS})) AS BIGINT) AS available_tokens
              FROM documents GROUP BY source
            ), t AS (
              SELECT sum(pow(available_tokens, 0.7)) AS z FROM c
            ), r AS (
              SELECT c.source, c.n_docs, c.available_tokens,
                     pow(c.available_tokens, 0.7) / t.z AS w,
                     CAST(floor(pow(c.available_tokens, 0.7) / t.z
                                * 1000000.0) AS BIGINT) AS sampled_tokens
              FROM c, t
            )
            SELECT source, n_docs, available_tokens,
                   round(w, 6) AS weight,
                   sampled_tokens,
                   round(sampled_tokens / available_tokens, 6) AS effective_epochs,
                   least(sampled_tokens,
                         CAST(floor(2.0 * available_tokens) AS BIGINT)) AS capped_tokens,
                   sampled_tokens - least(sampled_tokens,
                         CAST(floor(2.0 * available_tokens) AS BIGINT)) AS lost_tokens
            FROM r ORDER BY source
        """,
        "tfidf_top_terms_documents": f"""
            WITH exf AS (
              SELECT doc_id, term FROM (
                SELECT doc_id, lower(unnest({_TOKENS})) AS term FROM documents
              ) WHERE length(term) >= 3
            ), tf AS (
              SELECT doc_id, term, count(*) AS tf FROM exf GROUP BY doc_id, term
            ), dfreq AS (
              SELECT term, count(*) AS df
              FROM (SELECT DISTINCT doc_id, term FROM exf) GROUP BY term
            ), nd AS (
              SELECT count(DISTINCT doc_id) AS n FROM documents
            ), scored AS (
              SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                     round(tf.tf * (ln((nd.n + 1.0) / (dfreq.df + 1.0)) + 1.0), 6)
                       AS tfidf
              FROM tf JOIN dfreq USING (term), nd
            ), ranked AS (
              SELECT doc_id, term, tf, df, tfidf,
                     CAST(row_number() OVER (PARTITION BY doc_id
                          ORDER BY tfidf DESC, term ASC) AS INT) AS "rank"
              FROM scored
            )
            SELECT * FROM ranked WHERE "rank" <= 3 ORDER BY doc_id, "rank"
        """,
        "pmi_collocations_documents": f"""
            WITH t AS (
              SELECT list_transform({_TOKENS}, x -> lower(x)) AS toks
              FROM documents
            ), uni AS (
              SELECT w, count(*) AS c
              FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w
            ), bi AS (
              SELECT split_part(bigram, ' ', 1) AS w1,
                     split_part(bigram, ' ', 2) AS w2, c12
              FROM (
                SELECT bigram, count(*) AS c12 FROM (
                  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                i -> concat_ws(' ', toks[i], toks[i+1]))) AS bigram
                  FROM t WHERE len(toks) >= 2
                ) GROUP BY bigram
              ) WHERE c12 >= 3
            ), tot AS (
              SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM uni) AS u,
                     (SELECT CAST(sum(greatest(len(toks) - 1, 0)) AS DOUBLE) FROM t) AS b
            ), scored AS (
              SELECT bi.w1, bi.w2, bi.c12, u1.c AS c1, u2.c AS c2,
                     round(ln((bi.c12 * tot.u * tot.u)
                              / (tot.b * u1.c * u2.c)) / ln(2.0), 6) AS pmi
              FROM bi JOIN uni u1 ON u1.w = bi.w1
                      JOIN uni u2 ON u2.w = bi.w2, tot
            ), ranked AS (
              SELECT w1, w2, c12, c1, c2, pmi,
                     CAST(row_number() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS INT) AS "rank"
              FROM scored
            )
            SELECT * FROM ranked WHERE "rank" <= 30 ORDER BY "rank"
        """,
        "bigram_logprob_documents": f"""
            WITH t AS (
              SELECT doc_id, list_transform({_TOKENS}, x -> lower(x)) AS toks
              FROM documents
            ), exw AS (
              SELECT doc_id, bigram, split_part(bigram, ' ', 1) AS w1 FROM (
                SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(toks) - 1),
                              i -> concat_ws(' ', toks[i], toks[i+1]))) AS bigram
                FROM t WHERE len(toks) >= 2
              )
            ), bi AS (
              SELECT bigram, count(*) AS c2 FROM exw GROUP BY bigram
            ), uni AS (
              SELECT w1, count(*) AS c1 FROM exw GROUP BY w1
            ), v AS (
              SELECT count(DISTINCT x) AS vs FROM (
                SELECT split_part(bigram, ' ', 2) AS x FROM exw
                UNION ALL SELECT w1 FROM exw
              )
            )
            SELECT doc_id, count(*) AS n_bigrams,
                   round(avg(-ln((bi.c2 + 1.0) / (uni.c1 + 1.0 * (v.vs + 1)))
                             / ln(2)), 4) AS bits_per_bigram
            FROM exw JOIN bi USING (bigram) JOIN uni USING (w1), v
            GROUP BY doc_id ORDER BY doc_id
        """,
        "quality_classifier_documents": f"""
            WITH s AS (
              SELECT doc_id,
                     length(text) AS n_chars,
                     len({_TOKENS}) AS n_tokens,
                     list_sum(list_transform({_TOKENS}, x -> length(x))) * 1.0
                       / greatest(len({_TOKENS}), 1) AS mean_token_len,
                     (length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')))
                       * 1.0 / greatest(length(text), 1) AS punct_ratio,
                     length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
                       / greatest(length(text), 1) AS digit_ratio,
                     list_sum(list_transform({_TOKENS},
                       x -> CASE WHEN x IN ({_EN}) THEN 1 ELSE 0 END)) * 1.0
                       / greatest(len({_TOKENS}), 1) AS stopword_ratio
              FROM documents
            ), zz AS (
              SELECT doc_id,
                     -1.0 + 0.55 * ln(n_tokens + 1.0) + 0.18 * mean_token_len
                          + 4.0 * stopword_ratio + (-6.0) * punct_ratio
                          + (-4.0) * digit_ratio AS z
              FROM s
            )
            SELECT doc_id,
                   round(1.0 / (1.0 + exp(-z)), 6) AS quality_prob,
                   round(1.0 / (1.0 + exp(-z)), 6) >= 0.5 AS keep
            FROM zz ORDER BY doc_id
        """,
        "remove_duplicate_spans_documents": f"""
            WITH t AS (
              SELECT doc_id, {_TOKENS} AS otk,
                     list_transform({_TOKENS}, x -> lower(x)) AS tk
              FROM documents
            ), d AS (
              SELECT doc_id, otk, len(tk) AS n_tokens, tk FROM t
            ), wins AS (
              SELECT doc_id, r.i::BIGINT AS pos,
                     array_to_string(tk[r.i + 1 : r.i + 16], ' ') AS g
              FROM d, unnest(range(greatest(n_tokens - 15, 0))) r(i)
            ), cnt AS (
              SELECT g FROM wins GROUP BY g HAVING count(*) >= 2
            ), dup AS (
              SELECT doc_id, pos FROM wins JOIN cnt USING (g)
            ), lagd AS (
              SELECT doc_id, pos,
                     lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lp
              FROM dup
            ), isl AS (
              SELECT doc_id, pos,
                     sum(CASE WHEN lp IS NULL OR pos > lp + 16 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
              FROM lagd
            ), iv AS (
              SELECT doc_id, grp, min(pos) AS s, max(pos) + 15 AS e
              FROM isl GROUP BY doc_id, grp
            ), covered AS (
              SELECT doc_id, s + u.i AS j FROM iv, unnest(range(e - s + 1)) u(i)
            ), posx AS (
              SELECT doc_id, r.i::BIGINT AS j, otk[r.i + 1] AS tok
              FROM d, unnest(range(n_tokens)) r(i)
            ), keptx AS (
              SELECT p.doc_id, p.j, p.tok
              FROM posx p LEFT JOIN covered c ON p.doc_id = c.doc_id AND p.j = c.j
              WHERE c.j IS NULL
            ), agg AS (
              SELECT doc_id, count(*) AS n_kept,
                     string_agg(tok, ' ' ORDER BY j) AS txt
              FROM keptx GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(n_tokens AS INT) AS n_tokens,
                   CAST(n_tokens - coalesce(agg.n_kept, 0) AS INT) AS removed_tokens,
                   coalesce(agg.txt, '') AS text_cleaned
            FROM d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id
        """,
        "remove_contaminated_spans_documents": f"""
            WITH t AS (
              SELECT doc_id, source, {_TOKENS} AS otk,
                     list_transform({_TOKENS}, x -> lower(x)) AS tk
              FROM documents
            ), d AS (
              SELECT doc_id, otk, len(tk) AS n_tokens, tk FROM t
              WHERE source != 'src0'
            ), bwins AS (
              SELECT DISTINCT array_to_string(tk[r.i + 1 : r.i + 5], ' ') AS g
              FROM t, unnest(range(greatest(len(tk) - 4, 0))) r(i)
              WHERE source = 'src0'
            ), wins AS (
              SELECT doc_id, r.i::BIGINT AS pos,
                     array_to_string(tk[r.i + 1 : r.i + 5], ' ') AS g
              FROM d, unnest(range(greatest(n_tokens - 4, 0))) r(i)
            ), dup AS (
              SELECT doc_id, pos FROM wins JOIN bwins USING (g)
            ), lagd AS (
              SELECT doc_id, pos,
                     lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lp
              FROM dup
            ), isl AS (
              SELECT doc_id, pos,
                     sum(CASE WHEN lp IS NULL OR pos > lp + 5 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
              FROM lagd
            ), iv AS (
              SELECT doc_id, grp, min(pos) AS s, max(pos) + 4 AS e
              FROM isl GROUP BY doc_id, grp
            ), covered AS (
              SELECT doc_id, s + u.i AS j FROM iv, unnest(range(e - s + 1)) u(i)
            ), posx AS (
              SELECT doc_id, r.i::BIGINT AS j, otk[r.i + 1] AS tok
              FROM d, unnest(range(n_tokens)) r(i)
            ), keptx AS (
              SELECT p.doc_id, p.j, p.tok
              FROM posx p LEFT JOIN covered c ON p.doc_id = c.doc_id AND p.j = c.j
              WHERE c.j IS NULL
            ), agg AS (
              SELECT doc_id, count(*) AS n_kept,
                     string_agg(tok, ' ' ORDER BY j) AS txt
              FROM keptx GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(n_tokens AS INT) AS n_tokens,
                   CAST(n_tokens - coalesce(agg.n_kept, 0) AS INT) AS removed_tokens,
                   coalesce(agg.txt, '') AS text_cleaned
            FROM d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id
        """,
        "ann_recall_embeddings": _ann_recall_oracle(),
        "ivf_recall_embeddings": _ivf_recall_oracle(),
        "lsh_recall_documents": (
            "WITH sample AS MATERIALIZED (SELECT * FROM documents WHERE "
            + _md5_bucket("doc_id", "recall")
            + " < 5000), "
            + _minhash_md5_pipeline("sample")
            + """, truth AS MATERIALIZED (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM docs a JOIN docs b ON a.doc_id < b.doc_id
              WHERE len(list_intersect(a.sh, b.sh)) * 1.0
                    / greatest(len(list_distinct(a.sh || b.sh)), 1) >= 0.5
            ), hits AS (
              SELECT t.id_a, t.id_b FROM truth t
              JOIN pairs p ON p.id_a = t.id_a AND p.id_b = t.id_b
            )
            SELECT (SELECT count(*) FROM sample) AS n_sample,
                   (SELECT count(*) FROM truth) AS n_true_pairs,
                   (SELECT count(*) FROM pairs) AS n_candidate_pairs,
                   (SELECT count(*) FROM hits) AS n_hits,
                   CASE WHEN (SELECT count(*) FROM truth) > 0
                        THEN round((SELECT count(*) FROM hits) * 1.0
                                   / (SELECT count(*) FROM truth), 6) END AS recall,
                   CASE WHEN (SELECT count(*) FROM pairs) > 0
                        THEN round((SELECT count(*) FROM hits) * 1.0
                                   / (SELECT count(*) FROM pairs), 6) END AS precision
        """
        ),
        "token_percentiles_by_source": f"""
            SELECT source, count(*) AS n_docs,
                   round(quantile_cont(len({_TOKENS}), 0.25), 4) AS p25,
                   round(quantile_cont(len({_TOKENS}), 0.5), 4) AS p50,
                   round(quantile_cont(len({_TOKENS}), 0.75), 4) AS p75,
                   round(quantile_cont(len({_TOKENS}), 0.95), 4) AS p95
            FROM documents GROUP BY source ORDER BY source
        """,
        # the oracle replays the max_candidates=100 per-doc cap (md5
        # order over the pair key) exactly, so the gate proves the cap
        # semantics, not just the uncapped path (domain_cap precedent);
        # shingle jaccard is computed on the raw gram STRINGS while the
        # engine folds xxhash64 longs — identical sets absent a 2^64
        # collision, which the hash-match would catch
        "jaccard_topk_documents": "WITH "
        + _minhash_md5_pipeline()
        + f""", dsym AS MATERIALIZED (
              SELECT id_a AS doc_id, id_b AS neighbor_id FROM pairs
              UNION ALL
              SELECT id_b, id_a FROM pairs
            ), capped AS MATERIALIZED (
              SELECT doc_id, neighbor_id FROM (
                SELECT doc_id, neighbor_id,
                       row_number() OVER (PARTITION BY doc_id
                         ORDER BY {_md5_key("CAST(doc_id AS VARCHAR) || ':' || CAST(neighbor_id AS VARCHAR)", "jt")} ASC,
                                  neighbor_id ASC) AS cr
                FROM dsym
              ) WHERE cr <= 100
            ), cpairs AS MATERIALIZED (
              SELECT DISTINCT least(doc_id, neighbor_id) AS id_a,
                              greatest(doc_id, neighbor_id) AS id_b
              FROM capped
            ), scored AS (
              SELECT p.id_a, p.id_b,
                     round(len(list_intersect(da.sh, db.sh)) * 1.0
                           / greatest(len(list_distinct(da.sh || db.sh)), 1), 6)
                       AS jaccard
              FROM cpairs p
              JOIN docs da ON da.doc_id = p.id_a
              JOIN docs db ON db.doc_id = p.id_b
            ), sym AS (
              SELECT id_a AS doc_id, id_b AS neighbor_id, jaccard FROM scored
              UNION ALL
              SELECT id_b, id_a, jaccard FROM scored
            ), symc AS (
              SELECT s.doc_id, s.neighbor_id, s.jaccard
              FROM sym s JOIN capped c USING (doc_id, neighbor_id)
            ), ranked AS (
              SELECT doc_id, neighbor_id, jaccard,
                     CAST(row_number() OVER (
                       PARTITION BY doc_id ORDER BY jaccard DESC, neighbor_id
                     ) AS INT) AS rank
              FROM symc
            )
            SELECT doc_id, neighbor_id, jaccard, rank
            FROM ranked WHERE rank <= 5 ORDER BY doc_id, rank
        """,
        "feature_hash_embed_documents": f"""
            WITH ex AS (
              SELECT doc_id, lower(unnest({_TOKENS})) AS tok FROM documents
            ), sp AS (
              SELECT doc_id,
                     ({_md5_key("tok", "fh")}) % 32 AS b,
                     (({_md5_key("tok", "fh#s")}) % 2) * 2 - 1 AS s
              FROM ex
            ), agg AS (
              SELECT doc_id, b, CAST(sum(s) AS BIGINT) AS v
              FROM sp GROUP BY doc_id, b
            ), grid AS (
              SELECT ids.doc_id, r.i AS d
              FROM (SELECT DISTINCT doc_id FROM sp) ids CROSS JOIN range(32) r(i)
            ), dense AS (
              SELECT grid.doc_id, grid.d, coalesce(agg.v, 0) AS v
              FROM grid LEFT JOIN agg ON agg.doc_id = grid.doc_id AND agg.b = grid.d
            )
            SELECT doc_id,
                   string_agg(CAST(v AS VARCHAR), ',' ORDER BY d) AS embedding_csv,
                   round(sqrt(sum(v * v)), 6) AS l2_norm
            FROM dense GROUP BY doc_id ORDER BY doc_id
        """,
        "split_leakage_documents": f"""
            WITH s AS (
              SELECT text,
                     CASE WHEN {_md5_bucket("CAST(doc_id AS VARCHAR)", "lk")} < 6000 THEN 'train'
                          WHEN {_md5_bucket("CAST(doc_id AS VARCHAR)", "lk")} < 8000 THEN 'val'
                          ELSE 'test' END AS split
              FROM documents
            ), t AS (
              SELECT split, {_TOKENS} AS tk FROM s
            ), fps AS (
              SELECT DISTINCT md5(gram) AS fp, split AS src FROM (
                SELECT split,
                       unnest(list_transform(generate_series(1, len(tk) - 7),
                              i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3],
                                             tk[i+4], tk[i+5], tk[i+6], tk[i+7]))) AS gram
                FROM t WHERE len(tk) >= 8
              )
            ), sizes AS (
              SELECT src, count(*) AS n FROM fps GROUP BY src
            ), pairs AS (
              SELECT a.src AS split_a, b.src AS split_b, count(*) AS n_shared
              FROM fps a JOIN fps b USING (fp)
              WHERE a.src < b.src
              GROUP BY a.src, b.src
            )
            SELECT p.split_a, p.split_b, p.n_shared,
                   sa.n AS n_a, sb.n AS n_b
            FROM pairs p
            JOIN sizes sa ON sa.src = p.split_a
            JOIN sizes sb ON sb.src = p.split_b
            ORDER BY p.split_a, p.split_b
        """,
        "source_overlap_documents": f"""
            WITH t AS (
              SELECT source, {_TOKENS} AS tk FROM documents
            ), fps AS (
              SELECT DISTINCT md5(gram) AS fp, source AS src FROM (
                SELECT source,
                       unnest(list_transform(generate_series(1, len(tk) - 7),
                              i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3],
                                             tk[i+4], tk[i+5], tk[i+6], tk[i+7]))) AS gram
                FROM t WHERE len(tk) >= 8
              )
            ), sizes AS (
              SELECT src, count(*) AS n FROM fps GROUP BY src
            ), pairs AS (
              SELECT a.src AS source_a, b.src AS source_b, count(*) AS n_shared
              FROM fps a JOIN fps b USING (fp)
              WHERE a.src < b.src
              GROUP BY a.src, b.src
            )
            SELECT p.source_a, p.source_b, p.n_shared,
                   sa.n AS n_a, sb.n AS n_b
            FROM pairs p
            JOIN sizes sa ON sa.src = p.source_a
            JOIN sizes sb ON sb.src = p.source_b
            ORDER BY p.source_a, p.source_b
        """,
        "funnel_events": """
            WITH e AS (
              SELECT user_id, event_type, ts FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
            ), s1 AS (
              SELECT user_id, min(ts) AS t1 FROM e
              WHERE event_type = 'signup' GROUP BY user_id
            ), s2 AS (
              SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
              WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id
            ), s3 AS (
              SELECT e.user_id, min(e.ts) AS t3 FROM e JOIN s2 USING (user_id)
              WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id
            )
            SELECT s1.user_id,
                   CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                             WHEN s2.t2 IS NOT NULL THEN 2 ELSE 1 END AS INT) AS stage,
                   strftime(coalesce(s3.t3, s2.t2, s1.t1),
                            '%Y-%m-%d %H:%M:%S.%f') AS stage_ts
            FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
            ORDER BY s1.user_id
        """,
        "funnel_window_events": """
            WITH e AS (
              SELECT user_id, event_type, ts FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
            ), s1 AS (
              SELECT user_id, min(ts) AS t1 FROM e
              WHERE event_type = 'signup' GROUP BY user_id
            ), s2 AS (
              SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
              WHERE e.event_type = 'view' AND e.ts > s1.t1
                AND e.ts <= s1.t1 + INTERVAL 6 HOUR
              GROUP BY e.user_id
            ), s3 AS (
              SELECT e.user_id, min(e.ts) AS t3
              FROM e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
              WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                AND e.ts <= s1.t1 + INTERVAL 6 HOUR
              GROUP BY e.user_id
            )
            SELECT s1.user_id,
                   CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                             WHEN s2.t2 IS NOT NULL THEN 2 ELSE 1 END AS INT) AS stage,
                   strftime(coalesce(s3.t3, s2.t2, s1.t1),
                            '%Y-%m-%d %H:%M:%S.%f') AS stage_ts
            FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
            ORDER BY s1.user_id
        """,
        "funnel_times_events": """
            WITH e AS (
              SELECT user_id, event_type, ts FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
            ), s1 AS (
              SELECT user_id, min(ts) AS t1 FROM e
              WHERE event_type = 'signup' GROUP BY user_id
            ), s2 AS (
              SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
              WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id
            ), s3 AS (
              SELECT e.user_id, min(e.ts) AS t3 FROM e JOIN s2 USING (user_id)
              WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id
            ), u AS (
              SELECT s1.user_id, s1.t1, s2.t2, s3.t3
              FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
            )
            SELECT user_id, CAST(1 AS INT) AS stage,
                   strftime(t1, '%Y-%m-%d %H:%M:%S.%f') AS stage_ts,
                   CAST(NULL AS BIGINT) AS since_prev_us
            FROM u
            UNION ALL
            SELECT user_id, CAST(2 AS INT),
                   strftime(t2, '%Y-%m-%d %H:%M:%S.%f'),
                   epoch_us(t2) - epoch_us(t1)
            FROM u WHERE t2 IS NOT NULL
            UNION ALL
            SELECT user_id, CAST(3 AS INT),
                   strftime(t3, '%Y-%m-%d %H:%M:%S.%f'),
                   epoch_us(t3) - epoch_us(t2)
            FROM u WHERE t3 IS NOT NULL
            ORDER BY user_id, stage
        """,
        "funnel_counts_events": """
            WITH e AS (
              SELECT user_id, event_type, ts FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
            ), s1 AS (
              SELECT user_id, min(ts) AS t1 FROM e
              WHERE event_type = 'signup' GROUP BY user_id
            ), s2 AS (
              SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
              WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id
            ), s3 AS (
              SELECT e.user_id, min(e.ts) AS t3 FROM e JOIN s2 USING (user_id)
              WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id
            )
            SELECT CAST(1 AS INT) AS stage, count(*) AS n_users FROM s1
            UNION ALL SELECT CAST(2 AS INT), count(*) FROM s2
            UNION ALL SELECT CAST(3 AS INT), count(*) FROM s3
            ORDER BY stage
        """,
        "retention_events": """
            WITH d AS (
              SELECT user_id, CAST(ts AS DATE) AS day FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
            ), c AS (
              SELECT user_id, min(day) AS cohort_date FROM d GROUP BY user_id
            )
            SELECT c.cohort_date,
                   CAST(floor(date_diff('day', c.cohort_date, d.day) / 7.0) AS INT)
                     AS period_offset,
                   count(DISTINCT d.user_id) AS n_users
            FROM d JOIN c USING (user_id)
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
    }
    # the stored-snapshot form is contract-equal to the two-frame form
    # (tests/test_round11_ops.py pins row-for-row parity) — same oracle
    out["table_diff_snapshot_orders"] = out["table_diff_orders"]
    # the stored binary index is contract-equal to inline packing
    # (tests/test_round11_ops.py pins row-for-row parity) — same oracle
    out["hamming_stored_topk_embeddings"] = out["hamming_topk_embeddings"]
    # the fully index-resident rerank (stage 1 bvec/ + stage 2 vectors/
    # sidecar, round 12) is contract-equal to the live-corpus form
    # (tests/test_round12_ops.py pins row-for-row parity) — same oracle
    out["binary_rerank_stored_embeddings"] = out["binary_rerank_embeddings"]
    # macro average = one AVG over the per-query rank_eval replay
    out["rank_eval_macro_embeddings"] = f"""
        SELECT CAST(count(*) AS BIGINT) AS n_queries,
               CAST(10 AS INT) AS k,
               round(avg(precision), 6) AS precision,
               round(avg(recall), 6) AS recall,
               round(avg(mrr), 6) AS mrr,
               round(avg(ndcg), 6) AS ndcg
        FROM ({out["rank_eval_embeddings"]})
    """
    return out
