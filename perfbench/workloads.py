"""The benchmark's workloads: which operations a pass runs, on what input,
and how each operation's output is checked.

An operation is a registry query (layer ``queries``) or a public call into
``plans``/``stats``/``ml``. Its ``build`` returns a DataFrame (executed by a
noop write) or an eager result (nothing left to execute).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class Check:
    ok: bool
    rows: int
    oracle_rows: int | None = None
    detail: str = ""

    @property
    def vacuous(self) -> bool:
        return self.ok and self.rows == 0 and self.oracle_rows in (0, None)


@dataclass
class Op:
    name: str
    layer: str
    build: Callable[[SparkSession], Any]
    check: Callable[[SparkSession], Check]


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    sf: float
    queries: tuple[str, ...] = ()
    trees_rows: int = 0


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "analytics",
            "TPC-H reads (scan, aggregation, joins, windows, eager 1-NN) plus "
            "two event-table writes: partition overwrite and a streaming file sink",
            0.01,
            ("q01_grouped_agg", "q12_join_multiway", "q16_knn_1nn", "q18_running_sum",
             "q196_tpch_q6_forecast_revenue", "q95_streaming_file_sink",
             "q119_partition_overwrite"),
        ),
        Workload(
            "text_dedup",
            "document dedup and retrieval: two pair generators, a tokenising "
            "explode and brute-force cosine top-k; nothing runs at build time",
            0.01,
            ("q41_ann_bruteforce", "q126_editdist_pairs", "q161_jaccard_prefix_join",
             "q213_inverted_index"),
        ),
        Workload(
            "ingest",
            "writes beside reads: merge upsert, streaming file sink, partition "
            "overwrite, Z-order rewrite, incremental dedup; mostly at build time",
            0.01,
            ("q77_merge_upsert", "q95_streaming_file_sink", "q119_partition_overwrite",
             "q128_zorder_layout", "q178_incremental_dedup"),
        ),
        Workload(
            "reference_trees",
            "the paper's own pipeline at its 8,552-row size: clean, 10 report "
            "frames, four tests, logistic fit; per-job latency and round trips",
            0.0,
            trees_rows=8552,
        ),
    )
}


def registry_ops(names: tuple[str, ...], sf_dir: str) -> list[Op]:
    from isen_projet_bigdata_a3s6_spark import queries as registry
    from isen_projet_bigdata_a3s6_spark.oracle_check import check_query

    qs = registry.queries()

    def op(name: str) -> Op:
        def check(spark: SparkSession) -> Check:
            r = check_query(spark, name, sf_dir)
            return Check(r.ok, r.row_count_spark, r.row_count_oracle, "; ".join(r.mismatches[:2]))

        return Op(name, "queries", lambda spark: qs[name](spark, sf_dir), check)

    return [op(n) for n in names]


TREE_NUMERIC = ["haut_tot", "haut_tronc", "tronc_diam", "age_estim"]
IMPUTED = ["clc_quartier", "clc_secteur", "villeca", "fk_pied"]


def trees_ops(trees_path: str) -> list[Op]:
    """The reference pipeline: every operation starts from the raw fixture
    and runs ``clean_trees`` first, as the paper's script does."""
    from isen_projet_bigdata_a3s6_spark.ml.irls import logistic_irls_fit
    from isen_projet_bigdata_a3s6_spark.plans.report_queries import run_report
    from isen_projet_bigdata_a3s6_spark.plans.trees_pipeline import FINAL_COLUMNS, clean_trees
    from isen_projet_bigdata_a3s6_spark.stats.descriptive import correlation_matrix
    from isen_projet_bigdata_a3s6_spark.stats.inference import anova_oneway, chi_square_test
    from isen_projet_bigdata_a3s6_spark.stats.regression import multiple_ols_closed_form

    def clean(spark: SparkSession) -> DataFrame:
        return clean_trees(spark.read.parquet(trees_path))

    def check_clean(spark: SparkSession) -> Check:
        pdf = clean(spark).toPandas()
        bad = [c for c in IMPUTED if pdf[c].isna().any()]
        ok = list(pdf.columns) == FINAL_COLUMNS and len(pdf) > 0 and not bad
        return Check(ok, len(pdf), None, f"nulls in {bad}" if bad else "")

    def frame_check(build):
        def check(spark: SparkSession) -> Check:
            n = build(spark).count()
            return Check(True, n)
        return check

    def finite_check(build):
        def check(spark: SparkSession) -> Check:
            out = build(spark)
            vals = list(out.values()) if isinstance(out, dict) else list(out or [])
            nums = [v for v in vals if isinstance(v, (int, float))]
            ok = bool(nums) and all(math.isfinite(v) for v in nums)
            return Check(ok, len(vals))
        return check

    ops = [Op("clean_trees", "plans.clean", clean, check_clean)]
    for key in (
        "stadedev_counts", "quartier_counts", "situation_counts",
        "secteur_by_quartier", "species_by_quartier", "remarkable_by_quartier",
        "feuillage_x_villeca", "revetement_x_villeca", "secteur_map_buckets",
        "villeca_mode",
    ):
        build = (lambda k: lambda spark: run_report(clean(spark))[k])(key)
        ops.append(Op(f"report.{key}", "plans.report", build, frame_check(build)))

    def corr(spark):
        return {f"{a}~{b}": v for (a, b), v in correlation_matrix(clean(spark), TREE_NUMERIC).items()}

    def chi2(spark):
        return chi_square_test(clean(spark), "feuillage", "villeca")

    def anova(spark):
        return anova_oneway(clean(spark), "age_estim", "fk_stadedev")

    def ols(spark):
        return multiple_ols_closed_form(clean(spark), "age_estim", ["tronc_diam", "haut_tot"], [])

    def logistic(spark):
        df = clean(spark).withColumn(
            "etat_binaire", (F.col("fk_arb_etat") == "EN PLACE").cast("int"))
        return logistic_irls_fit(df, "etat_binaire", TREE_NUMERIC, [])

    for name, layer, fn in (
        ("stats.correlation", "stats.call", corr),
        ("stats.chi_square", "stats.call", chi2),
        ("stats.anova", "stats.call", anova),
        ("stats.ols", "stats.call", ols),
        ("ml.logistic_irls", "ml.fit", logistic),
    ):
        check = frame_check(fn) if name == "stats.ols" else finite_check(fn)
        ops.append(Op(name, layer, fn, check))
    return ops
