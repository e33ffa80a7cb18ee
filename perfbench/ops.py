"""One operation of each workload, written against the package's public API.

Every call into a package module goes through ``tr.call(layer, fn, ...)``
so the traced run can tag it; with tracing off that is a plain call.
``tr.materialize`` pins a layer's output as a user of the panel chain
must: left as one lazy plan, every multi-consumer stage doubles the
lineage below it and Catalyst planning blows up. Each operation ends in
the digest sink: one aggregation whose small per-era (or
per-document-bucket) result is collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from centimators_spark.dedup.cluster import deduplicate
from centimators_spark.dedup.contamination import ngram_contamination
from centimators_spark.dedup.minhash import minhash_lsh_pairs
from centimators_spark.operators.encoding import quantile_bin
from centimators_spark.operators.neutralization import FeatureNeutralizer, era_ols_neutralize
from centimators_spark.operators.penalization import FeaturePenalizer
from centimators_spark.operators.ranking import RankTransformer
from centimators_spark.operators.stats import GroupStatsTransformer
from centimators_spark.operators.time_series import (
    LagTransformer,
    LogReturnTransformer,
    MovingAverageTransformer,
)
from centimators_spark.sampling import hash_split
from centimators_spark.text.analysis import language_id, quality_score

from perfbench.digest import PANEL_CHECKED, digest_aggs, weight

FEATURES = [f"feature_{i}" for i in range(6)]
# era_ols_neutralize takes at most 5 features; its k!-term Cramer solve
# makes planning grow fast with k. At 5, a warm operation took ~20 s on
# a 4-core VM (~9 s of it planning this call's output) and the cold first
# one 35-50 s, more than the run budget allows, so the benchmark uses 4
# (see README.md, "Budget").
OLS_FEATURES = FEATURES[:4]
SPLITS = {"train": 0.8, "validation": 0.2}


def panel_chain(tr, df: DataFrame, live_era: int | None = None) -> DataFrame:
    """The training-set build: per-era ranks, per-ticker time series,
    row-wise group stats, two neutralizers, the exposure penalizer,
    per-era quantile bins and a hash split. With ``live_era`` set, rows
    of other eras are dropped once the time-series features (which need
    the history) are built."""
    ts = dict(ticker_col="ticker", order_cols=["era"])
    df = tr.call(
        "operators.ranking",
        RankTransformer(["price", "prediction"], group_col="era").transform,
        df,
    )
    df = tr.materialize("operators.ranking", df)
    df = tr.call(
        "operators.time_series",
        lambda d: LogReturnTransformer(["price"], **ts).transform(
            MovingAverageTransformer([5, 20], ["price"], **ts).transform(
                LagTransformer([1, 2], ["price"], **ts).transform(d)
            )
        ),
        df,
    )
    df = tr.materialize("operators.time_series", df)
    if live_era is not None:
        df = df.where(F.col("era") == live_era)
    df = tr.call(
        "operators.stats",
        GroupStatsTransformer({"feat": FEATURES}, stats=["mean", "std"]).transform,
        df,
    )
    # era_ols_neutralize returns keep_cols + its output; carry the era
    # through under another name (it may not appear twice in the select)
    df = df.withColumn("era_key", F.col("era"))
    keep = [c for c in df.columns if c != "era"]
    df = tr.call(
        "operators.neutralization",
        lambda d: era_ols_neutralize(
            d, "prediction", OLS_FEATURES, era_col="era", keep_cols=keep,
            out_name="ols_neutralized",
        ),
        df,
    )
    df = tr.materialize("operators.neutralization", df.withColumnRenamed("era_key", "era"))
    rest = [c for c in df.columns if c not in ("era", "ticker")]
    df = tr.call(
        "operators.neutralization",
        FeatureNeutralizer(
            0.5, "prediction", FEATURES, era_col="era", order_col="ticker", keep_cols=rest
        ).transform,
        df,
    ).withColumnRenamed("prediction_neutralized_0.5", "neutralized")
    df = tr.materialize("operators.neutralization", df)
    rest = [c for c in df.columns if c not in ("era", "ticker")]
    df = tr.call(
        "operators.penalization",
        FeaturePenalizer(
            0.1, "prediction", FEATURES, era_col="era", order_col="ticker",
            keep_cols=rest,
        ).transform,
        df,
    ).withColumnRenamed("prediction_penalized_0.1", "penalized")
    df = tr.materialize("operators.penalization", df)
    df = tr.call(
        "operators.encoding",
        lambda d: quantile_bin(d, ["neutralized"], n_bins=5, era_col="era", exact=True),
        df,
    )
    return tr.call("sampling", lambda d: hash_split(d, "ticker", SPLITS), df)


def panel_sink(df: DataFrame) -> DataFrame:
    """Per-era digest partials of the final panel (see digest.py)."""
    w = weight(F.col("id"))
    split = (F.col("split") == "train").cast("double")
    return df.groupBy("era").agg(
        *digest_aggs({c: F.col(c) for c in PANEL_CHECKED} | {"split": split}, w),
        F.count("penalized").alias("n_penalized"),
        F.stddev("penalized").alias("std_penalized"),
        F.corr(F.col("prediction").cast("double"), F.col("penalized")).alias("corr_prediction"),
        *[F.corr(F.col(f).cast("double"), F.col("penalized")).alias(f"corr_{f}")
          for f in FEATURES],
    )


CONTAM_N = 5


def corpus_chain(tr, docs: DataFrame, evals: DataFrame) -> DataFrame:
    """Score, dedup and decontaminate a corpus: per kept document its
    quality, language and eval-set n-gram overlap."""
    q = tr.call("text.analysis", quality_score, docs)
    lang = tr.call("text.analysis", language_id, docs)
    pairs = tr.call("dedup.minhash", minhash_lsh_pairs, docs)
    kept = tr.call("dedup.cluster", deduplicate, docs, pairs)
    cont = tr.call(
        "dedup.contamination", lambda c, e: ngram_contamination(c, e, n=CONTAM_N), kept, evals
    )
    return (
        cont.join(q.select("doc_id", "quality", "n_tokens"), "doc_id")
        .join(lang.select("doc_id", "lang_hits"), "doc_id")
    )


CORPUS_CHECKED = ["quality", "n_tokens", "lang_hits", "n_grams", "n_hits"]
CORPUS_BUCKETS = 16


def corpus_sink(df: DataFrame) -> DataFrame:
    w = weight(F.col("doc_id"))
    return df.groupBy((F.col("doc_id") % CORPUS_BUCKETS).alias("bucket")).agg(
        *digest_aggs({c: F.col(c).cast("double") for c in CORPUS_CHECKED}, w)
    )
