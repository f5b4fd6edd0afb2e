"""Skew machinery: salt buckets, hot-key sub-splitting, per-series kernel."""

import pandas as pd
from pyspark.sql import functions as F

from mpnsm_spark.operators.rollup import merge_partials, rollup_raw
from mpnsm_spark.operators.skew import (
    apply_per_series,
    conv_sizes,
    fan_out,
    with_salt,
    with_sub_splits,
)

from .oracle_pandas import compare_frames

FLOATS = ("value_sum", "value_min", "value_max", "value_avg", "first_value", "last_value")


def test_salt_stable_and_bounded(transcripts):
    df = with_salt(transcripts, 8)
    stats = df.groupBy("conv_id").agg(F.countDistinct("bucket_id").alias("nb")).toPandas()
    assert (stats["nb"] == 1).all()  # one bucket per conversation
    ids = df.select("bucket_id").distinct().toPandas()["bucket_id"]
    assert ids.between(0, 7).all()


def test_sub_splits_bound_group_size(transcripts):
    sub = with_sub_splits(transcripts, split_threshold=50)
    sizes = sub.groupBy("conv_id", "sub_id").count().toPandas()
    assert (sizes["count"] <= 50).all()
    # cold conversations keep a single group
    cold = conv_sizes(transcripts).filter(F.col("n_turns") <= 50)
    cold_subs = sub.join(cold, "conv_id", "left_semi").select("sub_id").distinct()
    assert cold_subs.toPandas()["sub_id"].tolist() == [0]


def test_sub_splits_timestamp_order_col(transcripts):
    """Non-numeric order_col (timestamp): the rank-window path still bounds
    every (conv, sub) group and keeps cold conversations unsplit (ADVICE r3:
    the numeric-division path raised DATATYPE_MISMATCH for the tier tables'
    ``bucket_start`` default)."""
    sub = with_sub_splits(transcripts, split_threshold=50, order_col="ts")
    sizes = sub.groupBy("conv_id", "sub_id").count().toPandas()
    assert (sizes["count"] <= 50).all()
    cold = conv_sizes(transcripts).filter(F.col("n_turns") <= 50)
    cold_subs = sub.join(cold, "conv_id", "left_semi").select("sub_id").distinct()
    assert cold_subs.toPandas()["sub_id"].tolist() == [0]
    assert sub.count() == transcripts.count()  # row multiset preserved


def test_schema_column_names_commas_in_types(spark):
    """DDL parsing must survive comma-bearing types (ADVICE r3)."""
    from mpnsm_spark.operators.skew import _schema_column_names

    ddl = (
        "conv_id string, amt decimal(20,6), props map<string,int>, "
        "s struct<a:int,b:string>"
    )
    assert _schema_column_names(ddl) == ["conv_id", "amt", "props", "s"]


def test_per_series_kernel_with_split_matches_unsplit(spark, transcripts):
    """A per-series rollup kernel run with hot-key splitting + associative
    re-merge equals the plain SQL rollup (split safety end-to-end)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pd.DataFrame(
            {
                "conv_id": [pdf["conv_id"].iloc[0]],
                "n": [len(pdf)],
                "vsum": [float(pdf["value"].sum())],
            }
        )
        return out

    schema = "conv_id string, n long, vsum double"
    split = apply_per_series(
        transcripts, kernel, schema, split_threshold=40
    )
    merged = split.groupBy("conv_id").agg(
        F.sum("n").alias("n"), F.sum("vsum").alias("vsum")
    )
    expected = transcripts.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("vsum")
    )
    a = merged.toPandas().sort_values("conv_id").reset_index(drop=True)
    b = expected.toPandas().sort_values("conv_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_split_rollup_remerge(transcripts):
    """Tier rollup of sub-split raw + merge_partials == unsplit rollup."""
    sub = with_sub_splits(transcripts, split_threshold=30)
    parts = rollup_raw(sub.drop("sub_id"), "1h")  # sanity: dropping split is the same df
    full = rollup_raw(transcripts, "1h").toPandas()
    merged = merge_partials(parts).toPandas()
    compare_frames(merged, full, ["conv_id", "bucket_start"], float_cols=FLOATS)


def _per_series_oracle(pdf: pd.DataFrame, kern) -> list[tuple]:
    """Driver-side reference: the kernel once per series in plain pandas."""
    outs = [
        kern(g.sort_values("turn_idx").reset_index(drop=True))
        for _, g in pdf.groupby("conv_id", dropna=False)
    ]
    return list(pd.concat(outs).itertuples(index=False, name=None))


def test_batch_buckets_matches_per_series(spark, transcripts):
    """The batched runner emits exactly the per-series results of a plain
    pandas loop over the series."""
    df = transcripts.select("conv_id", "turn_idx", "value")

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "conv_id": [pdf["conv_id"].iloc[0]],
                "n": [len(pdf)],
                "first_v": [float(pdf["value"].iloc[0])],
            }
        )

    schema = "conv_id string, n bigint, first_v double"
    got = sorted(tuple(r) for r in apply_per_series(df, kern, schema).collect())
    assert got == sorted(_per_series_oracle(df.toPandas(), kern))


def test_batch_buckets_error_isolation(spark, transcripts):
    """on_error='mark' poisons only the failing series, in both plan shapes:
    its rows become error markers (key, exception class), every other series
    keeps its ok rows."""
    df = transcripts.select("conv_id", "turn_idx", "value")
    poison = df.select("conv_id").distinct().orderBy("conv_id").first()[0]
    everyone = {r[0] for r in df.select("conv_id").distinct().collect()}

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf["conv_id"].iloc[0] == poison:
            raise RuntimeError("boom")
        return pd.DataFrame({"conv_id": [pdf["conv_id"].iloc[0]]})

    split = 40
    poison_groups = (
        with_sub_splits(df, split)
        .filter(F.col("conv_id") == poison)
        .select("sub_id")
        .distinct()
        .count()
    )
    assert poison_groups > 1  # the split shape really splits the poison series
    for split_threshold, n_markers in ((None, 1), (split, poison_groups)):
        out = apply_per_series(
            df, kern, "conv_id string", split_threshold=split_threshold,
            on_error="mark",
        ).collect()
        ok = [r for r in out if r["_status"] == "ok"]
        err = [r for r in out if r["_status"] == "error"]
        assert {r["conv_id"] for r in ok} == everyone - {poison}
        assert all(r["_error"] is None for r in ok)
        assert [(r["conv_id"], r["_error"]) for r in err] == [
            (poison, "RuntimeError")
        ] * n_markers


def test_batch_buckets_null_key_and_clean_columns(spark):
    """ADVICE r4: the batched runner must (a) run the kernel on the null-key
    series exactly like a per-series loop does, and (b) never leak the
    _batch_id helper column into the kernel's input frame."""
    df = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 1, 2.0), (None, 0, 5.0), (None, 1, 7.0)],
        "conv_id string, turn_idx int, value double",
    )

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        assert list(pdf.columns) == ["conv_id", "turn_idx", "value"]
        return pd.DataFrame(
            {
                "conv_id": [pdf["conv_id"].iloc[0]],
                "vsum": [float(pdf["value"].sum())],
            }
        )

    got = {
        (r["conv_id"], r["vsum"])
        for r in apply_per_series(df, kern, "conv_id string, vsum double").collect()
    }
    oracle = {
        (None if pd.isna(c) else c, v)
        for c, v in _per_series_oracle(df.toPandas(), kern)
    }
    assert got == oracle == {("a", 3.0), (None, 12.0)}


def test_batch_buckets_auto_resolves(spark, transcripts):
    """The runner derives 2×defaultParallelism batches at call time, plans
    ONE exchange (groupBy reuses the explicit repartition) and produces the
    per-series results."""
    df = transcripts.select("conv_id", "turn_idx", "value")

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"conv_id": [pdf["conv_id"].iloc[0]], "n": [len(pdf)]})

    def n_exchanges(d) -> int:
        plan = d._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        return plan.count("Exchange hashpartitioning")

    out = apply_per_series(df, kern, "conv_id string, n bigint")
    assert n_exchanges(out) == n_exchanges(df) + 1
    # the resolved bucket count shows up as the shuffle partition count
    assert out.rdd.getNumPartitions() == 2 * spark.sparkContext.defaultParallelism
    got = sorted(tuple(r) for r in out.collect())
    assert got == sorted(_per_series_oracle(df.toPandas(), kern))


def test_fan_out_returns_shuffled_frame_unprobed(spark, count_jobs):
    """An aggregate already plans an exchange: ``fan_out`` returns the frame
    itself and submits no job while the query is being built."""
    counts = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    out, n_jobs = count_jobs(lambda: fan_out(counts, key="k"))
    assert out is counts
    assert n_jobs == 0
