"""Explicit skew handling for per-conversation grouped work.

The reference load-balances only via "many series × n_jobs workers"
(``/root/reference/mpnsm/time_series/manager.py:308-313``); one giant series
stalls a worker — the same pathology as a hot ``conv_id`` in a
``groupBy(conv_id).applyInPandas`` stage, which AQE cannot split
(SURVEY.md §4). This module makes the skew strategy explicit:

1. **salt buckets** — ``bucket_id = pmod(xxhash64(conv_id), B)`` distributes
   conversations across B buckets for lineage/commit granularity and for
   pre-shuffle balance;
2. **hot-conversation sub-splitting** — a size pre-pass finds conversations
   above ``split_threshold`` turns; only those are split into bounded
   ``sub_id`` ranges by ``turn_idx``, so every grouped-map group is
   ≤ threshold rows. Results are re-merged by an associative combine
   (e.g. ``rollup.merge_partials``) — safe for all tier columns by design.

Everything here is declarative Spark SQL; the only custom piece is
``apply_per_series``, the engine's analog of mpnsm's per-series parallel
fitting loop (SURVEY.md §2.10 F1) and its ONE grouped-map kernel runner:
every public per-series operator and every pipeline kernel stage crosses the
Python/Arrow boundary through it. It has one per-series wrapper, two plan
shapes (hash-batched by default, sub-split for hot series) and two error
channels (``raise``, or ``mark``: per-series ``_status``/``_error`` rows).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def with_salt(df: DataFrame, num_buckets: int, key: str = "conv_id") -> DataFrame:
    """Stable salt bucket per key: pmod(xxhash64(key), B)."""
    return df.withColumn(
        "bucket_id", F.pmod(F.xxhash64(F.col(key)), F.lit(num_buckets)).cast("int")
    )


# Logical plan nodes (``nodeName()``) that put an exchange into the physical
# plan; ``fan_out`` never probes a frame that holds one.
_SHUFFLING_NODES = frozenset(
    {"Repartition", "RepartitionByExpression", "Join", "Aggregate"}
)


def fan_out(df: DataFrame, key: str, min_partitions: int | None = None) -> DataFrame:
    """Spread a narrow-parallelism input across the cluster BEFORE per-row
    expensive work (heavy expressions, higher-order functions, Python
    kernels).

    A single unsplittable input (one parquet row group, a gzip file, a small
    dimension table) plans as a 1-task scan, serializing everything that runs
    before the first exchange — the input-skew case of the optimization
    playbook ("one huge unsplittable file: repartition immediately after the
    read"). This repartitions by ``pmod(xxhash64(key), n)`` — DETERMINISTIC
    (retried tasks reproduce the same placement; round-robin repartition of
    non-deterministic input can duplicate/lose rows, SPARK-38388) — and only
    when the current plan has fewer partitions than ``min_partitions``
    (default ``sparkContext.defaultParallelism``). At production scale the
    scan already has hundreds of splits and this is a structural no-op: no
    shuffle is added.

    Laziness note: the partition-count probe uses ``df.rdd``, which under
    AQE EXECUTES any exchange already in the plan at build time (a real
    Spark job, re-run again at action time). So a frame whose optimized
    plan holds a node that plans an exchange (``_SHUFFLING_NODES``: a
    repartition — e.g. the output of an operator that fanned out internally
    — a join or an aggregate) is returned unchanged WITHOUT probing:
    composition stays lazy and the double-execution cannot happen. The
    probe only runs for exchange-free plans (scans/projections), where
    ``.rdd`` is planning-only.
    """
    sc = df.sparkSession.sparkContext
    n = min_partitions or sc.defaultParallelism
    stack = [df._jdf.queryExecution().optimizedPlan()]  # noqa: SLF001
    while stack:
        node = stack.pop()
        if node.nodeName() in _SHUFFLING_NODES:
            return df
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, F.col(key))


def conv_sizes(df: DataFrame, key: str = "conv_id") -> DataFrame:
    """Size pre-pass (reference: empty-series pruning / load balance,
    ``deprecated/ts_manager.py:215-216``)."""
    return df.groupBy(key).agg(F.count(F.lit(1)).alias("n_turns"))


def with_sub_splits(
    df: DataFrame,
    split_threshold: int,
    key: str = "conv_id",
    order_col: str = "turn_idx",
) -> DataFrame:
    """Add ``sub_id`` splitting only hot keys into ≤ threshold-row ranges.

    Cold conversations get sub_id=0 (single group, no behavior change). The
    size pre-pass result is broadcast — it is tiny (one row per conversation
    above threshold).

    For a NUMERIC ``order_col`` (the dense 0-based ``turn_idx``) the sub-range
    is ``order_col // threshold`` — a pure map-side projection. For any other
    type (e.g. the tier tables' ``bucket_start`` timestamp — ADVICE r3:
    dividing a timestamp raises DATATYPE_MISMATCH at analysis) a per-key rank
    window computes the dense index; the window runs over the HOT rows only,
    so its sort cost is bounded by the (few, by definition) hot conversations
    and cold rows stay on the map-only path.
    """
    hot = (
        conv_sizes(df, key)
        .filter(F.col("n_turns") > split_threshold)
        .select(key, F.lit(True).alias("_is_hot"))
    )
    joined = df.join(F.broadcast(hot), key, "left")
    numeric_types = {"tinyint", "smallint", "int", "bigint", "long", "float", "double"}
    dtype = dict(df.dtypes).get(order_col, "")
    if dtype in numeric_types or dtype.startswith("decimal"):
        return joined.withColumn(
            "sub_id",
            F.when(
                F.col("_is_hot").isNotNull(),
                (F.col(order_col) / F.lit(split_threshold)).cast("long"),
            ).otherwise(F.lit(0)),
        ).drop("_is_hot")
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(order_col)
    cold = joined.filter(F.col("_is_hot").isNull()).withColumn(
        "sub_id", F.lit(0).cast("long")
    )
    hot_rows = joined.filter(F.col("_is_hot").isNotNull()).withColumn(
        "sub_id",
        ((F.row_number().over(w) - F.lit(1)) / F.lit(split_threshold)).cast("long"),
    )
    return cold.unionByName(hot_rows).drop("_is_hot")


def _schema_column_names(output_schema) -> list[str]:
    # Parse DDL strings with the real parser: naive comma-splitting breaks on
    # types that contain commas — decimal(20,6), map<string,int>, struct<...>
    # (ADVICE r3).
    if isinstance(output_schema, str):
        return StructType.fromDDL(output_schema).fieldNames()
    return [f.name for f in output_schema.fields]


def apply_per_series(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    output_schema,
    split_threshold: int | None = None,
    key: str = "conv_id",
    order_col: str = "turn_idx",
    on_error: str = "raise",
) -> DataFrame:
    """Run a pandas kernel once per series — mpnsm's flagship operator
    (per-series joblib loop → grouped-map ``applyInPandas``) and the engine's
    only per-series runner: public operators and pipeline kernel stages
    (:func:`~mpnsm_spark.plans.pipeline.run_kernel_stage`) all call it.

    ``fn`` receives the series' rows sorted by ``order_col`` and must return a
    DataFrame matching ``output_schema`` **plus carry the key column through**.
    Null-key rows form one series of their own, as in ``groupBy(key)``.

    Plan shapes, picked from the arguments:

    - **batched** (default): the shuffle key is
      ``pmod(xxhash64(key), 2 × defaultParallelism)`` and the wrapper loops
      the series of one batch with a pandas groupby. applyInPandas pays one
      Arrow transfer and one Python call per GROUP, which is pure overhead
      for many small series; batching pays it ~#series/batches times less.
      The count is derived at call time: a hardcoded one would cap
      parallelism on large clusters (ADVICE r4), and 2× leaves headroom for
      the ~1/e empty-partition rate hash collisions produce at B≈#tasks.
    - **split** (``split_threshold`` given): hot series are sub-split
      (:func:`with_sub_splits`) and ``fn`` runs per (key, sub-range) — only
      safe when the caller's downstream re-merge is associative (tier
      rollups are; arbitrary kernels may not be).

    Error channel (``on_error``):

    - ``"raise"``: a kernel exception fails the job with the kernel's
      message;
    - ``"mark"``: per-series error isolation (reference: a failed series
      returns an empty frame instead of failing the job,
      ``mpnsm/time_series/deprecated/ts_model.py:1258-1260``). Output rows
      gain ``_status="ok"``/``_error=None``; each poisoned kernel call (one
      per series, one per sub-range under split) emits ONE marker row — its
      key, nulls elsewhere, ``_status="error"``, ``_error`` = exception
      class. The channel is plain data, so a retried task recomputes it
      exactly (an accumulator updated inside a transformation would
      double-count on retry).
    """
    if on_error not in ("raise", "mark"):
        raise ValueError(f"on_error must be 'raise' or 'mark', got {on_error!r}")
    out_cols = _schema_column_names(output_schema)
    mark = on_error == "mark"
    if mark:
        out_cols = [*out_cols, "_status", "_error"]
        output_schema = (
            output_schema + ", _status string, _error string"
            if isinstance(output_schema, str)
            else StructType(output_schema.fields)
            .add("_status", "string")
            .add("_error", "string")
        )
    batched = split_threshold is None

    def run_series(g: pd.DataFrame) -> pd.DataFrame:
        try:
            out = fn(g.sort_values(order_col).reset_index(drop=True))
        except Exception as e:  # noqa: BLE001 — the isolation contract
            if not mark:
                raise
            marker = {c: [None] for c in out_cols}
            marker[key] = [g[key].iloc[0]]
            marker["_status"] = ["error"]
            marker["_error"] = [type(e).__name__]
            return pd.DataFrame(marker)
        return out.assign(_status="ok", _error=None) if mark else out

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        from mpnsm_spark.functions.arrowcfg import tame_arrow_threads

        tame_arrow_threads()
        if batched:
            # the helper column never reaches the kernel
            pdf = pdf.drop(columns=["_batch_id"])
        # dropna=False: pandas groupby drops null-key groups by default, but
        # Spark's groupBy(key) keeps them (ADVICE r4).
        outs = [
            r
            for _, g in pdf.groupby(key, sort=False, dropna=False)
            if len(r := run_series(g))  # zero-row frames upcast dtypes in concat
        ]
        if not outs:
            return pd.DataFrame(columns=out_cols)
        return pd.concat(outs, ignore_index=True)

    if batched:
        n_batches = 2 * df.sparkSession.sparkContext.defaultParallelism
        # Explicit repartition(n_batches): the grouped-map input is usually
        # SMALL in bytes but expensive per row in Python, and AQE coalesces
        # small shuffles down to 1-2 partitions — serializing every kernel
        # call (measured 5-7x the batched plan on many-small-series inputs).
        # A user-specified partition count is exempt from AQE coalescing,
        # and groupBy reuses the hash distribution (no second exchange).
        grouped = (
            df.withColumn(
                "_batch_id",
                F.pmod(F.xxhash64(F.col(key)), F.lit(n_batches)).cast("int"),
            )
            .repartition(n_batches, "_batch_id")
            .groupBy("_batch_id")
        )
        return grouped.applyInPandas(run, output_schema)
    sub = with_sub_splits(df, split_threshold, key=key, order_col=order_col)
    return sub.groupBy(key, "sub_id").applyInPandas(run, output_schema).drop("sub_id")
