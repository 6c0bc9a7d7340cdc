"""Incremental compressed-domain aggregation over Structured Streaming.

Follows the manifest commit log (the same pattern as
stream_decode.decode_stream): each NEWLY COMMITTED run is reduced to
tiny per-(part_id) partial-aggregate rows — computed in the encoded
domain, never materializing the column — and written to a run-keyed
sink directory.  The running total is then a metadata-scale fold over
the partials, so a 100 TB table's streaming SUM never rescans old
runs: per epoch it reads only the new run's blocks, and the read-side
fold touches n_runs x n_parts rows.

Exactly-once per run across restarts: the sink path is keyed by run id
and written with ``mode("overwrite")``, so a replayed micro-batch
re-derives byte-identical partials instead of double counting.

Validity: partials carry ``part_id``, and the read-side fold
inner-joins the manifest's CURRENT valid (part_id, run_id) pairs, so
stale sink directories (a run whose manifest rows were removed, or
leftovers from a crashed manual write into the sink) never contribute
to the total.  ``compact_blocks`` writes a NEW table (new blocks +
manifest paths); point a fresh stream at the compacted table rather
than expecting in-place supersede.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..engine import agg as aggmod
from ..engine import manifest as manifestmod
from ..engine.manifest import _MANIFEST_SCHEMA, META_KEY
from ..engine.schema import PART_ID


def _manifest_stream(spark, manifest_path: str):
    return (spark.readStream.schema(_MANIFEST_SCHEMA)
            .parquet(manifest_path)
            .filter(f"column = '{META_KEY}'"))  # one row per committed run


def sum_stream(
    spark,
    blocks_path: str,
    manifest_path: str,
    column: str,
    out_path: str,
    checkpoint_path: str,
    predicate=None,
    trigger_seconds: int | None = None,
):
    """readStream(manifest) -> per-run compressed-domain SUM partials ->
    parquet sink keyed by run.  Read the running total with
    ``read_sum``.  Returns the StreamingQuery.  Decimal columns write
    exact unscaled decimal(38,0) partials (``_sum_dec_partials``) —
    the incremental total stays digit-exact, same as batch
    ``column_sum``."""
    predicates = aggmod._normalize_predicates(predicate)
    dec = _decimal_scale(spark, manifest_path, column) is not None

    def handle(batch_df, epoch_id: int) -> None:
        runs = sorted(r["run_id"] for r in
                      batch_df.select("run_id").distinct().collect())
        for run in runs:
            blocks = aggmod._blocks_proj(
                spark, blocks_path, manifest_path, [column], predicates,
                run_ids=[run])
            partials = (aggmod._sum_dec_partials(blocks, predicates) if dec
                        else aggmod._sum_partials(blocks, predicates))
            partials.write.mode("overwrite").parquet(
                f"{out_path}/run_id={run}")

    return _start(_manifest_stream(spark, manifest_path), handle,
                  checkpoint_path, trigger_seconds)


def _decimal_scale(spark, manifest_path: str, column: str) -> int | None:
    """Scale of ``column`` when it is decimal, else None."""
    from pyspark.sql import types as T

    t = aggmod._fields(manifestmod.table_meta(spark, manifest_path))[column]
    return t.scale if isinstance(t, T.DecimalType) else None


def read_sum(spark, out_path: str, manifest_path: str,
             column: str) -> DataFrame:
    """Fold the sink's per-run partials into the current one-row
    column_sum result, honoring the manifest's CURRENT valid pairs
    (superseded runs drop out).  Decimal sinks (s_dec partials) fold in
    the unscaled decimal domain and rescale once — digit-exact."""
    partials = spark.read.parquet(out_path)
    valid = manifestmod.valid_pairs_df(spark, manifest_path)
    live = partials.join(F.broadcast(valid), [PART_ID, "run_id"], "inner")
    if "s_dec" in partials.columns:
        scale = _decimal_scale(spark, manifest_path, column)
        if scale is None:
            raise TypeError(
                f"sink at {out_path} holds decimal partials but {column} "
                "is not a decimal column in the manifest schema")
        return aggmod._fold_sum_dec(live, column, scale)
    return aggmod._fold_sum(live, column)


def value_counts_stream(
    spark,
    blocks_path: str,
    manifest_path: str,
    column: str,
    out_path: str,
    checkpoint_path: str,
    predicate=None,
    trigger_seconds: int | None = None,
):
    """readStream(manifest) -> per-run (part_id, value, cnt) partial
    histograms -> parquet sink keyed by run.  Read the running GROUP BY
    with ``read_value_counts``.  Returns the StreamingQuery."""
    predicates = aggmod._normalize_predicates(predicate)
    meta = manifestmod.table_meta(spark, manifest_path)
    vtype = aggmod._fields(meta)[column]

    def handle(batch_df, epoch_id: int) -> None:
        runs = sorted(r["run_id"] for r in
                      batch_df.select("run_id").distinct().collect())
        for run in runs:
            blocks = aggmod._blocks_proj(
                spark, blocks_path, manifest_path, [column], predicates,
                run_ids=[run])
            partials = aggmod._vc_partials(spark, blocks, predicates, vtype)
            partials.write.mode("overwrite").parquet(
                f"{out_path}/run_id={run}")

    return _start(_manifest_stream(spark, manifest_path), handle,
                  checkpoint_path, trigger_seconds)


def read_value_counts(spark, out_path: str, manifest_path: str) -> DataFrame:
    """Fold the sink's per-run histogram partials into the current
    (value, cnt) GROUP BY result under the manifest's valid pairs."""
    partials = spark.read.parquet(out_path)
    valid = manifestmod.valid_pairs_df(spark, manifest_path)
    live = partials.join(F.broadcast(valid), [PART_ID, "run_id"], "inner")
    return live.groupBy("value").agg(F.sum("cnt").alias("cnt"))


def _start(man, handle, checkpoint_path: str, trigger_seconds: int | None):
    writer = (man.writeStream.foreachBatch(handle)
              .option("checkpointLocation", checkpoint_path)
              .outputMode("append"))
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def distinct_stream(
    spark,
    blocks_path: str,
    manifest_path: str,
    column: str,
    out_path: str,
    checkpoint_path: str,
    p: int = 14,
    predicate=None,
    trigger_seconds: int | None = None,
):
    """readStream(manifest) -> per-run HyperLogLog register partials
    (one 2^p-byte row per (part_id, run_id)) -> parquet sink keyed by
    run.  The running COUNT(DISTINCT) estimate never rescans old runs:
    registers merge commutatively (elementwise max), so ``read_distinct``
    folds n_runs x n_parts constant-size rows.  Exactly-once per run by
    the same run-keyed overwrite contract as sum_stream.  Returns the
    StreamingQuery."""
    predicates = aggmod._normalize_predicates(predicate)

    def handle(batch_df, epoch_id: int) -> None:
        runs = sorted(r["run_id"] for r in
                      batch_df.select("run_id").distinct().collect())
        for run in runs:
            blocks = aggmod._blocks_proj(
                spark, blocks_path, manifest_path, [column], predicates,
                run_ids=[run])
            partials = aggmod._hll_partials(blocks, predicates, p)
            partials.write.mode("overwrite").parquet(
                f"{out_path}/run_id={run}")

    return _start(_manifest_stream(spark, manifest_path), handle,
                  checkpoint_path, trigger_seconds)


def read_distinct(spark, out_path: str, manifest_path: str,
                  column: str, p: int = 14) -> DataFrame:
    """Fold the sink's per-run HLL partials into the current one-row
    column_distinct_approx result under the manifest's valid pairs
    (superseded runs drop out; the estimate is bit-identical to the
    batch operator on the same live data, since register merge is
    commutative and the hashes are fixed)."""
    partials = spark.read.parquet(out_path)
    valid = manifestmod.valid_pairs_df(spark, manifest_path)
    live = partials.join(F.broadcast(valid), [PART_ID, "run_id"], "inner")
    return aggmod._fold_hll(live, column, p)


def quantile_stream(
    spark,
    blocks_path: str,
    manifest_path: str,
    column: str,
    out_path: str,
    checkpoint_path: str,
    k: int = 256,
    task_k: int = 4096,
    predicate=None,
    trigger_seconds: int | None = None,
):
    """readStream(manifest) -> per-run equi-depth summary partials
    (one (vs, ws) row per (part_id, run_id)) -> parquet sink keyed by
    run.  Summaries merge by weighted concatenation — regrouping only
    refines them — so ``read_quantiles`` folds n_runs x n_parts tiny
    rows into current percentiles without rescanning old runs.
    Exactly-once per run by the same run-keyed overwrite contract as
    sum_stream.  Returns the StreamingQuery."""
    predicates = aggmod._normalize_predicates(predicate)

    def handle(batch_df, epoch_id: int) -> None:
        runs = sorted(r["run_id"] for r in
                      batch_df.select("run_id").distinct().collect())
        for run in runs:
            blocks = aggmod._blocks_proj(
                spark, blocks_path, manifest_path, [column], predicates,
                run_ids=[run])
            partials = aggmod._quantile_partials(blocks, predicates, k, task_k)
            partials.write.mode("overwrite").parquet(
                f"{out_path}/run_id={run}")

    return _start(_manifest_stream(spark, manifest_path), handle,
                  checkpoint_path, trigger_seconds)


def read_quantiles(spark, out_path: str, manifest_path: str,
                   column: str, probs=(0.25, 0.5, 0.75)) -> DataFrame:
    """Fold the sink's per-run summary partials into the current
    column_quantiles result under the manifest's valid pairs
    (superseded runs drop out)."""
    plist = [float(p) for p in (probs if hasattr(probs, "__iter__")
                                else [probs])]
    partials = spark.read.parquet(out_path)
    valid = manifestmod.valid_pairs_df(spark, manifest_path)
    live = partials.join(F.broadcast(valid), [PART_ID, "run_id"], "inner")
    return aggmod._fold_quantiles(live, column, plist)


def grouped_sum_stream(
    spark,
    blocks_path: str,
    manifest_path: str,
    group_column: str,
    value_column: str,
    out_path: str,
    checkpoint_path: str,
    predicate=None,
    trigger_seconds: int | None = None,
):
    """readStream(manifest) -> per-run grouped-sum partials (one
    (part_id, group value, cnt, nv, s_l, s_d) row per (block, group))
    -> parquet sink keyed by run.  The running GROUP BY ... SUM never
    rescans old runs: ``read_grouped_sum`` folds n_runs x n_parts x
    n_groups tiny rows.  Exactly-once per run by the same run-keyed
    overwrite contract as sum_stream.  Decimal value columns are not
    supported on this path (batch ``grouped_sum`` folds decimals in
    exact unscaled partials; its per-group decimal strings don't ride
    the streaming sink) — use ``sum_stream`` per group or the batch
    operator.  Returns the StreamingQuery."""
    if _decimal_scale(spark, manifest_path, value_column) is not None:
        raise NotImplementedError(
            "grouped_sum_stream over decimal value columns is not "
            "supported; use batch grouped_sum or sum_stream per group")
    predicates = aggmod._normalize_predicates(predicate)
    gtype = aggmod._fields(
        manifestmod.table_meta(spark, manifest_path))[group_column]
    out_t = aggmod._arrow_type(spark, gtype)

    def handle(batch_df, epoch_id: int) -> None:
        runs = sorted(r["run_id"] for r in
                      batch_df.select("run_id").distinct().collect())
        for run in runs:
            blocks = aggmod._blocks_proj(
                spark, blocks_path, manifest_path,
                [group_column, value_column], predicates, run_ids=[run])
            partials = aggmod._gsum_partials(blocks, predicates, gtype, out_t)
            partials.write.mode("overwrite").parquet(
                f"{out_path}/run_id={run}")

    return _start(_manifest_stream(spark, manifest_path), handle,
                  checkpoint_path, trigger_seconds)


def read_grouped_sum(spark, out_path: str, manifest_path: str) -> DataFrame:
    """Fold the sink's per-run grouped-sum partials into the current
    (value, sum_value, cnt) result under the manifest's valid pairs
    (superseded runs drop out) — identical to batch ``grouped_sum`` on
    the same live data."""
    partials = spark.read.parquet(out_path)
    valid = manifestmod.valid_pairs_df(spark, manifest_path)
    live = partials.join(F.broadcast(valid), [PART_ID, "run_id"], "inner")
    return aggmod._fold_gsum(live)
