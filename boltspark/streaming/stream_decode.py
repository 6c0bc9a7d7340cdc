"""Incremental decode over Structured Streaming: follow the manifest.

The manifest directory is the commit log — a run's rows appear exactly
when its blocks become visible to decode.  ``decode_stream`` tails it
with a file-source readStream and decodes each NEWLY COMMITTED run
through the same engine (``decode_table(run_ids=[run])`` — the pushed
run_id filter prunes every other run's files), writing the rows to
``out_path/run_id=<run>/``.

Exactly-once per run across restarts: the sink path is keyed by run id
and written with ``mode("overwrite")``, so a replayed micro-batch
re-derives byte-identical output into the same directory instead of
appending duplicates.  Readers just ``spark.read.parquet(out_path)``
(run_id becomes a partition column).
"""

from __future__ import annotations

from ..engine import decode as decodemod
from .agg_stream import _manifest_stream, _start


def decode_stream(
    spark,
    blocks_path: str,
    manifest_path: str,
    out_path: str,
    checkpoint_path: str,
    columns: list[str] | None = None,
    trigger_seconds: int | None = None,
):
    """readStream(manifest) -> per-run incremental decode -> parquet sink.
    Returns the StreamingQuery."""

    def handle(batch_df, epoch_id: int) -> None:
        runs = sorted(r["run_id"] for r in
                      batch_df.select("run_id").distinct().collect())
        for run in runs:
            out = decodemod.decode_table(
                spark, blocks_path, manifest_path,
                columns=columns, run_ids=[run])
            out.write.mode("overwrite").parquet(f"{out_path}/run_id={run}")

    return _start(_manifest_stream(spark, manifest_path), handle,
                  checkpoint_path, trigger_seconds)
