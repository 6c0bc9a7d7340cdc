"""Per-layer metrics of the traced run, named after boltspark's modules.

Runs after the timed loop, on a table the pass encodes itself from the
workload's seed-only inputs, so every count repeats exactly for a seed.
Executor-side work (the codec kernels) cannot be wrapped from the
driver, so the pass replays the table's own blocks through
``kernels.block`` on the driver, single-threaded.  Functions that
``boltspark.engine.encode`` imports by name (the partitioner's) are
called here on the same input instead of being wrapped.
"""

from __future__ import annotations

import glob
import statistics
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq

from boltspark.engine import agg, compact, decode_table, encode_table
from boltspark.engine import manifest as manifestmod
from boltspark.engine import partitioner, schema, stats
from boltspark.kernels import block, fsst, selector

from .workloads import LayerInputs, dir_bytes

# replayed blocks per codec: enough for a steady MB/s, few enough that the
# replay stays a few seconds on one core
_REPLAY_PER_CODEC = 6


def _median_s(fn, n: int = 3) -> float:
    times = []
    for _ in range(n):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _loop_spans(tracer, name: str) -> list[dict]:
    """Spans of the timed loop; the layer pass's own when the loop made
    none of that name."""
    spans = tracer.named(name)
    return [s for s in spans if s["op"] is not None] or spans


def _median(spans: list[dict], key: str | None = None) -> float:
    return statistics.median(s[key] if key else s["end"] - s["start"]
                             for s in spans)


def _rate(spans: list[dict]) -> float:
    wall = sum(s["end"] - s["start"] for s in spans)
    return sum(s["raw"] for s in spans) / 1e6 / wall


def replay_kernels(blocks_path: str, columns: list[str]) -> dict:
    """Decode and re-encode a sample of the table's blocks with the codec
    each recorded, and time the selector on the same values."""
    per_codec: dict[str, list[tuple[str, bytes, int]]] = {}
    for f in sorted(glob.glob(f"{blocks_path}/*.parquet")):
        t = pq.read_table(f, columns=["cols"])
        for c in columns:
            leaf = pc.struct_field(t.column("cols"), [c])
            codecs = pc.struct_field(leaf, ["codec"]).to_pylist()
            blks = pc.struct_field(leaf, ["block"])
            raws = pc.struct_field(leaf, ["raw_bytes"]).to_pylist()
            for j, codec in enumerate(codecs):
                bucket = per_codec.setdefault(codec, [])
                if len(bucket) < _REPLAY_PER_CODEC:
                    bucket.append((c, blks[j].as_py(), raws[j]))
    out = {"enc_s": {}, "dec_s": {}, "raw": {}, "selector_s": 0.0, "blocks": 0}
    for codec, items in sorted(per_codec.items()):
        enc_s = dec_s = 0.0
        raw = 0
        for _col, buf, raw_bytes in items:
            t = time.perf_counter()
            values, validity, tag, got_codec, _n = block.decode_block(buf)
            dec_s += time.perf_counter() - t
            table = None
            if codec == "fsst":
                table = fsst.build_symbol_table_best(
                    values.data[: fsst._DEFAULT_SAMPLE])
            t = time.perf_counter()
            block.encode_block(values, tag, got_codec, validity=validity,
                               outer="zstd", fsst_table=table)
            enc_s += time.perf_counter() - t
            t = time.perf_counter()
            selector.choose(values, tag, outer="zstd", fsst_table=table,
                            exclude=() if table is not None else ("fsst",))
            out["selector_s"] += time.perf_counter() - t
            out["blocks"] += 1
            raw += raw_bytes
        out["enc_s"][codec], out["dec_s"][codec], out["raw"][codec] = enc_s, dec_s, raw
    return out


def layer_pass(ctx, li: LayerInputs, n_cores: int) -> tuple[dict, dict]:
    """(per-layer metrics, detail) for the traced run."""
    spark, tr = ctx.spark, ctx.tracer
    m: dict[str, float] = {}
    detail: dict = {}

    # --- encode: the pass's own table, one run per source -----------------
    since = len(tr.spans)
    t = ctx.fresh_table("layers")
    raw = 0
    for i, src in enumerate(li.sources):
        df = spark.read.parquet(src)
        with tr.span("encode.encode_table") as sp:
            res = encode_table(df, t.blocks, t.manifest, resume=False,
                               run_id=f"layers{i}")
        tr.annotate(sp, raw=res.total_raw_bytes)
        raw += res.total_raw_bytes
    encodes = tr.named("encode.encode_table", since)
    src_df = spark.read.parquet(*li.sources)
    columns = src_df.columns
    m["encode.wall_s"] = _median(encodes)
    m["encode.MBps"] = _rate(encodes)
    m["encode.spark_jobs"] = _median(encodes, "jobs")
    m["encode.input_scan_s"] = _median_s(lambda: _noop(src_df))

    # --- manifest ---------------------------------------------------------
    man = pq.read_table(t.manifest)
    is_meta = pc.equal(man.column("column"), manifestmod.META_KEY)
    data = man.filter(pc.invert(is_meta))
    m["manifest.rows"] = data.num_rows
    m["manifest.runs"] = man.num_rows - data.num_rows
    m["manifest.commit_s"] = _median(tr.named("manifest.commit", since))
    m["manifest.table_meta_ms"] = 1e3 * _median_s(
        lambda: manifestmod.table_meta(spark, t.manifest), 5)

    # --- kernels ----------------------------------------------------------
    enc_ms = data.column("enc_ms").to_numpy()
    raw_by = data.column("raw_bytes").to_numpy()
    codecs = data.column("codec").to_pylist()
    total_raw = int(raw_by.sum())
    m["kernels.enc_core_s"] = float(enc_ms.sum()) / 1e3
    m["kernels.enc_share"] = m["kernels.enc_core_s"] / (
        sum(s["end"] - s["start"] for s in encodes) * n_cores)
    shares: dict[str, int] = {}
    for c, r in zip(codecs, raw_by):
        shares[c] = shares.get(c, 0) + int(r)
    detail["kernels.raw_share"] = {c: r / total_raw for c, r in sorted(shares.items())}
    rp = replay_kernels(t.blocks, columns)
    enc_s, dec_s = sum(rp["enc_s"].values()), sum(rp["dec_s"].values())
    replay_raw = sum(rp["raw"].values())
    m["kernels.enc_MBps"] = replay_raw / 1e6 / enc_s
    m["kernels.dec_MBps"] = replay_raw / 1e6 / dec_s
    m["kernels.selector_ms_per_block"] = 1e3 * rp["selector_s"] / rp["blocks"]
    detail["kernels.enc_MBps"] = {c: rp["raw"][c] / 1e6 / s
                                  for c, s in rp["enc_s"].items() if s}
    detail["kernels.dec_MBps"] = {c: rp["raw"][c] / 1e6 / s
                                  for c, s in rp["dec_s"].items() if s}

    # --- partitioner ------------------------------------------------------
    meta = manifestmod.table_meta(spark, t.manifest)
    n_parts, key_cols = int(meta["n_parts"]), tuple(meta["key_cols"])
    m["partitioner.estimate_ms"] = 1e3 * _median_s(
        lambda: partitioner.estimate_bytes_fast(src_df, columns))
    m["partitioner.shuffle_s"] = _median_s(lambda: _noop(
        partitioner.cluster_partitions(
            partitioner.assign_partition_id(src_df, key_cols, n_parts),
            n_parts, key_cols)), n=1)
    part_raw: dict[int, int] = {}
    for p, r in zip(data.column("part_id").to_pylist(), raw_by):
        part_raw[p] = part_raw.get(p, 0) + int(r)
    m["partitioner.part_skew"] = (max(part_raw.values())
                                  / statistics.median(part_raw.values()))

    # --- decode -----------------------------------------------------------
    decodes = _loop_spans(tr, "decode.decode_table")
    m["decode.wall_s"] = _median(decodes)
    m["decode.MBps"] = _rate(decodes)
    with tr.span("decode.full_noop") as sp:
        _noop(decode_table(spark, t.blocks, t.manifest))
    m["decode.spark_jobs"] = sp["jobs"]  # of a full decode: the loop's vary
    full_s = sp["end"] - sp["start"]
    m["decode.blocks_scan_s"] = _median_s(
        lambda: _noop(schema.read_blocks(spark, t.blocks, meta["columns"])))
    m["decode.python_share"] = 1 - m["decode.blocks_scan_s"] / full_s

    # --- filters ----------------------------------------------------------
    verdicts = {"skip": [0, 0], "accept": [0, 0], "open": [0, 0]}
    returned = 0
    for pred, n_rows in li.predicates:
        with tr.span("filters.explain_scan"):
            rows = stats.explain_scan(spark, t.blocks, t.manifest, pred).collect()
        for r in rows:
            verdicts[r["verdict"]][0] += int(r["n_groups"])
            verdicts[r["verdict"]][1] += int(r["n_rows"])
        returned += n_rows
    m["filters.groups_skipped"] = verdicts["skip"][0]
    m["filters.groups_all"] = verdicts["accept"][0]
    m["filters.groups_open"] = verdicts["open"][0]
    considered = verdicts["accept"][1] + verdicts["open"][1]
    m["filters.useful_rows_share"] = returned / considered if considered else 1.0

    # --- agg: one call of each on the pass's table, then the median over
    # every call of the run (the selective_scan loop makes many) --------
    calls = {
        "value_counts": lambda: agg.value_counts(spark, t.blocks, t.manifest, "lang"),
        "column_sum": lambda: agg.column_sum(spark, t.blocks, t.manifest, "size"),
        "grouped_aggs": lambda: agg.grouped_aggs(
            spark, t.blocks, t.manifest, ["lang"], ["size", "n_lines"]),
        "column_topk": lambda: agg.column_topk(spark, t.blocks, t.manifest,
                                               "size", 10),
    }
    for name, call in calls.items():
        with tr.span(f"agg.{name}"):
            call().collect()
        m[f"agg.{name}_ms"] = 1e3 * _median(tr.named(f"agg.{name}"))

    # --- compact ----------------------------------------------------------
    out = ctx.fresh_table("layers_compacted")
    groups_in = sum(pq.ParquetFile(f).metadata.num_rows
                    for f in glob.glob(f"{t.blocks}/*.parquet"))
    with tr.span("compact.compact_blocks"):
        res = compact.compact_blocks(spark, t.blocks, t.manifest,
                                     out.blocks, out.manifest)
    m["compact.wall_s"] = _median(tr.named("compact.compact_blocks", since))
    m["compact.groups_in"] = groups_in
    m["compact.groups_out"] = res["n_groups"]
    m["compact.bytes_rewritten_per_live_byte"] = (dir_bytes(out.blocks)
                                                  / dir_bytes(t.blocks))
    detail["layers.stored_enc_bytes"] = int(data.column("enc_bytes").to_numpy().sum())
    detail["layers.raw_bytes"] = raw
    detail["filters.verdicts"] = verdicts
    ctx.remove_table(t)
    ctx.remove_table(out)
    return m, detail


def self_times(tracer) -> dict:
    return {f"self_s.{k}": v for k, v in sorted(tracer.self_time_by_layer().items())}

