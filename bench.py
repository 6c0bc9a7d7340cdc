"""Benchmark harness: headline encode/decode throughput + driver queries.

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <scale>, ...extras}

Env:
  SPARK_GRAFT_SF_DIR  (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    (default all cores)
  BOLTSPARK_BENCH_MB  override corpus size in MB of content
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _memcpy_bw(size_mb: float) -> float:
    """One worker's memcpy GB/s over a ~1 s window (bench/scaling.py's
    probe kernel)."""
    import numpy as np

    a = np.empty(int(size_mb * 1e6 // 8), dtype=np.float64)
    b = np.empty_like(a)
    t = time.time()
    n = 0
    while time.time() - t < 1.0:
        np.copyto(b, a)
        n += 1
    return n * 2 * size_mb / 1000


def _host_probe(procs: int = 32, size_mb: float = 4.0) -> float:
    """Aggregate parallel-memcpy GB/s at 4 MB x 32 — the host-phase
    probe BENCH/BASELINE.md documents (~1000 GB/s healthy envelope,
    decaying to ~400 over a long session).  Emitted as ``probe_gbps``
    so cross-round bench totals can be normalized without re-running
    interleaved A/Bs: compare round N vs N-1 only after scaling by
    their probes (queries are Python-worker-bound; the JVM-side
    parquet_write_ref control is the secondary normalizer)."""
    import multiprocessing as mp

    with mp.Pool(procs) as p:
        t = time.time()
        res = p.map(_memcpy_bw, [size_mb] * procs)
        return round(sum(res) / (time.time() - t), 1)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(f"{path}/**/*", recursive=True)
        if os.path.isfile(p) and not p.endswith(".crc") and "_SUCCESS" not in p
    )


def _codec_microbench(df) -> dict:
    """Single-core encode/decode MB/s per codec on one 4 MB block of the
    corpus (driver-side; numpy kernels only, no Spark in the loop)."""
    import numpy as np

    from boltspark.kernels import block as blockmod
    from boltspark.kernels import fsst, strings

    pdf = df.select("content", "repo").limit(2000).toPandas()
    col = strings.from_pylist([s.encode() for s in pdf["content"]])
    # ~4 MB of medium-cardinality strings for the dictionary codec
    repos = strings.from_pylist(
        [s.encode() for s in pdf["repo"]] * (1 + (4 << 20) // max(
            1, int(pdf["repo"].str.len().sum()))))
    n_ints = 1 << 19  # 4 MB of int64
    ints = (np.arange(n_ints, dtype=np.int64) % 1000) + 10**9
    out = {}

    def run(name, values, tag, codec, outer=None, **kw):
        raw = values.nbytes if hasattr(values, "nbytes") else len(values.data)
        if hasattr(values, "offsets"):
            raw = len(values.data)
        best_e = best_d = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            blk = blockmod.encode_block(values, tag, codec, outer=outer, **kw)
            best_e = min(best_e, time.perf_counter() - t0)
            t0 = time.perf_counter()
            blockmod.decode_block(blk)
            best_d = min(best_d, time.perf_counter() - t0)
        out[name] = {"enc_MBps": round(raw / 1e6 / best_e, 1),
                     "dec_MBps": round(raw / 1e6 / best_d, 1),
                     "ratio": round(len(blk) / max(raw, 1), 4)}

    run("plain_zstd", col, "bytes", "plain", outer="zstd")
    run("dict", repos, "bytes", "dict")
    table = fsst.build_symbol_table_best(col.data[: 1 << 15])
    run("fsst", col, "bytes", "fsst", fsst_table=table)
    run("for", ints, "i64", "for")
    run("rle", np.repeat(np.arange(n_ints // 50, dtype=np.int64), 50), "i64", "rle")
    run("bitpack", (ints - 10**9).astype(np.int64), "i64", "bitpack")
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.1
    # deterministic corpus sized to the scale factor (~2 GB/sf of content)
    mb = int(os.environ.get("BOLTSPARK_BENCH_MB", max(32, int(4096 * sf))))

    import tempfile

    from perfbench.host import check_free_space

    # the corpus, its blocks, the scratch re-encode and the parquet
    # reference all land in the temp dir
    check_free_space(tempfile.gettempdir(), 4 * mb * 10**6)

    # host-phase probe BEFORE Spark exists (exclusive CPU): the number
    # that makes this run comparable to other rounds' runs
    probe_gbps = _host_probe()

    from pyspark.sql import functions as F

    from boltspark import corpus
    from boltspark.engine import decode_table, encode_table
    from boltspark.engine.filters import BytesPrefixPredicate
    from boltspark.engine.session import get_session

    spark = get_session("boltspark-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    n_rows = int(mb * 1e6 / 2600)  # mean content length ≈ 2.6 KB
    corpus_path = f"/tmp/boltspark_bench_corpus_{n_rows}.parquet"
    if not os.path.exists(corpus_path):
        corpus.write_parquet(corpus_path, n_rows)
    df = spark.read.parquet(corpus_path)
    df.count()  # warm the scan

    # untimed warmup: start python workers, JIT scan paths
    warm = tempfile.mkdtemp(prefix="boltspark_bench_warm_")
    encode_table(df.limit(4000), f"{warm}/blocks", f"{warm}/manifest",
                 resume=False, n_parts=cpus)

    work = tempfile.mkdtemp(prefix="boltspark_bench_")
    queries: dict[str, float] = {}
    extras: dict[str, float] = {}

    # --- encode (best-of-2: single encode runs swing +-25% on this host;
    # the second run writes to scratch and is deleted) -------------------
    t0 = time.time()
    res = encode_table(df, f"{work}/blocks", f"{work}/manifest", resume=False)
    enc_wall = time.time() - t0
    scratch = tempfile.mkdtemp(prefix="boltspark_bench_enc2_")
    t0 = time.time()
    encode_table(df, f"{scratch}/blocks", f"{scratch}/manifest", resume=False)
    enc_wall = min(enc_wall, time.time() - t0)
    import shutil

    shutil.rmtree(scratch, ignore_errors=True)
    queries["encode_corpus"] = round(enc_wall, 3)
    raw_gb = res.total_raw_bytes / 1e9
    extras["encode_gbps"] = round(raw_gb / queries["encode_corpus"], 3)
    extras["compression_ratio"] = round(res.total_enc_bytes / max(res.total_raw_bytes, 1), 4)
    extras["n_partitions"] = res.n_partitions

    def best_of(fn, repeats=3):
        """This host's single-run timings swing 5-20x (BENCH/BASELINE.md);
        decode-side queries are timed best-of-N after a first warm run.
        3 repeats: at best-of-2 the measured spread on the same binary was
        0.85-1.28 s for the same query (round-4 A/B) — one extra repeat
        roughly halves the tail's contribution to the reported number."""
        best = None
        for _ in range(repeats):
            t0 = time.time()
            out = fn()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3), out

    # --- decode -----------------------------------------------------------
    queries["decode_corpus"], n_decoded = best_of(
        lambda: decode_table(spark, f"{work}/blocks", f"{work}/manifest").count())
    extras["decode_gbps"] = round(raw_gb / queries["decode_corpus"], 3)
    extras["decoded_rows"] = n_decoded

    # --- verify (sha256 both sides + anti-join) ----------------------------
    t0 = time.time()
    decoded = decode_table(spark, f"{work}/blocks", f"{work}/manifest")
    orig_h = df.select(F.sha2("content", 256).alias("h"))
    back_h = decoded.select(F.sha2("content", 256).alias("h"))
    mismatch = (
        orig_h.groupBy("h").count().join(
            back_h.groupBy("h").count().withColumnRenamed("count", "c2"),
            "h", "full_outer",
        ).filter((F.col("count").isNull()) | (F.col("c2").isNull())
                 | (F.col("count") != F.col("c2"))).count()
    )
    queries["verify_sha256"] = round(time.time() - t0, 3)
    extras["sha_mismatches"] = mismatch

    # --- predicate-pushdown decode ---------------------------------------
    pred = BytesPrefixPredicate(column="repo", prefix=b"org3/")
    queries["decode_filtered"], n_filtered = best_of(lambda: decode_table(
        spark, f"{work}/blocks", f"{work}/manifest",
        columns=["repo", "path", "lang"], predicate=pred,
    ).count())
    extras["filtered_rows"] = n_filtered

    # --- selective decode of a HEAVY column (late materialization) --------
    pred_sel = BytesPrefixPredicate(column="repo", prefix=b"org3/repo37")
    queries["decode_selective_content"], n_sel = best_of(lambda: decode_table(
        spark, f"{work}/blocks", f"{work}/manifest",
        columns=["repo", "content"], predicate=pred_sel,
    ).count())
    extras["selective_rows"] = n_sel

    # --- compression vs Spark's own parquet (best-of-2: measured spread
    # 0.6-4.5 s for the same write on this host) ---------------------------
    queries["parquet_write_ref"], _ = best_of(
        lambda: df.write.mode("overwrite").parquet(f"{work}/ref_parquet"),
        repeats=2)
    ours = _dir_bytes(f"{work}/blocks") + _dir_bytes(f"{work}/manifest")
    theirs = _dir_bytes(f"{work}/ref_parquet")
    extras["bytes_ours"] = ours
    extras["bytes_parquet"] = theirs
    extras["vs_parquet"] = round(ours / max(theirs, 1), 4)

    # --- point query: decode two partitions only ---------------------------
    queries["decode_point_query"], extras["point_query_rows"] = best_of(
        lambda: decode_table(spark, f"{work}/blocks", f"{work}/manifest",
                             columns=["repo", "lang"], part_ids=[0, 1]).count())

    # --- skew evidence: partition byte histogram from the manifest ---------
    man = spark.read.parquet(f"{work}/manifest").filter(
        F.col("column") != "__table_meta__")
    part_bytes = (
        man.groupBy("part_id").agg(F.sum("raw_bytes").alias("b"))
        .agg(F.min("b").alias("mn"), F.expr("percentile(b, 0.5)").alias("p50"),
             F.expr("percentile(b, 0.95)").alias("p95"), F.max("b").alias("mx"))
        .collect()[0]
    )
    extras["partition_bytes"] = {
        "min": int(part_bytes["mn"]), "p50": int(part_bytes["p50"]),
        "p95": int(part_bytes["p95"]), "max": int(part_bytes["mx"]),
    }

    # --- driver-testdata flagship -----------------------------------------
    # best-of-2, same as the decode queries: the r5 run measured 22.5 s
    # cold vs 8-10 s warm for this query — the cold first run is worker
    # spin-up for a fresh encode+decode pipeline, not the engine
    import __spark_entry__ as entrymod

    queries["roundtrip_documents"], rows = best_of(
        lambda: entrymod._q_roundtrip_documents(spark, sf_dir).count(),
        repeats=2)
    extras["documents_rows"] = rows

    # --- compressed-domain aggregates over the already-encoded corpus ------
    # recorded as an EXTRA (not in the headline total, which must stay
    # comparable across rounds); best-of like the decode queries
    from boltspark.engine.agg import value_counts

    agg_q: dict[str, float] = {}
    agg_q["value_counts_lang"], _ = best_of(
        lambda: value_counts(spark, f"{work}/blocks",
                             f"{work}/manifest", "lang").collect())
    agg_q["value_counts_repo"], _ = best_of(
        lambda: value_counts(spark, f"{work}/blocks",
                             f"{work}/manifest", "repo").collect())
    pred_q = BytesPrefixPredicate(column="repo", prefix=b"org3/")
    agg_q["filtered_counts"], _ = best_of(
        lambda: value_counts(spark, f"{work}/blocks", f"{work}/manifest",
                             "lang", predicate=pred_q).collect())
    from boltspark.engine.agg import column_distinct_approx

    agg_q["hll_distinct_path"], hll_rows = best_of(
        lambda: column_distinct_approx(spark, f"{work}/blocks",
                                       f"{work}/manifest", "path").collect())
    extras["hll_distinct_path"] = hll_rows[0]["approx_distinct"]
    extras["agg_queries"] = agg_q

    # --- per-codec kernel microbench (single core, one 4 MB block) ---------
    extras["codec_mbps"] = _codec_microbench(df)

    total = round(sum(queries.values()), 3)
    print(json.dumps({
        "metric": "boltspark encode+decode wall time (corpus %.0f MB content)" % (raw_gb * 1e3),
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "cpus": cpus,
        "raw_gb": round(raw_gb, 3),
        "probe_gbps": probe_gbps,
        **extras,
    }))
    spark.stop()
    shutil.rmtree(warm, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
