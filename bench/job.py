"""Single scaling-bench job: encode+decode the deterministic corpus,
print one JSON line with phase timings.  Launched via spark-submit
--py-files boltspark.zip (north-rule launch mode):

    spark-submit --master local[N] --py-files boltspark.zip \
        bench/job.py --rows 200000 --json-out /tmp/out.json
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import tempfile
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--corpus", default=None, help="pre-generated corpus parquet")
    ap.add_argument("--json-out", default=None)
    ap.add_argument("--n-parts", type=int, default=None,
                    help="fix the partition count so both parallelism "
                         "levels run the IDENTICAL job (partitioning is a "
                         "property of the data, executors vary)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    from boltspark import corpus
    from boltspark.engine import decode_table, encode_table

    corpus_path = args.corpus or f"/tmp/boltspark_bench_corpus_{args.rows}.parquet"
    if not os.path.exists(corpus_path):
        corpus.write_parquet(corpus_path, args.rows)
    df = spark.read.parquet(corpus_path)
    df.count()  # warm scan

    # untimed warmup: spin up every python worker, JIT the scan path, touch
    # the page cache — the timed run then measures the engine, not startup
    warm = tempfile.mkdtemp(prefix=f"boltspark_warm_{cpus}_", dir=os.environ.get("BOLTSPARK_WORK_DIR"))
    work = tempfile.mkdtemp(prefix=f"boltspark_scale_{cpus}_", dir=os.environ.get("BOLTSPARK_WORK_DIR"))
    try:
        encode_table(df.limit(4000), f"{warm}/blocks", f"{warm}/manifest",
                     resume=False, n_parts=cpus)

        t0 = time.time()
        res = encode_table(df, f"{work}/blocks", f"{work}/manifest",
                           resume=False, n_parts=args.n_parts)
        t_encode = time.time() - t0

        t0 = time.time()
        decoded = decode_table(spark, f"{work}/blocks", f"{work}/manifest",
                               n_tasks=args.n_parts)
        n = decoded.count()
        t_decode = time.time() - t0

        # correctness spot check rides along
        mism = (
            df.select(F.sha2("content", 256).alias("h")).groupBy("h").count()
            .join(
                decode_table(spark, f"{work}/blocks", f"{work}/manifest")
                .select(F.sha2("content", 256).alias("h")).groupBy("h").count()
                .withColumnRenamed("count", "c2"),
                "h", "full_outer",
            )
            .filter(F.col("count").isNull() | F.col("c2").isNull()
                    | (F.col("count") != F.col("c2"))).count()
        )
    finally:
        # scaling runs repeat this job: its tables must not pile up
        shutil.rmtree(warm, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)

    out = {
        "cpus": cpus,
        "rows": n,
        "raw_bytes": res.total_raw_bytes,
        "enc_bytes": res.total_enc_bytes,
        "encode_sec": round(t_encode, 3),
        "decode_sec": round(t_decode, 3),
        "encode_gbps": round(res.total_raw_bytes / 1e9 / t_encode, 4),
        "decode_gbps": round(res.total_raw_bytes / 1e9 / t_decode, 4),
        "sha_mismatches": mism,
        "n_partitions": res.n_partitions,
    }
    line = json.dumps(out)
    print(line)
    if args.json_out:
        with open(args.json_out, "w") as f:
            f.write(line)
    spark.stop()


if __name__ == "__main__":
    main()
