"""boltspark benchmark driver.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One process: probe the host, start Spark
on local[N] (N = min(4, nproc)), generate the workload's inputs from the
seed, run one untimed warm round, then a one-client closed loop of the
workload's op for S seconds, checking every op's output.  The last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1).  The line before it carries host context.  Exits 1 when any
op failed, 2 when the repository is not there.  Everything the run
writes goes under .bench_work/ (removed at exit) and .bench_out/ (the
traced run's spans) in the current directory.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
from collections import Counter  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
CORES = min(4, os.cpu_count() or 1)
FREE_BYTES_NEEDED = 3 << 30


class Ctx:
    """What a workload's setup and ops need: the session, the tracer and
    fresh directories under the run's work directory."""

    def __init__(self, spark, tracer, work: str):
        self.spark, self.tracer, self.work = spark, tracer, work
        self._n = 0
        os.makedirs(os.path.join(work, "inputs"), exist_ok=True)

    def input_path(self, name: str) -> str:
        return os.path.join(self.work, "inputs", name)

    def fresh(self, name: str) -> str:
        self._n += 1
        path = os.path.join(self.work, "tables", f"{name}-{self._n:04d}")
        if os.path.exists(path):  # encode would append to what is there
            raise FileExistsError(path)
        return path

    def fresh_table(self, name: str):
        from perfbench.workloads import Table

        d = self.fresh(name)
        return Table(os.path.join(d, "blocks"), os.path.join(d, "manifest"))

    @staticmethod
    def remove_table(t) -> None:
        shutil.rmtree(os.path.dirname(t.blocks), ignore_errors=True)

    def background(self, *fns):
        """Run untimed set-up jobs on other threads while the caller goes on;
        the block waits for them all.  Spark runs jobs from several driver
        threads side by side, so independent set-up jobs overlap."""
        return _Background(fns)


class _Background:
    def __init__(self, fns):
        from concurrent.futures import ThreadPoolExecutor

        self._pool = ThreadPoolExecutor(max_workers=CORES)
        self._futures = [self._pool.submit(fn) for fn in fns]

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self._pool.shutdown(wait=True)

    def results(self) -> list:
        return [f.result() for f in self._futures]


def _source_id() -> dict:
    """Git revision when the checkout has one, and a hash of the package
    sources, which identifies the program either way."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "boltspark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    out = {"src_sha256": h.hexdigest()[:16]}
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as fh:
            head = fh.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:])) as fh:
                head = fh.read().strip()
        out["git_rev"] = head[:12]
    except OSError:
        pass
    return out


def _tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it, or the maximum when there are fewer than eleven."""
    d = sorted(values)
    n = len(d)
    if n < 11:
        return d[-1], 100.0
    return d[n - 11], 100.0 * (n - 10) / n


def _drift(values: list[float]) -> float:
    """Median of the last quarter of ops over the median of the first."""
    q = max(1, len(values) // 4)
    return statistics.median(values[-q:]) / statistics.median(values[:q])


def _env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the work directory."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # SPARK_LOCAL_DIRS overrides the session's spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def run(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "boltspark")):
        print(f"perfbench: no boltspark package under {ROOT}; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import host
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    host.check_free_space(ROOT, FREE_BYTES_NEEDED)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    _env(work)

    t = time.perf_counter()
    probe = host.probe_gbps(CORES)
    probe_s = time.perf_counter() - t

    phases = {"probe": probe_s}

    def mark(name: str, since: float) -> float:
        now = time.perf_counter()
        phases[name] = now - since
        return now

    wl = WORKLOADS[args.workload]()
    gen_err: list[BaseException] = []

    def gen():
        try:
            t = time.perf_counter()
            wl.make_inputs(args.seed)
            mark("inputs", t)
        except BaseException as e:  # re-raised on the main thread
            gen_err.append(e)

    spark = None
    try:
        with host.RssSampler() as rss:
            gen_thread = threading.Thread(target=gen)
            gen_thread.start()
            from boltspark.engine.session import get_session

            t = time.perf_counter()
            try:
                spark = get_session("perfbench", cpus=CORES)
                spark.sparkContext.setLogLevel("ERROR")
                t = mark("session", t)
            finally:
                gen_thread.join()
            if gen_err:
                raise gen_err[0]
            tracer = Tracer(bool(args.trace), spark)
            if args.trace:
                import boltspark.engine.manifest as manifestmod

                tracer.patch(manifestmod, "commit", "manifest.commit")
                tracer.patch(manifestmod, "table_meta", "manifest.table_meta")
            ctx = Ctx(spark, tracer, work)
            try:
                t = time.perf_counter()
                wl.setup(ctx)
                loop_start = mark("workload_setup", t)
                setup_s = loop_start - T0 - probe_s
                states = host.cpu_states()
                ops = _loop(ctx, wl, loop_start + args.seconds)
                loop_s = time.perf_counter() - loop_start
                loop_states = host.state_shares(states, host.cpu_states())
                t = time.perf_counter()
                stored, raw, parquet = wl.stored(ctx)
                sizes = wl.sizes()  # may read the tables: before teardown
                t = mark("stored", t)
                layer_m, detail = {}, {}
                if args.trace:
                    from perfbench import layers

                    layer_m, detail = layers.layer_pass(
                        ctx, wl.layer_inputs(ctx), CORES)
                    layer_m.update(layers.self_times(tracer))
                    mark("layer_pass", t)
            finally:
                tracer.restore()
    finally:
        t = time.perf_counter()
        if spark is not None:
            host.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        mark("teardown", t)

    if args.trace:
        tracer.dump(os.path.join(
            out_dir, f"spans-{args.workload}-{args.seed}-{os.getpid()}.jsonl"))

    primary = [o for o in ops if o["kind"] == wl.primary]
    measured = primary or ops
    lat = [o["s"] for o in measured]
    cpu = [o["cpu"] for o in measured]
    attempted = len(ops)
    failed = sum(not o["ok"] for o in ops)
    if wl.parquet_bound:
        attempted += 1
        failed += stored > parquet
    op_wall = sum(o["s"] for o in ops)
    e2e = {
        "setup_s": setup_s,
        "op_cpu_ms": 1e3 * statistics.median(cpu),
        "stored_bytes_per_raw_byte": stored / raw,
        "stored_vs_parquet": stored / parquet,
    }
    tail, pct = _tail(lat)
    context = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "spark_cores": CORES,
        **_source_id(), "host.probe_gbps": probe, "run.drift": _drift(lat),
        "op_p50_ms": 1e3 * statistics.median(lat),
        "ops_per_s": len(primary) / loop_s,
        "op_tail_ms": 1e3 * tail, "op_tail_pct": pct, "op_count": len(lat),
        "ops_by_kind": Counter(o["kind"] for o in ops), "sizes": sizes,
        "raw_MBps": sum(o["raw"] for o in ops) / 1e6 / op_wall,
        "rss.peak_MB": rss.peak_total / 1e6,
        "rss.jvm_MB": rss.peak_jvm / 1e6, "rss.python_MB": rss.peak_python / 1e6,
        "phases_s": phases, "loop_host": loop_states,
        "ops_ms": [(o["label"], round(1e3 * o["s"], 1), round(1e3 * o["cpu"]))
                   for o in ops],
        "failures": [o["note"] for o in ops if not o["ok"]][:10],
    }
    if args.trace:
        cost = tracer.span_cost_s()
        loop_spans = sum(1 for s in tracer.spans if s["op"] is not None)
        layer_m.update({
            "host.probe_gbps": probe, "host.nproc": os.cpu_count(),
            "spark.cores": CORES, "run.drift": context["run.drift"],
            "raw_MBps": context["raw_MBps"], "rss.peak_MB": context["rss.peak_MB"],
            "rss.jvm_MB": context["rss.jvm_MB"],
            "rss.python_MB": context["rss.python_MB"],
            "op.tail_ms": context["op_tail_ms"], "op.tail_pct": pct,
            "op.count": len(lat), "op.p50_ms": context["op_p50_ms"],
            "op.per_s": context["ops_per_s"],
            "trace.span_cost_us": 1e6 * cost,
            "trace.overhead_share": loop_spans * cost / loop_s,
        })
        context["detail"] = detail
        context["e2e_traced"] = e2e
    metrics = layer_m if args.trace else e2e
    units = _declared_units("per_layer" if args.trace else "end_to_end")
    if set(metrics) != set(units):
        raise RuntimeError("metrics differ from BENCHMARK.json: "
                           f"{sorted(set(metrics) ^ set(units))}")
    print(json.dumps({"context": context}, default=float))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }))
    return 1 if failed else 0


def _declared_units(section: str) -> dict[str, str]:
    """Metric names and units as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _loop(ctx, wl, deadline: float) -> list[dict]:
    """One client, closed loop: the next op starts when the last ends."""
    from perfbench.host import cpu_seconds

    ops = []
    i = 0
    while time.perf_counter() < deadline:
        ctx.tracer.op_id = i
        cpu = cpu_seconds()
        t = time.perf_counter()
        try:
            r = wl.op(ctx, i)
            rec = {"kind": r.kind, "ok": r.ok, "raw": r.raw_bytes, "note": r.note,
                   "label": r.label or r.kind}
        except Exception as e:  # a failed op is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            rec = {"kind": "error", "ok": False, "raw": 0, "note": repr(e)[:200],
                   "label": "error"}
        rec["s"] = time.perf_counter() - t
        rec["cpu"] = cpu_seconds() - cpu
        ops.append(rec)
        i += 1
    ctx.tracer.op_id = None
    return ops


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args())


if __name__ == "__main__":
    sys.exit(main())
