"""Benchmark of the daily Chess.com ETL -> dashboard pipeline and the corpus
stream. Run from the repository root:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Workloads: backfill, daily, dashboard, corpus_stream (see workloads.py and
DEFINITIONS.md). The run starts a local Spark session on every core, sets
the workload up, runs its operations in a closed loop for `--seconds`,
checks the outputs, and prints one JSON object as the last line of stdout:
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. The line before it gives every metric with its sample count.
The exit code is 1 when an output check fails. Spark's own files stay in
`.perfbench-work/` under the current directory and are removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
DRIVER_MEM = "2g"
# Operations in a traced run: a fixed count, so job counts repeat exactly.
TRACE_OPS = {"backfill": 1, "daily": 2, "dashboard": 4, "corpus_stream": 1}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("backfill", "daily", "dashboard", "corpus_stream"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def launcher_env(work: str, trace: bool) -> None:
    """Point every file Spark writes into `work`; the event log only when traced."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        })
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # spark-submit's own launcher JVM
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {k}={v!r}" if " " in v else f"--conf {k}={v}"
                                        for k, v in conf.items()) + " pyspark-shell",
    })


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_times(spark) -> dict:
    """Driver JVM garbage-collection and JIT-compilation seconds so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return {"jvm_gc_s": gc_ms / 1e3, "jvm_jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3}


def tail_percentile(values: list[float]) -> tuple[float | None, int | None]:
    """The highest whole percentile with at least ten samples above it."""
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 0, -1):
        k = min(n - 1, int(p / 100 * n))
        if n - k - 1 >= 10:
            return xs[k], p
    return None, None


def metric(value, unit: str, samples: int) -> dict:
    return {"value": value, "unit": unit, "samples": samples}


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        launcher_env(work, bool(args.trace))
        sys.path.insert(0, ROOT)
        # Fails here, before any result is printed, when the package is absent.
        import chesscom_etl_tableau_spark.cli  # noqa: F401

        detail, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def run(args, work: str) -> tuple[dict, dict]:
    import layers
    import spans as T
    import workloads as W
    from chesscom_etl_tableau_spark.session import get_spark

    with T.RssSampler(0.25) as rss:
        h0 = T.host_jiffies()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.range(1).collect()
        session_s = time.perf_counter() - t0
        try:
            tracer = T.Tracer(spark.sparkContext, bool(args.trace))
            ctx = W.Ctx(spark, tracer, work, args.seed)
            wl = W.WORKLOADS[args.workload](ctx)
            t1 = time.perf_counter()
            wl.setup()
            setup_s = session_s + (time.perf_counter() - t1)
            setup_steal = T.steal_share(h0, T.host_jiffies())
            probes = layers.install(tracer, wl) if args.trace else None
            tracer.spans.clear()  # spans of the set-up are not measured

            samples, errors = [], []
            budget = TRACE_OPS[args.workload] if args.trace else None
            window = (time.time(), None)
            m0 = time.perf_counter()
            i = 0
            while (i < budget) if budget else (i == 0 or time.perf_counter() - m0 < args.seconds):
                try:
                    h = T.host_jiffies()
                    with tracer.span("op"):
                        sample = wl.op(i)
                    sample.steal = T.steal_share(h, T.host_jiffies())
                    samples.append(sample)
                except Exception as e:  # an operation that raises is a failed operation
                    errors.append(f"op {i}: {type(e).__name__}: {e}")
                    samples.append(W.Sample(0.0, 0, failed=True))
                i += 1
            measured_s = time.perf_counter() - m0
            jvm = jvm_times(spark)
            window = (window[0], time.time())
            tracer.unwrap_all()
            check_fails = wl.check()
        finally:
            stop_spark(spark)
        peak_rss_mb = rss.peak / 1e6

    ok = [s for s in samples if not s.failed]
    # A failed output check fails every operation whose output it covers.
    attempted = len(samples)
    failed = attempted if check_fails else attempted - len(ok)
    # Host-normalized times: the wall time times the share of the host's CPU
    # time this guest got (1 - steal). Other guests on the same host took up
    # to half of it during runs, which stretches every CPU-bound wall time.
    lat = [s.seconds * (1 - s.steal) for s in ok]
    rates = [s.items / t for s, t in zip(ok, lat)]
    e2e = {
        "setup_s": metric(setup_s * (1 - setup_steal), "s", 1),
        "latency_s_p50": metric(statistics.median(lat) if lat else 0.0, "s", len(lat)),
        "items_per_s": metric(statistics.median(rates) if rates else 0.0, "1/s", len(rates)),
    }
    raw = [s.seconds for s in ok]
    wall = {
        "setup_s": setup_s,
        "latency_s_p50": statistics.median(raw) if raw else 0.0,
        "items_per_s": statistics.median(s.items / s.seconds for s in ok) if ok else 0.0,
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "session_start_s": session_s, "measured_s": measured_s, **jvm,
        "ops": attempted, "op_seconds": raw, "failures": errors + check_fails,
        "steal_share": {"setup": setup_steal, "ops": [s.steal for s in ok]},
        "wall": wall,
        "error_rate": metric(failed / attempted, "ratio", attempted),
        # Varies by more than a tenth between runs: a per-layer metric of the traced run.
        "peak_rss_mb": metric(peak_rss_mb, "MB", 1),
        **e2e, **workload_metrics(args.workload, ok),
    }
    if args.trace:
        per_layer = layers.collect(tracer, probes, os.path.join(work, "eventlog"), window, ok)
        per_layer["peak_rss_mb"] = (peak_rss_mb, "MB")
        metrics = {k: {"value": v[0], "unit": v[1]} for k, v in per_layer.items()}
        detail["per_layer"] = metrics
    else:
        metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in e2e.items()}
    result = {
        "correct": not check_fails and not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return detail, result


def workload_metrics(workload: str, ok: list) -> dict:
    """The workload's own end-to-end figures, with their sample counts."""
    out = {}
    rates = [s.items / s.seconds for s in ok]
    if workload == "backfill":
        out["ingest_games_per_s"] = metric(statistics.median(rates) if rates else 0.0,
                                           "games/s", len(ok))
    if workload == "daily":
        for key, name in (("ingest", "ingest_s_p50"), ("refresh", "refresh_s_p50")):
            xs = [s.parts[key] for s in ok]
            out[name] = metric(statistics.median(xs) if xs else 0.0, "s", len(xs))
        xs = [s.seconds for s in ok]
        out["freshness_s_p50"] = metric(statistics.median(xs) if xs else 0.0, "s", len(xs))
    if workload == "dashboard":
        xs = [s.seconds for s in ok]
        out["refresh_s_p50"] = metric(statistics.median(xs) if xs else 0.0, "s", len(xs))
        vis = [v for s in ok for v in s.parts["visuals"].values()]
        out["visual_s_p50"] = {k: statistics.median(s.parts["visuals"][k] for s in ok)
                               for k in ok[0].parts["visuals"]} if ok else {}
        tail, p = tail_percentile(vis)
        out["visual_s_tail"] = {**metric(tail, "s", len(vis)), "percentile": p}
    if workload == "corpus_stream":
        out["corpus_docs_per_s"] = metric(statistics.median(rates) if rates else 0.0,
                                          "docs/s", len(ok))
        xs = [b for s in ok for b in s.parts["batches"]]
        out["batch_s_p50"] = metric(statistics.median(xs) if xs else 0.0, "s", len(xs))
    return out


if __name__ == "__main__":
    sys.exit(main())
