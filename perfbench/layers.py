"""Per-layer metrics of a traced run.

`install` wraps the package's public entry points of each layer with
spans and counters; `collect` turns the spans, the counters and the Spark
event log into the per-layer metrics. Jobs and tasks belong to the
innermost span that was open when the job started. Every metric is
reported on every workload; a layer a workload never runs reads 0.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from chesscom_etl_tableau_spark import cli
from chesscom_etl_tableau_spark.operators import dedup
from chesscom_etl_tableau_spark.plans import ingest, status
from chesscom_etl_tableau_spark.streaming import corpus_ingest

import spans as T
import workloads as W

# Span name -> layer. Spans not listed ("op", "run_pipeline") are roots.
LAYER_OF = {
    "rest.fetch_archive_lists": "rest",
    "rest.fetch_archives": "rest",
    "ingest.ingest_archives": "ingest",
    "commit.commit_append": "commit",
    "commit.commit_append_manifest": "commit",
    "state.load_state": "state",
    "state.save_state": "state",
    "status.log": "status",
    "corpus.batch": "corpus",
    "corpus.index_append": "corpus",
    **{f"visuals.{v}": "visuals" for v in W.VISUALS},
}
# Layers that fire Spark jobs (rest and state run on the driver only).
SPARK_LAYERS = ("ingest", "commit", "status", "visuals", "corpus")
SPARK_UNITS = {"tasks": "count", "task_run_s": "s", "task_cpu_s": "s", "gc_s": "s",
               "shuffle_write_mb": "MB", "spill_mb": "MB", "input_splits": "count"}


def _parquet_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def install(tracer: T.Tracer, wl) -> dict:
    """Wrap each layer's public entry points; returns the counter store."""
    probes: dict = defaultdict(float)
    archives = getattr(wl, "archives", None)

    def fetch_counter(n_urls_arg):
        def count(args, kwargs, out, before, pre):
            fetcher = args[0] if n_urls_arg == 1 else args[1]
            if before:
                return fetcher.attempts, archives.bytes_served
            urls = args[n_urls_arg]
            probes["rest.requests"] += fetcher.attempts - pre[0]
            probes["rest.retries"] += fetcher.attempts - pre[0] - len(urls)
            probes["rest.mb_decoded"] += (archives.bytes_served - pre[1]) / 1e6
            if n_urls_arg == 2:
                probes["ingest.rows_fetched"] += sum(
                    archives.game_counts.get(u, 0) for _, u in urls
                )
            return None
        return count

    def ingest_counter(args, kwargs, out, before, pre):
        if not before:
            probes["ingest.rows_appended"] += out.appended_games

    def commit_counter(args, kwargs, out, before, pre):
        sink = args[1] if len(args) > 1 else kwargs["sink_path"]
        if before:
            return _parquet_files(sink)
        new = {p: s for p, s in _parquet_files(sink).items() if p not in pre}
        probes["commit.files_published"] += len(new)
        probes["commit.mb_written"] += sum(new.values()) / 1e6

    def status_counter(args, kwargs, out, before, pre):
        if before:
            probes["status.calls"] += 1

    def batch_counter(args, kwargs, out, before, pre):
        if not before:
            probes["corpus.batches"] += 1
            probes["corpus.n_in"] += out["n_in"]
            probes["corpus.n_published"] += out["n_published"]
            probes["corpus.n_exact_pairs"] += out["n_exact_pairs"]
            probes["corpus.n_lsh_hits"] += out["n_lsh_hits"]

    tracer.wrap(cli, "fetch_archive_lists", "rest.fetch_archive_lists", fetch_counter(1))
    tracer.wrap(cli, "fetch_archives", "rest.fetch_archives", fetch_counter(2))
    tracer.wrap(cli, "ingest_archives", "ingest.ingest_archives", ingest_counter)
    tracer.wrap(cli, "load_state", "state.load_state")
    tracer.wrap(ingest, "load_state", "state.load_state")
    tracer.wrap(ingest, "save_state", "state.save_state")
    tracer.wrap(ingest, "commit_append", "commit.commit_append", commit_counter)
    tracer.wrap(ingest, "commit_append_manifest", "commit.commit_append_manifest", commit_counter)
    tracer.wrap(status.StatusLogger, "log", "status.log", status_counter)
    tracer.wrap(corpus_ingest, "corpus_ingest_batch", "corpus.batch", batch_counter)
    tracer.wrap(dedup, "lsh_index_append_rows", "corpus.index_append")
    return probes


def collect(tracer: T.Tracer, probes: dict, log_dir: str, window, ok: list) -> dict:
    """{metric: (value, unit)} for every per-layer metric."""
    jobs, tasks = T.read_event_log(log_dir, window)
    spans = tracer.spans
    dur = {s.sid: s.end - s.start for s in spans}
    child = defaultdict(float)
    for s in spans:
        if s.parent:
            child[s.parent] += dur[s.sid]

    def total(pred, self_time=False):
        return sum(dur[s.sid] - (child[s.sid] if self_time else 0) for s in spans if pred(s.name))

    def n_jobs(pred):
        return sum(jobs.get(s.sid, 0) for s in spans if pred(s.name))

    def in_layer(layer):
        return lambda name: LAYER_OF.get(name) == layer

    out = {}
    p = probes
    out["rest.fetch_s"] = (total(in_layer("rest")), "s")
    out["rest.requests"] = (p["rest.requests"], "count")
    out["rest.retries"] = (p["rest.retries"], "count")
    out["rest.mb_decoded"] = (p["rest.mb_decoded"], "MB")

    out["ingest.self_s"] = (total(in_layer("ingest"), self_time=True), "s")
    out["ingest.jobs"] = (n_jobs(in_layer("ingest")), "count")
    out["ingest.rows_fetched"] = (p["ingest.rows_fetched"], "count")
    out["ingest.rows_appended"] = (p["ingest.rows_appended"], "count")
    out["ingest.append_ratio"] = (
        p["ingest.rows_appended"] / p["ingest.rows_fetched"] if p["ingest.rows_fetched"] else 0.0,
        "ratio",
    )

    out["commit.s"] = (total(in_layer("commit")), "s")
    out["commit.jobs"] = (n_jobs(in_layer("commit")), "count")
    out["commit.files_published"] = (p["commit.files_published"], "count")
    out["commit.mb_written"] = (p["commit.mb_written"], "MB")

    out["state.s"] = (total(in_layer("state")), "s")
    out["state.watermark_advance_s"] = (total(lambda n: n == "state.save_state"), "s")
    out["status.s"] = (total(in_layer("status")), "s")
    out["status.calls"] = (p["status.calls"], "count")
    out["status.jobs"] = (n_jobs(in_layer("status")), "count")

    for v in W.VISUALS:
        name = f"visuals.{v}"
        secs = [dur[s.sid] for s in spans if s.name == name]
        out[f"{name}.s"] = (statistics.median(secs) if secs else 0.0, "s")
        out[f"{name}.jobs"] = (n_jobs(lambda n, name=name: n == name) / len(secs) if secs else 0.0,
                               "count")

    batches = p["corpus.batches"]
    batch_secs = [dur[s.sid] for s in spans if s.name == "corpus.batch"]
    corpus_sids = {s.sid for s in spans if s.name == "corpus.batch"}
    nested_jobs = sum(jobs.get(s.sid, 0) for s in spans
                      if s.sid in corpus_sids or s.parent in corpus_sids)
    out["corpus.batch_s"] = (statistics.median(batch_secs) if batch_secs else 0.0, "s")
    out["corpus.jobs_per_batch"] = (nested_jobs / batches if batches else 0.0, "count")
    out["corpus.published_ratio"] = (
        p["corpus.n_published"] / p["corpus.n_in"] if p["corpus.n_in"] else 0.0, "ratio")
    out["corpus.lsh_recall"] = (
        p["corpus.n_lsh_hits"] / p["corpus.n_exact_pairs"] if p["corpus.n_exact_pairs"] else 0.0,
        "ratio")
    out["corpus.index_append_s"] = (
        total(lambda n: n == "corpus.index_append") / batches if batches else 0.0, "s")

    for layer in SPARK_LAYERS:
        acc = dict.fromkeys(T.TASK_FIELDS, 0.0)
        for s in spans:
            if LAYER_OF.get(s.name) == layer:
                for k, v in tasks.get(s.sid, {}).items():
                    acc[k] += v
        for k in T.TASK_FIELDS:
            out[f"spark.{layer}.{k}"] = (acc[k], SPARK_UNITS[k])
    out["spark.jobs_per_run"] = (jobs.get("__window__", 0), "count")
    lat = [s.seconds * (1 - s.steal) for s in ok]
    out["traced.latency_s_p50"] = (statistics.median(lat) if lat else 0.0, "s")
    return out
