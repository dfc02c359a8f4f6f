"""The four benchmark workloads.

Each is a closed loop with one client and a single writer. `setup()` runs
before the clock starts, `op(i)` is one timed operation and returns its
sample, and `check()` runs the output checks after the clock stops and
returns the failed ones.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from dataclasses import dataclass, field

from chesscom_etl_tableau_spark.cli import run_pipeline
from chesscom_etl_tableau_spark.plans import visuals as V
from chesscom_etl_tableau_spark.streaming.corpus_ingest import streaming_corpus_ingest

import checks
import gen

# Sizes and shares; recorded with the definitions in perfbench/DEFINITIONS.md.
CHESS_PLAYERS = ("alice", "bob", "carol")
BACKFILL = dict(players=CHESS_PLAYERS, start=dt.date(2023, 1, 1), months=12, games_per_day=45)
DAILY = dict(players=CHESS_PLAYERS, start=dt.date(2024, 1, 1), months=4, games_per_day=30)
DAILY_PRELOAD_AS_OF = dt.date(2024, 3, 31)  # history: Jan, Feb and Mar to the 30th
DASHBOARD = dict(players=("alice",), start=dt.date(2023, 1, 1), months=12, games_per_day=66)
# Warm-up refreshes: unfiltered, then all three filters (values drawn
# apart from the measured session's).
DASHBOARD_WARMUP = (0, 3)
CORPUS = dict(batches=2, docs_per_batch=400)


@dataclass
class Sample:
    """One timed operation: wall seconds, items done, failed or not."""

    seconds: float
    items: int
    failed: bool = False
    parts: dict = field(default_factory=dict)  # sub-timings, e.g. ingest / refresh
    steal: float = 0.0  # share of host CPU time other guests took meanwhile


class Ctx:
    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed


def _run_pipeline(ctx: Ctx, archives: gen.ChessArchives, out_dir: str):
    with ctx.tracer.span("run_pipeline"):
        return run_pipeline(
            ctx.spark, list(archives.spec.players), out_dir, transport=archives, delay_s=0
        )


# ---------------------------------------------------------------------------
# Dashboard refresh
# ---------------------------------------------------------------------------

VISUALS = (
    "summary_card",
    "rolling_winrate_line",
    "top_opponents_pivot",
    "result_donut",
    "winrate_by_bucket_color",
    "top_openings_bar",
)


def refresh(ctx: Ctx, games, slicers) -> tuple[dict[str, list], dict[str, float]]:
    """Collect all six visuals for one slicer state: (rows, seconds) per visual."""
    rows, secs = {}, {}
    for name in VISUALS:
        t0 = time.perf_counter()
        with ctx.tracer.span(f"visuals.{name}"):
            rows[name] = getattr(V, name)(games, slicers=slicers).collect()
        secs[name] = time.perf_counter() - t0
    return rows, secs


def load_games(ctx: Ctx, out_dir: str):
    return V.enrich_games(ctx.spark.read.parquet(os.path.join(out_dir, "games")))


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


class Backfill:
    """First run for newly tracked players: the whole history, empty sink."""

    name = "backfill"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.archives = gen.ChessArchives(gen.ChessSpec(seed=ctx.seed, **BACKFILL))
        self.outs: list[str] = []

    def setup(self) -> None:
        self.archives.prepare(self.archives.spec.end_day())

    def op(self, i: int) -> Sample:
        out = os.path.join(self.ctx.work, f"backfill-{i}")
        a = self.archives
        served, missing = len(a.archives_served), a.missing_served
        t0 = time.perf_counter()
        summary = _run_pipeline(self.ctx, a, out)
        sec = time.perf_counter() - t0
        self.outs.append((out, a.archives_served[served:], a.missing_served - missing))
        return Sample(sec, summary.appended_games, parts={"ingest": sec})

    def check(self) -> list[str]:
        return [
            f"{os.path.basename(o)}: {m}"
            for o, served, missing in self.outs
            for m in checks.chess_sink(self.ctx.spark, o, self.archives, served, missing)
        ]


class Daily:
    """Consecutive daily increments on a pre-loaded sink, each followed by
    one full dashboard refresh. The second day opens a new month."""

    name = "daily"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.archives = gen.ChessArchives(gen.ChessSpec(seed=ctx.seed, **DAILY))
        self.out = os.path.join(ctx.work, "daily")
        self.refreshes: list[tuple] = []

    def setup(self) -> None:
        self.archives.prepare(DAILY_PRELOAD_AS_OF)
        _run_pipeline(self.ctx, self.archives, self.out)
        refresh(self.ctx, load_games(self.ctx, self.out), None)  # warm-up

    def op(self, i: int) -> Sample:
        self.archives.prepare(DAILY_PRELOAD_AS_OF + dt.timedelta(days=i + 1))
        t0 = time.perf_counter()
        summary = _run_pipeline(self.ctx, self.archives, self.out)
        t1 = time.perf_counter()
        rows, secs = refresh(self.ctx, load_games(self.ctx, self.out), None)
        t2 = time.perf_counter()
        self.refreshes = [(None, rows)]  # the last refresh is checked
        return Sample(t2 - t0, summary.appended_games,
                      parts={"ingest": t1 - t0, "refresh": t2 - t1, "visuals": secs})

    def check(self) -> list[str]:
        fails = checks.chess_sink(self.ctx.spark, self.out, self.archives,
                                  self.archives.archives_served, self.archives.missing_served)
        return fails + checks.visuals(os.path.join(self.out, "games"), self.refreshes)


class Dashboard:
    """A deterministic slicer session over a fixed pre-loaded sink."""

    name = "dashboard"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.archives = gen.ChessArchives(gen.ChessSpec(seed=ctx.seed, **DASHBOARD))
        self.out = os.path.join(ctx.work, "dashboard")
        self.states = gen.slicer_session(ctx.seed, self.archives.spec)
        self.refreshes: list[tuple] = []

    def setup(self) -> None:
        self.archives.prepare(self.archives.spec.end_day())
        _run_pipeline(self.ctx, self.archives, self.out)
        self.games = load_games(self.ctx, self.out)
        warmup = gen.slicer_session(self.ctx.seed, self.archives.spec, stream="warmup")
        for k in DASHBOARD_WARMUP:
            refresh(self.ctx, self.games, V.Slicers(**warmup[k]))

    def op(self, i: int) -> Sample:
        # State 0 (unfiltered) was warmed up; the session starts at state 1.
        slicers = V.Slicers(**self.states[(i + 1) % len(self.states)])
        t0 = time.perf_counter()
        rows, secs = refresh(self.ctx, self.games, slicers)
        sec = time.perf_counter() - t0
        self.refreshes.append((slicers, rows))
        return Sample(sec, len(VISUALS), parts={"refresh": sec, "visuals": secs})

    def check(self) -> list[str]:
        fails = checks.chess_sink(self.ctx.spark, self.out, self.archives,
                                  self.archives.archives_served, self.archives.missing_served)
        return fails + checks.visuals(os.path.join(self.out, "games"), self.refreshes)


class CorpusStream:
    """Seeded document micro-batches drained through the streaming corpus ingest."""

    name = "corpus_stream"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spec = gen.CorpusSpec(seed=ctx.seed, **CORPUS)
        self.drains: list[tuple[str, list, list]] = []

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.batches = gen.corpus_batches(self.spec)
        self.drop = os.path.join(self.ctx.work, "corpus-drop")
        os.makedirs(self.drop)
        now = time.time()
        for b, rows in enumerate(self.batches):
            cols = list(zip(*rows))  # the last column is the generator's kind
            table = pa.table({
                "doc_id": pa.array(cols[0], pa.int64()), "text": pa.array(cols[1]),
                "lang": pa.array(cols[2]), "source": pa.array(cols[3]),
            })
            path = os.path.join(self.drop, f"batch-{b:03d}.parquet")
            pq.write_table(table, path)
            stamp = now - 1000 + 10 * b  # arrival order = file order
            os.utime(path, (stamp, stamp))

    def op(self, i: int) -> Sample:
        d = os.path.join(self.ctx.work, f"corpus-{i}")
        stats: list = []
        stream = (
            self.ctx.spark.readStream.schema("doc_id long, text string, lang string, source string")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.drop)
        )
        t0 = time.perf_counter()
        q = streaming_corpus_ingest(
            stream, f"{d}/sink", f"{d}/lsh", f"{d}/reg", f"{d}/ckpt", stats=stats
        )
        q.awaitTermination()
        sec = time.perf_counter() - t0
        batch_s = [p["durationMs"]["addBatch"] / 1e3 for p in q.recentProgress if p["numInputRows"]]
        self.drains.append((d, stats, batch_s))
        return Sample(sec, sum(s["n_in"] for s in stats), parts={"batches": batch_s, "stats": stats})

    def check(self) -> list[str]:
        return [m for d, stats, _ in self.drains
                for m in checks.corpus(self.ctx.spark, f"{d}/sink", stats, self.batches)]


WORKLOADS = {w.name: w for w in (Backfill, Daily, Dashboard, CorpusStream)}
