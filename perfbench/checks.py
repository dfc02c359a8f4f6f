"""Output checks, run after the clock stops. Each returns a list of failure
messages; an empty list means the output is correct.

The sink, audit and state files are read back directly (DuckDB, JSON),
and every visual is recomputed by an independent DuckDB query over the
same sink parquet.
"""

from __future__ import annotations

import json
import math
import os

import duckdb
from chesscom_etl_tableau_spark.plans.ingest import read_manifest_sink
from chesscom_etl_tableau_spark.plans.visuals import enrich_games

import gen


def _parquet(d: str) -> str:
    return os.path.join(d, "*.parquet").replace("'", "''")


def chess_sink(spark, out_dir: str, archives: gen.ChessArchives, served: list[str], missing: int) -> list[str]:
    """The games sink, audit, state and status log of one output dir that
    received the archive fetches `served` and `missing` 404 answers."""
    fails: list[str] = []
    expect = archives.expect
    sink = os.path.join(out_dir, "games")
    con = duckdb.connect()
    n, n_distinct = con.execute(
        f"SELECT count(*), count(DISTINCT game_url) FROM read_parquet('{_parquet(sink)}')"
    ).fetchone()
    if n != n_distinct:
        fails.append(f"{n - n_distinct} duplicate game_url rows in the sink")
    # The parsed columns as the package derives them (result in the sink, eco by enrich).
    got = {
        r["game_url"]: r
        for r in enrich_games(spark.read.parquet(sink))
        .selectExpr("game_url", "username", "archive_url", "result", "eco",
                    "unix_timestamp(end_time_utc) AS end_time")
        .collect()
    }
    lost, extra = expect.keys() - got.keys(), got.keys() - expect.keys()
    if lost or extra:
        fails.append(f"game_url set differs: {len(lost)} missing, {len(extra)} unexpected")
    cols = ("username", "archive_url", "result", "eco", "end_time")
    wrong = {}
    for u in expect.keys() & got.keys():
        bad = [c for c in cols if got[u][c] != expect[u][c]]
        if bad:
            wrong[u] = bad
    if wrong:
        u = min(wrong)
        fails.append(f"{len(wrong)} games parsed wrongly, e.g. {u}: {wrong[u]}")

    # Watermark = max end_time of the games each player got appended.
    with open(os.path.join(out_dir, "state.json")) as f:
        state = json.load(f)
    for user in archives.spec.players:
        times = [r["end_time"] for r in got.values() if r["username"] == user and r["end_time"] is not None]
        want = max(times, default=0)
        have = state.get(user, {}).get("last_end_time", 0)
        if have != want:
            fails.append(f"watermark of {user}: {have}, want {want}")

    # One audit row per archive fetched in each run; 404s never audited.
    audit = con.execute(
        f"SELECT archive_url, game_count FROM read_parquet('{_parquet(os.path.join(out_dir, 'audit'))}')"
    ).fetchall()
    if sorted(u for u, _ in audit) != sorted(served):
        fails.append(f"{len(audit)} audit rows for {len(served)} archive fetches")
    if sum(c for _, c in audit) != n:
        fails.append(f"audit game_count sums to {sum(c for _, c in audit)}, sink holds {n}")
    logged = con.execute(
        f"SELECT count(*) FROM read_parquet('{_parquet(os.path.join(out_dir, 'status'))}') "
        "WHERE stage = 'error_archive_download'"
    ).fetchone()[0]
    if logged != missing:
        fails.append(f"{logged} download errors logged for {missing} 404 answers")
    con.close()
    return fails


# ---------------------------------------------------------------------------
# Visuals: independent DuckDB twins
# ---------------------------------------------------------------------------

_ENRICHED = """
SELECT *,
  CASE WHEN lower(white_username) = lower(username) THEN 'white' ELSE 'black' END AS user_color,
  CASE WHEN lower(white_username) = lower(username) THEN black_username ELSE white_username END
    AS opponent_username,
  CASE WHEN opp_rating IS NULL THEN 'unrated'
       ELSE concat_ws('-', CAST(floor(opp_rating / 100.0) * 100 AS INTEGER),
                           CAST(floor(opp_rating / 100.0) * 100 + 99 AS INTEGER)) END
    AS opponent_rating_bucket,
  CASE WHEN time_control IS NULL THEN 'unknown'
       WHEN contains(time_control, '/') THEN 'daily'
       WHEN base IS NULL THEN 'unknown'
       WHEN base < 180 THEN 'bullet' WHEN base < 600 THEN 'blitz'
       WHEN base < 1800 THEN 'rapid' ELSE 'classical' END AS time_control_bucket,
  nullif(regexp_extract(pgn, '\\[ECO "([^"]+)"\\]', 1), '') AS eco
FROM (
  SELECT *,
    CASE WHEN lower(white_username) = lower(username) THEN black_rating ELSE white_rating END
      AS opp_rating,
    TRY_CAST(split_part(time_control, '+', 1) AS INTEGER) AS base
  FROM read_parquet('{path}')
)
"""
_WIN = "((result = '1-0' AND user_color = 'white') OR (result = '0-1' AND user_color = 'black'))"
_LOSS = "((result = '0-1' AND user_color = 'white') OR (result = '1-0' AND user_color = 'black'))"
_DRAW = "(result = '1/2-1/2')"


def _rate(num: str, den: str) -> str:
    return f"CASE WHEN {den} = 0 THEN NULL ELSE round({num} / {den}, 6) END"


_SQL = {
    "summary_card": f"""
        SELECT count(*), count_if({_WIN}), count_if({_LOSS}), count_if({_DRAW}),
               {_rate(f'count_if({_WIN})', 'count(*)')} FROM f""",
    "rolling_winrate_line": f"""
        WITH d AS (SELECT date_ymd AS day, count_if({_WIN}) AS num, count(*) AS den
                   FROM f GROUP BY date_ymd)
        SELECT a.day, sum(b.num), sum(b.den), {_rate('sum(b.num)', 'sum(b.den)')}
        FROM d a JOIN d b
          ON (a.day IS NULL AND b.day IS NULL)
          OR (b.day BETWEEN a.day - INTERVAL 11 DAY AND a.day)
        GROUP BY a.day ORDER BY a.day NULLS FIRST""",
    "top_opponents_pivot": f"""
        WITH top AS (SELECT opponent_username FROM f GROUP BY opponent_username
                     ORDER BY count(*) DESC, opponent_username ASC NULLS FIRST LIMIT 10)
        SELECT opponent_username, count(*), count_if({_WIN}) , count_if({_LOSS}) AS losses,
               count_if({_DRAW})
        FROM f SEMI JOIN top USING (opponent_username)
        GROUP BY opponent_username ORDER BY losses DESC, opponent_username ASC NULLS FIRST""",
    "result_donut": f"""
        SELECT CASE WHEN {_WIN} THEN 'win' WHEN {_LOSS} THEN 'loss'
                    WHEN {_DRAW} THEN 'draw' ELSE 'other' END AS outcome, count(*) AS games
        FROM f GROUP BY outcome ORDER BY games DESC, outcome ASC""",
    "winrate_by_bucket_color": f"""
        SELECT time_control_bucket, user_color, count(*), count_if({_WIN}),
               {_rate(f'count_if({_WIN})', 'count(*)')} AS win_rate
        FROM f GROUP BY ALL
        ORDER BY win_rate DESC NULLS LAST, time_control_bucket, user_color""",
    "top_openings_bar": f"""
        WITH e AS (SELECT * FROM f WHERE eco IS NOT NULL),
        top AS (SELECT eco FROM e GROUP BY eco ORDER BY count(*) DESC, eco ASC LIMIT 5)
        SELECT eco, count(*), {_rate(f'count_if({_WIN})', 'count(*)')} AS win_rate
        FROM e SEMI JOIN top USING (eco)
        GROUP BY eco ORDER BY win_rate DESC NULLS LAST, eco ASC""",
}


def _where(slicers) -> str:
    if slicers is None:
        return "TRUE"
    conj = ["TRUE"]

    def in_list(col: str, vals) -> str:
        return f"{col} IN ({', '.join(repr(v) for v in vals)})"

    if slicers.time_control_buckets:
        conj.append(in_list("time_control_bucket", slicers.time_control_buckets))
    if slicers.date_start is not None and slicers.date_end is not None:
        conj.append(f"date_ymd BETWEEN DATE '{slicers.date_start}' AND DATE '{slicers.date_end}'")
    if slicers.opponent_rating_buckets:
        conj.append(in_list("opponent_rating_bucket", slicers.opponent_rating_buckets))
    return " AND ".join(conj)


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, abs_tol=1e-6)
    return a == b


def visuals(sink: str, refreshes: list[tuple]) -> list[str]:
    """Each collected visual equals its DuckDB twin over the same sink."""
    fails = []
    con = duckdb.connect()
    con.execute(f"CREATE VIEW g AS {_ENRICHED.format(path=_parquet(sink))}")
    for k, (slicers, rows) in enumerate(refreshes):
        con.execute(f"CREATE OR REPLACE VIEW f AS SELECT * FROM g WHERE {_where(slicers)}")
        for name, got in rows.items():
            want = con.execute(_SQL[name]).fetchall()
            got_t = [tuple(r) for r in got]
            ok = len(got_t) == len(want) and all(
                len(x) == len(y) and all(_same(p, q) for p, q in zip(x, y))
                for x, y in zip(got_t, want)
            )
            if not ok:
                fails.append(f"refresh {k}: {name} differs from DuckDB "
                             f"({len(got_t)} vs {len(want)} rows; first {got_t[:1]} vs {want[:1]})")
    con.close()
    return fails


# ---------------------------------------------------------------------------
# Corpus stream
# ---------------------------------------------------------------------------


def corpus(spark, sink: str, stats: list[dict], batches: list[list[tuple]]) -> list[str]:
    fails = []
    if len(stats) != len(batches):
        fails.append(f"{len(stats)} micro-batches drained, {len(batches)} written")
    for b, s in enumerate(stats):
        drops = (s["n_in"] - s["n_fresh"]) + s["n_dropped_near"] + s["n_dropped_quality"] \
            + s["n_dropped_contaminated"]
        if s["n_published"] + drops != s["n_in"]:
            fails.append(f"batch {b}: published {s['n_published']} + dropped {drops} != in {s['n_in']}")
    docs = [row for rows in batches for row in rows]
    if sum(s["n_in"] for s in stats) != len(docs):
        fails.append(f"{sum(s['n_in'] for s in stats)} docs counted in, {len(docs)} written")
    ids = [r["doc_id"] for r in read_manifest_sink(spark, sink).select("doc_id").collect()]
    if len(ids) != len(set(ids)):
        fails.append(f"{len(ids) - len(set(ids))} duplicate doc ids in the corpus sink")
    if sum(s["n_published"] for s in stats) != len(ids):
        fails.append(f"{len(ids)} docs in the sink, {sum(s['n_published'] for s in stats)} published")
    want = {d[0] for d in docs if d[4] == "original"}
    if set(ids) != want:
        fails.append(f"sink ids differ from the originals: {len(want - set(ids))} missing, "
                     f"{len(set(ids) - want)} unexpected")
    return fails
