"""End-to-end CLI pipeline over a scripted transport (SURVEY.md §3.1)."""

from __future__ import annotations

import json

import pytest

from chesscom_etl_tableau_spark.cli import parse_usernames, run_pipeline


class TestParseUsernames:
    def test_csv_trim_drop_empty(self):
        assert parse_usernames(" alice , bob ,, ") == ["alice", "bob"]
        assert parse_usernames(None) == []
        assert parse_usernames("") == []


def _game(gid, end_time=1704067200):
    return {
        "url": f"https://game/{gid}",
        "time_control": "600",
        "end_time": end_time,
        "pgn": '[Result "1-0"]\n1. e4 e5 1-0',
        "white": {"username": "alice", "rating": 1500, "result": "win"},
        "black": {"username": "bob", "rating": 1480, "result": "resigned"},
    }


def _scripted_transport(archives_by_user, games_by_archive):
    def transport(url):
        for user, archive_urls in archives_by_user.items():
            if url == f"https://api.chess.com/pub/player/{user}/games/archives":
                return 200, json.dumps({"archives": archive_urls})
        if url in games_by_archive:
            return 200, json.dumps({"games": games_by_archive[url]})
        return 404, ""

    return transport


class TestRunPipeline:
    pytestmark = pytest.mark.slow  # heavy suite, default-profile excluded (r16)
    def test_end_to_end_idempotent(self, spark, tmp_path):
        t = _scripted_transport(
            {"alice": ["https://a/2024/01", "https://a/2024/02"]},
            {
                "https://a/2024/01": [_game(1), _game(2, 1704070800)],
                "https://a/2024/02": [_game(3, 1706745600)],
            },
        )
        out = str(tmp_path / "out")
        s1 = run_pipeline(spark, ["alice"], out, transport=t, delay_s=0.0)
        assert s1.fetched_archives == 2
        assert s1.appended_games == 3
        assert s1.errors == 0

        games = spark.read.parquet(f"{out}/games")
        assert games.count() == 3
        assert games.select("game_url").distinct().count() == 3

        # Re-run: the open month (2024/02) is re-fetched (I3) but dedup
        # appends nothing; the closed month is pruned before HTTP.
        s2 = run_pipeline(spark, ["alice"], out, transport=t, delay_s=0.0)
        assert s2.fetched_archives == 1  # only the unmarked open month
        assert s2.appended_games == 0
        assert spark.read.parquet(f"{out}/games").count() == 3

        # Status log recorded both runs' stages.
        stages = {r["stage"] for r in spark.read.parquet(f"{out}/status").collect()}
        assert "games_appended" in stages
        assert "no_new_unique_games" in stages

        # State file carries watermark + processed archives.
        state = json.loads((tmp_path / "out" / "state.json").read_text())
        assert state["alice"]["last_end_time"] == 1706745600
        assert len(state["alice"]["processed_archives"]) == 2

    def test_failed_archive_not_marked_processed(self, spark, tmp_path):
        # 2024/02 will 404 -> error row, retried next run (I7).
        t = _scripted_transport(
            {"alice": ["https://a/2024/01", "https://a/2024/02"]},
            {"https://a/2024/01": [_game(1)]},
        )
        out = str(tmp_path / "out")
        s1 = run_pipeline(spark, ["alice"], out, transport=t, delay_s=0.0)
        assert s1.errors == 1
        assert s1.appended_games == 1
        state = json.loads((tmp_path / "out" / "state.json").read_text())
        assert state["alice"]["processed_archives"] == ["https://a/2024/01"]

class TestEndToEndDashboard:
    def test_ingest_then_all_visuals(self, spark, tmp_path):
        """The full user journey: CLI ingest -> curated fact -> every
        dashboard visual renders with coherent measures."""
        from chesscom_etl_tableau_spark.plans.visuals import (
            Slicers,
            enrich_games,
            result_donut,
            rolling_winrate_line,
            summary_card,
            top_openings_bar,
            top_opponents_pivot,
            winrate_by_bucket_color,
        )

        games = {
            "https://a/2024/01": [
                _game(i, 1704067200 + i * 86400) for i in range(1, 8)
            ],
        }
        t = _scripted_transport({"alice": ["https://a/2024/01"]}, games)
        out = str(tmp_path / "out")
        run_pipeline(spark, ["alice"], out, transport=t, delay_s=0.0)

        fact = enrich_games(spark.read.parquet(f"{out}/games"))

        card = summary_card(fact).first()
        assert card["total_games"] == 7
        # All fixture games are 1-0 with alice as white -> all wins.
        assert card["total_wins"] == 7 and card["total_losses"] == 0

        line = rolling_winrate_line(fact).collect()
        assert len(line) == 7
        assert all(r["rolling_win_rate"] == 1.0 for r in line)

        donut = result_donut(fact).collect()
        assert {r["outcome"]: r["games"] for r in donut} == {"win": 7}

        pivot = top_opponents_pivot(fact, n=10).collect()
        assert sum(r["total_games"] for r in pivot) == 7

        buckets = winrate_by_bucket_color(fact).collect()
        assert sum(r["total_games"] for r in buckets) == 7

        openings = top_openings_bar(fact, n=5).collect()
        assert all(r["win_rate"] == 1.0 for r in openings)

        # Slicer composition narrows every visual consistently (F7).
        sliced = summary_card(fact, Slicers(date_start="2024-01-02", date_end="2024-01-04")).first()
        assert sliced["total_games"] == 3
