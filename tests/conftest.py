"""Shared Spark session + synthetic chess fixtures (FIXTURES.md §1-§2).

One session-scoped SparkSession keeps the suite fast; fixtures are
deterministic (seeded) and include every edge case the reference's
parsing handles: missing [Result] header, trailing-token-only results,
seat-fallback results, empty PGN, garbage end_time, duplicate URLs
within and across archives, empty archives.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import SparkSession

from chesscom_etl_tableau_spark.schemas import ARCHIVE_SCHEMA
from chesscom_etl_tableau_spark.session import get_spark


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = get_spark("tests", shuffle_partitions=4)
    yield s


def make_game(
    url: str,
    end_time: int | None = 1700000000,
    time_control: str = "600",
    pgn: str | None = None,
    white: str = "player0",
    black: str = "opponent1",
    white_rating: int = 1500,
    black_rating: int = 1480,
    white_result: str | None = "win",
    black_result: str | None = "resigned",
    result_header: str | None = "1-0",
    eco: str | None = "B20",
    movetext_result: str | None = None,
):
    if pgn is None:
        parts = []
        if result_header is not None:
            parts.append(f'[Result "{result_header}"]')
        if eco is not None:
            parts.append(f'[ECO "{eco}"]')
        tail = movetext_result if movetext_result is not None else (result_header or "")
        parts.append(f"1. e4 c5 2. Nf3 d6 {tail}".strip())
        pgn = "\n".join(parts)
    return {
        "url": url,
        "time_control": time_control,
        "end_time": end_time,
        "pgn": pgn,
        "white": {"username": white, "rating": white_rating, "result": white_result},
        "black": {"username": black, "rating": black_rating, "result": black_result},
    }


@pytest.fixture(scope="session")
def archives_df(spark):
    """Two users x several monthly archives with edge cases baked in."""
    rng = random.Random(42)
    rows = []
    game_id = 0
    for user in ("player0", "player1"):
        for month in ("2024/01", "2024/02", "2024/03"):
            games = []
            for i in range(20):
                game_id += 1
                as_white = rng.random() < 0.5
                opp = f"opp{rng.randint(1, 8)}"
                res = rng.choice(["1-0", "0-1", "1/2-1/2"])
                games.append(
                    make_game(
                        url=f"https://game/{game_id}",
                        end_time=1704067200 + game_id * 3600,
                        time_control=rng.choice(["60", "180", "300+2", "600", "900+10", "1800", "1/86400"]),
                        white=user if as_white else opp,
                        black=opp if as_white else user,
                        result_header=res,
                        eco=rng.choice(["B20", "C50", "A40", None]),
                    )
                )
            rows.append({"username": user, "archive_url": f"https://archive/{user}/{month}", "games": games})
    # Edge archives
    rows.append({"username": "player0", "archive_url": "https://archive/player0/2024/04", "games": []})
    rows.append(
        {
            "username": "player0",
            "archive_url": "https://archive/player0/2024/05",
            "games": [
                make_game("https://game/dup1", result_header="1-0"),
                make_game("https://game/dup1", result_header="1-0"),  # in-batch dup
                make_game("https://game/1", result_header="0-1"),  # cross-archive dup of game 1
                make_game("https://game/noheader", result_header=None, movetext_result="1/2-1/2"),
                make_game("https://game/seatfallback", result_header=None, pgn="1. e4 e5", white_result="agreed", black_result="agreed"),
                make_game("https://game/emptypgn", pgn=""),
                make_game("https://game/badtime", end_time=None),
            ],
        }
    )
    return spark.createDataFrame(rows, ARCHIVE_SCHEMA)


@pytest.fixture(scope="session")
def games_df(archives_df):
    from chesscom_etl_tableau_spark.sources.archives import flatten_archives

    return flatten_archives(archives_df).cache()


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Say when the default `-m "not slow"` profile left the slow tier
    out, so a green fast-tier run is not read as the full suite. Output
    only; nothing is skipped or deselected here."""
    deselected = len(terminalreporter.stats.get("deselected", []))
    if config.option.markexpr == "not slow" and deselected:
        terminalreporter.write_line(
            f"{deselected} slow-tier tests deselected by the default profile; "
            'full suite: python -m pytest tests/ -q -m ""'
        )
