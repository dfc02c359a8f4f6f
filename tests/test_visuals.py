"""Dashboard visual queries + slicer/cross-filter composition (SURVEY.md §3.3)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

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


def user_games(games_df, user="player0"):
    return enrich_games(games_df.where(F.col("username") == user))


class TestSummaryCard:
    def test_measures_consistent(self, games_df):
        row = summary_card(user_games(games_df)).collect()[0]
        assert row["total_games"] > 0
        assert row["total_wins"] + row["total_losses"] + row["total_draws"] <= row["total_games"]
        assert abs(row["win_pct"] - round(row["total_wins"] / row["total_games"], 6)) < 1e-9

    def test_slicer_reduces(self, games_df):
        g = user_games(games_df)
        full = summary_card(g).collect()[0]["total_games"]
        sliced = summary_card(g, Slicers(time_control_buckets=["blitz"])).collect()[0]["total_games"]
        manual = g.where(F.col("time_control_bucket") == "blitz").count()
        assert sliced == manual < full


class TestRollingLine:
    def test_rolling_window_range_not_rows(self, spark):
        """Sparse dates: a 12-day frame must NOT reach past 12 calendar days."""
        from chesscom_etl_tableau_spark.plans.visuals import enrich_games

        rows = []
        # day 0: loss; day 20: win — far apart, so the day-20 window
        # must exclude day 0 (a rows-frame would include it).
        for day, res in [("2024-01-01", "0-1"), ("2024-01-21", "1-0")]:
            rows.append(
                ("player0", "a", f"u{day}{res}", "600", None, day, "player0", 1500, "opp", 1500, res, "")
            )
        df = spark.createDataFrame(
            rows,
            "username string, archive_url string, game_url string, time_control string, "
            "end_time_utc timestamp, date_ymd string, white_username string, white_rating int, "
            "black_username string, black_rating int, result string, pgn string",
        ).withColumn("date_ymd", F.to_date("date_ymd")).withColumn("ingest_time", F.current_timestamp())
        out = {str(r["date_ymd"]): r for r in rolling_winrate_line(enrich_games(df)).collect()}
        assert out["2024-01-01"]["rolling_win_rate"] == 0.0
        assert out["2024-01-21"]["rolling_win_rate"] == 1.0  # day 0 excluded
        assert out["2024-01-21"]["rolling_games"] == 1


class TestTopN:
    def test_top_opponents_at_most_n(self, games_df):
        out = top_opponents_pivot(user_games(games_df), n=3).collect()
        assert 0 < len(out) <= 3
        # sorted by losses desc (F5)
        losses = [r["total_losses"] for r in out]
        assert losses == sorted(losses, reverse=True)

    def test_top_openings(self, games_df):
        out = top_openings_bar(user_games(games_df), n=2).collect()
        assert 0 < len(out) <= 2
        assert all(r["eco"] is not None for r in out)


class TestDonutAndBuckets:
    def test_donut_sums_to_total(self, games_df):
        g = user_games(games_df)
        parts = {r["outcome"]: r["games"] for r in result_donut(g).collect()}
        assert sum(parts.values()) == g.count()

    def test_winrate_by_bucket_color_groups(self, games_df):
        out = winrate_by_bucket_color(user_games(games_df)).collect()
        assert all(0.0 <= r["win_rate"] <= 1.0 for r in out if r["win_rate"] is not None)
        seen = {(r["time_control_bucket"], r["user_color"]) for r in out}
        assert len(seen) == len(out)  # one row per group


FACT_SCHEMA = (
    "username string, archive_url string, game_url string, time_control string, "
    "end_time_utc timestamp, date_ymd string, white_username string, white_rating int, "
    "black_username string, black_rating int, result string, pgn string"
)


def _fact(spark, games):
    """A games fact from (opponent, result, eco) triples; player0 is always white."""
    rows = [
        ("player0", "a", f"https://game/{i}", "600", None, "2024-01-01", "player0", 1500,
         opp, 1500, res, f'[ECO "{eco}"]' if eco else "")
        for i, (opp, res, eco) in enumerate(games)
    ]
    return spark.createDataFrame(rows, FACT_SCHEMA).withColumn("date_ymd", F.to_date("date_ymd"))


class TestTopNSinglePass:
    """Both top-N visuals equal the IN-subquery formulation: top-n keys by
    count (ties by key asc), semi-joined back, then aggregated."""

    def _games(self):
        win, loss, draw = "1-0", "0-1", "1/2-1/2"
        return (
            [(None, win, "A00")] * 5  # NULL opponent, ranked first
            + [("oppA", win, "B01")] * 3 + [("oppA", loss, "B01")]
            + [("oppB", loss, "C02")] * 2 + [("oppB", draw, "C02")]  # ties oppC, wins by key
            + [("oppC", win, "D03")] * 3  # ranked n + 1
            + [("oppD", loss, None)]
        )

    def test_top_opponents_matches_semi_join(self, spark):
        from chesscom_etl_tableau_spark.functions.measures import measure_exprs
        from chesscom_etl_tableau_spark.operators.topk import semi_join_topn, topn_by_count

        fact = enrich_games(_fact(spark, self._games()))
        topn = topn_by_count(fact, ["opponent_username"], 3)
        m = measure_exprs(F.col("result"), F.col("user_color"))
        want = (
            semi_join_topn(fact, topn, ["opponent_username"])
            .groupBy("opponent_username")
            .agg(m["total_games"], m["total_wins"], m["total_losses"], m["total_draws"])
            .orderBy(F.col("total_losses").desc(), F.col("opponent_username").asc())
            .collect()
        )
        got = top_opponents_pivot(fact, n=3).collect()
        assert got == want
        assert [r["opponent_username"] for r in got] == ["oppB", "oppA"]

    def test_top_openings_matches_semi_join(self, spark):
        from chesscom_etl_tableau_spark.functions.measures import win_cond
        from chesscom_etl_tableau_spark.operators.topk import semi_join_topn, topn_by_count

        fact = enrich_games(_fact(spark, self._games()))
        df = fact.where(F.col("eco").isNotNull())
        topn = topn_by_count(df, ["eco"], 3)
        wins = F.count_if(win_cond(F.col("result"), F.col("user_color")))
        total = F.count(F.lit(1))
        want = (
            semi_join_topn(df, topn, ["eco"])
            .groupBy("eco")
            .agg(total.alias("total_games"), F.round(F.try_divide(wins, total), 6).alias("win_rate"))
            .orderBy(F.col("win_rate").desc(), F.col("eco").asc())
            .collect()
        )
        got = top_openings_bar(fact, n=3).collect()
        assert got == want
        assert [r["eco"] for r in got] == ["A00", "B01", "C02"]


class TestModelRefresh:
    def test_reload_sees_append_and_old_model_keeps_snapshot(self, spark, tmp_path):
        sink = str(tmp_path / "games")
        _fact(spark, [("oppA", "1-0", "B01")] * 3).write.parquet(sink)
        old = enrich_games(spark.read.parquet(sink))
        assert summary_card(old).first()["total_games"] == 3

        # Append the way the manifest sink commits: files staged elsewhere,
        # then renamed into the sink directory.
        staged = str(tmp_path / "staged")
        more = _fact(spark, [("oppB", "0-1", "C02")] * 2)
        more.withColumn("game_url", F.concat(F.col("game_url"), F.lit("-b"))).write.parquet(staged)
        for name in os.listdir(staged):
            if name.endswith(".parquet"):
                os.rename(os.path.join(staged, name), os.path.join(sink, "b-" + name))
        new = enrich_games(spark.read.parquet(sink))

        card = summary_card(new).first()
        assert (card["total_games"], card["total_wins"], card["total_losses"]) == (5, 3, 2)
        card = summary_card(old).first()
        assert (card["total_games"], card["total_wins"], card["total_losses"]) == (3, 3, 0)
