"""BI export sink + salted aggregation (SURVEY.md §2.1 S10)."""

from __future__ import annotations

from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.operators.skew import salted_agg, salted_count_by_key
from chesscom_etl_tableau_spark.sources.sinks import export_for_bi


class TestSaltedAgg:
    def test_matches_direct_groupby(self, spark):
        df = spark.createDataFrame(
            [("hot", i % 3) for i in range(1000)] + [("cold", 7)],
            "k string, v int",
        )
        direct = {
            (r["k"],): r["n"] for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        salted = {
            (r["k"],): r["n_rows"] for r in salted_count_by_key(df, ["k"], salt=8).collect()
        }
        assert salted == direct

    def test_salted_sum_and_max(self, spark):
        df = spark.createDataFrame(
            [("a", i) for i in range(100)] + [("b", 5)], "k string, v int"
        )
        out = {
            r["k"]: (r["sum_v"], r["max_v"])
            for r in salted_agg(
                df,
                ["k"],
                {
                    "sum_v": (F.sum("v"), F.sum("sum_v")),
                    "max_v": (F.max("v"), F.max("max_v")),
                },
                salt=4,
            ).collect()
        }
        assert out == {"a": (4950, 99), "b": (5, 5)}


class TestSinks:
    def test_export_for_bi(self, spark, games_df, tmp_path):
        pq = str(tmp_path / "bi_parquet")
        csv = str(tmp_path / "bi_csv")
        export_for_bi(games_df.select("game_url", "result"), pq)
        export_for_bi(games_df.select("game_url", "result"), csv, fmt="csv")
        assert spark.read.parquet(pq).count() == games_df.count()
        assert spark.read.option("header", True).csv(csv).count() == games_df.count()

