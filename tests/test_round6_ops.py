"""Round-6 operator tests: metadata export (verdict-r5 ask #8), KN
perplexity, ZCA whitening, OHLC resample. Oracle parity at 3 SFs lives
in ORACLE_r6*; these pin the behavioral contracts the oracle can't —
side effects (the _metadata JSON layout, exclusive-create semantics),
held-out-split isolation, smoothing properties, tie-break determinism.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.operators.similarity import (
    whiten_embeddings,
    whitening_contract,
)
from chesscom_etl_tableau_spark.operators.text import kn_perplexity
from chesscom_etl_tableau_spark.operators.windows import resample_ohlc
from chesscom_etl_tableau_spark.plans.ingest import commit_append_manifest
from chesscom_etl_tableau_spark.plans.metadata_export import (
    METADATA_FORMAT,
    export_metadata_json,
    snapshot_log,
    snapshot_summaries,
)


# --- metadata export -------------------------------------------------------


@pytest.fixture()
def sink_with_commits(spark, tmp_path):
    sink = str(tmp_path / "msink")
    rows1 = spark.createDataFrame(
        [(1, "u1"), (2, "u2")], "game_url long, user_id string"
    ).repartition(1)
    rows2 = spark.createDataFrame(
        [(3, "u3"), (4, "u4"), (5, "u5")], "game_url long, user_id string"
    ).repartition(2)
    commit_append_manifest(rows1, sink)
    commit_append_manifest(rows2, sink)
    return sink


def test_snapshot_log_counts_and_current(spark, sink_with_commits):
    rows = {r["snapshot_id"]: r for r in snapshot_log(spark, sink_with_commits).collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["n_data_files"] == 1 and rows[1]["total_records"] == 2
    # gen 2 carries gen 1's file plus its own two
    assert rows[2]["n_data_files"] == 3 and rows[2]["total_records"] == 5
    assert not rows[1]["is_current"] and rows[2]["is_current"]
    assert rows[1]["protocol"] == 1 and rows[2]["n_delete_files"] == 0


def test_export_writes_versioned_json(spark, sink_with_commits):
    path = export_metadata_json(spark, sink_with_commits)
    assert os.path.basename(path) == "v000000000002.metadata.json"
    with open(path) as f:
        doc = json.load(f)
    assert doc["format"] == METADATA_FORMAT
    assert doc["current_snapshot_id"] == 2
    assert [s["snapshot_id"] for s in doc["snapshots"]] == [1, 2]
    # every snapshot names its manifest file so an external tool can
    # resolve the file list without this engine
    for s in doc["snapshots"]:
        assert os.path.exists(s["manifest"])


def test_export_exclusive_create_is_idempotent(spark, sink_with_commits):
    p1 = export_metadata_json(spark, sink_with_commits)
    before = open(p1).read()
    p2 = export_metadata_json(spark, sink_with_commits)  # lost race path
    assert p2 == p1 and open(p2).read() == before


def test_export_empty_sink_raises(spark, tmp_path):
    with pytest.raises(ValueError):
        export_metadata_json(spark, str(tmp_path / "never"))
    assert snapshot_log(spark, str(tmp_path / "never")).count() == 0


def test_new_commit_gets_new_metadata_version(spark, sink_with_commits):
    p1 = export_metadata_json(spark, sink_with_commits)
    more = spark.createDataFrame([(9, "u9")], "game_url long, user_id string")
    commit_append_manifest(more.repartition(1), sink_with_commits)
    p2 = export_metadata_json(spark, sink_with_commits)
    assert p2 != p1
    assert snapshot_summaries(spark, sink_with_commits)[-1]["total_records"] == 6


# --- KN perplexity ---------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_kn_unseen_bigrams_get_finite_mass(spark):
    # doc 0 is OUT of the training split (0 % 5 == 0) and fully novel:
    # MLE would send it to infinity, KN must give finite positive bits.
    docs = _docs(
        spark,
        [(0, "zz qq xx"), (1, "a b a b a b"), (2, "a b c a b c"), (3, "b c a b")],
    )
    out = {r["doc_id"]: r for r in kn_perplexity(docs).collect()}
    assert out[0]["n_bigrams"] == 2
    assert 0.0 < out[0]["kn_bits"] <= 30.0  # 1e-9 floor = 29.9 bits max
    # fluent in-distribution text scores strictly lower than novel text
    assert out[1]["kn_bits"] < out[0]["kn_bits"]


def test_kn_heldout_docs_do_not_train_the_model(spark):
    base = [(1, "a b a b"), (2, "a b c"), (3, "c a b")]
    scored_a = {
        r["doc_id"]: r["kn_bits"]
        for r in kn_perplexity(_docs(spark, base + [(5, "x y z")])).collect()
    }
    scored_b = {
        r["doc_id"]: r["kn_bits"]
        for r in kn_perplexity(_docs(spark, base + [(5, "totally different words")])).collect()
    }
    # doc 5 (5 % 5 == 0) is held out: swapping its text must not move
    # any other doc's score
    for d in (1, 2, 3):
        assert scored_a[d] == scored_b[d]


def test_kn_short_docs_zero_bigrams(spark):
    out = {
        r["doc_id"]: r
        for r in kn_perplexity(
            _docs(spark, [(1, "solo"), (2, ""), (3, "a b a")])
        ).collect()
    }
    for d in (1, 2):
        assert out[d]["n_bigrams"] == 0
        assert out[d]["kn_bits"] == 0.0
        assert out[d]["pass_quality"] is False


# --- ZCA whitening ---------------------------------------------------------


@pytest.fixture(scope="module")
def skewed_embeddings(spark):
    # anisotropic on purpose: dim 0 has 100x the variance of dim 1..3
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.gauss(0, 10.0), rng.gauss(1, 1.0), rng.gauss(-2, 0.5), rng.gauss(0, 2.0)])
        for i in range(400)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_whitening_contract_holds(spark, skewed_embeddings):
    row = whitening_contract(skewed_embeddings).collect()[0]
    assert row["n_vecs"] == 400 and row["dim"] == 4
    assert row["mean_is_zero"] and row["cov_is_identity"]


def test_whitening_preserves_ids_and_shape(spark, skewed_embeddings):
    out = whiten_embeddings(skewed_embeddings)
    rows = out.collect()
    assert {r["vec_id"] for r in rows} == set(range(400))
    assert all(len(r["whitened"]) == 4 for r in rows)


def test_unwhitened_input_fails_the_contract_check(spark, skewed_embeddings):
    # sanity that the contract MEASURES rather than assumes: raw input
    # covariance is O(100) off identity
    import numpy as np

    from chesscom_etl_tableau_spark.operators.similarity import _cov_partials

    n, s, g = _cov_partials(skewed_embeddings, "embedding", 4)
    cov = g / n - np.outer(s / n, s / n)
    assert np.abs(cov - np.eye(4)).max() > 1.0


def test_whitening_rejects_degenerate_input(spark):
    one = spark.createDataFrame([(1, [1.0, 2.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        whiten_embeddings(one).collect()


# --- OHLC resample ---------------------------------------------------------


def test_ohlc_buckets_and_tiebreak(spark):
    us = 1_700_000_400 * 1_000_000  # 400s into an hour bucket
    rows = [
        # (event_id, ts_us, user, value) — two events at the SAME
        # instant: event_id must break the tie for open/close
        (2, us, 7, 5.0),
        (1, us, 7, 3.0),
        (3, us + 60_000_000, 7, 1.0),
        (4, us + 3_600_000_000, 7, 9.0),  # next hour bucket
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts_us long, user_id long, value double"
    ).select(
        "event_id", F.timestamp_micros(F.col("ts_us")).alias("ts"), "user_id", "value"
    )
    out = {r["bucket_start_s"]: r for r in resample_ohlc(ev).collect()}
    h0 = 1_700_000_400 // 3600 * 3600
    assert set(out) == {h0, h0 + 3600}
    b = out[h0]
    assert b["open_value"] == 3.0  # event_id 1 wins the tie
    assert b["close_value"] == 1.0
    assert b["low_value"] == 1.0 and b["high_value"] == 5.0 and b["n_events"] == 3
    assert out[h0 + 3600]["n_events"] == 1 and out[h0 + 3600]["open_value"] == 9.0


def test_ohlc_single_aggregation_no_window_exchange(spark):
    # plan shape: one hash-aggregate pair around one exchange, zero
    # window operators — the 100 TB rationale in the docstring
    ev = spark.createDataFrame(
        [(1, 1_700_000_000_000_000, 1, 1.0)],
        "event_id long, ts_us long, user_id long, value double",
    ).select(
        "event_id", F.timestamp_micros(F.col("ts_us")).alias("ts"), "user_id", "value"
    )
    plan = resample_ohlc(ev)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


# --- streaming OHLC twin ---------------------------------------------------


class TestStreamingOHLC:
    OUT = (
        "window_start timestamp, window_end timestamp, user_id long, "
        "open_value double, close_value double, low_value double, "
        "high_value double, n_events long"
    )

    def _write(self, path, rows):
        import json as _json

        path.write_text(
            "\n".join(
                _json.dumps({"event_id": i, "user_id": u, "ts": ts, "value": v})
                for i, u, ts, v in rows
            )
            + "\n"
        )

    def _run(self, spark, drop, out, ckpt):
        from chesscom_etl_tableau_spark.streaming.windowed import windowed_ohlc

        stream = spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, value double"
        ).json(str(drop))
        q = (
            windowed_ohlc(stream, "1 hour", watermark_delay="30 minutes")
            .writeStream.outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", str(out))
            .start()
        )
        q.awaitTermination()

    def test_sealed_bars_match_batch_resample(self, spark, tmp_path):
        drop, out, ckpt = tmp_path / "d", tmp_path / "o", tmp_path / "c"
        drop.mkdir()
        rows = [
            # same-instant tie inside the 10:00 bar, plus in-bar extremes
            (2, 7, "2024-01-01T10:05:00", 5.0),
            (1, 7, "2024-01-01T10:05:00", 3.0),
            (3, 7, "2024-01-01T10:40:00", 1.0),
            (4, 7, "2024-01-01T11:20:00", 9.0),  # next bar
            (5, 7, "2024-01-01T13:00:00", 2.0),  # wm -> 12:30 seals 10:00+11:00
        ]
        self._write(drop / "b1.json", rows)
        self._run(spark, drop, out, ckpt)
        got = {
            r["window_start"].isoformat(): r
            for r in spark.read.schema(self.OUT).parquet(str(out)).collect()
        }
        assert set(got) == {"2024-01-01T10:00:00", "2024-01-01T11:00:00"}
        bar = got["2024-01-01T10:00:00"]
        assert bar["open_value"] == 3.0  # event_id tiebreak, like the batch op
        assert bar["close_value"] == 1.0
        assert (bar["low_value"], bar["high_value"], bar["n_events"]) == (1.0, 5.0, 3)

        # batch/stream equivalence on the sealed windows: the batch
        # resample over the same rows yields the same bars
        from chesscom_etl_tableau_spark.operators.windows import resample_ohlc

        batch = spark.createDataFrame(
            [(i, u, ts, v) for i, u, ts, v in rows],
            "event_id long, user_id long, ts string, value double",
        ).select("event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
        brows = {r["bucket_start_s"]: r for r in resample_ohlc(batch).collect()}
        for iso, r in got.items():
            b = brows[int(r["window_start"].timestamp())]
            assert (
                b["open_value"], b["close_value"], b["low_value"],
                b["high_value"], b["n_events"],
            ) == (
                r["open_value"], r["close_value"], r["low_value"],
                r["high_value"], r["n_events"],
            )

    def test_late_admissible_event_updates_open(self, spark, tmp_path):
        drop, out, ckpt = tmp_path / "d2", tmp_path / "o2", tmp_path / "c2"
        drop.mkdir()
        self._write(
            drop / "b1.json",
            [(1, 7, "2024-01-01T10:30:00", 5.0), (2, 7, "2024-01-01T10:50:00", 6.0)],
        )
        self._run(spark, drop, out, ckpt)
        # late but inside the watermark: becomes the bar's true open
        self._write(drop / "b2.json", [(3, 7, "2024-01-01T10:01:00", 4.0)])
        self._run(spark, drop, out, ckpt)
        # advance the watermark far enough to seal the 10:00 bar
        self._write(drop / "b3.json", [(4, 7, "2024-01-01T12:00:00", 1.0)])
        self._run(spark, drop, out, ckpt)
        got = {
            r["window_start"].isoformat(): r
            for r in spark.read.schema(self.OUT).parquet(str(out)).collect()
        }
        bar = got["2024-01-01T10:00:00"]
        assert bar["open_value"] == 4.0 and bar["n_events"] == 3


def test_footer_rows_distributed_path_matches_driver_path(spark, tmp_path, monkeypatch):
    # same counts whichever side reads the footers; the driver path is
    # an overhead cut for small sinks, not a different contract
    from chesscom_etl_tableau_spark.plans import metadata_export as MX

    sink = str(tmp_path / "m")
    rows = spark.createDataFrame(
        [(i, f"u{i}") for i in range(10)], "game_url long, user_id string"
    ).repartition(3)
    commit_append_manifest(rows, sink)
    driver = {
        s["snapshot_id"]: s["total_records"]
        for s in MX.snapshot_summaries(spark, sink)
    }
    monkeypatch.setattr(MX, "_DRIVER_FOOTER_MAX", 0)
    dist = {
        s["snapshot_id"]: s["total_records"]
        for s in MX.snapshot_summaries(spark, sink)
    }
    assert driver == dist == {1: 10}


# --- PR-curve threshold sweep ----------------------------------------------


class TestPrCurve:
    def test_matches_python_recompute(self, spark):
        from chesscom_etl_tableau_spark.operators.text import pr_curve

        import math
        import random

        rng = random.Random(11)
        rows = [(i, rng.random(), rng.random() < 0.4) for i in range(200)]
        df = spark.createDataFrame(rows, "doc_id long, score double, label boolean")
        got = {r["t_idx"]: r for r in pr_curve(df, n_thresholds=5).collect()}
        assert len(got) == 5

        scores = sorted(s for _, s, _ in rows)
        pos = sum(1 for *_, l in rows if l)

        def q(p):  # linear-interp percentile (Spark/DuckDB continuous)
            h = (len(scores) - 1) * p
            lo = math.floor(h)
            return scores[lo] + (h - lo) * (scores[min(lo + 1, len(scores) - 1)] - scores[lo])

        r6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6
        for idx, p in enumerate([0.0, 0.25, 0.5, 0.75, 1.0]):
            t = q(p)
            kept = [(s, l) for _, s, l in rows if s >= t]
            tp = sum(1 for _, l in kept if l)
            r = got[idx]
            assert r["threshold"] == r6(t)
            assert r["precision"] == (r6(tp / len(kept)) if kept else None)
            assert r["recall"] == r6(tp / pos)
            assert r["kept_frac"] == r6(len(kept) / len(rows))

    def test_monotone_recall_and_bounds(self, spark):
        from chesscom_etl_tableau_spark.operators.text import pr_curve

        df = spark.createDataFrame(
            [(i, i / 10.0, i >= 5) for i in range(10)],
            "doc_id long, score double, label boolean",
        )
        rows = sorted(pr_curve(df, n_thresholds=4).collect(), key=lambda r: r["t_idx"])
        recalls = [r["recall"] for r in rows]
        assert recalls == sorted(recalls, reverse=True)  # recall falls as t rises
        assert rows[0]["kept_frac"] == 1.0  # min threshold keeps everything

    def test_rejects_single_threshold(self, spark):
        from chesscom_etl_tableau_spark.operators.text import pr_curve

        with pytest.raises(ValueError):
            pr_curve(spark.range(1).selectExpr("1.0 as score", "true as label"), n_thresholds=1)
