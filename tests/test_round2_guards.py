"""Round-2 guard tests.

Pins the properties the round-1 review called out: query builders must
be lazy (zero Spark jobs at plan-build), the split-bucket hash must
cover the full bigint id domain, the IVF path must clear a recall
floor, late in-watermark events must not shrink open streaming
sessions, and the concurrent-writer boundary of the parquet sink is documented by construction.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from chesscom_etl_tableau_spark.operators.training import split_bucket
from chesscom_etl_tableau_spark.plans.ingest import dedup_against_sink, first_seen_wins
from chesscom_etl_tableau_spark.sources.archives import flatten_archives

SF_DIR = "/root/testdata/sf0.001"


class TestLazyPlanBuild:
    def test_query_builders_run_zero_jobs(self, spark):
        """Building any non-EAGER queries() entry must not run a single
        Spark job (VERDICT r1: no eager corpus scans in query builders).
        EAGER_QUERIES (real pipeline probes, iterative algorithms, ML
        fits) are exempt by contract and documented as such."""
        from chesscom_etl_tableau_spark.sources.tables import TESTDATA_TABLES, load_table

        qs = entry_mod.queries()
        lazy = [k for k in qs if k not in entry_mod.EAGER_QUERIES]
        assert len(lazy) >= 60  # the vast majority must be lazy
        # Warm the parquet-footer schema cache (the catalog stand-in):
        # schema inference for a schemaless read is the one legitimate
        # job, paid once per table per session, never per query.
        for t in TESTDATA_TABLES:
            load_table(spark, SF_DIR, t)
        sc = spark.sparkContext
        group = "plan-build-probe"
        sc.setJobGroup(group, "plan build must be lazy")
        try:
            for name in lazy:
                qs[name](spark, SF_DIR)  # build only — no action
        finally:
            sc.setJobGroup(None, None)
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
        assert list(jobs) == [], f"plan-build ran jobs: {sorted(jobs)}"


class TestSplitBucketDomain:
    def test_full_bigint_domain_matches_reference(self, spark):
        """ids >= 2^32 and negative ids must neither throw under ANSI
        mode nor leak out of [0, n); values must equal the reference
        scramble (id mod 2^32) * K mod 2^32 mod n."""
        ids = [0, 1, 999999, 2**31, 2**32 - 1, 2**32, 2**35 + 123, -1, -17, -(2**33)]
        df = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
        got = {
            r["doc_id"]: r["b"]
            for r in df.select("doc_id", split_bucket(F.col("doc_id"), 100).alias("b")).collect()
        }
        K, M = 2654435761, 2**32
        for i in ids:
            expect = ((i % M) * K) % M % 100
            assert got[i] == expect, f"id={i}: {got[i]} != {expect}"
            assert 0 <= got[i] < 100

    def test_small_ids_unchanged_by_overflow_fix(self, spark):
        """The 16-bit-halves decomposition is bit-identical to the naive
        multiply for ids < 2^32 — existing splits must not move."""
        df = spark.createDataFrame([(i,) for i in range(0, 5000, 7)], "doc_id bigint")
        rows = df.select(
            "doc_id",
            split_bucket(F.col("doc_id"), 10000).alias("b"),
            ((F.col("doc_id") * F.lit(2654435761)) % F.lit(2**32) % 10000).alias("naive"),
        ).collect()
        assert all(r["b"] == r["naive"] for r in rows)


class TestAnnRecallFloor:
    def test_ivf_recall_at_5_floor(self, spark):
        """Quality gate for the approximate path: recall@5 of ivf_topk
        (nprobe=2 of 8 buckets) vs the exact top-k must clear 0.6 per
        query on the test corpora (observed: 0.6-1.0)."""
        rows = entry_mod.queries()["ann_recall_ivf"](spark, SF_DIR).collect()
        assert len(rows) == 3
        assert all(r["n_exact"] == 5 for r in rows)
        assert min(r["recall_at_5"] for r in rows) >= 0.6


class TestConcurrentWriterBoundary:
    """The parquet sink's idempotency holds under the single-writer
    discipline the reference also assumes (fetch.yml:16-18). This test
    documents the boundary by construction: two writers that both
    anti-join against the same sink snapshot before either commits CAN
    double-append (lost update) — and the exact-key compaction pass
    heals it. On Delta/Iceberg the MERGE would close this window."""

    def test_race_duplicates_then_heal(self, spark, archives_df, tmp_path):
        sink = str(tmp_path / "sink")
        flat = flatten_archives(archives_df)
        seed = flat.limit(0)
        seed.write.parquet(sink)  # empty sink exists

        batch_a = flat.where(F.col("username") == "player0")
        overlap = batch_a.limit(20)
        batch_b = flat.where(F.col("username") == "player1").unionByName(overlap)

        # Simulated race: both writers resolve their anti-join against
        # the SAME (empty) snapshot, then both append.
        new_a = dedup_against_sink(batch_a, sink).localCheckpoint()
        new_b = dedup_against_sink(batch_b, sink).localCheckpoint()
        new_a.write.mode("append").parquet(sink)
        new_b.write.mode("append").parquet(sink)

        sunk = spark.read.parquet(sink)
        total, distinct = sunk.count(), sunk.select("game_url").distinct().count()
        assert total > distinct  # the documented hazard is real

        # Heal: first-seen-wins key compaction restores the invariant.
        healed_path = str(tmp_path / "healed")
        healed = first_seen_wins(
            sunk, ["game_url"], [F.col("archive_url").asc(), F.col("end_time_utc").asc_nulls_last()]
        )
        healed.write.parquet(healed_path)
        back = spark.read.parquet(healed_path)
        assert back.count() == back.select("game_url").distinct().count() == distinct

    def test_sequential_writers_never_duplicate(self, spark, archives_df, tmp_path):
        sink = str(tmp_path / "sink_seq")
        flat = flatten_archives(archives_df)
        batch_a = flat.where(F.col("username") == "player0")
        batch_b = flat.unionByName(batch_a)  # heavy overlap
        dedup_against_sink(batch_a, sink).write.mode("append").parquet(sink)
        dedup_against_sink(batch_b, sink).write.mode("append").parquet(sink)
        sunk = spark.read.parquet(sink)
        assert sunk.count() == sunk.select("game_url").distinct().count()


class TestEmptyArchiveBookkeeping:
    def test_empty_archive_audited_and_not_refetched(self, spark, archives_df, tmp_path):
        """ADVICE r1: an archive with zero games must get an audit row
        (game_count=0, fetch_and_post.py:345-350), enter the processed
        state, and not be re-fetched on the next run."""
        from chesscom_etl_tableau_spark.plans.ingest import ingest_archives, load_state, prune_processed

        sink, audit, state = (
            str(tmp_path / "games"),
            str(tmp_path / "audit"),
            str(tmp_path / "state.json"),
        )
        ingest_archives(
            spark, archives_df, sink, audit_path=audit, state_path=state, reprocess_last=False
        )
        empty_url = "https://archive/player0/2024/04"
        audit_rows = {
            r["archive_url"]: r["game_count"] for r in spark.read.parquet(audit).collect()
        }
        assert audit_rows[empty_url] == 0
        st = load_state(state)
        assert empty_url in st["player0"]["processed_archives"]
        assert prune_processed(
            archives_df.where(F.col("archive_url") == empty_url), st
        ).count() == 0

    def test_audit_counts_appended_not_fetched(self, spark, archives_df, tmp_path):
        """game_count records post-dedup appended rows (the reference
        audits len(appended), fetch_and_post.py:390-394): re-ingesting
        the same archives audits 0 per archive on the second run."""
        from chesscom_etl_tableau_spark.plans.ingest import ingest_archives

        sink, audit = str(tmp_path / "games"), str(tmp_path / "audit")
        ingest_archives(spark, archives_df, sink, audit_path=audit, reprocess_last=False)
        ingest_archives(spark, archives_df, sink, audit_path=audit, reprocess_last=False)
        per_archive = (
            spark.read.parquet(audit)
            .groupBy("archive_url")
            .agg(F.sum("game_count").alias("total"), F.count(F.lit(1)).alias("n_rows"))
        )
        # Every archive audited on both runs.
        assert per_archive.where(F.col("n_rows") != 2).count() == 0
        # Appended-count semantics: across both runs the audited totals
        # sum to exactly the sink's row count (run 2 audited all zeros;
        # fetched-count semantics would double it).
        total_audited = spark.read.parquet(audit).agg(F.sum("game_count")).first()[0]
        assert total_audited == spark.read.parquet(sink).count()
