"""Round-5 guards: manifest-swap commit protocol (object-store-safe
publish, VERDICT.md r4 ask #3).

The protocol must provide exactly-once keyed append using ONLY
object-store primitives — PUT (write whole file), exclusive create
(conditional PUT), LIST, GET. Every test here runs with `os.rename`,
`os.replace`, `os.link` and `shutil.move` FORBIDDEN in the commit path,
so a regression that sneaks a rename back in fails loudly.
"""

from __future__ import annotations

import os
import shutil
import threading

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from chesscom_etl_tableau_spark.plans.ingest import (
    commit_append_manifest,
    manifest_gc,
    read_manifest_sink,
)


@pytest.fixture
def no_rename(monkeypatch):
    """Forbid every rename-family primitive for the duration of a test.

    Spark's own JVM-side staging of the parquet part files is unaffected
    (on a real object store that is the S3A committer's problem); what
    this pins is that OUR commit protocol — audit, publish, GC — never
    needs a rename.
    """

    def _forbid(*a, **k):  # pragma: no cover - only hit on regression
        raise AssertionError("rename-family call inside manifest commit path")

    monkeypatch.setattr(os, "rename", _forbid)
    monkeypatch.setattr(os, "replace", _forbid)
    monkeypatch.setattr(os, "link", _forbid)
    monkeypatch.setattr(shutil, "move", _forbid)


def _keys(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("k"), F.col("id")).alias("game_url"),
        F.col("id").alias("payload"),
    )


class TestManifestCommit:
    def test_first_commit_and_read(self, spark, tmp_path, no_rename):
        sink = str(tmp_path / "msink")
        n = commit_append_manifest(_keys(spark, 0, 100).localCheckpoint(), sink)
        assert n == 100
        got = read_manifest_sink(spark, sink)
        assert got.count() == 100
        assert got.select("game_url").distinct().count() == 100

    def test_empty_sink_reads_none(self, spark, tmp_path, no_rename):
        assert read_manifest_sink(spark, str(tmp_path / "nosink")) is None

    def test_overlapping_sequential_commits_dedup(self, spark, tmp_path, no_rename):
        sink = str(tmp_path / "msink")
        assert commit_append_manifest(_keys(spark, 0, 200).localCheckpoint(), sink) == 200
        # second batch overlaps [150, 200)
        assert commit_append_manifest(_keys(spark, 150, 300).localCheckpoint(), sink) == 100
        got = read_manifest_sink(spark, sink)
        assert got.count() == got.select("game_url").distinct().count() == 300

    def test_full_overlap_publishes_nothing(self, spark, tmp_path, no_rename):
        sink = str(tmp_path / "msink")
        batch = _keys(spark, 0, 50).localCheckpoint()
        assert commit_append_manifest(batch, sink) == 50
        assert commit_append_manifest(batch, sink) == 0
        assert read_manifest_sink(spark, sink).count() == 50

    def test_threaded_writers_exactly_once(self, spark, tmp_path, no_rename):
        """4 concurrent writers with heavily overlapping key ranges:
        every key published exactly once, generation race resolved by
        exclusive manifest create alone (no lock, no rename)."""
        sink = str(tmp_path / "msink")
        batches = [_keys(spark, i * 50, i * 50 + 200).localCheckpoint() for i in range(4)]
        published = [0] * 4
        errs = []

        def commit(i):
            try:
                published[i] = commit_append_manifest(batches[i], sink)
            except Exception as exc:  # pragma: no cover
                errs.append(exc)

        threads = [threading.Thread(target=commit, args=(i,)) for i in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs
        got = read_manifest_sink(spark, sink)
        assert got.count() == got.select("game_url").distinct().count() == 350
        assert sum(published) == 350

    def test_crash_before_publish_is_invisible(self, spark, tmp_path, no_rename):
        """Staged data files without a manifest reference must be
        invisible to readers and reaped by gc; the retry publishes the
        full batch with zero duplicates."""
        sink = str(tmp_path / "msink")
        assert commit_append_manifest(_keys(spark, 0, 100).localCheckpoint(), sink) == 100

        # manufacture a crashed writer: data staged, no manifest swap
        orphan = os.path.join(sink, "data", "txn-deadbeef")
        _keys(spark, 100, 150).write.parquet(orphan)
        assert read_manifest_sink(spark, sink).count() == 100  # invisible

        # the crashed writer retries with a fresh txn
        assert commit_append_manifest(_keys(spark, 100, 150).localCheckpoint(), sink) == 50
        got = read_manifest_sink(spark, sink)
        assert got.count() == got.select("game_url").distinct().count() == 150

        removed = manifest_gc(sink)
        assert removed >= 1  # the orphan txn's files
        assert not os.path.isdir(orphan)
        assert read_manifest_sink(spark, sink).count() == 150  # gc kept live files

    def test_generation_sequence_is_dense_and_snapshot_isolated(
        self, spark, tmp_path, no_rename
    ):
        sink = str(tmp_path / "msink")
        for i in range(3):
            commit_append_manifest(_keys(spark, i * 10, i * 10 + 10).localCheckpoint(), sink)
        mdir = os.path.join(sink, "_manifests")
        gens = sorted(os.listdir(mdir))
        assert gens == [f"manifest-{g:012d}.json" for g in (1, 2, 3)]
        # older generations still resolve (time travel / snapshot reads)
        import json

        with open(os.path.join(mdir, gens[1])) as f:
            files_g2 = json.load(f)["files"]
        assert spark.read.parquet(*files_g2).count() == 20


SF_DIR = "/root/testdata/sf0.001"


class TestPixelStats:
    """pixel_stats must read real payload bytes (row padding skipped,
    BGR vs RGB order honored) and stay total on junk (r4 verdict ask #4)."""

    def test_bmp_with_row_padding(self):
        from chesscom_etl_tableau_spark.operators.multimodal import pixel_stats

        # w=2 -> 3w=6 bytes of pixels, stride 8: 2 padding bytes per row
        # that must NOT leak into the stats. Pixels (BGR): row of
        # [0,1,2, 3,4,5] + pad [255,255] — pad excluded, so max is 5.
        w, h = 2, 2
        row = bytes([0, 1, 2, 3, 4, 5, 255, 255])
        blob = (
            b"BM" + (54 + 16).to_bytes(4, "little") + b"\x00" * 4
            + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
            + w.to_bytes(4, "little", signed=True) + h.to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little") + (24).to_bytes(2, "little") + b"\x00" * 24
            + row * h
        )
        mean_r, mean_g, mean_b, mn, mx, b0, b1, b2, b3 = pixel_stats(blob)
        assert (mn, mx) == (0, 5)  # padding 255s excluded
        assert mean_b == 1.5 and mean_g == 2.5 and mean_r == 3.5  # BGR order
        assert (b0, b1, b2, b3) == (4, 0, 0, 0)

    def test_ppm_rgb_order(self):
        from chesscom_etl_tableau_spark.operators.multimodal import pixel_stats

        blob = b"P6\n1 1\n255\n" + bytes([200, 100, 50])
        mean_r, mean_g, mean_b, mn, mx, b0, b1, b2, b3 = pixel_stats(blob)
        assert (mean_r, mean_g, mean_b) == (200.0, 100.0, 50.0)
        assert (mn, mx) == (50, 200)
        lum = (299 * 200 + 587 * 100 + 114 * 50) // 1000  # = 124 -> bin 1
        assert lum // 64 == 1 and (b0, b1, b2, b3) == (0, 1, 0, 0)

    def test_total_on_garbage(self):
        from chesscom_etl_tableau_spark.operators.multimodal import pixel_stats

        for blob in (b"", b"BM", b"P6\nnot numbers\n", b"GIF89a\x01\x00\x01\x00",
                     b"BM" + b"\x00" * 60, b"P6\n9999 9999\n255\n\x00"):
            assert pixel_stats(blob) == (None,) * 9

    def test_matches_blob_for_closed_form(self):
        from chesscom_etl_tableau_spark.operators.multimodal import (
            _blob_for,
            pixel_stats,
        )

        # doc 4 -> bmp w=12 h=20 (3w=36, no padding); doc 13 -> ppm;
        # doc 8/21 cover the other residues. wav (fmt 3) has no pixels;
        # gif (fmt 2) decodes through the LZW path — its R channel IS
        # the index stream (palette i -> (i, 255-i, 3i%256)).
        for doc_id in (4, 13, 8, 21, 2, 14):
            fmt = doc_id % 4
            w = 8 + doc_id % 24
            h = 8 + (doc_id * 3) % 24
            stats = pixel_stats(_blob_for(doc_id))
            if fmt == 3:
                assert stats == (None,) * 9
                continue
            if fmt == 2:
                vals = [(doc_id + t) % 256 for t in range(w * h)]
                assert stats[0] == round(sum(vals) / (w * h), 6)  # mean_r
                continue
            off = 2 if fmt == 0 else 0  # bmp: R lives at byte 3j+2
            vals = [(doc_id + 3 * j + off) % 256 for j in range(w)]
            assert stats[0] == round(sum(vals) / w, 6)  # mean_r


class TestRpSignatureGuard:
    """The literal-codegen hyperplane trick is 8x faster but its plan
    grows with dim x planes; with_rp_signature must fall back to the
    broadcast-row path above RP_LITERAL_LIMIT and both paths must be
    bit-identical (r4 verdict ask #7)."""

    def test_paths_agree_bitwise(self, spark):
        from chesscom_etl_tableau_spark.operators.similarity import (
            random_hyperplanes,
            with_rp_signature,
        )
        from chesscom_etl_tableau_spark.sources.tables import load_table

        emb = load_table(spark, SF_DIR, "embeddings").limit(100)
        planes = random_hyperplanes(32, 64, seed=42)
        lit = with_rp_signature(emb, "embedding", planes).select("vec_id", "bits")
        bc = with_rp_signature(
            emb, "embedding", planes, force_broadcast=True
        ).select("vec_id", "bits")
        a = {r["vec_id"]: r["bits"] for r in lit.collect()}
        b = {r["vec_id"]: r["bits"] for r in bc.collect()}
        assert a == b and len(a) == 100

    def test_large_plane_set_avoids_literal_plan(self, spark):
        from chesscom_etl_tableau_spark.operators import similarity as SIM

        emb = spark.createDataFrame(
            [(1, [0.5] * 8), (2, [-0.5] * 8)], "vec_id long, embedding array<double>"
        )
        # 8 dims x N planes chosen to exceed the limit
        n_planes = SIM.RP_LITERAL_LIMIT // 8 + 1
        planes = [[1.0] * 8 for _ in range(n_planes)]
        df = SIM.with_rp_signature(emb, "embedding", planes)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the broadcast path shows a join, the literal path does not
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        rows = {r["vec_id"]: r["bits"] for r in df.collect()}
        assert rows[1] == [1] * n_planes and rows[2] == [0] * n_planes


class TestCharEntropy:
    def test_closed_form_values(self, spark):
        from chesscom_etl_tableau_spark.operators.text import char_entropy

        docs = spark.createDataFrame(
            [
                (1, "aaaa"),          # single symbol -> H = 0
                (2, "abab"),          # uniform over 2 symbols -> H = 1 bit
                (3, "!!! ???"),       # normalizes to empty -> no row
                (4, None),            # null text -> no row
                (5, "abcd"),          # uniform over 4 -> H = 2 bits
            ],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in char_entropy(docs).collect()}
        assert set(rows) == {1, 2, 5}
        assert rows[1]["entropy_bits"] == 0.0 and rows[1]["distinct_chars"] == 1
        assert rows[2]["entropy_bits"] == 1.0
        assert rows[5]["entropy_bits"] == 2.0
        assert rows[5]["n_chars_norm"] == 4

    def test_case_and_punct_normalized(self, spark):
        from chesscom_etl_tableau_spark.operators.text import char_entropy

        docs = spark.createDataFrame(
            [(1, "AbAb"), (2, "a-b_a.b")], "doc_id long, text string"
        )
        rows = {r["doc_id"]: r for r in char_entropy(docs).collect()}
        assert rows[1]["entropy_bits"] == 1.0  # case-folded to abab
        # punct collapses to single spaces: "a b a b" -> 3 symbols {a,b,space}
        assert rows[2]["distinct_chars"] == 3


class TestNtileDeciles:
    def test_band_structure(self, spark):
        import __spark_entry__ as E

        rows = {r["decile"]: r for r in E._q_w8_ntile_deciles(spark, SF_DIR).collect()}
        assert set(rows) == set(range(1, 11))
        counts = [rows[d]["n_customers"] for d in range(1, 11)]
        assert max(counts) - min(counts) <= 1  # NTILE balance guarantee
        for d in range(1, 10):  # monotone non-overlapping spend bands
            assert rows[d]["min_spend"] >= rows[d + 1]["max_spend"]


class TestSqlSurface:
    """The SQL front end is the same engine, not a fork: each *_sql_surface
    twin must produce the same Catalyst plan (or at minimum the same
    physical join strategy) as its DataFrame-API form (r4 verdict ask #8)."""

    @staticmethod
    def _canon(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().canonicalized().toString()

    @staticmethod
    def _physical(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    def test_a1_twin_identical_optimized_plan(self, spark):
        import __spark_entry__ as E

        a = self._canon(E._q_a1_card_measures(spark, SF_DIR))
        b = self._canon(E._q_a1_sql_surface(spark, SF_DIR))
        assert a == b

    def test_q1_twin_identical_optimized_plan(self, spark):
        import __spark_entry__ as E

        a = self._canon(E._q_q1_pricing_summary(spark, SF_DIR))
        b = self._canon(E._q_q1_sql_surface(spark, SF_DIR))
        assert a == b

    def test_j4_twin_same_physical_strategy(self, spark):
        # The IN-subquery spelling is REWRITTEN by Catalyst into the
        # broadcast left-semi join the DataFrame form declares: both
        # must run a broadcast semi join, neither a sort-merge join.
        import __spark_entry__ as E

        for df in (E._q_j4_topn_semi(spark, SF_DIR), E._q_j4_sql_surface(spark, SF_DIR)):
            phys = self._physical(df)
            assert "BroadcastHashJoin" in phys and "LeftSemi" in phys
            assert "SortMergeJoin" not in phys

    def test_q6_twin_identical_optimized_plan(self, spark):
        import __spark_entry__ as E

        a = self._canon(E._q_q6_forecast_revenue(spark, SF_DIR))
        b = self._canon(E._q_q6_sql_surface(spark, SF_DIR))
        assert a == b

    def test_j3_twin_same_physical_strategy(self, spark):
        import __spark_entry__ as E

        for df in (E._q_j3_star_join(spark, SF_DIR), E._q_j3_sql_surface(spark, SF_DIR)):
            phys = self._physical(df)
            assert phys.count("BroadcastHashJoin") == 3
            assert "SortMergeJoin" not in phys


class TestGifLzwDecode:
    """The GIF path of the multimodal decode is a REAL from-scratch LZW
    decoder (variable code width, clear/EOI, KwKwK) — no codec library.
    Verified against an independent real LZW *compressor* implemented
    here in the test, not just the fixture's literal-code writer."""

    @staticmethod
    def _lzw_compress(indices, mcs):
        """Reference GIF-LZW compressor (string-table, growing width)."""
        clear = 1 << mcs
        csize = mcs + 1
        table = {bytes([i]): i for i in range(clear)}
        next_code = clear + 2
        out = bytearray()
        acc = nb = 0

        def emit(code, cs):
            nonlocal acc, nb
            acc |= code << nb
            nb += cs
            while nb >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nb -= 8

        emit(clear, csize)
        wbuf = b""
        for ix in indices:
            k = wbuf + bytes([ix])
            if k in table:
                wbuf = k
            else:
                emit(table[wbuf], csize)
                if next_code < 4096:
                    table[k] = next_code
                    next_code += 1
                    if next_code > (1 << csize) and csize < 12:
                        csize += 1
                wbuf = bytes([ix])
        if wbuf:
            emit(table[wbuf], csize)
        emit(clear + 1, csize)
        if nb:
            out.append(acc & 0xFF)
        return bytes(out)

    def test_decodes_real_compressed_streams(self):
        import random

        from chesscom_etl_tableau_spark.operators.multimodal import _gif_lzw_decode

        rng = random.Random(11)
        for mcs, alpha in ((2, 4), (8, 256), (8, 3)):
            for _ in range(10):
                n = rng.randrange(1, 3000)
                seq = [rng.randrange(alpha) for _ in range(n)]
                comp = self._lzw_compress(seq, mcs)
                assert _gif_lzw_decode(comp, mcs, n) == seq

    def test_kwkwk_self_reference(self):
        # "aaaa..." forces the code==next_code (KwKwK) branch immediately.
        from chesscom_etl_tableau_spark.operators.multimodal import _gif_lzw_decode

        seq = [1] * 64
        assert _gif_lzw_decode(self._lzw_compress(seq, 2), 2, 64) == seq

    def test_width_growth_past_two_boundaries(self):
        # 3000 distinct-ish symbols at mcs=2 pushes the table past 8,
        # 16, ... codes — multiple width increments.
        from chesscom_etl_tableau_spark.operators.multimodal import _gif_lzw_decode

        seq = [(i * 7 + (i * i) % 3) % 4 for i in range(3000)]
        assert _gif_lzw_decode(self._lzw_compress(seq, 2), 2, 3000) == seq

    def test_decoder_total_on_garbage(self):
        from chesscom_etl_tableau_spark.operators.multimodal import (
            _gif_lzw_decode,
            gif_pixels,
        )

        assert _gif_lzw_decode(b"\xff" * 64, 0, 100) is None  # bad mcs
        # output bound respected (stream decodes past max_pixels -> None)
        comp = self._lzw_compress([1] * 500, 2)
        assert _gif_lzw_decode(comp, 2, 10) is None
        for blob in (b"GIF89a", b"GIF89a\x08\x00\x08\x00\xf7\x00\x00",
                     b"GIF89a\x01\x00\x01\x00\x00\x00\x00\x3b"):
            assert gif_pixels(blob) is None

    def test_fixture_gif_roundtrip_and_palette_stats(self):
        import math

        from chesscom_etl_tableau_spark.operators.multimodal import (
            _blob_for,
            gif_pixels,
            pixel_stats,
        )

        for doc_id in (2, 6, 18, 30):
            w, h = 8 + doc_id % 24, 8 + (doc_id * 3) % 24
            dec = gif_pixels(_blob_for(doc_id))
            assert dec is not None
            iw, ih, pal, idx = dec
            assert (iw, ih) == (w, h)
            assert idx == [(doc_id + t) % 256 for t in range(w * h)]
            # brute-force palette stats must match pixel_stats exactly
            r = [i for i in idx]
            g = [255 - i for i in idx]
            b = [(3 * i) % 256 for i in idx]
            n = w * h
            means = [math.floor(sum(c) / n * 1e6 + 0.5) / 1e6 for c in (r, g, b)]
            hist = [0, 0, 0, 0]
            for rr, gg, bb in zip(r, g, b):
                hist[min(((299 * rr + 587 * gg + 114 * bb) // 1000) // 64, 3)] += 1
            assert pixel_stats(_blob_for(doc_id)) == (
                *means,
                min(min(r), min(g), min(b)),
                max(max(r), max(g), max(b)),
                *hist,
            )


class TestAudioStats:
    """WAV PCM sample analysis: raw np.frombuffer decode of the data
    chunk — peak / RMS / zero-crossings with closed-form parity against
    the fixture generator, total on junk."""

    def test_closed_form_parity(self):
        import math

        from chesscom_etl_tableau_spark.operators.multimodal import (
            _blob_for,
            audio_stats,
        )

        for doc_id in (3, 7, 19, 103):
            n = 8 * (100 + doc_id % 200)
            samples = []
            for k in range(n):
                v = (doc_id + 2 * k) % 256 + 256 * ((doc_id + 2 * k + 1) % 256)
                samples.append(v - 65536 if v >= 32768 else v)
            rate, ns, peak, rms, zc = audio_stats(_blob_for(doc_id))
            assert (rate, ns) == (8000, n)
            assert peak == max(abs(s) for s in samples)
            assert rms == math.floor(
                math.sqrt(sum(s * s for s in samples) / n) * 1e6 + 0.5
            ) / 1e6
            assert zc == sum(
                1 for a, b in zip(samples, samples[1:]) if (a < 0) != (b < 0)
            )

    def test_total_on_non_wav_and_edge_payloads(self):
        from chesscom_etl_tableau_spark.operators.multimodal import (
            _blob_for,
            audio_stats,
            wav_pcm_samples,
        )

        assert audio_stats(b"") == (None,) * 5
        assert audio_stats(_blob_for(0)) == (None,) * 5  # bmp is not audio
        assert audio_stats(b"RIFF\x04\x00\x00\x00WAVE") == (None,) * 5

        def wav(codec=1, bits=16, rate=8000, payload=b""):
            fmt = (
                codec.to_bytes(2, "little") + (1).to_bytes(2, "little")
                + rate.to_bytes(4, "little") + (rate * 2).to_bytes(4, "little")
                + (2).to_bytes(2, "little") + bits.to_bytes(2, "little")
            )
            return (
                b"RIFF" + (20 + len(fmt) + len(payload)).to_bytes(4, "little")
                + b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
                + b"data" + len(payload).to_bytes(4, "little") + payload
            )

        # empty data chunk: zero samples, NULL stats but a real rate
        assert audio_stats(wav()) == (8000, 0, None, None, None)
        # non-PCM codec / non-16-bit rejected
        assert audio_stats(wav(codec=3, payload=b"\x00\x00")) == (None,) * 5
        assert audio_stats(wav(bits=8, payload=b"\x00\x00")) == (None,) * 5
        # odd-length payload: trailing byte dropped, not crashed on
        rate, ns, peak, _, _ = audio_stats(wav(payload=b"\x00\x80\x7f"))
        assert (ns, peak) == (1, 32768)  # single sample -32768; |.| safe in int64
        # int16 min peak does not overflow an int16 abs
        parsed = wav_pcm_samples(wav(payload=b"\x00\x80"))
        assert parsed is not None and int(parsed[1][0]) == -32768

    def test_registry_query_matches_generic_path(self, spark):
        """synth (fused) == attach_media_blob |> audio_features (composed)."""
        from chesscom_etl_tableau_spark.operators.multimodal import (
            attach_media_blob,
            audio_features,
            synth_audio_stats,
        )
        from chesscom_etl_tableau_spark.sources.tables import load_table

        docs = load_table(spark, SF_DIR, "documents")
        fused = synth_audio_stats(docs)
        composed = audio_features(
            attach_media_blob(docs.where(F.col("doc_id") % 4 == 3))
        )
        a = sorted(map(tuple, fused.collect()))
        b = sorted(map(tuple, composed.collect()))
        assert a and a == b


class TestSemanticDedup:
    """SemDeDup: pairs are exactly the within-bucket subset of the
    exact cosine pairs — no invented pairs, no cross-bucket pairs, and
    identical vectors always share a bucket."""

    def test_pairs_are_within_bucket_subset_of_exact(self, spark):
        from chesscom_etl_tableau_spark.operators.similarity import (
            assign_buckets,
            embedding_cosine_pairs,
            semantic_dedup_pairs,
        )
        from chesscom_etl_tableau_spark.sources.tables import load_table

        emb = load_table(spark, SF_DIR, "embeddings")
        cent = emb.where(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        sem = {
            (r.id_a, r.id_b): r.cosine_sim
            for r in semantic_dedup_pairs(emb, cent, threshold=0.4).collect()
        }
        exact = {
            (r.id_a, r.id_b): r.cosine_sim
            for r in embedding_cosine_pairs(emb, threshold=0.4).collect()
        }
        buckets = {
            r.vec_id: r.bucket for r in assign_buckets(emb, cent).collect()
        }
        assert sem  # non-trivial on the fixture
        for (a, b), sim in sem.items():
            assert (a, b) in exact and exact[(a, b)] == sim
        # sem == { exact pairs whose endpoints share a bucket }
        expected = {p for p in exact if buckets[p[0]] == buckets[p[1]]}
        assert set(sem) == expected

    def test_identical_vectors_share_bucket(self, spark):
        from chesscom_etl_tableau_spark.operators.similarity import (
            semantic_dedup_pairs,
        )

        df = spark.createDataFrame(
            [
                (1, [1.0, 0.0, 0.0]),
                (2, [1.0, 0.0, 0.0]),   # identical to 1
                (3, [2.0, 0.0, 0.0]),   # parallel to 1 (cos = 1)
                (4, [0.0, 1.0, 0.0]),
            ],
            "vec_id int, embedding array<float>",
        )
        cent = df.where(F.col("vec_id").isin(1, 4)).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        pairs = {
            (r.id_a, r.id_b)
            for r in semantic_dedup_pairs(df, cent, threshold=0.99).collect()
        }
        assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs


class TestIntervalOverlapJoin:
    """Bin-bucketed interval-interval overlap join: exact result parity
    with the quadratic predicate, each pair emitted exactly once even
    when the overlap spans many bins, no cartesian in the plan."""

    def _fixture(self, spark):
        import datetime as dt

        rows_a = [
            (1, dt.date(2020, 1, 1), dt.date(2020, 3, 1)),    # long: many bins
            (2, dt.date(2020, 2, 15), dt.date(2020, 2, 16)),
            (3, dt.date(2021, 1, 1), dt.date(2021, 1, 2)),
        ]
        rows_b = [
            (10, dt.date(2020, 1, 20), dt.date(2020, 2, 20)),  # overlaps 1 and 2
            (11, dt.date(2020, 3, 1), dt.date(2020, 3, 5)),    # touches 1's end
            (12, dt.date(2019, 1, 1), dt.date(2019, 12, 31)),  # ends day before 1
        ]
        a = spark.createDataFrame(rows_a, "a_key int, a_start date, a_end date")
        b = spark.createDataFrame(rows_b, "b_key int, b_start date, b_end date")
        return a, b

    def test_matches_quadratic_predicate_and_no_duplicates(self, spark):
        from chesscom_etl_tableau_spark.operators.ranges import interval_overlap_join

        a, b = self._fixture(spark)
        for bin_days in (1, 7, 64, 4096):  # overlap >> bin and bin >> overlap
            got = sorted(
                (r.a_key, r.b_key)
                for r in interval_overlap_join(
                    a, b, "a_start", "a_end", "b_start", "b_end", bin_days
                ).collect()
            )
            assert got == [(1, 10), (1, 11), (2, 10)], bin_days  # once each

    def test_inclusive_boundaries(self, spark):
        # [s, e] touching at a single shared day counts as overlap
        from chesscom_etl_tableau_spark.operators.ranges import interval_overlap_join

        a, b = self._fixture(spark)
        got = {
            (r.a_key, r.b_key)
            for r in interval_overlap_join(
                a, b, "a_start", "a_end", "b_start", "b_end", 64
            ).collect()
        }
        assert (1, 11) in got      # share exactly 2020-03-01
        assert (1, 12) not in got  # 12 ends 2019-12-31, 1 starts 01-01

    def test_no_cartesian_or_bnl_in_plan(self, spark):
        import __spark_entry__ as E

        plan = E._q_j7_overlap_join(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestCurriculumOrder:
    """curriculum_order must equal a plain global row_number over
    (band, sub, scramble, id) — while never computing a global sort."""

    def test_position_is_exact_global_rank(self, spark):
        from chesscom_etl_tableau_spark.operators.text import quality_metrics
        from chesscom_etl_tableau_spark.operators.training import curriculum_order
        from chesscom_etl_tableau_spark.sources.tables import load_table

        docs = load_table(spark, SF_DIR, "documents")
        scored = quality_metrics(docs).select("doc_id", "quality_score")
        rows = curriculum_order(scored).select(
            "doc_id", "band", "sub", "position"
        ).collect()
        n = len(rows)
        assert sorted(r.position for r in rows) == list(range(n))  # permutation
        # recompute the global order brute-force
        K, M = 2654435761, 4294967296
        def scram(x):
            a = x % M
            return ((a % 65536) * K + ((a // 65536) * K) % 65536 * 65536) % M
        expected = sorted(
            rows,
            key=lambda r: (r.band, r.sub, scram(r.doc_id * 31 + 7) % (1 << 30), r.doc_id),
        )
        assert [r.doc_id for r in expected] == [
            r.doc_id for r in sorted(rows, key=lambda r: r.position)
        ]
        # bands are contiguous position blocks, best band first
        by_band = {}
        for r in rows:
            by_band.setdefault(r.band, []).append(r.position)
        bands = sorted(by_band)
        for lo, hi in zip(bands, bands[1:]):
            assert max(by_band[lo]) < min(by_band[hi])

    def test_no_single_partition_sort_of_the_corpus(self, spark):
        # the only single-partition window may be over the tiny cells
        # aggregate, never over the full doc set: assert the plan has no
        # global Sort without a partial agg beneath (heuristic: the
        # corpus-side window is partitioned by band+sub, so an
        # "Exchange SinglePartition" must feed a HashAggregate/Window
        # over the cells table whose output is then broadcast).
        import __spark_entry__ as E

        plan = E._q_train_curriculum(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan  # offsets come back via broadcast


class TestGroupingSets:
    def test_gid_semantics(self, spark):
        import __spark_entry__ as E

        rows = E._q_w9_grouping_sets(spark, SF_DIR).collect()
        gids = {r.gid for r in rows}
        assert gids == {0, 1, 3}
        for r in rows:
            if r.gid == 0:
                assert r.event_type is not None and r.month is not None
            elif r.gid == 1:
                assert r.event_type is not None and r.month is None
            else:
                assert r.event_type is None and r.month is None
        # the grand total row equals the sum of the per-type rows
        total = next(r for r in rows if r.gid == 3)
        assert total.n_events == sum(r.n_events for r in rows if r.gid == 1)


class TestDuplicatedSpans:
    def test_small_fixture_brute_force(self, spark):
        from chesscom_etl_tableau_spark.operators.dedup import duplicated_spans

        w8 = "a b c d e f g h"          # exactly one 8-token span
        docs = spark.createDataFrame(
            [
                (1, w8 + " tail1 x y z"),         # span shared with 2
                (2, w8 + " other words here"),
                (3, "completely different words one two three four five"),
                (4, "short doc"),                  # < 8 tokens: no spans
                (5, w8 + " " + w8),               # two spans: both == w8? no:
                                                   # spans are blocks 1-8 and 9-16
            ],
            "doc_id int, text string",
        )
        got = {r.doc_id: r for r in duplicated_spans(docs, k=8).collect()}
        assert got[4].n_spans == 0 and got[4].dup_fraction == 0.0
        assert got[1].n_spans == 1 and got[1].n_dup_spans == 1 and got[1].dup_fraction == 1.0
        assert got[2].n_spans == 1 and got[2].n_dup_spans == 1
        assert got[3].n_dup_spans == 0
        # doc 5: block 1 = w8 (shared), block 2 = w8 again -> DISTINCT
        # spans = {w8}: 1 span, duplicated
        assert got[5].n_spans == 1 and got[5].n_dup_spans == 1

    def test_exact_duplicate_docs_fully_flagged(self, spark):
        from chesscom_etl_tableau_spark.operators.dedup import duplicated_spans
        from chesscom_etl_tableau_spark.sources.tables import load_table

        docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
        # inject exact duplicates: a shifted-id copy of every doc. Every
        # doc with at least one span must then be 100% duplicated.
        doubled = docs.union(
            docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        )
        got = duplicated_spans(doubled, k=8).collect()
        assert any(r.n_spans > 0 for r in got)
        for r in got:
            if r.n_spans > 0:
                assert r.n_dup_spans == r.n_spans and r.dup_fraction == 1.0, r


class TestStreamStreamJoin:
    """Event-time interval join across two streams (impression->click
    attribution): matches within the time bound join across
    micro-batches via join state; left-outer emits the no-click row
    only after the watermark proves no match can arrive."""

    def _write(self, path, name, rows, cols):
        import json as _json

        (path / name).write_text(
            "\n".join(_json.dumps(dict(zip(cols, r))) for r in rows) + "\n"
        )

    def _streams(self, spark, imp_dir, clk_dir):
        imps = spark.readStream.schema("ad_id long, imp_ts timestamp").json(str(imp_dir))
        clks = spark.readStream.schema("ad_id long, click_ts timestamp").json(str(clk_dir))
        return imps, clks

    def _run(self, joined, out, ckpt):
        q = (
            joined.writeStream.outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", str(out))
            .start()
        )
        q.awaitTermination()

    OUT = "ad_id long, imp_ts timestamp, click_ts timestamp"

    def test_inner_matches_within_bound_across_batches(self, spark, tmp_path):
        from chesscom_etl_tableau_spark.streaming.join_stream import (
            interval_join_streams,
        )

        imp_dir, clk_dir = tmp_path / "i", tmp_path / "c"
        out, ckpt = tmp_path / "o", tmp_path / "k"
        imp_dir.mkdir(), clk_dir.mkdir()
        imps, clks = self._streams(spark, imp_dir, clk_dir)
        joined = interval_join_streams(
            imps, clks, "ad_id", "imp_ts", "click_ts",
            watermark="30 minutes", within="10 minutes",
        )
        # batch 1: impressions only — the join must HOLD them in state
        self._write(imp_dir, "b1.json",
                    [(1, "2024-01-01T10:00:00"), (2, "2024-01-01T10:00:00")],
                    ("ad_id", "imp_ts"))
        self._write(clk_dir, "b0.json", [], ("ad_id", "click_ts"))
        self._run(joined, out, ckpt)
        # batch 2: a click inside the bound for ad 1, one OUTSIDE for ad 2,
        # and a click for an ad never impressed
        self._write(clk_dir, "b1.json",
                    [(1, "2024-01-01T10:07:00"),
                     (2, "2024-01-01T10:30:00"),
                     (9, "2024-01-01T10:05:00")],
                    ("ad_id", "click_ts"))
        self._run(joined, out, ckpt)
        rows = spark.read.schema(self.OUT).parquet(str(out)).collect()
        assert {(r.ad_id, r.click_ts.isoformat()) for r in rows} == {
            (1, "2024-01-01T10:07:00")
        }

    def test_left_outer_emits_unmatched_after_watermark(self, spark, tmp_path):
        from chesscom_etl_tableau_spark.streaming.join_stream import (
            interval_join_streams,
        )

        imp_dir, clk_dir = tmp_path / "i2", tmp_path / "c2"
        out, ckpt = tmp_path / "o2", tmp_path / "k2"
        imp_dir.mkdir(), clk_dir.mkdir()
        imps, clks = self._streams(spark, imp_dir, clk_dir)
        joined = interval_join_streams(
            imps, clks, "ad_id", "imp_ts", "click_ts",
            watermark="10 minutes", within="10 minutes", how="leftOuter",
        )
        self._write(imp_dir, "b1.json", [(1, "2024-01-01T10:00:00")],
                    ("ad_id", "imp_ts"))
        self._write(clk_dir, "b0.json", [], ("ad_id", "click_ts"))
        self._run(joined, out, ckpt)
        assert spark.read.schema(self.OUT).parquet(str(out)).count() == 0

        # advance BOTH watermarks far past imp_ts + within: the
        # unmatched impression must be emitted with NULL click
        self._write(imp_dir, "b2.json", [(8, "2024-01-01T12:00:00")],
                    ("ad_id", "imp_ts"))
        self._write(clk_dir, "b1.json", [(7, "2024-01-01T12:00:00")],
                    ("ad_id", "click_ts"))
        self._run(joined, out, ckpt)
        rows = spark.read.schema(self.OUT).parquet(str(out)).collect()
        matched = {(r.ad_id, r.click_ts) for r in rows}
        assert (1, None) in matched

    def test_invalid_how_rejected(self, spark):
        from chesscom_etl_tableau_spark.streaming.join_stream import (
            interval_join_streams,
        )

        df = spark.range(1).select(
            F.col("id").alias("ad_id"),
            F.current_timestamp().alias("imp_ts"),
        )
        with pytest.raises(ValueError, match="how"):
            interval_join_streams(df, df, "ad_id", "imp_ts", "imp_ts", how="full")


class TestHeavyHitters:
    """Two-phase Misra-Gries heavy hitters: output is EXACT (equal to
    the full groupBy's heavy rows) and independent of partitioning —
    the MG stage only bounds what gets recounted and provably never
    drops a true heavy hitter."""

    def _skewed(self, spark, parts):
        # zipf-ish: key i repeated 1000//(i+1) times, i in [0, 200)
        rows = [(f"k{i}",) for i in range(200) for _ in range(1000 // (i + 1))]
        return spark.createDataFrame(rows, "key string").repartition(parts)

    def test_exact_and_partitioning_independent(self, spark):
        from chesscom_etl_tableau_spark.operators.analytics import heavy_hitters

        expected = None
        for parts in (1, 3, 16):
            df = self._skewed(spark, parts)
            got = {
                (r.key, r.support, r.total_rows)
                for r in heavy_hitters(df, "key", k=25).collect()
            }
            # brute-force truth
            n = df.count()
            truth = {
                (r.key, r.cnt, n)
                for r in df.groupBy("key").agg(F.count(F.lit(1)).alias("cnt")).collect()
                if r.cnt * 25 > n
            }
            assert got == truth and got, parts
            expected = expected or got
            assert got == expected  # identical across partitionings

    def test_no_false_negative_under_adversarial_fill(self, spark):
        # one heavy key drowned in k-1 distinct-heavy distractors per
        # partition — the classic MG eviction-pressure case
        from chesscom_etl_tableau_spark.operators.analytics import heavy_hitters

        rows = [("hot",)] * 500 + [(f"d{i}",) for i in range(900)]
        df = spark.createDataFrame(rows, "key string").repartition(8)
        got = heavy_hitters(df, "key", k=4).collect()
        assert {(r.key, r.support) for r in got} == {("hot", 500)}

    def test_registry_query_matches_plain_groupby(self, spark):
        import __spark_entry__ as E
        from chesscom_etl_tableau_spark.operators.text import word_tokens
        from chesscom_etl_tableau_spark.sources.tables import load_table

        got = {
            (r.token, r.support)
            for r in E._q_a19_heavy_hitters(spark, SF_DIR).collect()
        }
        toks = (
            load_table(spark, SF_DIR, "documents")
            .select(F.explode(word_tokens(F.col("text"))).alias("token"))
        )
        n = toks.count()
        truth = {
            (r.token, r.cnt)
            for r in toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt")).collect()
            if r.cnt * 30 > n
        }
        assert got == truth and got


class TestManifestTimeTravel:
    def test_generation_reads_and_missing_generation(self, spark, tmp_path, no_rename):
        sink = str(tmp_path / "msink")
        for i in range(3):
            commit_append_manifest(_keys(spark, i * 10, i * 10 + 10).localCheckpoint(), sink)
        assert read_manifest_sink(spark, sink, generation=1).count() == 10
        assert read_manifest_sink(spark, sink, generation=2).count() == 20
        assert read_manifest_sink(spark, sink, generation=3).count() == 30
        assert read_manifest_sink(spark, sink).count() == 30
        with pytest.raises(FileNotFoundError):
            read_manifest_sink(spark, sink, generation=7)

    def test_gc_preserves_all_published_generations(self, spark, tmp_path, no_rename):
        # gc reaps only files referenced by NO manifest, so every
        # historical snapshot still resolves afterwards
        sink = str(tmp_path / "msink")
        for i in range(2):
            commit_append_manifest(_keys(spark, i * 5, i * 5 + 5).localCheckpoint(), sink)
        manifest_gc(sink)
        assert read_manifest_sink(spark, sink, generation=1).count() == 5
        assert read_manifest_sink(spark, sink, generation=2).count() == 10


class TestUnigramSurprisal:
    def test_closed_form_probabilities(self, spark):
        from chesscom_etl_tableau_spark.operators.text import unigram_surprisal

        docs = spark.createDataFrame(
            [(1, "a a"), (2, "b c"), (3, "")],
            "doc_id int, text string",
        )
        # corpus tokens: a a b c -> p(a)=1/2 (1 bit), p(b)=p(c)=1/4 (2 bits)
        got = {r.doc_id: r for r in unigram_surprisal(docs).collect()}
        assert got[1].n_tokens == 2 and got[1].surprisal_bits == 1.0
        assert got[2].n_tokens == 2 and got[2].surprisal_bits == 2.0
        assert got[3].n_tokens == 0 and got[3].surprisal_bits == 0.0

    def test_rare_tokens_score_higher(self, spark):
        from chesscom_etl_tableau_spark.operators.text import unigram_surprisal

        rows = [(i, "common " * 20) for i in range(20)] + [(99, "zxqvw jkqpf")]
        docs = spark.createDataFrame(rows, "doc_id int, text string")
        got = {r.doc_id: r.surprisal_bits for r in unigram_surprisal(docs).collect()}
        assert got[99] > got[0] + 3  # outlier doc clearly separated


class TestLzwProperty:
    def test_roundtrip_fuzz(self):
        """Property: decode(compress(seq)) == seq for arbitrary
        alphabets/lengths, against the reference compressor."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from chesscom_etl_tableau_spark.operators.multimodal import _gif_lzw_decode

        compress = TestGifLzwDecode._lzw_compress

        @settings(max_examples=150, deadline=None)
        @given(
            st.integers(min_value=2, max_value=8),
            st.lists(st.integers(min_value=0, max_value=255), min_size=1, max_size=600),
        )
        def fuzz(mcs, raw):
            seq = [v % (1 << mcs) for v in raw]
            assert _gif_lzw_decode(compress(seq, mcs), mcs, len(seq)) == seq

        fuzz()

    def test_decoder_never_raises_on_garbage(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from chesscom_etl_tableau_spark.operators.multimodal import _gif_lzw_decode

        @settings(max_examples=200, deadline=None)
        @given(st.binary(max_size=256), st.integers(min_value=0, max_value=12))
        def fuzz(blob, mcs):
            out = _gif_lzw_decode(blob, mcs, 10000)
            assert out is None or isinstance(out, list)

        fuzz()


class TestNlistSizing:
    def test_rule_and_registry_choice(self):
        from chesscom_etl_tableau_spark.operators.similarity import nlist_for

        assert nlist_for(100) == 4          # floor
        assert nlist_for(2048) == 4
        assert nlist_for(51200) == 100      # proportional beyond floor
        assert nlist_for(1 << 30) == (1 << 30) // 512


class TestZorderLayout:
    def test_morton_key_properties(self, spark):
        from chesscom_etl_tableau_spark.sources.sinks import zorder_value

        df = spark.createDataFrame(
            [(0, 0), (1, 0), (0, 1), (1, 1), (65535, 65535), (70000, -5)],
            "x long, y long",
        )
        rows = {(r.x, r.y): r.z for r in df.withColumn(
            "z", zorder_value(["x", "y"], bits=16)
        ).collect()}
        assert rows[(0, 0)] == 0
        assert rows[(1, 0)] == 1       # x -> even bits
        assert rows[(0, 1)] == 2       # y -> odd bits
        assert rows[(1, 1)] == 3
        assert rows[(65535, 65535)] == (1 << 32) - 1

    def test_clamping(self, spark):
        from chesscom_etl_tableau_spark.sources.sinks import zorder_value

        df = spark.createDataFrame([(70000, -5)], "x long, y long")
        z = df.withColumn("z", zorder_value(["x", "y"], bits=16)).first().z
        # x clamps to 65535 (all even bits), y clamps to 0 (no odd bits)
        assert z == sum(1 << (2 * b) for b in range(16))

    def test_width_guard(self):
        import pytest as _pytest

        from chesscom_etl_tableau_spark.sources.sinks import zorder_value

        with _pytest.raises(ValueError, match="bigint"):
            zorder_value(["a", "b", "c", "d"], bits=16)

    def test_zordered_files_cover_small_rectangles(self, spark, tmp_path):
        """The point of the layout: per-file (x, y) bounding boxes are
        dramatically smaller than a round-robin write's, so parquet
        min/max skipping prunes 2-D predicates."""
        from chesscom_etl_tableau_spark.sources.sinks import write_zordered

        grid = (
            spark.range(64 * 64)
            .select(
                (F.col("id") % 64).alias("x"),
                (F.col("id") / 64).cast("long").alias("y"),
            )
        )
        zdir, rdir = str(tmp_path / "z"), str(tmp_path / "r")
        write_zordered(grid, zdir, ["x", "y"], bits=6, n_files=16)
        grid.repartition(16).write.parquet(rdir)

        def total_area(path):
            per_file = (
                spark.read.parquet(path)
                .groupBy(F.input_file_name().alias("f"))
                .agg(
                    (F.max("x") - F.min("x") + 1).alias("dx"),
                    (F.max("y") - F.min("y") + 1).alias("dy"),
                )
            )
            return sum(r.dx * r.dy for r in per_file.collect())

        az, ar = total_area(zdir), total_area(rdir)
        # round-robin: every file spans ~the whole 64x64 domain
        # (16 files x 4096); z-order: 16 tiles of ~256 cells each
        assert az <= ar / 4, (az, ar)


class TestContaminationScores:
    def test_planted_benchmark_copy_is_flagged(self, spark):
        from chesscom_etl_tableau_spark.operators.training import (
            assign_split,
            contamination_scores,
        )
        from chesscom_etl_tableau_spark.sources.tables import load_table

        docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
        # find a real test-split doc, then plant its exact text under a
        # doc_id that hashes to the TRAIN split
        splits = {r.doc_id: r.split for r in assign_split(docs).collect()}
        test_doc = next(
            r for r in docs.collect()
            if splits[r.doc_id] == "test" and len(r.text.split()) > 10
        )
        planted_id = next(
            i for i in range(10_000, 11_000)
            if {**splits}.get(i) is None
            and assign_split(
                spark.createDataFrame([(i, "x")], "doc_id long, text string")
            ).first().split == "train"
        )
        poisoned = docs.union(
            spark.createDataFrame(
                [(planted_id, test_doc.text)], "doc_id long, text string"
            )
        )
        got = {r.doc_id: r for r in contamination_scores(poisoned, k=5).collect()}
        assert got[planted_id].containment == 1.0 and got[planted_id].flagged
        # and an average clean train doc is NOT fully contained
        clean = [r for r in got.values() if r.doc_id != planted_id]
        assert any(not r.flagged for r in clean)

    def test_output_is_train_split_only(self, spark):
        from chesscom_etl_tableau_spark.operators.training import (
            assign_split,
            contamination_scores,
        )
        from chesscom_etl_tableau_spark.sources.tables import load_table

        docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
        got_ids = {r.doc_id for r in contamination_scores(docs, k=5).collect()}
        expected = {
            r.doc_id for r in assign_split(docs).collect() if r.split == "train"
        }
        assert got_ids == expected


class TestManifestMerge:
    """Copy-on-write MERGE on the manifest sink: matched keys replaced,
    new keys appended, one atomic generation swap, previous snapshot
    intact, rename-free."""

    def _payloads(self, spark, sink):
        return {
            (r.game_url, r.payload)
            for r in read_manifest_sink(spark, sink).collect()
        }

    def test_upsert_replaces_matched_and_appends_new(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import commit_merge_manifest

        sink = str(tmp_path / "msink")
        assert commit_append_manifest(_keys(spark, 0, 100).localCheckpoint(), sink) == 100
        # update keys 90..99 (payload + 1000), insert 100..109
        batch = (
            spark.range(90, 110)
            .select(
                F.concat(F.lit("k"), F.col("id")).alias("game_url"),
                (F.col("id") + 1000).alias("payload"),
            )
            .localCheckpoint()
        )
        res = commit_merge_manifest(batch, sink)
        assert (res.inserted, res.updated) == (10, 10)
        got = self._payloads(spark, sink)
        assert len(got) == 110
        assert ("k95", 1095) in got and ("k95", 95) not in got  # replaced
        assert ("k5", 5) in got                                  # untouched
        assert ("k105", 1105) in got                             # appended

    def test_previous_generation_is_premerge_snapshot(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import (
            commit_merge_manifest,
            manifest_gc,
        )

        sink = str(tmp_path / "msink")
        commit_append_manifest(_keys(spark, 0, 50).localCheckpoint(), sink)
        batch = (
            spark.range(0, 50)
            .select(
                F.concat(F.lit("k"), F.col("id")).alias("game_url"),
                (F.col("id") + 1000).alias("payload"),
            )
            .localCheckpoint()
        )
        res = commit_merge_manifest(batch, sink)
        assert (res.inserted, res.updated) == (0, 50)
        manifest_gc(sink)  # must NOT break the old snapshot
        old = {
            r.payload
            for r in read_manifest_sink(spark, sink, generation=1).collect()
        }
        new = {
            r.payload
            for r in read_manifest_sink(spark, sink, generation=2).collect()
        }
        assert old == set(range(50)) and new == set(range(1000, 1050))

    def test_expire_then_gc_reaps_replaced_files(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import (
            commit_merge_manifest,
            manifest_expire,
            manifest_gc,
        )

        sink = str(tmp_path / "msink")
        commit_append_manifest(_keys(spark, 0, 50).localCheckpoint(), sink)
        batch = (
            spark.range(0, 50)
            .select(
                F.concat(F.lit("k"), F.col("id")).alias("game_url"),
                (F.col("id") + 1000).alias("payload"),
            )
            .localCheckpoint()
        )
        commit_merge_manifest(batch, sink)
        assert manifest_gc(sink) == 0  # gen-1 files still referenced
        assert manifest_expire(sink, keep_last=1) == 1
        assert manifest_gc(sink) > 0   # replaced files now reapable
        assert self._payloads(spark, sink) == {
            (f"k{i}", i + 1000) for i in range(50)
        }
        with pytest.raises(FileNotFoundError):
            read_manifest_sink(spark, sink, generation=1)

    def test_duplicate_batch_keys_rejected(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import commit_merge_manifest

        sink = str(tmp_path / "msink")
        dup = spark.createDataFrame(
            [("k1", 1), ("k1", 2)], "game_url string, payload long"
        ).localCheckpoint()
        with pytest.raises(ValueError, match="duplicate"):
            commit_merge_manifest(dup, sink)

    def test_merge_into_empty_sink_appends(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import commit_merge_manifest

        sink = str(tmp_path / "msink")
        res = commit_merge_manifest(_keys(spark, 0, 10).localCheckpoint(), sink)
        assert (res.inserted, res.updated) == (10, 0)
        assert read_manifest_sink(spark, sink).count() == 10

    def test_concurrent_merges_disjoint_keys_both_land(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import commit_merge_manifest

        sink = str(tmp_path / "msink")
        commit_append_manifest(_keys(spark, 0, 100).localCheckpoint(), sink)

        def upd(lo, hi, bump):
            return (
                spark.range(lo, hi)
                .select(
                    F.concat(F.lit("k"), F.col("id")).alias("game_url"),
                    (F.col("id") + bump).alias("payload"),
                )
                .localCheckpoint()
            )

        results, errs = {}, []

        def run(name, batch):
            try:
                results[name] = commit_merge_manifest(batch, sink)
            except Exception as exc:  # pragma: no cover
                errs.append(exc)

        t1 = threading.Thread(target=run, args=("a", upd(0, 30, 1000)))
        t2 = threading.Thread(target=run, args=("b", upd(60, 90, 5000)))
        t1.start(), t2.start()
        t1.join(), t2.join()
        assert not errs
        assert results["a"].updated == 30 and results["b"].updated == 30
        got = self._payloads(spark, sink)
        assert len(got) == 100
        assert all((f"k{i}", i + 1000) in got for i in range(0, 30))
        assert all((f"k{i}", i + 5000) in got for i in range(60, 90))
        assert all((f"k{i}", i) in got for i in range(30, 60))


class TestManifestCompaction:
    def test_compaction_preserves_rows_reduces_files(self, spark, tmp_path, no_rename):
        import json as _json

        from chesscom_etl_tableau_spark.plans.ingest import (
            commit_compact_manifest,
            manifest_expire,
            manifest_gc,
        )

        sink = str(tmp_path / "msink")
        for i in range(6):  # 6 appends -> many small files
            commit_append_manifest(_keys(spark, i * 20, i * 20 + 20).localCheckpoint(), sink)
        mdir = os.path.join(sink, "_manifests")
        with open(os.path.join(mdir, sorted(os.listdir(mdir))[-1])) as f:
            n_before = len(_json.load(f)["files"])
        assert n_before > 4
        retired = commit_compact_manifest(spark, sink, target_files=4)
        assert retired == n_before
        got = read_manifest_sink(spark, sink)
        assert got.count() == got.select("game_url").distinct().count() == 120
        with open(os.path.join(mdir, sorted(os.listdir(mdir))[-1])) as f:
            assert len(_json.load(f)["files"]) <= 4
        # pre-compaction snapshot intact; second compaction is a no-op
        assert read_manifest_sink(spark, sink, generation=6).count() == 120
        assert commit_compact_manifest(spark, sink, target_files=4) == 0
        # history retires cleanly
        manifest_expire(sink, keep_last=1)
        assert manifest_gc(sink) > 0
        assert read_manifest_sink(spark, sink).count() == 120

    def test_compaction_on_empty_sink_is_noop(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import commit_compact_manifest

        assert commit_compact_manifest(spark, str(tmp_path / "nosink")) == 0


class TestManifestSchemaEvolution:
    def test_added_column_reads_null_for_old_files(self, spark, tmp_path, no_rename):
        sink = str(tmp_path / "msink")
        assert commit_append_manifest(_keys(spark, 0, 10).localCheckpoint(), sink) == 10
        widened = (
            spark.range(10, 20)
            .select(
                F.concat(F.lit("k"), F.col("id")).alias("game_url"),
                F.col("id").alias("payload"),
                (F.col("id") * 2).alias("extra"),
            )
            .localCheckpoint()
        )
        assert commit_append_manifest(widened, sink) == 10
        merged = read_manifest_sink(spark, sink, merge_schema=True)
        assert set(merged.columns) == {"game_url", "payload", "extra"}
        rows = {r.game_url: r.extra for r in merged.collect()}
        assert rows["k5"] is None and rows["k15"] == 30
        assert merged.count() == 20


class TestManifestDelete:
    def test_delete_by_key_rewrites_only_affected(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import (
            commit_delete_manifest,
            manifest_expire,
            manifest_gc,
        )

        sink = str(tmp_path / "msink")
        commit_append_manifest(_keys(spark, 0, 100).localCheckpoint(), sink)
        doomed = spark.createDataFrame(
            [(f"k{i}",) for i in range(10, 20)] + [("k_not_there",)],
            "game_url string",
        ).localCheckpoint()
        assert commit_delete_manifest(doomed, sink) == 10
        got = {r.game_url for r in read_manifest_sink(spark, sink).collect()}
        assert len(got) == 90 and "k15" not in got and "k5" in got
        # pre-delete snapshot still has the rows until expiry
        assert read_manifest_sink(spark, sink, generation=1).count() == 100
        manifest_expire(sink, keep_last=1)
        assert manifest_gc(sink) > 0
        assert read_manifest_sink(spark, sink).count() == 90
        # idempotent: deleting the same keys again is a no-op
        assert commit_delete_manifest(doomed, sink) == 0

    def test_delete_from_empty_sink(self, spark, tmp_path, no_rename):
        from chesscom_etl_tableau_spark.plans.ingest import commit_delete_manifest

        doomed = spark.createDataFrame([("k1",)], "game_url string").localCheckpoint()
        assert commit_delete_manifest(doomed, str(tmp_path / "nosink")) == 0


class TestRasterDecodeAndResize:
    @staticmethod
    def _bmp(w, h, rows_rgb, bottom_up=True):
        # rows_rgb: h rows of w (r,g,b) tuples, in IMAGE order (top first)
        stride = (3 * w + 3) // 4 * 4
        stored = rows_rgb[::-1] if bottom_up else rows_rgb
        payload = bytearray()
        for row in stored:
            rb = bytearray()
            for (r, g, b) in row:
                rb += bytes([b, g, r])  # BGR on disk
            rb += b"\x00" * (stride - len(rb))
            payload += rb
        h_field = h if bottom_up else -h
        return (
            b"BM" + (54 + len(payload)).to_bytes(4, "little") + b"\x00" * 4
            + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
            + w.to_bytes(4, "little", signed=True)
            + h_field.to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little") + (24).to_bytes(2, "little") + b"\x00" * 24
            + bytes(payload)
        )

    def test_bmp_orientation_both_storages(self):
        from chesscom_etl_tableau_spark.operators.multimodal import decode_raster

        rows = [[(10, 11, 12), (20, 21, 22)], [(30, 31, 32), (40, 41, 42)]]
        for bottom_up in (True, False):
            arr = decode_raster(self._bmp(2, 2, rows, bottom_up))
            assert arr is not None and arr.shape == (2, 2, 3)
            # image row 0 must be the TOP row regardless of storage order
            assert tuple(arr[0, 0]) == (10, 11, 12)
            assert tuple(arr[1, 1]) == (40, 41, 42)

    def test_gif_raster_matches_palette(self):
        from chesscom_etl_tableau_spark.operators.multimodal import (
            _blob_for,
            decode_raster,
        )

        doc_id = 6
        w, h = 8 + doc_id % 24, 8 + (doc_id * 3) % 24
        arr = decode_raster(_blob_for(doc_id))
        assert arr.shape == (h, w, 3)
        idx = (doc_id + 1 * w + 2) % 256  # pixel at (y=1, x=2)
        assert tuple(arr[1, 2]) == (idx, 255 - idx, (3 * idx) % 256)

    def test_resize_index_map_and_identity(self):
        import numpy as np

        from chesscom_etl_tableau_spark.operators.multimodal import resize_nearest

        arr = np.arange(6 * 4 * 3, dtype=np.uint8).reshape(6, 4, 3)
        same = resize_nearest(arr, 4, 6)
        assert (same == arr).all()  # identity at equal size
        down = resize_nearest(arr, 2, 3)
        # output (y, x) takes source (y*6//3, x*4//2)
        for y in range(3):
            for x in range(2):
                assert (down[y, x] == arr[(y * 6) // 3, (x * 4) // 2]).all()

    def test_total_on_non_raster(self):
        from chesscom_etl_tableau_spark.operators.multimodal import (
            _blob_for,
            decode_raster,
        )

        assert decode_raster(b"") is None
        assert decode_raster(b"plain text") is None
        assert decode_raster(_blob_for(3)) is None  # wav


class TestHllUnionRollup:
    def test_estimate_within_bound_and_merge_path(self, spark):
        import __spark_entry__ as E

        rows = E._q_a20_hll_union_rollup(spark, SF_DIR).collect()
        assert rows and all(r.union_within_bound for r in rows)

    def test_union_bounded_under_any_slicing(self, spark):
        # Mergeability, the 100 TB property: however the input is
        # sliced into sketches, the unioned estimate stays within HLL
        # error of the truth. (Stronger claims do NOT hold and are
        # deliberately not asserted: the datasketches HIP accumulator
        # is insertion-history-dependent and dropped on union, and the
        # sparse->dense promotion point depends on slice sizes — so
        # neither direct==union nor slicing-bit-invariance is a real
        # guarantee; the ERROR BOUND is.)
        from pyspark.sql import functions as F2

        df = spark.range(1000).select(F2.col("id").alias("u"))
        for parts in (2, 4, 10):
            est = (
                df.withColumn("d", F2.col("u") % parts)
                .groupBy("d")
                .agg(F2.expr("hll_sketch_agg(u)").alias("sk"))
                .agg(F2.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("e"))
                .first()
                .e
            )
            assert abs(est - 1000) <= 50, (parts, est)  # within ~5%


class TestAudioResample:
    def test_decimated_equals_python_slice(self):
        from chesscom_etl_tableau_spark.operators.multimodal import (
            _blob_for,
            audio_stats,
            wav_pcm_samples,
        )

        for doc_id in (3, 19):
            rate, s = wav_pcm_samples(_blob_for(doc_id))
            dec = audio_stats(_blob_for(doc_id), decimate=4)
            assert dec[0] == rate // 4
            assert dec[1] == len(s[::4])
            full = audio_stats(_blob_for(doc_id))
            assert dec[1] * 4 == full[1]
