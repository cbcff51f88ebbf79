"""Training-data pipeline operators: dedup finds the planted duplicates,
LSH ANN achieves high recall vs brute force, multimodal plumbing works."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


class TestDedup:
    def test_exact_dedup_finds_planted(self, spark):
        from tesserocr_spark.queries.dedup import dedup_exact

        out = dedup_exact(spark, SF_DIR)
        rows = out.collect()
        # exactly the planted copies (doc_id % 7 == 0), each with n == 2
        n_planted = (
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .filter(F.col("doc_id") % 7 == 0)
            .count()
        )
        assert len(rows) == n_planted
        assert all(r.n == 2 and r.dup_id == r.keep_id + 100000 for r in rows)

    def test_minhash_lsh_recall(self, spark):
        from tesserocr_spark.queries.dedup import dedup_minhash_lsh

        pairs = {(r.a_id, r.b_id) for r in dedup_minhash_lsh(spark, SF_DIR).collect()}
        planted = {
            (r.doc_id, r.doc_id + 100000)
            for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .filter(F.col("doc_id") % 7 == 0)
            .select("doc_id")
            .collect()
        }
        found = planted & pairs
        # near-dup recall: jaccard of planted pairs is (n-3)/(n-2) >= 0.85
        assert len(found) / len(planted) >= 0.95
        # verification bound: every reported pair really has jaccard >= 0.5
        assert all(r.jaccard >= 0.5 for r in dedup_minhash_lsh(spark, SF_DIR).collect())

    def test_minhash_banding_prunes_candidates_without_recall_loss(self, spark):
        """b=4 × r=2 banding (VERDICT r03 #2): the packed two-minhash band
        key must shrink the candidate set by at least 2× vs the old r=1
        law (any single-minhash collision) while the verified output stays
        exactly the brute-force jaccard ≥ 0.5 pair set on this corpus
        (measured: ~10× shrink at sf0.01, zero pairs lost)."""
        from tesserocr_spark.queries.dedup import (
            _band_keys_from,
            _candidates_near,
            _minhash_array,
            _shingle_hashes,
            dedup_minhash_lsh,
            minhash_signatures,
        )

        sh = _shingle_hashes(_candidates_near(spark, SF_DIR)).persist()
        sig = minhash_signatures(spark, SF_DIR)
        a, b = sig.alias("a"), sig.alias("b")
        old_cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.minhash") == F.col("b.minhash"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
            .distinct()
            .count()
        )
        bk = _band_keys_from(_minhash_array(sh).persist())
        a, b = bk.alias("a"), bk.alias("b")
        new_cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bkey") == F.col("b.bkey"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
            .distinct()
            .count()
        )
        assert new_cand <= old_cand / 2, (old_cand, new_cand)
        # recall: banded LSH output == brute-force jaccard >= 0.5 pair set
        sa, sb = sh.alias("sa"), sh.alias("sb")
        jac = F.round(
            F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh"))).cast("double")
            / F.size(F.array_union(F.col("sa.sh"), F.col("sb.sh"))),
            4,
        )
        brute = {
            (r.a_id, r.b_id)
            for r in sa.join(sb, F.col("sa.doc_id") < F.col("sb.doc_id"))
            .select(
                F.col("sa.doc_id").alias("a_id"),
                F.col("sb.doc_id").alias("b_id"),
                jac.alias("j"),
            )
            .filter(F.col("j") >= 0.5)
            .collect()
        }
        lsh = {(r.a_id, r.b_id) for r in dedup_minhash_lsh(spark, SF_DIR).collect()}
        assert lsh == brute

    def test_minhash_bands_decorrelated(self, spark):
        """ADVICE r02 (high): without the ``% M`` modulus the per-band map
        is strictly monotone in h31, so every band's array_min picks the
        SAME shingle and the 8 band signatures are perfectly correlated
        (LSH recall degrades from 1-(1-j)^8 to j). Lock independence two
        ways: (1) some planted near-dup pair collides in >=1 band but NOT
        all 8; (2) python-twin of the law shows the argmin shingle varies
        across bands for a many-shingle document."""
        import hashlib

        from tesserocr_spark.queries.dedup import (
            _candidates_near,
            _shingle_array,
            minhash_signatures,
        )

        cand = _candidates_near(spark, SF_DIR)
        sig = minhash_signatures(spark, SF_DIR)
        a, b = sig.alias("a"), sig.alias("b")
        band_matches = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.minhash") == F.col("b.minhash"))
                & (F.col("b.doc_id") == F.col("a.doc_id") + 100000),
            )
            .groupBy(F.col("a.doc_id"))
            .count()
            .collect()
        )
        counts = [r["count"] for r in band_matches]
        assert counts, "no planted pair collides in any band"
        assert any(0 < c < 8 for c in counts), (
            "every colliding pair matches in all 8 bands — bands are "
            "perfectly correlated (monotone permutation regression)"
        )
        row = _shingle_array(cand).filter(F.size("sh") >= 20).first()
        h31 = [
            int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 2**31
            for s in row.sh
        ]
        argmins = {
            min(
                range(len(h31)),
                key=lambda i: (
                    h31[i] * (1000003 + 999983 * band) + (12345 + 67890 * band)
                )
                % 2147483647,
            )
            for band in range(8)
        }
        assert len(argmins) > 1, "all bands select the same min shingle"

    def test_simhash_pairs_cover_planted(self, spark):
        from tesserocr_spark.queries.dedup import dedup_simhash

        pairs = {(r.a_id, r.b_id) for r in dedup_simhash(spark, SF_DIR).collect()}
        planted = {
            (r.doc_id, r.doc_id + 100000)
            for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .filter(F.col("doc_id") % 7 == 0)
            .select("doc_id")
            .collect()
        }
        # dropping one word flips few simhash bits -> hamming <= 2 for most
        assert len(planted & pairs) / len(planted) >= 0.9

    def test_simhash64_finds_planted_exact(self, spark):
        """Pigeonhole blocking on the 60-bit signature must find EVERY pair
        within the radius — the planted exact copies sit at hamming 0."""
        from tesserocr_spark.queries.dedup import dedup_simhash64

        got = {
            (r.a_id, r.b_id): r.hamming
            for r in dedup_simhash64(spark, SF_DIR).collect()
        }
        planted = {
            (r.doc_id, r.doc_id + 100000)
            for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .filter(F.col("doc_id") % 7 == 0)
            .select("doc_id")
            .collect()
        }
        assert all(got.get(p) == 0 for p in planted)

    @pytest.mark.parametrize("bits", [16, 60])
    def test_simhash64_pigeonhole_complete_at_radius_1_2(self, spark, bits):
        """ADVICE r03: the exact-copy plants only exercise hamming 0. Flip
        1-2 signature bits directly and assert the 3-slice blocked join
        still returns EVERY pair an all-pairs scan finds — including pairs
        that agree on only one slice — at both signature widths (6+5+5
        slices at 16 bits, 3×20 at 60)."""
        from tesserocr_spark.queries.dedup import (
            _candidates_exact,
            _simhash,
            _simhash_pairs,
        )

        base = (
            _simhash(_candidates_exact(spark, SF_DIR), bits)
            .filter(F.col("doc_id") < 100000)
            .limit(30)
            .collect()
        )
        rows = [(r.doc_id, r.simhash) for r in base]
        lo = bits - 2 * (bits // 3)  # slice 0's width: 6 at 16 bits, 20 at 60
        for r in base:
            b1 = r.doc_id % bits
            # hamming-1 perturbation
            rows.append((r.doc_id + 200000, r.simhash ^ (1 << b1)))
            # hamming-2, bits chosen to span TWO different slices so
            # exactly one slice can match
            b2 = (b1 + lo) % bits
            rows.append((r.doc_id + 300000, r.simhash ^ (1 << b1) ^ (1 << b2)))
        sig = spark.createDataFrame(rows, "doc_id long, simhash long")
        got = {
            (r.a_id, r.b_id)
            for r in _simhash_pairs(sig, bits).collect()
        }
        expected = {
            (a_id, b_id)
            for i, (a_id, a_sig) in enumerate(rows)
            for b_id, b_sig in rows[i + 1 :]
            if a_id < b_id and bin(a_sig ^ b_sig).count("1") <= 2
        } | {
            (b_id, a_id)
            for i, (a_id, a_sig) in enumerate(rows)
            for b_id, b_sig in rows[i + 1 :]
            if b_id < a_id and bin(a_sig ^ b_sig).count("1") <= 2
        }
        assert expected, "perturbation produced no in-radius pairs"
        # some expected pair must be at hamming exactly 2 (single-slice match)
        sigs = dict(rows)
        assert any(bin(sigs[a] ^ sigs[b]).count("1") == 2 for a, b in expected)
        assert got == expected

    def test_release_cache_unpersists_tracked_frames(self, spark):
        """ADVICE r03: query-level persists must be releasable by a
        long-lived driver without tearing down the session."""
        from tesserocr_spark.queries import registry
        from tesserocr_spark.queries.dedup import dedup_minhash_lsh

        dedup_minhash_lsh(spark, SF_DIR).count()
        assert registry._PERSISTED
        n = registry.release_cache()
        assert n > 0
        assert not registry._PERSISTED and not registry._DOCS_CACHE

    def test_campaign_keep_drops_exactly_cluster_nonminima(self, spark):
        """End-to-end campaign: kept ids = all candidates minus every
        clustered doc that is not its cluster's minimum."""
        from tesserocr_spark.queries.dedup import (
            _candidates_near,
            dedup_campaign_keep,
            dedup_cc_clusters,
        )

        kept = {r.doc_id for r in dedup_campaign_keep(spark, SF_DIR).collect()}
        cand = {r.doc_id for r in _candidates_near(spark, SF_DIR).select("doc_id").collect()}
        clusters = dedup_cc_clusters(spark, SF_DIR).collect()
        dropped = {r.doc_id for r in clusters if r.doc_id != r.cluster_id}
        assert kept == cand - dropped
        # every cluster still has exactly one surviving representative
        minima = {r.cluster_id for r in clusters}
        assert minima <= kept

    def test_campaign_pair_sources_agree_on_planted(self, spark):
        """VERDICT r03 #8: the campaign parameterized over its pair source.
        Both paths must drop every planted near-dup copy and keep its
        original; an unknown source raises."""
        import pytest as _pytest

        from tesserocr_spark.queries.dedup import (
            _candidates_near,
            campaign_keep_frame,
            dedup_campaign_keep,
            dedup_campaign_keep_lsh,
        )

        kept_j = {r.doc_id for r in dedup_campaign_keep(spark, SF_DIR).collect()}
        kept_l = {r.doc_id for r in dedup_campaign_keep_lsh(spark, SF_DIR).collect()}
        planted = {
            r.doc_id
            for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .filter(F.col("doc_id") % 7 == 0)
            .select("doc_id")
            .collect()
        }
        copies = {p + 100000 for p in planted}
        for kept in (kept_j, kept_l):
            # every planted copy is dropped (its cluster min is <= the
            # original's id, so a copy can never be a cluster minimum)
            assert not copies & kept
            # an original is dropped ONLY when it clusters with a smaller
            # organic near-dup — never because of its own planted copy
            assert len(planted & kept) >= 0.9 * len(planted)
        # both paths agree on every planted original's fate
        assert (planted & kept_j) == (planted & kept_l)
        with _pytest.raises(ValueError, match="pair_source"):
            campaign_keep_frame(_candidates_near(spark, SF_DIR), "nope")

    def test_sentence_dedup_strips_planted_boilerplate(self, spark):
        """C4-style cross-corpus sentence dedup: the planted boilerplate
        sentence (every doc_id % 6 == 0) must be dropped from ALL its
        hosts, and removing it restores the original document bytes."""
        import hashlib

        from tesserocr_spark.queries.dedup import dedup_sentences

        rows = {r.doc_id: r for r in dedup_sentences(spark, SF_DIR).collect()}
        orig = {
            r.doc_id: r.text.strip()
            for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
        }
        assert rows.keys() == orig.keys()
        planted = [i for i in rows if i % 6 == 0]
        assert planted
        for i in planted:
            assert rows[i].n_dropped >= 1  # the boilerplate never survives
        for i, r in rows.items():
            if (i % 6 == 0 and r.n_dropped == 1) or (i % 6 and r.n_dropped == 0):
                # only the planted sentence (or nothing) was dropped ->
                # surviving fingerprint is the original document
                assert r.kept_fp == hashlib.md5(orig[i].encode()).hexdigest(), i

    def test_sentence_dedup_frame_cleans_planted_text(self, spark):
        """Production text-cleaning path: planting boilerplate on every
        third doc and cleaning must return EXACTLY the original text for
        those docs (no other sentence reaches the drop frequency)."""
        from tesserocr_spark.queries.dedup import sentence_dedup_frame

        orig = (
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", F.trim("text").alias("text"))
        )
        planted = orig.select(
            "doc_id",
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat("text", F.lit(". click here to subscribe now")),
            ).otherwise(F.col("text")).alias("text"),
        )
        cleaned = {r.doc_id: r.text for r in sentence_dedup_frame(planted).collect()}
        for r in orig.collect():
            assert cleaned[r.doc_id] == r.text, r.doc_id
        # over dedup_sentences' own planted input, its kept_fp is the md5
        # of this frame's text, doc by doc
        import hashlib

        from tesserocr_spark.queries.dedup import _BOILER_SENT, dedup_sentences

        q_planted = orig.select(
            "doc_id",
            F.when(
                F.col("doc_id") % 6 == 0,
                F.concat("text", F.lit(f". {_BOILER_SENT}")),
            ).otherwise(F.col("text")).alias("text"),
        )
        fp = {r.doc_id: r.kept_fp for r in dedup_sentences(spark, SF_DIR).collect()}
        assert fp == {
            r.doc_id: hashlib.md5(r.text.encode()).hexdigest()
            for r in sentence_dedup_frame(q_planted).collect()
        }

    def test_sentence_dedup_survives_planted_hot_key(self, spark):
        """VERDICT r04 task #5 (skew): plant ONE long sentence in 30% of
        documents — by construction the hottest join key in the corpus —
        and assert (a) the sents<->freq equi-join keys on the fixed-width
        md5 of the sentence, never the raw text, and (b) the hot sentence
        is stripped from every host while all other docs round-trip."""
        from tesserocr_spark.queries.dedup import sentence_dedup_frame

        hot = "this very long boilerplate sentence appears on nearly " \
              "every page of the crawl and is the hottest shuffle key " \
              "in the whole corpus by a factor of thousands"
        orig = (
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", F.trim("text").alias("text"))
        )
        planted = orig.select(
            "doc_id",
            F.when(
                F.col("doc_id") % 10 < 3,  # 30% of the corpus
                F.concat(F.lit(hot + ". "), "text"),
            ).otherwise(F.col("text")).alias("text"),
        )
        out = sentence_dedup_frame(planted)
        plan = out._jdf.queryExecution().executedPlan().toString()
        join_lines = [
            ln for ln in plan.splitlines()
            if "Join" in ln and "LeftOuter" in ln
        ]
        assert join_lines, plan
        assert any("sk" in ln for ln in join_lines), join_lines
        assert not any("sent#" in ln.split("LeftOuter")[0] for ln in join_lines), (
            "freq join must key on md5(sent), not the raw sentence",
            join_lines,
        )
        cleaned = {r.doc_id: r.text for r in out.collect()}
        for r in orig.collect():
            assert cleaned[r.doc_id] == r.text, r.doc_id

    def test_ngram_jaccard_finds_planted(self, spark):
        from tesserocr_spark.queries.dedup import ngram_jaccard_pairs

        rows = ngram_jaccard_pairs(spark, SF_DIR).collect()
        pairs = {(r.a_id, r.b_id) for r in rows}
        planted = {
            (r.doc_id, r.doc_id + 100000)
            for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .filter(F.col("doc_id") % 7 == 0)
            .select("doc_id")
            .collect()
        }
        assert planted <= pairs  # blocking key (last word) never splits them
        assert all(r.jaccard >= 0.3 for r in rows)


class TestSimilarity:
    def test_lsh_ann_recall_vs_bruteforce(self, spark):
        from tesserocr_spark.queries.similarity import ann_bruteforce_topk, ann_lsh_topk

        exact = ann_bruteforce_topk(spark, SF_DIR).collect()
        approx = ann_lsh_topk(spark, SF_DIR).collect()
        exact_sets = {}
        for r in exact:
            exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        approx_sets = {}
        for r in approx:
            approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        # 8-bit sign LSH on random vectors: recall is modest by design; the
        # contract is (a) every result is a true same-bucket neighbor and
        # (b) at least some overlap with the exact top-k.
        hits = sum(len(exact_sets[q] & approx_sets.get(q, set())) for q in exact_sets)
        total = sum(len(v) for v in exact_sets.values())
        assert hits / total > 0.0
        # approx results are a subset of each query's bucket -> never more
        # rows than brute force
        assert len(approx) <= len(exact)

    def test_bruteforce_topk_is_sound(self, spark):
        from tesserocr_spark.queries.similarity import ann_bruteforce_topk

        rows = ann_bruteforce_topk(spark, SF_DIR).collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r)
        for q, rs in by_q.items():
            rs.sort(key=lambda r: r.rank)
            assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
            cos = [r.cos for r in rs]
            assert cos == sorted(cos, reverse=True)
            assert all(r.neighbor_id != q for r in rs)


class TestMultimodal:
    def test_decode_stub_schema_and_determinism(self, spark):
        from tesserocr_spark.queries.textops import multimodal_stub

        a = {r.doc_id: (r.n_bytes, r.fake_width, r.n_frames)
             for r in multimodal_stub(spark, SF_DIR).collect()}
        b = {r.doc_id: (r.n_bytes, r.fake_width, r.n_frames)
             for r in multimodal_stub(spark, SF_DIR).collect()}
        assert a == b and len(a) == 500

    def test_frame_sample_fanout(self, spark):
        from tesserocr_spark.multimodal import frame_sample_map

        d = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50).select(
            "doc_id", F.encode("text", "UTF-8").alias("payload")
        )
        frames = d.mapInPandas(
            frame_sample_map, "doc_id bigint, frame_id int, frame_bytes binary"
        )
        rows = frames.collect()
        assert rows
        per_doc = {}
        for r in rows:
            per_doc.setdefault(r.doc_id, []).append(r.frame_id)
        for ids in per_doc.values():
            assert sorted(ids) == list(range(len(ids)))

    def test_feature_extract_real_histogram(self, spark):
        from tesserocr_spark.multimodal import N_FEATURES, feature_extract_map

        d = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50).select(
            "doc_id", F.encode("text", "UTF-8").alias("payload")
        )
        feats = d.mapInPandas(
            feature_extract_map, "doc_id bigint, features array<double>"
        ).collect()
        assert len(feats) == 50
        for r in feats:
            assert len(r.features) == N_FEATURES
            assert abs(sum(r.features) - 1.0) < 1e-9
        again = {r.doc_id: r.features for r in d.mapInPandas(
            feature_extract_map, "doc_id bigint, features array<double>"
        ).collect()}
        assert all(again[r.doc_id] == r.features for r in feats)

    def test_resize_stub_shrinks(self, spark):
        from tesserocr_spark.multimodal import resize_stub_map

        d = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50).select(
            "doc_id", F.encode("text", "UTF-8").alias("payload")
        )
        out = d.mapInPandas(
            resize_stub_map(target_width=64),
            "doc_id bigint, width int, n_bytes int, payload binary",
        ).collect()
        assert len(out) == 50
        src = {r.doc_id: len(r.payload) for r in d.collect()}
        for r in out:
            assert r.width <= 64
            assert 0 < r.n_bytes <= src[r.doc_id]
            assert len(r.payload) == r.n_bytes

    def test_every_kernel_keeps_the_row_law_on_bad_payloads(self):
        """Spark-free: each payload kernel over one batch of a NULL (doc 0),
        an empty (1), a truncated (2) and a valid (3) payload. Stats
        kernels give one all-zero row per bad payload and decode the valid
        one; ``decode_map`` gives format NULL only for the NULL payload;
        the stub kernels give NULL fields (``frame_sample_map``: no frames)
        for it and their stub law for the rest. None raises."""
        import pandas as pd

        from tesserocr_spark import multimodal as mm

        def run(kernel, good):
            batch = pd.DataFrame({
                "doc_id": pd.Series(range(4), dtype="int64"),
                "payload": [None, b"", good[:12], good],
            })
            out = pd.concat(list(kernel(iter([batch]))))
            return {d: out[out.doc_id == d].drop(columns="doc_id")
                    for d in range(4)}

        px = bytes((5 * (x // 8) + 9 * (y // 8)) % 256
                   for y in range(9) for x in range(17))
        for kernel, good, n_good in (
            (mm.pixel_stats_map, mm.make_png(5, 3), 1),
            (mm.gif_stats_map, mm.make_gif(5, 3, interlace=True), 1),
            (mm.jpeg_stats_map, mm.make_jpeg_baseline(17, 9, px), 1),
            (mm.tiff_stats_map, mm.make_tiff(5, 3, 2, compression=32773), 2),
            (mm.pnm_stats_map, mm.make_pnm(5, 3), 1),
            (mm.audio_stats_map, mm.make_wav(2, 8000, 16, 9), 1),
        ):
            rows = run(kernel, good)
            for d in range(3):
                assert rows[d].values.tolist() == [[0] * rows[d].shape[1]], (
                    kernel.__name__, d)
            assert len(rows[3]) == n_good, kernel.__name__
            assert (rows[3].values != 0).any(axis=1).all(), kernel.__name__

        rows = run(mm.decode_map, mm.make_bmp(5, 3))
        assert rows[0].format.tolist() == [None]
        assert (rows[0].drop(columns="format").values == 0).all()
        assert rows[1].format.tolist() == rows[2].format.tolist() == ["raw"]
        assert rows[3].format.tolist() == ["bmp"]

        text = b"a short payload"
        rows = run(mm.decode_stub_map, text)
        assert rows[0].isna().values.all()
        assert rows[3].values.tolist() == [[15, 15, 1]]
        rows = run(mm.frame_sample_map, text)
        assert [len(rows[d]) for d in range(4)] == [0, 0, 12 % 7, 15 % 7]
        rows = run(mm.feature_extract_map, text)
        assert rows[0].features.tolist() == [None]
        assert all(len(rows[d].features.iloc[0]) == mm.N_FEATURES
                   for d in (1, 2, 3))
        rows = run(mm.resize_stub_map(4), text)
        assert rows[0].isna().values.all()
        assert rows[3].values.tolist() == [[4, 4, text[::4]]]


class TestRealContainerParsers:
    """Directed tests for the pure-Python BMP/WAV parsers (VERDICT r03 #4):
    hand-built payloads with known header bytes, adversarial variants, and
    the end-to-end Spark decode query."""

    def test_parse_bmp_hand_built(self):
        from tesserocr_spark.multimodal import make_bmp, parse_bmp

        m = parse_bmp(make_bmp(17, 9, 24, fill=7))
        assert m == {
            "format": "bmp", "width": 17, "height": 9, "bpp": 24,
            "n_channels": 3, "sample_rate": 0, "n_frames": 1,
            # stride of 17px @24bpp = 52 bytes (padded from 51): 54 + 52*9
            "n_bytes": 54 + 52 * 9,
        }

    def test_parse_bmp_top_down_negative_height(self):
        import struct

        from tesserocr_spark.multimodal import make_bmp, parse_bmp

        b = bytearray(make_bmp(8, 4, 32))
        struct.pack_into("<i", b, 22, -4)  # top-down row order
        m = parse_bmp(bytes(b))
        assert m["height"] == 4 and m["width"] == 8 and m["bpp"] == 32

    def test_parse_bmp_rejects_malformed(self):
        from tesserocr_spark.multimodal import make_bmp, parse_bmp

        good = make_bmp(16, 4, 8)
        assert parse_bmp(good)["bpp"] == 8
        assert parse_bmp(b"BM" + good[2:40]) is None  # truncated header
        assert parse_bmp(good[:54]) is None  # pixel array missing
        assert parse_bmp(b"PNG" + good[3:]) is None  # wrong magic
        bad_bpp = bytearray(good)
        bad_bpp[28] = 13  # no such bpp
        assert parse_bmp(bytes(bad_bpp)) is None

    def test_parse_wav_hand_built_and_chunk_walk(self):
        import struct

        from tesserocr_spark.multimodal import make_wav, parse_wav

        m = parse_wav(make_wav(2, 44100, 16, 1000))
        assert m["format"] == "wav" and m["n_channels"] == 2
        assert m["sample_rate"] == 44100 and m["bpp"] == 16
        assert m["n_frames"] == 1000
        # extra LIST chunk BEFORE fmt — the walker must skip it
        w = make_wav(1, 8000, 8, 5)
        listed = bytearray(
            w[:12] + b"LIST" + struct.pack("<I", 4) + b"INFO" + w[12:]
        )
        # fix RIFF size for the inserted 12 bytes
        struct.pack_into("<I", listed, 4, struct.unpack_from("<I", listed, 4)[0] + 12)
        m2 = parse_wav(bytes(listed))
        assert m2 is not None and m2["n_frames"] == 5

    def test_parse_wav_rejects_malformed(self):
        from tesserocr_spark.multimodal import make_wav, parse_wav

        w = make_wav(1, 8000, 8, 5)
        assert parse_wav(w[:11]) is None
        assert parse_wav(b"RIFX" + w[4:]) is None
        assert parse_wav(w[:20]) is None  # chunk size overruns buffer

    def test_parse_jpeg_hand_built(self):
        from tesserocr_spark.multimodal import make_jpeg, parse_jpeg

        m = parse_jpeg(make_jpeg(17, 9, 3))
        assert m == {
            "format": "jpeg", "width": 17, "height": 9, "bpp": 24,
            "n_channels": 3, "sample_rate": 0, "n_frames": 1,
            "n_bytes": m["n_bytes"],
        }
        gray = parse_jpeg(make_jpeg(40, 20, 1))
        assert gray["bpp"] == 8 and gray["n_channels"] == 1
        cmyk12 = parse_jpeg(make_jpeg(5, 5, 4, precision=12))
        assert cmyk12["bpp"] == 48 and cmyk12["n_channels"] == 4

    def test_parse_jpeg_marker_walk_skips_com_fill_and_standalone(self):
        import struct

        from tesserocr_spark.multimodal import make_jpeg, parse_jpeg

        j = make_jpeg(8, 4, 3)
        head, sof_on = j.split(b"\xff\xc0", 1)
        # a COM segment, a fill byte, and a standalone TEM before SOF0 —
        # the walker must step over all three (ITU T.81 §B.1.1.2-3)
        com = b"\xff\xfe" + struct.pack(">H", 2 + 5) + b"hello"
        walked = head + com + b"\xff" + b"\xff\x01" + b"\xff\xc0" + sof_on
        m = parse_jpeg(walked)
        assert m is not None and m["width"] == 8 and m["height"] == 4

    def test_parse_jpeg_rejects_malformed(self):
        import struct

        from tesserocr_spark.multimodal import make_jpeg, parse_jpeg

        good = make_jpeg(16, 4, 3)
        assert parse_jpeg(good)["bpp"] == 24
        assert parse_jpeg(good[:-2]) is None  # EOI missing
        assert parse_jpeg(b"\xff\xd9" + good[2:]) is None  # wrong magic
        # SOS before any SOF: cut the SOF0 segment out entirely
        sof_at = good.index(b"\xff\xc0")
        sof_len = struct.unpack_from(">H", good, sof_at + 2)[0]
        assert parse_jpeg(good[:sof_at] + good[sof_at + 2 + sof_len:]) is None
        # segment length overruns the buffer
        overrun = bytearray(good)
        struct.pack_into(">H", overrun, sof_at + 2, 0xFFF0)
        assert parse_jpeg(bytes(overrun)) is None
        # illegal zero-length segment (seglen < 2)
        zlen = bytearray(good)
        struct.pack_into(">H", zlen, sof_at + 2, 1)
        assert parse_jpeg(bytes(zlen)) is None
        # component count the law doesn't admit (ncomp=2)
        assert parse_jpeg(make_jpeg(8, 8, 2)) is None
        # frame header length inconsistent with ncomp
        badlen = bytearray(good)
        struct.pack_into(">H", badlen, sof_at + 2, 8 + 3 * 3 + 1)
        assert parse_jpeg(bytes(badlen)) is None

    def test_decode_media_fallback_is_stub_law(self):
        from tesserocr_spark.multimodal import decode_media

        blob = b"not a container" * 10
        m = decode_media(blob)
        assert m["format"] == "raw"
        assert m["width"] == len(blob) % 640 and m["n_frames"] == len(blob) % 7

    def test_parse_png_hand_built_and_crc_gate(self):
        from tesserocr_spark.multimodal import make_png, parse_png

        m = parse_png(make_png(17, 9, 2))
        assert m == {
            "format": "png", "width": 17, "height": 9, "bpp": 24,
            "n_channels": 3, "sample_rate": 0, "n_frames": 1,
            "n_bytes": m["n_bytes"],
        }
        good = make_png(8, 8, 0)
        assert parse_png(good)["n_channels"] == 1
        corrupt = bytearray(good)
        corrupt[16] ^= 0xFF  # IHDR width byte — CRC must catch it
        assert parse_png(bytes(corrupt)) is None
        assert parse_png(good[:-20]) is None  # IEND gone -> incomplete
        assert parse_png(b"\x89PNX" + good[4:]) is None  # bad signature

    def test_decode_png_pixels_inverts_all_five_filters(self):
        """make_png filters row y with type y % 5, so a height-10 image
        exercises None/Sub/Up/Average/Paeth twice each; the decode must
        reproduce the exact gradient bytes."""
        from tesserocr_spark.multimodal import decode_png_pixels, make_png

        w, h, ch = 13, 10, 3
        px = decode_png_pixels(make_png(w, h, 2))
        expect = bytes(
            (3 * x + 7 * y + 11 * c) % 256
            for y in range(h) for x in range(w) for c in range(ch)
        )
        assert px == expect

    @staticmethod
    def _png_filter_row(ftype: int, line: bytes, prior: bytes, ch: int) -> bytes:
        """Row-by-row oracle: PNG forward filter ``ftype`` (spec §9.2) of
        one raw scanline, byte by byte, predicting from RAW neighbours."""
        out = bytearray()
        for i, x in enumerate(line):
            a = line[i - ch] if i >= ch else 0
            b = prior[i]
            c = prior[i - ch] if i >= ch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            out.append((x - pred) & 0xFF)
        return bytes(out)

    @pytest.mark.parametrize("ch", [1, 3, 4])
    @pytest.mark.parametrize("nrows,width", [(1, 1), (5, 1), (11, 7), (16, 33)])
    def test_png_filter_pass_matches_row_by_row_oracle(self, ch, nrows, width):
        """The vectorized whole-pass filter equals the row-by-row oracle for
        every filter type (row y uses ``y % 5``, so nrows >= 5 covers all
        five) and every channel count make_png emits."""
        import numpy as np

        from tesserocr_spark.multimodal import _png_filter_pass

        stride = width * ch
        block = np.random.default_rng(nrows * 100 + width * 10 + ch).integers(
            0, 256, size=(nrows, stride), dtype=np.uint8)
        expect = bytearray()
        prior = bytes(stride)
        for y in range(nrows):
            line = block[y].tobytes()
            expect += bytes([y % 5]) + self._png_filter_row(y % 5, line, prior, ch)
            prior = line
        assert _png_filter_pass(block, ch) == bytes(expect)

    def test_null_payload_distinguishable_from_empty_blob(self, spark):
        """ADVICE r04: a missing payload must not masquerade as a zero-byte
        blob — NULL in, format NULL out; b'' in, stub law out."""
        from tesserocr_spark.multimodal import (
            DECODE_SCHEMA,
            decode_map,
            resize_stub_map,
        )

        df = spark.createDataFrame(
            [(1, None), (2, b"")], "doc_id bigint, payload binary"
        )
        rows = {r.doc_id: r for r in df.mapInPandas(decode_map, DECODE_SCHEMA).collect()}
        assert rows[1].format is None and rows[1].n_bytes == 0
        assert rows[2].format == "raw" and rows[2].n_bytes == 0
        # the stub kernels' NULL fields survive the Arrow conversion
        stub = df.mapInPandas(
            resize_stub_map(4),
            "doc_id bigint, width int, n_bytes int, payload binary",
        ).orderBy("doc_id").collect()
        assert [tuple(r) for r in stub] == [(1, None, None, None), (2, 1, 0, b"")]

    def test_multimodal_pixels_query_matches_gradient_closed_form(self, spark):
        """Full PNG pixel decode in the Spark path: per-doc pixel count,
        byte sum, and index-weighted sum must equal the synth gradient's
        closed form — any defect in deflate, the five filters, the Adam7
        de-interlace (odd doc_ids), or Arrow binary transport shifts
        them."""
        from tesserocr_spark.queries.textops import multimodal_pixels

        rows = {r.doc_id: r for r in multimodal_pixels(spark, SF_DIR).collect()}
        assert rows and all(d % 5 == 1 for d in rows)
        for doc_id, r in rows.items():
            w, h = 1 + doc_id % 48, 1 + doc_id % 24
            assert r.n_px == w * h * 3
            vals = [
                (3 * x + 7 * y + 11 * c) % 256
                for y in range(h) for x in range(w) for c in range(3)
            ]
            assert r.pix_sum == sum(vals), doc_id
            assert r.pix_wsum == sum(i * v for i, v in enumerate(vals)), doc_id

    def test_multimodal_decode_query_end_to_end(self, spark):
        from tesserocr_spark.queries.textops import multimodal_decode

        rows = {r.doc_id: r for r in multimodal_decode(spark, SF_DIR).collect()}
        assert rows
        assert {r.format for r in rows.values()} == {
            "wav", "png", "bmp", "jpeg", "mp4"
        }
        for doc_id, r in rows.items():
            if doc_id % 5 == 0:
                assert r.format == "wav" and r.n_frames == 100 + doc_id % 50
                assert r.bpp == 8 + ((doc_id % 7) % 2) * 8
                assert r.sample_rate == 8000 + (doc_id % 7) * 1000
            elif doc_id % 5 == 1:
                assert r.format == "png" and r.bpp == 24
                assert r.width == 1 + doc_id % 48 and r.height == 1 + doc_id % 24
            elif doc_id % 5 == 2:
                assert r.format == "bmp" and r.bpp == 24
                assert r.width == 1 + doc_id % 64 and r.height == 1 + doc_id % 32
            elif doc_id % 5 == 3:
                assert r.format == "jpeg"
                assert r.bpp == (8 if doc_id % 8 == 3 else 24)
                assert r.width == 1 + doc_id % 40 and r.height == 1 + doc_id % 20
            else:
                assert r.format == "mp4" and r.bpp == 0
                assert r.width == 16 + doc_id % 64 and r.height == 16 + doc_id % 48
                assert r.n_channels == 1 + doc_id % 3
                assert r.sample_rate == 600
                assert r.n_frames == 600 + doc_id % 400

    def test_parse_mp4_hand_built(self):
        from tesserocr_spark.multimodal import make_mp4, parse_mp4

        m = parse_mp4(make_mp4(320, 240, 600, 1234, 2))
        assert m == {
            "format": "mp4", "width": 320, "height": 240, "bpp": 0,
            "n_channels": 2, "sample_rate": 600, "n_frames": 1234,
            "n_bytes": m["n_bytes"],
        }
        # single-track, 64-bit-size and size==0 box edges
        one = make_mp4(8, 4, 90000, 7)
        assert parse_mp4(one)["n_channels"] == 1

    def test_parse_mp4_rejects_malformed(self):
        import struct

        from tesserocr_spark.multimodal import make_mp4, parse_mp4

        good = make_mp4(64, 32, 600, 500)
        assert parse_mp4(good)["width"] == 64
        assert parse_mp4(b"\x00\x00\x00\x08free") is None  # no ftyp
        assert parse_mp4(good[8:]) is None  # ftyp not first
        assert parse_mp4(good[:-30]) is None  # truncated into moov
        # truncated trailing mdat is tolerated — metadata already parsed
        assert parse_mp4(good[:-4])["format"] == "mp4"
        # box size overrunning the buffer inside moov stops the walk
        moov_at = good.index(b"moov") - 4
        overrun = bytearray(good)
        struct.pack_into(">I", overrun, moov_at, len(good) + 100)
        assert parse_mp4(bytes(overrun)) is None
        # mvhd with an unknown version is rejected
        mvhd_at = good.index(b"mvhd") + 4
        badver = bytearray(good)
        badver[mvhd_at] = 9
        assert parse_mp4(bytes(badver)) is None

    def test_decode_wav_samples_laws(self):
        """8-bit samples are unsigned bytes; 16-bit are signed LE — the
        closed-form ramp laws the multimodal_audio oracle reproduces."""
        import struct

        from tesserocr_spark.multimodal import decode_wav_samples, make_wav

        n8, sum8 = decode_wav_samples(make_wav(1, 8000, 8, 10))
        assert (n8, sum8) == (10, sum((5 * k + 3) % 256 for k in range(10)))
        n16, sum16 = decode_wav_samples(make_wav(2, 9000, 16, 7))
        raw = bytes((5 * k + 3) % 256 for k in range(28))
        assert (n16, sum16) == (14, sum(struct.unpack("<14h", raw)))
        # 24-bit: packed 3-byte signed LE frames, sign-extended
        n24, sum24 = decode_wav_samples(make_wav(1, 8000, 24, 9))
        raw = bytes((5 * k + 3) % 256 for k in range(27))
        want24 = 0
        for i in range(0, 27, 3):
            v = raw[i] | raw[i + 1] << 8 | raw[i + 2] << 16
            want24 += v - (1 << 24) if v >= 1 << 23 else v
        assert (n24, sum24) == (9, want24)
        # 32-bit signed LE
        n32, sum32 = decode_wav_samples(make_wav(2, 8000, 32, 5))
        raw = bytes((5 * k + 3) % 256 for k in range(40))
        assert (n32, sum32) == (10, sum(struct.unpack("<10i", raw)))
        assert decode_wav_samples(b"not a wav") is None

    def test_multimodal_audio_query_matches_ramp_closed_form(self, spark):
        from tesserocr_spark.queries.textops import multimodal_audio

        rows = {r.doc_id: r for r in multimodal_audio(spark, SF_DIR).collect()}
        assert rows and all(d % 5 == 0 for d in rows)
        # both sample widths must occur in the corpus
        assert {(d % 7) % 2 for d in rows} == {0, 1}
        for doc_id, r in rows.items():
            v = (doc_id % 7) % 2
            n = (1 + v) * (100 + doc_id % 50)
            assert r.n_samples == n
            if v == 0:
                expect = sum((5 * k + 3) % 256 for k in range(n))
            else:
                expect = 0
                for j in range(n):
                    val = (10 * j + 3) % 256 + 256 * ((10 * j + 8) % 256)
                    expect += val - 65536 * (val >= 32768)
            assert r.amp_sum == expect, doc_id


class TestEmbeddingDedup:
    def test_planted_vector_duplicates_found(self, spark):
        from tesserocr_spark.queries.similarity import dedup_embedding_cosine

        pairs = {(r.a_id, r.b_id): r.cos
                 for r in dedup_embedding_cosine(spark, SF_DIR).collect()}
        planted = {
            (r.vec_id, r.vec_id + 100000)
            for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
            .filter(F.col("vec_id") % 9 == 0).select("vec_id").collect()
        }
        assert planted <= set(pairs)  # identical vectors share every LSH bucket
        for p in planted:
            assert pairs[p] == 1.0


class TestRoundTrip:
    def test_docs_parquet_roundtrip(self, spark, tmp_path):
        """Extraction results survive a parquet write/read bit-exactly
        (the shape every downstream job consumes)."""
        from tesserocr_spark.api import extract_pages
        from tesserocr_spark.pages import synthetic_pages

        docs = extract_pages(synthetic_pages(spark, 40))
        path = str(tmp_path / "docs_rt")
        docs.write.parquet(path)
        back = spark.read.parquet(path)
        a = {r.url: (r.extracted_text, str(r.spans), str(r.osd))
             for r in docs.collect()}
        b = {r.url: (r.extracted_text, str(r.spans), str(r.osd))
             for r in back.collect()}
        assert a == b


class TestIVF:
    def test_ivf_results_within_probed_cells_and_sound(self, spark):
        from tesserocr_spark.queries.similarity import (
            ann_bruteforce_topk,
            ann_ivf_cells,
            ann_ivf_topk,
        )

        cells = {r.vec_id: r.cid for r in ann_ivf_cells(spark, SF_DIR).collect()}
        rows = ann_ivf_topk(spark, SF_DIR).collect()
        assert rows
        by_q = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r)
        for q, rs in by_q.items():
            rs.sort(key=lambda r: r.rank)
            cos = [r.cos for r in rs]
            assert cos == sorted(cos, reverse=True)
            assert all(r.neighbor_id != q for r in rs)
        # IVF recall vs brute force: some overlap expected even with nprobe=2
        exact = {}
        for r in ann_bruteforce_topk(spark, SF_DIR).collect():
            exact.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(
            len(exact[q] & {r.neighbor_id for r in rs}) for q, rs in by_q.items()
        )
        assert hits > 0
        assert set(cells) and all(0 <= c < 16 for c in cells.values())


class TestCCClusters:
    def test_star_contraction_adversarial_graphs(self, spark):
        """Alternating large-star/small-star must converge within the round
        cap on a diameter-400 path (plain propagation would need 400 rounds)
        and must agree with union-find ground truth on a random graph."""
        self._adversarial_graphs(spark, local_edges=0)

    def test_local_finish_adversarial_graphs(self, spark):
        """The same graphs at the default edge budget, which both fit under:
        the driver-side union-find finish must give the same labels."""
        self._adversarial_graphs(spark)

    @staticmethod
    def _adversarial_graphs(spark, **budget):
        import random

        from tesserocr_spark.queries.dedup import connected_components

        def labels_of(edges_py):
            df = spark.createDataFrame(edges_py, "src long, dst long")
            return {r.node: r.label for r in connected_components(df, **budget).collect()}

        lab = labels_of([(i, i + 1) for i in range(400)])
        assert set(lab.values()) == {0} and len(lab) == 401

        rng = random.Random(3)
        e = [(rng.randrange(500), rng.randrange(500)) for _ in range(300)]
        e = [(a, b) for a, b in e if a != b]
        parent = list(range(500))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in e:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        assert labels_of(e) == {n: find(n) for ab in e for n in ab}

    def test_round_cap_raises_instead_of_split_labels(self, spark):
        """The diameter-400 path needs more than one round: hitting the cap
        is an error, not partially contracted labels."""
        from tesserocr_spark.queries.dedup import connected_components

        df = spark.createDataFrame([(i, i + 1) for i in range(400)], "src long, dst long")
        with pytest.raises(RuntimeError, match="not converged after 1 rounds"):
            connected_components(df, max_rounds=1, local_edges=0)

    def test_local_finish_job_count(self, spark):
        """Per-round jobs must not come back unseen: under the edge budget the
        400-edge path costs at most 4 jobs (one bounded Arrow fetch since it
        skips the count; tests/test_plans.py pins that); pure star
        contraction pays for every round."""
        from tesserocr_spark.queries.dedup import connected_components

        sc = spark.sparkContext
        df = spark.createDataFrame([(i, i + 1) for i in range(400)], "src long, dst long")

        def jobs(gid, **budget):
            sc.setJobGroup(gid, gid)
            try:
                rows = connected_components(df, **budget).collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert len(rows) == 401 and {r.label for r in rows} == {0}
            sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
            return len(sc.statusTracker().getJobIdsForGroup(gid))

        local = 4
        assert jobs("cc_local_finish") <= local
        assert jobs("cc_star_rounds", local_edges=0) >= 4 * local

    def test_planted_pairs_cluster_to_min_id(self, spark):
        from tesserocr_spark.queries.dedup import (
            dedup_cc_clusters,
            ngram_jaccard_pairs,
        )

        labels = {r.doc_id: r.cluster_id
                  for r in dedup_cc_clusters(spark, SF_DIR).collect()}
        pairs = ngram_jaccard_pairs(spark, SF_DIR).collect()
        assert pairs and labels
        # every near-dup pair landed in the same cluster (the CC fixpoint)
        assert all(labels[p.a_id] == labels[p.b_id] for p in pairs)
        # cluster representative is the component-minimum id
        assert all(cid <= did and cid in labels for did, cid in labels.items())


class TestTextOpsGates:
    def test_repetition_filter_drops_planted_doubles(self, spark):
        """doc_id % 9 == 0 texts are doubled in-query -> dup_frac ~0.5,
        dropped; ordinary synthetic docs have near-distinct 3-grams."""
        from tesserocr_spark.queries.textops import repetition_filter

        rows = {r.doc_id: r for r in repetition_filter(spark, SF_DIR).collect()}
        planted = [r for i, r in rows.items() if i % 9 == 0 and r.n_grams > 8]
        assert planted
        assert all(not r.keep and r.dup_frac > 0.3 for r in planted)
        clean = [r for i, r in rows.items() if i % 9 != 0 and r.n_grams > 0]
        assert sum(r.keep for r in clean) / len(clean) > 0.9

    def test_pii_scrub_counts_planted_only(self, spark):
        """doc_id % 10 == 0 plants MIXED-CASE PII (Contact BOB…@Mail…COM,
        HTTPS://) — the counts being 1 there proves the case-insensitive
        classes actually match (ADVICE r03: an oracle can't see a miss both
        engines agree on)."""
        from tesserocr_spark.queries.textops import pii_scrub

        rows = pii_scrub(spark, SF_DIR).collect()
        assert any(r.doc_id % 10 == 0 for r in rows)
        for r in rows:
            if r.doc_id % 5 == 0:  # includes the % 10 mixed-case plants
                assert r.n_emails == 1 and r.n_urls == 1, r
            else:
                assert r.n_emails == 0 and r.n_urls == 0, r

    def test_quality_gate_is_the_conjunction_of_its_rules(self, spark):
        from tesserocr_spark.queries.textops import quality_gate_rules

        rows = quality_gate_rules(spark, SF_DIR).collect()
        assert any(r.keep for r in rows) and any(not r.keep for r in rows)
        for r in rows:
            expected = (
                5 <= r.n_words <= 5000
                and 2 <= r.mean_wlen <= 12
                and r.symbol_ratio <= 0.2
                and r.has_stop
            )
            assert r.keep == expected, r

    def test_repetition_filter_short_docs_no_crash(self, spark, tmp_path):
        """sequence(1, 0) DESCENDS in Spark: documents with < 3 words must
        yield n_grams = 0 (keep = False), not an out-of-bounds index crash
        under ANSI mode."""
        from tesserocr_spark.queries.textops import repetition_filter

        d = spark.createDataFrame(
            [(1, "hello world"), (2, "one"), (3, ""), (4, "a b c d")],
            "doc_id long, text string",
        )
        d.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        rows = {r.doc_id: r for r in repetition_filter(spark, str(tmp_path)).collect()}
        assert all(rows[i].n_grams == 0 and not rows[i].keep for i in (1, 2, 3))
        assert rows[4].n_grams == 2 and rows[4].keep

    def test_tfidf_top_terms_sound(self, spark):
        """Top-k per doc: at most 5 rows, every term from that document,
        non-negative scores (df <= N so idf >= 0)."""
        from tesserocr_spark.queries.textops import tfidf_top_terms

        per_doc = {}
        for r in tfidf_top_terms(spark, SF_DIR).collect():
            per_doc.setdefault(r.doc_id, []).append(r)
        vocab = {
            r.doc_id: set(r.text.strip().split())
            for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
        }
        assert per_doc and all(len(v) <= 5 for v in per_doc.values())
        for did, terms in per_doc.items():
            assert all(t.term in vocab[did] for t in terms), did
            assert all(t.score >= 0 for t in terms), did

    def test_stratified_sample_rates_and_determinism(self, spark):
        from tesserocr_spark.queries.textops import stratified_sample

        kept = {(r.doc_id, r.lang) for r in stratified_sample(spark, SF_DIR).collect()}
        again = {(r.doc_id, r.lang) for r in stratified_sample(spark, SF_DIR).collect()}
        assert kept == again  # hash sampling: reproducible, not RNG
        totals = {}
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect():
            totals.setdefault(r.lang, [0, 0])[0] += 1
        for did, lang in kept:
            totals[lang][1] += 1
        en_frac = totals["en"][1] / totals["en"][0]
        rest = [v[1] / v[0] for k, v in totals.items() if k != "en"]
        assert 0.1 < en_frac < 0.45  # targets 0.25 (binomial spread at ~200 docs)
        assert all(0.55 < f < 0.95 for f in rest)  # target 0.75

    def test_token_budget_pack_matches_greedy_recompute(self, spark):
        from tesserocr_spark.queries.textops import _PACK_BUDGET, token_budget_pack

        rows = token_budget_pack(spark, SF_DIR).collect()
        by_source = {}
        for r in rows:
            by_source.setdefault(r.source, []).append(r)
        assert len(by_source) > 3
        for src, rs in by_source.items():
            rs.sort(key=lambda r: r.doc_id)
            cum = 0
            for r in rs:
                assert r.shard == cum // _PACK_BUDGET, (src, r)
                cum += r.tokens
            # shards are non-decreasing in pack order
            shards = [r.shard for r in rs]
            assert shards == sorted(shards)

    def test_decontamination_flags_planted_leaks(self, spark):
        """Every planted leak (first-word-dropped copy of an eval doc at
        id + _LEAK_OFFSET) must be flagged against its source eval doc; clean
        training docs must not appear."""
        from pyspark.sql import functions as F

        from tesserocr_spark.queries.textops import (
            _LEAK_OFFSET,
            decontaminate_ngram_overlap,
        )

        rows = {r.doc_id: r for r in decontaminate_ngram_overlap(spark, SF_DIR).collect()}
        evals = [
            r.doc_id
            for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .filter(F.col("doc_id") % 101 == 0)
            .collect()
        ]
        assert evals
        for e in evals:
            leak = rows.get(e + _LEAK_OFFSET)
            assert leak is not None and leak.eval_doc_id == e and leak.overlap_grams >= 1
        # every flagged doc genuinely shares a 5-gram with some eval doc
        # (the small synthetic vocabulary produces NATURAL collisions too —
        # verify against a python recompute rather than assuming only
        # planted leaks appear)
        docs = {
            r.doc_id: r.text.strip().split()
            for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
        }

        def grams(ws):
            return {tuple(ws[i : i + 5]) for i in range(len(ws) - 4)}

        eval_grams = set()
        for e in evals:
            eval_grams |= grams(docs[e])
        for did in rows:
            ws = docs[did] if did in docs else docs[did - _LEAK_OFFSET][1:]
            assert grams(ws) & eval_grams, did


class TestSubstringDedup:
    def test_scan_covers_planted_passage(self, spark):
        """Lee et al. ExactSubstr scan: the 10-word passage planted on
        every doc_id % 5 == 0 doc is covered in all but the packed-order
        first host (doc 0), and when ONLY the passage was covered the
        surviving fingerprint is exactly the original document. (Larger
        covered counts are real: the synthetic docs share template
        prefixes/suffixes, which ARE duplicated 8-grams.)"""
        import hashlib

        from tesserocr_spark.queries.dedup import dedup_substrings

        rows = {r.doc_id: r for r in dedup_substrings(spark, SF_DIR).collect()}
        orig = {
            r.doc_id: r.text.strip()
            for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
        }
        assert rows.keys() == orig.keys()
        # canonical host keeps its copy of the passage
        assert rows[0].n_dup_words == 0
        exact_passage_only = 0
        for i, r in rows.items():
            assert 0 <= r.n_dup_words <= r.n_words, i
            assert abs(r.dup_frac - round(r.n_dup_words / r.n_words, 4)) < 1e-9
            if i % 5 == 0 and i != 0:
                assert r.n_dup_words >= 10, i  # the passage never survives
                if r.n_dup_words == 10:
                    # only the passage was covered -> original text back
                    assert r.kept_fp == hashlib.md5(
                        orig[i].encode()
                    ).hexdigest(), i
                    exact_passage_only += 1
        assert exact_passage_only > 0

    def test_scan_fingerprints_the_frame_text(self, spark):
        """Over dedup_substrings' own planted input, its kept_fp is the md5
        of substring_dedup_frame's text, doc by doc."""
        import hashlib

        from tesserocr_spark.queries.dedup import (
            _SUB_PASSAGE,
            dedup_substrings,
            substring_dedup_frame,
        )

        planted = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id",
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.trim("text"), F.lit(f" {_SUB_PASSAGE}")),
            ).otherwise(F.trim("text")).alias("text"),
        )
        fp = {r.doc_id: r.kept_fp for r in dedup_substrings(spark, SF_DIR).collect()}
        assert fp == {
            r.doc_id: hashlib.md5(r.text.encode()).hexdigest()
            for r in substring_dedup_frame(planted).collect()
        }

    def test_frame_removes_all_but_first_occurrence(self, spark):
        """Production path: cross-doc AND within-doc duplicated windows
        are removed everywhere except the packed-(doc_id, pos)-first
        occurrence; short documents (< 8 words) are never touched."""
        from tesserocr_spark.queries.dedup import substring_dedup_frame

        passage = "one two three four five six seven eight"
        docs = spark.createDataFrame(
            [
                (1, f"{passage} tail words here"),
                (2, f"lead in {passage}"),
                (3, "short doc only"),
                (4, f"{passage} middle {passage}"),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r.text for r in substring_dedup_frame(docs).collect()}
        # doc 1 holds the packed-first occurrence -> untouched
        assert out[1] == f"{passage} tail words here"
        # doc 2's copy is removed, the rest survives in order
        assert out[2] == "lead in"
        # sub-window docs are untouched
        assert out[3] == "short doc only"
        # doc 4: both occurrences are non-canonical (doc 1 owns the window)
        assert out[4] == "middle"
