"""Round-8 build: cascading density-outlier blocking and the auto ladder.

The quadratic hazard this guards: any FIXED plane count gives a fixed
bucket count, so buckets fill linearly with the corpus and the in-bucket
pair product grows quadratically (SCALING_r07 measured 5.77x decade
build for the two-level variant).  The cascade re-blocks every oversized
bucket on the next ladder level, so every non-final bucket is bounded by
max_bucket BY CONSTRUCTION.
"""

from __future__ import annotations

import flink_invoice_processor_spark.functions.similarity as SIM


class TestDensityLadder:
    def test_ladder_grows_with_corpus(self):
        # 2 levels minimum even for tiny corpora
        assert SIM.density_ladder(100, 25) == (4, 10)
        # expected bucket size <= max_bucket at the top level
        assert SIM.density_ladder(25 * (1 << 10), 25) == (4, 10)
        assert SIM.density_ladder(25 * (1 << 10) + 1, 25) == (4, 10, 16)
        assert SIM.density_ladder(25 * (1 << 22) + 1, 25) == (4, 10, 16, 22, 28)
        # 100 TB of 64-dim float32 vectors ~ 4e11 rows: still capped < 48
        lad = SIM.density_ladder(400_000_000_000, 25)
        assert lad[-1] < 48 and (1 << lad[-1]) * 25 >= 400_000_000_000

    def test_ladder_is_strictly_increasing_and_capped(self):
        lad = SIM.density_ladder(10**18, 25)
        assert all(b > a for a, b in zip(lad, lad[1:]))
        assert lad[-1] == 46


class TestDensityCascade:
    def test_cascade_matches_two_level_when_fine_fits(self, spark):
        """With no 10-plane bucket over the cap, the 4-level ladder's
        deeper levels are no-ops and it must equal the legacy two-level
        answer bit for bit."""
        import numpy as np

        rng = np.random.RandomState(41)
        rows = [
            (i, [float(x) for x in v])
            for i, v in enumerate(
                rng.uniform(-0.5, 0.5, size=(60, 8)).astype(np.float32)
            )
        ]
        emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
        legacy = sorted(
            map(
                tuple,
                SIM.density_outliers(
                    emb, dims=8, threshold=0.2, n_planes=4, min_neighbors=2,
                    max_bucket=10, fine_planes=10,
                ).collect(),
            )
        )
        cascade = sorted(
            map(
                tuple,
                SIM.density_outliers(
                    emb, dims=8, threshold=0.2, n_planes=4, min_neighbors=2,
                    max_bucket=10, levels=(4, 10, 16, 22),
                ).collect(),
            )
        )
        assert cascade == legacy

    def test_auto_levels_match_explicit_ladder(self, spark):
        """levels="auto" derives the same ladder density_ladder gives for
        the corpus count, so the answers are identical."""
        import numpy as np

        rng = np.random.RandomState(43)
        rows = [
            (i, [float(x) for x in v])
            for i, v in enumerate(
                rng.uniform(-0.5, 0.5, size=(50, 8)).astype(np.float32)
            )
        ]
        emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
        explicit = sorted(
            map(
                tuple,
                SIM.density_outliers(
                    emb, dims=8, threshold=0.2, n_planes=4, min_neighbors=2,
                    max_bucket=5, levels=SIM.density_ladder(50, 5),
                ).collect(),
            )
        )
        auto = sorted(
            map(
                tuple,
                SIM.density_outliers(
                    emb, dims=8, threshold=0.2, n_planes=4, min_neighbors=2,
                    max_bucket=5, levels="auto",
                ).collect(),
            )
        )
        assert auto == explicit

    def test_duplicate_cluster_survives_every_level(self, spark):
        """Exact duplicates share all signature bits, so they ride the
        cascade to the final level TOGETHER — neighbors are never split
        away, only the block around them shrinks."""
        base = [1.0, 0.0, 0.0, 0.0]
        rows = [(i, base) for i in range(30)] + [(100, [0.0, 1.0, 0.0, 0.0])]
        emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
        out = {
            r.vec_id: r.n_neighbors
            for r in SIM.density_outliers(
                emb, dims=4, threshold=0.3, n_planes=4, min_neighbors=2,
                max_bucket=5, levels=(4, 10, 16, 22),
            ).collect()
        }
        # the 30 duplicates end in one final-level bucket with 29
        # neighbors each -> not flagged; the orthogonal vector is flagged
        assert set(out) == {100}
        assert out[100] == 0

    def test_levels_validation(self, spark):
        import pytest

        emb = spark.createDataFrame(
            [(0, [0.1, 0.2])], "vec_id: long, embedding: array<float>"
        )
        with pytest.raises(ValueError, match="strictly increasing"):
            SIM.density_outliers(
                emb, dims=2, n_planes=4, max_bucket=5, levels=(4, 4, 10)
            )
        with pytest.raises(ValueError, match="start at n_planes"):
            SIM.density_outliers(
                emb, dims=2, n_planes=4, max_bucket=5, levels=(6, 10)
            )
        with pytest.raises(ValueError, match="48 planes"):
            SIM.density_outliers(
                emb, dims=2, n_planes=4, max_bucket=5, levels=(4, 50)
            )


class TestKcoreFrontierPeel:
    def test_multi_round_peel_matches_definition(self, spark):
        import flink_invoice_processor_spark.functions.graph as GR

        # path 1-2-3-4-5 plus a triangle 6-7-8 hanging off 5 via 6:
        # k=2 peels the path ends round by round (multi-round frontier),
        # leaving exactly the triangle with degree 2 each
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (6, 8), (7, 8)],
            "a: long, b: long",
        )
        out = {r.doc_id: r.core_degree for r in GR.kcore(edges, k=2).collect()}
        assert out == {6: 2, 7: 2, 8: 2}

    def test_whole_graph_is_core(self, spark):
        import flink_invoice_processor_spark.functions.graph as GR

        # K4: every node degree 3, nothing peels, returns in round 1
        edges = spark.createDataFrame(
            [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)],
            "a: long, b: long",
        )
        out = {r.doc_id: r.core_degree for r in GR.kcore(edges, k=3).collect()}
        assert out == {1: 3, 2: 3, 3: 3, 4: 3}

    def test_everything_peels_to_empty(self, spark):
        import flink_invoice_processor_spark.functions.graph as GR

        edges = spark.createDataFrame([(1, 2), (2, 3)], "a: long, b: long")
        assert GR.kcore(edges, k=3).count() == 0

    def test_fixpoint_exactly_at_cap_returns_core(self, spark):
        import flink_invoice_processor_spark.functions.graph as GR

        # triangle {0,1,2} + tail 2-3-4: the k=2 peel drops 4 (round 1)
        # then 3 (round 2) — fixpoint exactly AT max_rounds=2.  The
        # post-budget single-peel probe must prove convergence (the
        # probe is a no-op) and return the triangle; the pre-round-9
        # schedule raised spuriously here
        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)], "a: long, b: long"
        )
        out = {
            r.doc_id: r.core_degree
            for r in GR.kcore(edges, k=2, max_rounds=2).collect()
        }
        assert out == {0: 2, 1: 2, 2: 2}

    def test_long_tail_escalates_and_converges(self, spark):
        import flink_invoice_processor_spark.functions.graph as GR

        # 20-node path, k=2: one endpoint pair drops per round (10 rounds
        # of tiny frontiers) — exercises the adaptive 8-peels-per-action
        # escalation; the core is empty
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(20)], "a: long, b: long"
        )
        assert GR.kcore(edges, k=2, max_rounds=16).count() == 0

    def test_unconverged_within_cap_raises_loudly(self, spark):
        import pytest

        import flink_invoice_processor_spark.functions.graph as GR

        # 30-node path needs 15 k=2 peel rounds; max_rounds=4 must raise
        # (returning a superset would silently hash-mismatch the
        # unrolled oracle)
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(30)], "a: long, b: long"
        )
        with pytest.raises(RuntimeError, match="max_rounds"):
            GR.kcore(edges, k=2, max_rounds=4).count()


class TestMatryoshkaFidelity:
    def test_hand_computed_fractions(self, spark):
        # v1 = [3,4,0,0]: prefix-1 carries 9/25 = 0.36 of squared norm
        # v2 = [0,0,1,1]: prefix-1 carries 0
        emb = spark.createDataFrame(
            [(1, [3.0, 4.0, 0.0, 0.0]), (2, [0.0, 0.0, 1.0, 1.0])],
            "vec_id: long, embedding: array<float>",
        )
        out = {
            r.k_dims: (r.n_vecs, r.mean_frac6, r.min_frac6)
            for r in SIM.matryoshka_fidelity(emb, ks=(1, 4)).collect()
        }
        assert out[1] == (2, (360000 + 0) // 2, 0)
        assert out[4] == (2, 1000000, 1000000)

    def test_zero_vectors_excluded(self, spark):
        emb = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, None)],
            "vec_id: long, embedding: array<float>",
        )
        out = SIM.matryoshka_fidelity(emb, ks=(1,)).collect()
        assert len(out) == 1 and out[0].n_vecs == 1

    def test_magnitude_guard_fails_loudly(self, spark):
        import pytest

        emb = spark.createDataFrame(
            [(1, [4000.0, 0.0])], "vec_id: long, embedding: array<float>"
        )
        with pytest.raises(Exception, match="int64 square range"):
            SIM.matryoshka_fidelity(emb, ks=(1,)).collect()


class TestFsops:
    def test_delete_matching_dirs(self, spark, tmp_path):
        from flink_invoice_processor_spark.functions.fsops import (
            delete_matching_dirs,
        )

        base = tmp_path / "store"
        for b in (3, 4):
            for bucket in (0, 1):
                d = base / f"bucket={bucket}" / f"batch={b}"
                d.mkdir(parents=True)
                (d / "part-0.parquet").write_bytes(b"x")
        n = delete_matching_dirs(spark, str(base / "bucket=*" / "batch=3"))
        assert n == 2
        left = sorted(p.name for p in base.glob("bucket=*/batch=*"))
        assert left == ["batch=4", "batch=4"]
        # no matches -> 0, no error (compaction re-run tolerance)
        assert delete_matching_dirs(
            spark, str(base / "bucket=*" / "batch=3")
        ) == 0

    def test_list_partition_values_skips_non_integer_names(self, spark, tmp_path):
        from flink_invoice_processor_spark.functions.fsops import (
            list_partition_values,
        )

        base = tmp_path / "store"
        for name in ("batch=2", "batch=0", "batch=__HIVE_DEFAULT_PARTITION__", "batch=0.tmp"):
            (base / "bucket=0" / name).mkdir(parents=True)
        (base / "bucket=1" / "batch=2").mkdir(parents=True)
        assert list_partition_values(
            spark, str(base / "bucket=*" / "batch=*"), "batch"
        ) == [0, 2]


class TestReviewFixes:
    """Round-8 adversarial review: edge cases the oracle can't see."""

    def test_levels_without_max_bucket_raises(self, spark):
        import pytest

        emb = spark.createDataFrame(
            [(0, [0.1, 0.2])], "vec_id: long, embedding: array<float>"
        )
        with pytest.raises(ValueError, match="levels without max_bucket"):
            SIM.density_outliers(emb, dims=2, n_planes=4, levels=(4, 10))

    def test_single_level_ladder_raises(self, spark):
        import pytest

        emb = spark.createDataFrame(
            [(0, [0.1, 0.2])], "vec_id: long, embedding: array<float>"
        )
        with pytest.raises(ValueError, match="at least 2 levels"):
            SIM.density_outliers(
                emb, dims=2, n_planes=8, max_bucket=5, levels=(8,)
            )
        with pytest.raises(ValueError, match="no room for a second level"):
            SIM.density_ladder(100, 25, n_planes=46)

    def test_saturating_quantization_fails_loudly(self, spark):
        """A double beyond the int64 micro-quantization range must FAIL
        loudly on every ANSI setting: under ANSI (this session) the cast
        itself raises CAST_OVERFLOW; under ansi=off the cast saturates
        to Long.MIN_VALUE — whose abs() overflows back NEGATIVE, so the
        guards are range checks (BETWEEN), never abs()-based."""
        import pytest

        emb = spark.createDataFrame(
            [(0, [-1.0e13, 0.0])], "vec_id: long, embedding: array<float>"
        )
        loud = "int64 square range|pair-product range|CAST_OVERFLOW"
        with pytest.raises(Exception, match=loud):
            SIM.matryoshka_fidelity(emb, ks=(1,)).collect()
        with pytest.raises(Exception, match=loud):
            SIM.dim_stats(emb).collect()
        with pytest.raises(Exception, match=loud):
            SIM.vector_stat_partials(emb).collect()

    def test_adaptive_view_readable_before_first_batch(self, spark, tmp_path):
        from flink_invoice_processor_spark.streaming.curation_job import (
            adaptive_survivors,
            calibrated_scores,
            init_scored_table,
        )

        scored = str(tmp_path / "scored")
        hist = str(tmp_path / "hist")
        init_scored_table(spark, scored)
        # histogram table reads empty gracefully already; the view must too
        assert adaptive_survivors(spark, scored, hist).count() == 0
        assert calibrated_scores(spark, scored, hist).count() == 0


class TestFuzzyContamination:
    def test_orientations_and_exclusions(self, spark):
        import flink_invoice_processor_spark.functions.dedup as DD

        pairs = spark.createDataFrame(
            [
                (1, 10, 0.9),   # train 1 vs eval 10 -> flags 1
                (20, 3, 0.8),   # eval 20 vs train 3 -> flags 3
                (10, 20, 0.7),  # eval-eval -> excluded
                (2, 4, 0.6),    # train-train -> excluded
            ],
            "doc_id_a: long, doc_id_b: long, jaccard: double",
        )
        # duplicate membership rows must not multiply the report
        eval_ids = spark.createDataFrame(
            [(10,), (20,), (10,)], "doc_id: long"
        )
        out = sorted(
            map(tuple, DD.fuzzy_contamination(pairs, eval_ids).collect())
        )
        assert out == [(1, 10, 0.9), (3, 20, 0.8)]


class TestClusterWeightedSample:
    def test_singletons_always_survive_and_big_clusters_thin(self, spark):
        import flink_invoice_processor_spark.functions.dedup as DD

        rows = [(i, 0, 200) for i in range(200)] + [
            (1000 + i, 1000 + i, 1) for i in range(20)
        ]
        clusters = spark.createDataFrame(
            rows, "doc_id: long, cluster_id: long, cluster_size: long"
        )
        kept = DD.cluster_weighted_sample(clusters).collect()
        singles = [r for r in kept if r.cluster_size == 1]
        bigs = [r for r in kept if r.cluster_size == 200]
        assert len(singles) == 20          # probability 1
        assert len(bigs) < 20              # ~1 in expectation from 200


class TestRateSpikes:
    def test_spike_flagged_warmup_not(self, spark):
        from datetime import datetime, timedelta

        from flink_invoice_processor_spark.functions.windows import (
            rate_spikes,
        )

        base = datetime(2026, 1, 1)
        rows = []
        # 30 steady hours of 10 events, then one hour of 100
        for h in range(30):
            rows += [
                (h * 1000 + i, base + timedelta(hours=h), "click")
                for i in range(10)
            ]
        rows += [
            (99000 + i, base + timedelta(hours=30), "click")
            for i in range(100)
        ]
        ev = spark.createDataFrame(
            rows, "event_id: long, ts: timestamp, event_type: string"
        )
        out = rate_spikes(ev, spike_x=3, trailing=24, min_history=12).collect()
        assert len(out) == 1
        r = out[0]
        assert r.cnt == 100 and r.prev_n == 24 and r.prev_sum == 240

    def test_early_hours_never_flag(self, spark):
        from datetime import datetime, timedelta

        from flink_invoice_processor_spark.functions.windows import (
            rate_spikes,
        )

        base = datetime(2026, 1, 1)
        rows = [(0, base, "x")] + [
            (100 + i, base + timedelta(hours=1), "x") for i in range(500)
        ]
        ev = spark.createDataFrame(
            rows, "event_id: long, ts: timestamp, event_type: string"
        )
        # huge spike at hour 1, but only 1 hour of history -> warm-up
        assert rate_spikes(ev, min_history=12).count() == 0
