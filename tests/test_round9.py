"""Round-9 additions: ADVICE regression pins (broadcast-hint honesty,
relocatable fixture path) and tests for the round's new operators."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

from bigdata_group4_app_spark.operators import dedup, multimodal

from .conftest import SF_CORRECT, check_registered


def _plan(df) -> str:
    return df._jdf.queryExecution().sparkPlan().toString()


class TestAdviceBroadcastHonesty:
    """ADVICE r8: three dedup-family queries broadcast-hinted relations
    that are corpus-sized (or unbounded) at scale. Pins for the fixes."""

    def test_incremental_lsh_default_is_size_driven(self, spark):
        """Default regime (no threshold): NO eager scan at construction
        — the strategy is left to runtime sizes; at toy SF Catalyst's
        size estimate broadcasts the band table on its own."""
        df = dedup.incremental_minhash_lsh(spark, SF_CORRECT)
        assert "BroadcastHashJoin" in _plan(df)

    def test_incremental_lsh_explicit_guard_regimes(self, spark):
        """Explicit-threshold regimes (for AQE-off pipelines): above
        the threshold the hint is dropped and the probe is a plain
        shuffle join on (seed, mh) — the plan a corpus-side keyed band
        sink would serve at 100 TB; below it the hint forces BHJ. At
        toy SF Catalyst auto-broadcasts either way, so the regimes only
        separate with auto-broadcast OFF."""
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            guarded = _plan(
                dedup.incremental_minhash_lsh(
                    spark, SF_CORRECT, broadcast_max_bands=0
                )
            )
            hinted = _plan(
                dedup.incremental_minhash_lsh(
                    spark, SF_CORRECT, broadcast_max_bands=10**9
                )
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert "SortMergeJoin" in guarded or "ShuffledHashJoin" in guarded
        assert guarded.count("BroadcastHashJoin") < hinted.count(
            "BroadcastHashJoin"
        )

    def test_guard_regimes_agree_on_values(self, spark):
        """Both plan shapes are the SAME operator: row-for-row equal."""
        a = dedup.incremental_minhash_lsh(spark, SF_CORRECT)
        b = dedup.incremental_minhash_lsh(
            spark, SF_CORRECT, broadcast_max_bands=0
        )
        assert a.exceptAll(b).limit(1).count() == 0
        assert b.exceptAll(a).limit(1).count() == 0

    def test_cluster_histogram_label_join_is_size_driven(self, spark):
        """No explicit broadcast hint on the cluster-label relation —
        its size is bounded by near-dup volume, not known a priori."""
        import inspect

        src = inspect.getsource(dedup.dedup_cluster_size_histogram)
        assert "F.broadcast" not in src

    def test_label_relation_consumers_are_size_driven(self):
        """The same rule for every consumer of dup-volume-bounded label
        relations: the shared survivor policy and both corpus funnels
        must not force-broadcast cluster labels (round-9 review). The
        funnels' remaining hints are 1-row stage summaries — those stay."""
        import inspect

        from bigdata_group4_app_spark.operators import similarity

        assert "F.broadcast" not in inspect.getsource(dedup._survivor_report)
        for fn, labels in (
            (dedup.corpus_dedup_pipeline, ("clusters",)),
            (similarity.corpus_semantic_pipeline, ("mh", "sem")),
        ):
            src = inspect.getsource(fn)
            for lab in labels:
                assert f"F.broadcast({lab}" not in src, (fn.__name__, lab)

    def test_band_tuning_broadcasts_candidate_bounded_sigs(self, spark):
        """The signatures joined back onto the pair relation must be
        semi-joined to candidate doc ids first (candidate-bounded),
        never the corpus-sized signature relation."""
        import inspect

        src = inspect.getsource(dedup.minhash_band_tuning)
        assert '"semi"' in src


class TestScaledVariantsRegistered:
    """VERDICT r8 item 2: the two scale-safe levers must be REGISTERED
    queries with their own oracles, not documentation."""

    def test_both_registered_with_oracles(self):
        from bigdata_group4_app_spark import registry

        for name in ("ra_link_prediction_scaled", "semantic_dedup_pairs_scaled"):
            assert name in registry.QUERY_REGISTRY, name
            assert name in registry.ORACLE_REGISTRY, name

    def test_oracles_derive_the_lever_not_a_constant(self):
        """The oracle must compute the rate-based threshold from the
        data (scalar subquery), so the lever itself is hash-checked."""
        from bigdata_group4_app_spark.operators import graph, similarity

        assert (
            "count(DISTINCT l_orderkey) //" in graph.ORACLE["ra_link_prediction_scaled"]
        )
        assert (
            "count(*) //" in similarity.ORACLE["semantic_dedup_pairs_scaled"]
        )

    def test_ra_scaled_oracle_parity_where_lever_engages(self, spark):
        """At sf0.1 there are ~150k baskets, so the scaled support is 15
        (not the floor 2) — the thresholds genuinely diverge from the
        fixed entry and the oracle must still match: this is the
        second-SF proof of the lever VERDICT asked for."""
        sf01 = "/root/testdata/sf0.1"
        check_registered(spark, "ra_link_prediction_scaled", sf01)


class TestDistributedEquidepth:
    """VERDICT r8 item 3: the two-pass sharded prefix-sum rank, landed
    as a registered query instead of prose."""

    def test_equals_global_ntile_at_two_sfs(self, spark):
        from bigdata_group4_app_spark.operators.analytics import (
            spend_equidepth_bins,
            spend_equidepth_bins_dist,
        )
        from .conftest import SF_SMOKE

        for sf in (SF_SMOKE, SF_CORRECT):
            a = spend_equidepth_bins(spark, sf)
            b = spend_equidepth_bins_dist(spark, sf)
            assert a.exceptAll(b).limit(1).count() == 0, sf
            assert b.exceptAll(a).limit(1).count() == 0, sf

    def test_no_unpartitioned_row_level_window(self, spark):
        """The fact-level window must carry a partition key (bkt); the
        only no-partition window runs over the tiny bucket relation.
        The global form uses ntile; the dist form must not."""
        from bigdata_group4_app_spark.operators.analytics import (
            spend_equidepth_bins_dist,
        )

        plan = _plan(spend_equidepth_bins_dist(spark, SF_CORRECT))
        assert "ntile" not in plan
        assert "row_number" in plan


_R8_TPCH = [
    "top_revenue_supplier",
    "dominant_part_suppliers",
    "dormant_rich_customers",
    "concentrated_part_values",
    "forecast_discount_revenue",
    "priority_late_orders",
    "returned_item_losses",
    "promo_revenue_share",
    "color_part_profit",
    "supplier_breadth_by_parttype",
    "disjunctive_bulk_revenue",
    "cheapest_supplier_per_part",
    "late_lines_priority_mix",
]


@pytest.mark.parametrize("name", _R8_TPCH)
def test_r8_tpch_oracle_parity_second_sf(spark, name):
    """VERDICT r8 item 5: the round-8 TPC-H shapes are green at sf0.01
    (the parametrized sweep in test_relational); pin them at a SECOND
    SF so threshold-constant fragility (TCLOSE_MAX_BP-class bugs, share
    cutoffs that only hold at one row count) surfaces here before the
    driver sees it."""
    from .conftest import SF_SMOKE

    check_registered(spark, name, SF_SMOKE)


class TestStreamingMinhashIndex:
    """VERDICT r8 item 6: the foreachBatch twin of
    ``incremental_minhash_lsh`` — the daily-ingest story continued past
    batch, with the CDC sink's replay-idempotence discipline."""

    @staticmethod
    def _split(spark, sf_dir):
        from bigdata_group4_app_spark.operators.dedup import INCREMENT_MOD
        from bigdata_group4_app_spark.sources.registry import load_table

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        corpus = docs.filter(F.col("doc_id") % INCREMENT_MOD < 8)
        batch = docs.filter(F.col("doc_id") % INCREMENT_MOD >= 8)
        return corpus, batch

    def test_step_matches_batch_operator(self, spark, tmp_path):
        """Corpus seeded, then the whole new batch in ONE step: the
        new-batch verdicts must equal ``incremental_minhash_lsh``."""
        from bigdata_group4_app_spark.streaming.sinks import minhash_index_step

        state = str(tmp_path / "mh_state")
        corpus, batch = self._split(spark, SF_CORRECT)
        minhash_index_step(corpus, state)
        minhash_index_step(batch, state)
        batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
        got = {
            r["doc_id"]: (r["verdict"], r["n_corpus_dups"], r["n_batch_dups"])
            for r in spark.read.parquet(f"{state}/verdicts").collect()
            if r["doc_id"] in batch_ids
        }
        want = {
            r["doc_id"]: (r["verdict"], r["n_corpus_dups"], r["n_batch_dups"])
            for r in dedup.incremental_minhash_lsh(spark, SF_CORRECT).collect()
        }
        assert got == want

    def test_step_replay_is_idempotent(self, spark, tmp_path):
        """Replaying a micro-batch (crash between write and checkpoint
        commit) adds no verdicts and no state version."""
        import os

        from bigdata_group4_app_spark.streaming.sinks import minhash_index_step

        from .conftest import SF_SMOKE

        state = str(tmp_path / "mh_state")
        corpus, batch = self._split(spark, SF_SMOKE)
        minhash_index_step(corpus, state)
        minhash_index_step(batch, state)
        versions = sorted(os.listdir(state))
        verdicts = sorted(
            map(tuple, spark.read.parquet(f"{state}/verdicts").collect())
        )
        bands = sorted(
            map(tuple, spark.read.parquet(f"{state}/v1/bands").collect())
        )
        minhash_index_step(batch, state)  # replay
        assert sorted(os.listdir(state)) == versions
        assert (
            sorted(map(tuple, spark.read.parquet(f"{state}/verdicts").collect()))
            == verdicts
        )
        assert (
            sorted(map(tuple, spark.read.parquet(f"{state}/v1/bands").collect()))
            == bands
        )

    def test_file_stream_end_to_end(self, spark, tmp_path):
        """The actual writeStream sink over a file source, two
        time-ordered micro-batches — verdicts for the second batch match
        the batch operator at the same SF."""
        from bigdata_group4_app_spark.streaming.sinks import (
            start_minhash_index_sink,
        )
        from bigdata_group4_app_spark.sources.registry import load_table

        from .conftest import SF_SMOKE

        src_dir = tmp_path / "mh_src"
        src_dir.mkdir()
        state = str(tmp_path / "mh_state")
        ckpt = str(tmp_path / "mh_ckpt")
        corpus, batch = self._split(spark, SF_SMOKE)
        corpus.toPandas().to_parquet(src_dir / "b1.parquet", index=False)
        schema = load_table(spark, SF_SMOKE, "documents").select(
            "doc_id", "text"
        ).schema
        stream = spark.readStream.schema(schema).parquet(str(src_dir))
        q = start_minhash_index_sink(stream, state, ckpt)
        try:
            q.processAllAvailable()
            batch.toPandas().to_parquet(src_dir / "b2.parquet", index=False)
            q.processAllAvailable()
        finally:
            q.stop()
        batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
        got = {
            r["doc_id"]: r["verdict"]
            for r in spark.read.parquet(f"{state}/verdicts").collect()
            if r["doc_id"] in batch_ids
        }
        want = {
            r["doc_id"]: r["verdict"]
            for r in dedup.incremental_minhash_lsh(spark, SF_SMOKE).collect()
        }
        assert got == want


class TestRound9NewOps:
    def test_range_audit_oracle_parity_second_sf(self, spark):
        from .conftest import SF_SMOKE

        check_registered(spark, "range_partition_balance_audit", SF_SMOKE)

    def test_range_audit_partitions_cover_all_rows(self, spark):
        """The range assignment is a partition of the fact: row counts
        sum to |orders| and partition ids are the contiguous 0..P-1."""
        from bigdata_group4_app_spark.operators import layout
        from bigdata_group4_app_spark.sources.registry import load_table

        rows = layout.range_partition_balance_audit(
            spark, SF_CORRECT
        ).collect()
        n_orders = load_table(spark, SF_CORRECT, "orders").count()
        assert sum(r["n_rows"] for r in rows) == n_orders
        assert [r["partition_id"] for r in rows] == list(
            range(layout.RANGE_AUDIT_PARTS)
        )
        # sampled boundaries must be sane: no partition more than 2x even
        assert max(r["share_bp"] for r in rows) < 2 * (
            10000 / layout.RANGE_AUDIT_PARTS
        )

    def test_epoch_shuffle_is_a_permutation_per_epoch(self, spark):
        """Positions are exactly 0..N-1 within every epoch; shards are
        contiguous EPOCH_SHARD_DOCS runs; epochs genuinely differ."""
        from bigdata_group4_app_spark.operators import corpus
        from bigdata_group4_app_spark.sources.registry import load_table

        rows = corpus.epoch_shuffle_manifest(spark, SF_CORRECT).collect()
        n_docs = load_table(spark, SF_CORRECT, "documents").count()
        by_epoch = {}
        for r in rows:
            by_epoch.setdefault(r["epoch"], []).append(r)
        assert sorted(by_epoch) == list(range(corpus.EPOCH_COUNT))
        heads = set()
        for ep, shards in by_epoch.items():
            assert sum(r["n_docs"] for r in shards) == n_docs
            shards = sorted(shards, key=lambda r: r["shard_id"])
            assert shards[0]["first_pos"] == 0
            assert shards[-1]["last_pos"] == n_docs - 1
            for r in shards:
                assert r["first_pos"] == r["shard_id"] * corpus.EPOCH_SHARD_DOCS
            heads.add(tuple(r["head_doc_id"] for r in shards))
        # independent md5 keys per epoch: the shard-head sequences differ
        assert len(heads) == corpus.EPOCH_COUNT

    def test_multimodal_union_bridges_modalities(self, spark):
        """The union must actually join evidence: total clustered docs
        ≥ either single channel's, and every evidence label is valid."""
        from bigdata_group4_app_spark.operators.multimodal import (
            multimodal_dup_clusters,
        )

        rows = multimodal_dup_clusters(spark, SF_CORRECT).collect()
        assert rows, "no multimodal clusters at sf0.01"
        assert {r["evidence"] for r in rows} <= {"text", "image", "both"}
        for r in rows:
            assert r["n_docs"] >= 2
            assert r["n_text_edges"] + r["n_image_edges"] >= 1
        # BOTH channels must actually contribute — a silently-dropped
        # evidence arm (empty ipairs/tpairs) would otherwise still pass
        assert sum(r["n_text_edges"] for r in rows) > 0
        assert sum(r["n_image_edges"] for r in rows) > 0


class TestNtileClosedFormProperty:
    """The distributed equi-depth bin formula — bin(rank) computed from
    (n_total, B) closed-form — must equal ntile semantics (first n%B
    buckets take ⌈n/B⌉ rows) for EVERY (n, B), not just the driver SF.
    Pure-Python property test of the arithmetic the SQL expression
    renders; oracle parity pins the SQL itself."""

    @staticmethod
    def _closed_form(rnk: int, n: int, b: int) -> int:
        sz, rem = n // b, n % b
        if rnk <= rem * (sz + 1):
            return (rnk - 1) // (sz + 1) + 1
        return rem + (rnk - rem * (sz + 1) - 1) // max(sz, 1) + 1

    @staticmethod
    def _reference_ntile(n: int, b: int) -> list[int]:
        sizes = [n // b + 1] * (n % b) + [n // b] * (b - n % b)
        out = []
        for bucket, s in enumerate(sizes, start=1):
            out.extend([bucket] * s)
        return out

    def test_matches_reference_ntile(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=300, deadline=None)
        @given(st.integers(1, 400), st.integers(1, 25))
        def check(n, b):
            want = self._reference_ntile(n, b)
            got = [self._closed_form(r, n, b) for r in range(1, n + 1)]
            assert got == want, (n, b)

        check()


class TestSegmentCrashProtocol:
    """An UNCOMMITTED segment (crash between the parquet writes and the
    version-level _SUCCESS) must be invisible to readers and simply
    overwritten by the replayed step."""

    def test_uncommitted_segment_ignored_and_bypassed(
        self, spark, tmp_path
    ):
        import os

        from bigdata_group4_app_spark.operators.dedup import INCREMENT_MOD
        from bigdata_group4_app_spark.sources.registry import load_table
        from bigdata_group4_app_spark.streaming.sinks import (
            _committed_versions,
            minhash_index_step,
            read_minhash_index,
        )

        from .conftest import SF_SMOKE

        state = str(tmp_path / "mh_state")
        docs = load_table(spark, SF_SMOKE, "documents").select(
            "doc_id", "text"
        )
        corpus = docs.filter(F.col("doc_id") % INCREMENT_MOD < 8)
        batch = docs.filter(F.col("doc_id") % INCREMENT_MOD >= 8)
        minhash_index_step(corpus, state)
        assert _committed_versions(state) == [0]

        # simulate a crash: v1 exists with partial data but NO _SUCCESS
        wreck = batch.limit(3)
        wreck.selectExpr("doc_id", "1 as seed", "2 as mh").write.parquet(
            f"{state}/v1/bands"
        )
        assert _committed_versions(state) == [0]
        _, bands = read_minhash_index(spark, state)
        n_before = bands.count()

        # replayed step claims a FRESH version past the wreckage (round
        # 11: the atomic claim never reuses an existing directory — the
        # orphan could equally be a concurrent writer's in-progress
        # segment) and commits normally; the wreckage stays invisible
        minhash_index_step(batch, state)
        assert _committed_versions(state) == [0, 2]
        assert not os.path.exists(f"{state}/v1/_SUCCESS")
        assert os.path.exists(f"{state}/v2/_SUCCESS")
        _, bands_after = read_minhash_index(spark, state)
        batch_docs = {r["doc_id"] for r in batch.collect()}
        indexed = {
            r["doc_id"]
            for r in bands_after.select("doc_id").distinct().collect()
        }
        assert batch_docs <= indexed
        assert bands_after.count() > n_before


class TestFixturePathRelocatable:
    """ADVICE r8: BINARY_FIXTURE must derive from the package location,
    not a hardcoded /root/repo literal."""

    def test_path_derives_from_package(self):
        expected = (
            pathlib.Path(multimodal.__file__).resolve().parents[2]
            / "fixtures"
            / "binary_assets.parquet"
        )
        assert multimodal.BINARY_FIXTURE == str(expected)
        assert expected.exists()

    def test_oracle_interpolates_the_same_path(self):
        assert (
            multimodal.BINARY_FIXTURE
            in multimodal.ORACLE["binary_asset_profile"]
        )
