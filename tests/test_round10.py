"""Round-10 additions: VERDICT r9 items (lazy RA construction, the
distributed-rank conversion of the global-ntile family, streaming-index
segment compaction, snapshot diff) and ADVICE r9 regression pins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from .conftest import (
    SF_CORRECT,
    SF_SMOKE,
    assert_matches_oracle,
    check_registered,
    jobs_during,
)


class TestRaConstructionIsLazy:
    """VERDICT r9 item 2: ra_link_prediction_scaled derived its support
    threshold with an eager driver-side distinct().count() at query-
    construction time, so every plan-only consumer (plan audits,
    EXPLAIN dossiers, bench assembly) paid a lineitem scan. The
    threshold is now a 1-row in-plan aggregate (the oracle's scalar
    subquery), and the shared edge relation is persist()ed instead of
    localCheckpoint()ed — under AQE even eager=False checkpoints
    materialize the upstream query stages at construction."""

    def test_construction_triggers_zero_jobs(self, spark):
        from bigdata_group4_app_spark.operators import graph

        for builder in (graph.ra_link_prediction, graph.ra_link_prediction_scaled):
            _, jobs = jobs_during(
                spark,
                lambda: builder(spark, SF_CORRECT),
                f"construct-{builder.__name__}",
            )
            assert jobs == [], f"{builder.__name__} ran jobs at construction: {jobs}"

    def test_support_is_in_plan(self, spark):
        """The scaled entry's plan must contain the support aggregate
        (count(DISTINCT l_orderkey)) as a subtree — not a baked-in
        literal from a driver-side count."""
        from bigdata_group4_app_spark.operators import graph

        df = graph.ra_link_prediction_scaled(spark, SF_CORRECT)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # the admission filter references the in-plan support attribute
        # (the aggregate itself sits inside the cached-relation subplan,
        # which toString truncates — the attribute reference is the pin)
        assert "support#" in plan
        src_plan = graph.ra_link_prediction_scaled.__doc__ or ""
        assert "in-plan" in src_plan.lower()

    def test_scaled_equals_fixed_where_lever_floors(self, spark):
        """At SF_CORRECT the rate-based support floors to the fixed
        TRI_MIN_SUPPORT, so the in-plan derivation must reproduce the
        fixed entry row-for-row (same pin as r8, re-asserted over the
        new lazy construction)."""
        from bigdata_group4_app_spark.operators import graph

        a = [tuple(r) for r in graph.ra_link_prediction(spark, SF_CORRECT).collect()]
        b = [
            tuple(r)
            for r in graph.ra_link_prediction_scaled(spark, SF_CORRECT).collect()
        ]
        assert a == b


class TestSemanticScaledLeverEngaged:
    """ADVICE r9: semantic_dedup_pairs_scaled's k∝N lever was only
    hash-checked at SFs where k floors to KMEANS_K. This pins oracle
    parity where the lever ENGAGES: with the cell population target
    shrunk to 62, sf0.01's 500 embeddings give k = 500 // 62 = 8 > 4,
    and the Spark Lloyd chain must match the oracle's scalar-subquery-k
    replay exactly."""

    def test_oracle_parity_with_lever_engaged(self, spark, monkeypatch):
        from bigdata_group4_app_spark.operators import similarity

        pop = 62
        assert 500 // pop > similarity.KMEANS_K  # the lever genuinely engages
        monkeypatch.setattr(similarity, "SEMDEDUP_CELL_POP", pop)
        df = similarity.semantic_dedup_pairs_scaled(spark, SF_CORRECT)
        k_sql = (
            f"SELECT greatest({similarity.KMEANS_K}, count(*) // {pop}) "
            "FROM embeddings"
        )
        oracle = f"""
WITH {similarity._duck_semantic_pairs_ctes(k_sql=k_sql)}
SELECT min(cell) AS cell, vec_id_a, vec_id_b, min(cosine) AS cosine
FROM pairs
WHERE cosine >= CAST({similarity.COSINE_DUP_THRESHOLD} AS DOUBLE)
GROUP BY vec_id_a, vec_id_b
ORDER BY cell, vec_id_a, vec_id_b
"""
        assert_matches_oracle(df, oracle, SF_CORRECT)


class TestDistNtileHelperEdgeCases:
    """The shared ranking helper must equal the engine window on the
    shapes that break naive rank schemes: fewer rows than buckets, ties
    everywhere, negative values straddling bucket boundaries, grouped
    ranking, and the empty relation."""

    @staticmethod
    def _engine_ntile(df, b, desc=False):
        from pyspark.sql import Window

        order = (
            [F.desc("v"), F.col("id")] if desc else [F.col("v"), F.col("id")]
        )
        return {
            (r["id"],): r["nt"]
            for r in df.withColumn(
                "nt", F.ntile(b).over(Window.orderBy(*order))
            ).collect()
        }

    @staticmethod
    def _dist(df, b, bucket, desc=False):
        from bigdata_group4_app_spark.functions.ranking import dist_ntile

        order = (
            [F.desc("v"), F.col("id")] if desc else [F.col("v"), F.col("id")]
        )
        return {
            (r["id"],): r["bin"]
            for r in dist_ntile(df, b, bucket, order, out_col="bin").collect()
        }

    @pytest.mark.parametrize(
        "rows,b",
        [
            ([], 4),  # empty relation
            ([(1, 7)], 4),  # n < B
            ([(i, 5) for i in range(9)], 4),  # total ties, tiebreak only
            ([(i, v) for i, v in enumerate([-250, -150, -99, -1, 0, 1, 99, 150])], 3),  # negatives straddle trunc-div boundaries
            ([(i, (i * 37) % 11 - 5) for i in range(40)], 7),
        ],
    )
    def test_matches_engine_ntile(self, spark, rows, b):
        df = spark.createDataFrame(rows, "id long, v long") if rows else (
            spark.createDataFrame([], "id long, v long")
        )
        bucket = F.expr("v div 100")
        assert self._dist(df, b, bucket) == self._engine_ntile(df, b)

    def test_matches_engine_ntile_desc(self, spark):
        rows = [(i, (i * 13) % 7) for i in range(30)]
        df = spark.createDataFrame(rows, "id long, v long")
        assert self._dist(
            df, 5, F.expr("-(v div 2)"), desc=True
        ) == self._engine_ntile(df, 5, desc=True)

    def test_grouped_matches_engine_ntile(self, spark):
        from pyspark.sql import Window

        from bigdata_group4_app_spark.functions.ranking import dist_ntile

        rows = [(i, f"g{i % 3}", (i * 29) % 13) for i in range(50)]
        df = spark.createDataFrame(rows, "id long, g string, v long")
        want = {
            (r["g"], r["id"]): r["nt"]
            for r in df.withColumn(
                "nt",
                F.ntile(4).over(
                    Window.partitionBy("g").orderBy("v", "id")
                ),
            ).collect()
        }
        got = {
            (r["g"], r["id"]): r["bin"]
            for r in dist_ntile(
                df,
                4,
                F.expr("v div 4"),
                [F.col("v"), F.col("id")],
                group_cols=["g"],
                out_col="bin",
            ).collect()
        }
        assert got == want


class TestNtileFamilyConversionParity:
    """VERDICT r9 item 3: the four converted family members NOT in the
    round-10 driver window must still hold their unchanged global-window
    oracles bit-for-bit over the dist_ntile plans (the two that ARE
    pinned elsewhere: spend_equidepth_bins_dist and
    range_partition_balance_audit in test_round9). This test holds the
    sf0.001 leg; the sf0.01 twin is ``test_scoring::test_oracle_parity``."""

    @pytest.mark.parametrize(
        "name",
        ["brier_decomposition", "cumulative_gains_churn"],
    )
    def test_oracle_parity_both_sfs(self, spark, name):
        check_registered(spark, name, SF_SMOKE)


class TestVerdictFreshnessTool:
    """VERDICT r9 item 6: the rotation window must come from the
    measured per-query latest-verdict ledger, not hand-counted prose.
    Unit-tests the folding and window logic on synthetic ledgers, and
    pins that the committed _CHECK_FIRST actually covers every name
    whose latest verdict is round 3 or older (the r10 done-criterion)."""

    def test_ledger_folds_latest_round(self, tmp_path):
        import json
        import sys

        sys.path.insert(0, "/root/repo/scripts")
        from verdict_freshness import load_ledger

        for rnd, names in [(1, ["a", "b"]), (3, ["b", "c"])]:
            with open(tmp_path / f"CORRECTNESS_r{rnd:02d}.json", "w") as f:
                json.dump({n: {"hash_match": True} for n in names}, f)
        ledger, latest, failed = load_ledger(str(tmp_path))
        assert latest == 3
        assert ledger == {"a": 1, "b": 3, "c": 3}
        assert failed == {}

    def test_failed_verdicts_dont_count_as_fresh(self, tmp_path):
        """ADVICE r10: a query that FAILED its latest driver check must
        not be recorded as freshly verified — only green verdicts
        (hash_match true, err null) advance freshness, and a
        latest-verdict failure is surfaced for front-of-window
        placement."""
        import json
        import sys

        sys.path.insert(0, "/root/repo/scripts")
        from verdict_freshness import load_ledger

        with open(tmp_path / "CORRECTNESS_r01.json", "w") as f:
            json.dump(
                {
                    "ok_then_broken": {"hash_match": True, "err": None},
                    "always_ok": {"hash_match": True, "err": None},
                },
                f,
            )
        with open(tmp_path / "CORRECTNESS_r02.json", "w") as f:
            json.dump(
                {
                    "ok_then_broken": {"hash_match": False, "err": None},
                    "errored": {"hash_match": None, "err": "no_oracle"},
                },
                f,
            )
        ledger, latest, failed = load_ledger(str(tmp_path))
        assert latest == 2
        # the r2 failure must NOT advance ok_then_broken's freshness
        assert ledger == {"ok_then_broken": 1, "always_ok": 1}
        assert failed == {"ok_then_broken": 2, "errored": 2}

    def test_window_orders_failed_new_pins_stale(self):
        import sys

        sys.path.insert(0, "/root/repo/scripts")
        from verdict_freshness import next_window

        ledger = {"old1": 1, "old2": 2, "fresh": 9}
        registered = ["fresh", "old2", "brandnew", "old1", "pinned"]
        w = next_window(ledger, registered, budget=4, pins=["pinned"])
        assert w == ["brandnew", "pinned", "old1", "old2"]
        # a latest-verdict failure beats everything, including NEW names
        w = next_window(
            ledger,
            registered,
            budget=4,
            pins=["pinned"],
            failed={"fresh": 9},
        )
        assert w == ["fresh", "brandnew", "pinned", "old1"]

    def test_committed_window_covers_stale_cohort(self):
        import sys

        sys.path.insert(0, "/root/repo/scripts")
        from verdict_freshness import load_ledger

        from bigdata_group4_app_spark import registry

        ledger, latest, failed = load_ledger()
        stale = {
            n
            for n, r in ledger.items()
            if r <= 4 and n in registry.QUERY_REGISTRY
        }
        window = set(registry._CHECK_FIRST[:50])
        assert stale <= window, sorted(stale - window)
        # any latest-verdict failure must be in the window too
        live_failed = set(failed) & set(registry.QUERY_REGISTRY)
        assert live_failed <= window, sorted(live_failed - window)


class TestCorpusSnapshotDiff:
    """VERDICT r9 item 7: cross-version lineage — per-bucket
    added/removed/changed classification between two corpus snapshots,
    built on the checksum machinery."""

    def test_oracle_parity_second_sf(self, spark):
        check_registered(spark, "corpus_snapshot_diff", SF_SMOKE)

    def test_counts_match_simulation_identities(self, spark):
        """The per-bucket counts must reconcile with the deterministic
        drift rules: added = docs in B only, removed = docs in A only,
        changed = mutated docs present in both; clean buckets report
        zero diffs; n_old/n_new sum to the snapshot sizes."""
        from bigdata_group4_app_spark.operators import advanced
        from bigdata_group4_app_spark.sources.registry import load_table

        rows = advanced.corpus_snapshot_diff(spark, SF_CORRECT).collect()
        ids = [
            r["doc_id"]
            for r in load_table(spark, SF_CORRECT, "documents")
            .select("doc_id")
            .collect()
        ]
        A = advanced
        in_a = {i for i in ids if i % A.SNAP_ADD_MOD != A.SNAP_ADD_RES}
        in_b = {i for i in ids if i % A.SNAP_DEL_MOD != A.SNAP_DEL_RES}
        changed = {
            i
            for i in in_a & in_b
            if i % A.SNAP_CHG_MOD == A.SNAP_CHG_RES
        }
        assert sum(r["n_added"] for r in rows) == len(in_b - in_a)
        assert sum(r["n_removed"] for r in rows) == len(in_a - in_b)
        assert sum(r["n_changed"] for r in rows) == len(changed)
        assert sum(r["n_old"] for r in rows) == len(in_a)
        assert sum(r["n_new"] for r in rows) == len(in_b)
        for r in rows:
            if r["is_match"] == 1:
                assert (
                    r["n_added"] == r["n_removed"] == r["n_changed"] == 0
                ), r


def _mh_split(spark, sf_dir):
    from bigdata_group4_app_spark.operators.dedup import INCREMENT_MOD
    from bigdata_group4_app_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % INCREMENT_MOD < 8)
    batch = docs.filter(F.col("doc_id") % INCREMENT_MOD >= 8)
    return corpus, batch


class TestMinhashIndexCompaction:
    """VERDICT r9 item 4: the maintenance half of the append-only
    streaming minhash index — rewrite N committed segments into one,
    commit via the same version-level _SUCCESS protocol plus a
    _COMPACTED_FROM manifest, retire the inputs. Readers must be
    equivalent before/after, an uncommitted compaction must be
    invisible, and a crash AFTER the commit but BEFORE the input
    cleanup must not double-count."""

    def test_reader_equivalence_before_after(self, spark, tmp_path):
        from bigdata_group4_app_spark.streaming.sinks import (
            _live_versions,
            compact_minhash_index,
            minhash_index_step,
            read_minhash_index,
        )

        state = str(tmp_path / "mh_state")
        corpus, batch = _mh_split(spark, SF_SMOKE)
        minhash_index_step(corpus, state)
        minhash_index_step(batch, state)
        sh0, b0 = read_minhash_index(spark, state)
        want_sh = sorted(map(tuple, sh0.collect()))
        want_b = sorted(map(tuple, b0.collect()))

        retired = compact_minhash_index(spark, state)
        assert retired == [0, 1]
        assert _live_versions(state) == [2]
        sh1, b1 = read_minhash_index(spark, state)
        assert sorted(map(tuple, sh1.collect())) == want_sh
        assert sorted(map(tuple, b1.collect())) == want_b

    def test_below_min_segments_is_noop(self, spark, tmp_path):
        from bigdata_group4_app_spark.streaming.sinks import (
            _live_versions,
            compact_minhash_index,
            minhash_index_step,
        )

        state = str(tmp_path / "mh_state")
        corpus, _ = _mh_split(spark, SF_SMOKE)
        minhash_index_step(corpus, state)
        assert compact_minhash_index(spark, state) is None
        assert _live_versions(state) == [0]

    def test_crash_before_commit_is_invisible(self, spark, tmp_path):
        """Wreck a partial compacted segment (members + manifest but no
        _SUCCESS): readers keep the inputs, and a re-run compacts
        normally into a FRESH claimed version past the wreckage (round
        11: the atomic claim never reuses an existing directory — the
        wreckage could equally be a concurrent writer's in-progress
        segment)."""
        import os

        from bigdata_group4_app_spark.streaming.sinks import (
            _live_versions,
            compact_minhash_index,
            minhash_index_step,
            read_minhash_index,
        )

        state = str(tmp_path / "mh_state")
        corpus, batch = _mh_split(spark, SF_SMOKE)
        minhash_index_step(corpus, state)
        minhash_index_step(batch, state)
        sh0, _ = read_minhash_index(spark, state)
        want_sh = sorted(map(tuple, sh0.collect()))

        # simulated crash: v2 half-written, manifest present, NO _SUCCESS
        os.makedirs(f"{state}/v2", exist_ok=True)
        corpus.limit(2).selectExpr(
            "doc_id", "'x' as shingle"
        ).write.parquet(f"{state}/v2/shingles")
        with open(f"{state}/v2/_COMPACTED_FROM", "w") as f:
            f.write("0 1")
        assert _live_versions(state) == [0, 1]  # wreckage invisible
        sh1, _ = read_minhash_index(spark, state)
        assert sorted(map(tuple, sh1.collect())) == want_sh

        retired = compact_minhash_index(spark, state)
        assert retired == [0, 1]
        # the re-run claims v3 (past the uncommitted v2 wreckage)
        assert _live_versions(state) == [3]
        sh2, _ = read_minhash_index(spark, state)
        assert sorted(map(tuple, sh2.collect())) == want_sh

    def test_crash_after_commit_before_vacuum_no_double_count(
        self, spark, tmp_path
    ):
        """vacuum=False simulates a crash between the compaction commit
        and the physical input deletion: input dirs still exist and are
        still _SUCCESS-committed, but the manifest retires them — the
        reader must NOT union them in (no duplicated rows)."""
        import os

        from bigdata_group4_app_spark.streaming.sinks import (
            _committed_versions,
            _live_versions,
            compact_minhash_index,
            minhash_index_step,
            read_minhash_index,
        )

        state = str(tmp_path / "mh_state")
        corpus, batch = _mh_split(spark, SF_SMOKE)
        minhash_index_step(corpus, state)
        minhash_index_step(batch, state)
        sh0, b0 = read_minhash_index(spark, state)
        want_sh = sorted(map(tuple, sh0.collect()))

        retired = compact_minhash_index(spark, state, vacuum=False)
        assert retired == [0, 1]
        # inputs physically present and committed, logically dead
        assert os.path.exists(f"{state}/v0/_SUCCESS")
        assert _committed_versions(state) == [0, 1, 2]
        assert _live_versions(state) == [2]
        sh1, _ = read_minhash_index(spark, state)
        assert sorted(map(tuple, sh1.collect())) == want_sh

    def test_ingest_continues_after_compaction(self, spark, tmp_path):
        """A step after compaction reads the compacted corpus (replayed
        docs contribute nothing; genuinely new docs verdict against it
        exactly as against the original segments) and numbers its
        segment past the compacted version."""
        from bigdata_group4_app_spark.operators import dedup
        from bigdata_group4_app_spark.streaming.sinks import (
            _live_versions,
            compact_minhash_index,
            minhash_index_step,
        )

        state = str(tmp_path / "mh_state")
        ref_state = str(tmp_path / "mh_ref")
        corpus, batch = _mh_split(spark, SF_CORRECT)
        # reference: corpus seeded in two sub-batches, NO compaction
        sub0 = corpus.filter(F.col("doc_id") % 2 == 0)
        sub1 = corpus.filter(F.col("doc_id") % 2 == 1)
        for s in (sub0, sub1):
            minhash_index_step(s, ref_state)
        minhash_index_step(batch, ref_state)

        # compacted run: same sub-batches, compact, then the day batch
        for s in (sub0, sub1):
            minhash_index_step(s, state)
        compact_minhash_index(spark, state)
        assert _live_versions(state) == [2]
        # replay of an already-indexed sub-batch after compaction: no-op
        minhash_index_step(sub0, state)
        assert _live_versions(state) == [2]
        minhash_index_step(batch, state)
        assert _live_versions(state) == [2, 3]

        batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
        got = {
            r["doc_id"]: (r["verdict"], r["n_corpus_dups"], r["n_batch_dups"])
            for r in spark.read.parquet(f"{state}/verdicts").collect()
            if r["doc_id"] in batch_ids
        }
        want = {
            r["doc_id"]: (r["verdict"], r["n_corpus_dups"], r["n_batch_dups"])
            for r in spark.read.parquet(f"{ref_state}/verdicts").collect()
            if r["doc_id"] in batch_ids
        }
        assert got == want
        # and both equal the registered batch operator
        batch_op = {
            r["doc_id"]: (r["verdict"], r["n_corpus_dups"], r["n_batch_dups"])
            for r in dedup.incremental_minhash_lsh(spark, SF_CORRECT).collect()
        }
        assert got == batch_op


class TestEpochShufflePackGuard:
    """ADVICE r9: a doc_id >= 2^31 used to silently corrupt the packed
    head/tail doc ids (packed % 2^31 drops the high bits without
    overflowing). The pack now carries an assert_true guard."""

    def test_oversized_doc_id_fails_loudly(self, spark, tmp_path):
        from bigdata_group4_app_spark.operators import corpus

        d = str(tmp_path / "sf_guard")
        spark.createDataFrame(
            [(1,), (2**31,)], "doc_id bigint"
        ).write.parquet(f"{d}/documents.parquet")
        df = corpus.epoch_shuffle_manifest(spark, d)
        with pytest.raises(Exception, match="doc_id >= 2\\^31"):
            df.collect()

    def test_valid_doc_ids_still_match_oracle(self, spark):
        check_registered(spark, "epoch_shuffle_manifest", SF_SMOKE)
