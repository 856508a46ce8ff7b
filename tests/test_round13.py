"""Round-13 additions: ADVICE r12 fixes (cow_delete_range head pin,
sink schema carry-forward), catalog commit auto-rebase, merge-on-read
delete files, manifest commit timestamps / AS-OF reads, and the
two-lane wide SimHash."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

import bigdata_group4_app_spark.operators.snapshots as S
from .conftest import SF_CORRECT, SF_SMOKE


def _mk_catalog(spark, d: str, rows, name="base") -> int:
    """Tiny single-table catalog: one committed snapshot of `t` with
    measured vec_id zone maps."""
    df = spark.createDataFrame(rows, "vec_id long, label long")
    rel = S.write_segment(df, d, "t", name)
    b = df.agg(F.min("vec_id"), F.max("vec_id")).collect()[0]
    return S.commit_snapshot(
        d,
        {"t": [rel]},
        stats={"t": {rel: {"vec_id_min": b[0], "vec_id_max": b[1]}}},
    )


class TestDeleteHeadPin:
    """ADVICE r12: cow_delete_range gains an expected_head pin so a
    fixture builder can't compute a delete from (and commit onto) a
    concurrent winner's snapshot."""

    def test_stale_expected_head_raises_before_any_write(
        self, spark, tmp_path
    ):
        d = str(tmp_path / "cat")
        _mk_catalog(spark, d, [(1, 10), (2, 20), (3, 30)])
        # advance the head: a second writer committed meanwhile
        m = S.read_manifest(d, 0)
        S.commit_snapshot(d, dict(m["tables"]), stats=m.get("stats", {}))
        assert S.committed_snapshot_ids(d) == [0, 1]
        with pytest.raises(S.CommitConflict):
            S.cow_delete_range(
                spark, d, "t", "vec_id", 1, 2, "del", expected_head=0
            )
        # no spurious snapshot, no segment written
        assert S.committed_snapshot_ids(d) == [0, 1]
        assert not os.path.exists(os.path.join(d, "segments", "t", "del"))

    def test_matching_expected_head_commits(self, spark, tmp_path):
        d = str(tmp_path / "cat")
        _mk_catalog(spark, d, [(1, 10), (2, 20), (3, 30)])
        sid = S.cow_delete_range(
            spark, d, "t", "vec_id", 1, 1, "del", expected_head=0
        )
        assert sid == 1
        t = S.read_snapshot_table(spark, d, "t", 1)
        assert sorted(r["vec_id"] for r in t.collect()) == [2, 3]


class TestSinkSchemaCarryForward:
    """ADVICE r12: a streaming catalog commit must carry the head's
    committed schemas forward like every other catalog mutator."""

    def test_catalog_commit_step_preserves_head_schema(
        self, spark, tmp_path
    ):
        from bigdata_group4_app_spark.streaming.sinks import (
            catalog_commit_step,
        )

        d = str(tmp_path / "cat")
        # bootstrap: one committed batch, then evolve the schema in a
        # stats-only style commit carrying a documents DDL
        b1 = spark.createDataFrame(
            [(1, "aa"), (2, "bb")], "doc_id long, text string"
        )
        catalog_commit_step(b1, d)
        head = S.read_manifest(d, S.committed_snapshot_ids(d)[-1])
        ddl = "doc_id BIGINT, text STRING"
        S.commit_snapshot(
            d,
            {t: list(v) for t, v in head["tables"].items()},
            stats=head.get("stats", {}),
            schemas={"documents": ddl},
        )
        b2 = spark.createDataFrame([(3, "cc")], "doc_id long, text string")
        sid = catalog_commit_step(b2, d)
        assert sid is not None
        m = S.read_manifest(d, sid)
        assert m["schemas"] == {"documents": ddl}


class TestCommitRebase:
    """VERDICT r12 item 1: commit_snapshot_rebase — automatic rebase
    for commuting deltas, CommitConflict only for true conflicts."""

    def test_append_rebases_over_interleaved_commit(self, spark, tmp_path):
        d = str(tmp_path / "cat")
        _mk_catalog(spark, d, [(1, 10)], name="s0")
        base = S.committed_snapshot_ids(d)[-1]
        # interloper: appends its own segment after our base read
        df = spark.createDataFrame([(2, 20)], "vec_id long, label long")
        other = S.write_segment(df, d, "t", "s1")
        S.commit_snapshot_rebase(d, appends={"t": [other]}, base_head=base)
        # our append (computed from the stale base) still lands, and the
        # interloper's segment is NOT dropped
        df2 = spark.createDataFrame([(3, 30)], "vec_id long, label long")
        mine = S.write_segment(df2, d, "t", "s2")
        sid = S.commit_snapshot_rebase(
            d, appends={"t": [mine]}, base_head=base
        )
        m = S.read_manifest(d, sid)
        assert set(m["tables"]["t"]) == {
            "segments/t/s0", "segments/t/s1", "segments/t/s2",
        }

    def test_replace_conflicts_when_table_moved(self, spark, tmp_path):
        d = str(tmp_path / "cat")
        _mk_catalog(spark, d, [(1, 10)], name="s0")
        base = S.committed_snapshot_ids(d)[-1]
        df = spark.createDataFrame([(2, 20)], "vec_id long, label long")
        other = S.write_segment(df, d, "t", "s1")
        S.commit_snapshot_rebase(d, appends={"t": [other]}, base_head=base)
        # a replace computed from the stale base must refuse: blindly
        # re-applying would drop segment s1 (lost update)
        rep = S.write_segment(df, d, "t", "merged")
        with pytest.raises(S.CommitConflict):
            S.commit_snapshot_rebase(
                d, replaces={"t": [rep]}, base_head=base
            )

    def test_replace_rebases_when_other_table_moved(self, spark, tmp_path):
        d = str(tmp_path / "cat")
        _mk_catalog(spark, d, [(1, 10)], name="s0")
        base = S.committed_snapshot_ids(d)[-1]
        df = spark.createDataFrame([(7, 70)], "vec_id long, label long")
        urel = S.write_segment(df, d, "u", "u0")
        S.commit_snapshot_rebase(d, appends={"u": [urel]}, base_head=base)
        rep = S.write_segment(df, d, "t", "merged")
        sid = S.commit_snapshot_rebase(
            d, replaces={"t": [rep]}, base_head=base
        )
        m = S.read_manifest(d, sid)
        assert m["tables"]["t"] == ["segments/t/merged"]
        assert m["tables"]["u"] == ["segments/u/u0"]  # winner kept

    def test_replay_append_is_noop(self, spark, tmp_path):
        d = str(tmp_path / "cat")
        _mk_catalog(spark, d, [(1, 10)], name="s0")
        sid = S.commit_snapshot_rebase(
            d, appends={"t": ["segments/t/s0"]}, base_head=0
        )
        assert sid == 0  # segment already listed: no empty commit
        assert S.committed_snapshot_ids(d) == [0]

    def test_ingest_and_compaction_threads_both_commit(
        self, spark, tmp_path
    ):
        """The verdict's done-criteria: an ingest thread (6 catalog sink
        batches) and a compaction thread (3 compactions) race on one
        catalog WITHOUT manual retry; no document is lost or duplicated
        and the final stats row equals the corpus."""
        import threading

        from bigdata_group4_app_spark.streaming.sinks import (
            catalog_commit_step,
        )

        d = str(tmp_path / "cat")
        # bootstrap so the compactor always has a head to read
        catalog_commit_step(
            spark.createDataFrame(
                [(0, "seed")], "doc_id long, text string"
            ),
            d,
        )
        batches = [
            [(10 * b + i, f"doc-{10 * b + i}") for i in range(4)]
            for b in range(1, 7)
        ]
        errs: list[Exception] = []

        def ingest():
            try:
                for rows in batches:
                    catalog_commit_step(
                        spark.createDataFrame(
                            rows, "doc_id long, text string"
                        ),
                        d,
                    )
            except Exception as e:  # pragma: no cover - fail loudly
                errs.append(e)

        def compactor():
            try:
                for i in range(3):
                    S.compact_table(spark, d, "documents", f"c{i}")
            except Exception as e:  # pragma: no cover - fail loudly
                errs.append(e)

        t1 = threading.Thread(target=ingest)
        t2 = threading.Thread(target=compactor)
        t1.start(); t2.start(); t1.join(); t2.join()
        assert errs == []

        expect = {0} | {r[0] for rows in batches for r in rows}
        docs = S.read_snapshot_table(spark, d, "documents")
        got = [r["doc_id"] for r in docs.collect()]
        assert len(got) == len(expect), "duplicate or lost documents"
        assert set(got) == expect
        st = S.read_snapshot_table(spark, d, "doc_stats").collect()
        assert len(st) == 1
        assert st[0]["n_docs"] == len(expect)
        total_chars = len("seed") + sum(
            len(r[1]) for rows in batches for r in rows
        )
        assert st[0]["n_chars"] == total_chars


class TestMorDelete:
    """VERDICT r12 item 3: merge-on-read delete files — O(keys) commit,
    reader-side anti-join, compaction folds them in."""

    def _keys(self, spark, vals):
        return spark.createDataFrame([(v,) for v in vals], "vec_id long")

    def test_commit_is_o_keys_and_read_anti_joins(self, spark, tmp_path):
        d = str(tmp_path / "cat")
        rows = [(i, 10 * i) for i in range(20)]
        _mk_catalog(spark, d, rows)
        before = S.read_manifest(d, 0)
        sid = S.mor_delete_keys(
            spark, d, "t", "vec_id", self._keys(spark, [3, 7, 7, 11]), "dk0"
        )
        m = S.read_manifest(d, sid)
        # O(keys): the DATA segment list is byte-identical — nothing
        # was rewritten; the only new artifact is the delete file
        assert m["tables"]["t"] == before["tables"]["t"]
        assert m["deletes"]["t"] == [
            {  # dedup'd, and read back through its committed schema
                "path": "segments/t/dk0",
                "col": "vec_id",
                "n": 3,
                "ddl": "vec_id BIGINT",
            }
        ]
        got = sorted(
            r["vec_id"]
            for r in S.read_snapshot_table(spark, d, "t", sid).collect()
        )
        assert got == [i for i in range(20) if i not in (3, 7, 11)]
        # pinned pre-delete reader still sees every row
        assert S.read_snapshot_table(spark, d, "t", 0).count() == 20

    def test_mor_read_equals_cow_delete_on_same_range(
        self, spark, tmp_path
    ):
        rows = [(i, 10 * i) for i in range(30)]
        lo, hi = 5, 12
        d1 = str(tmp_path / "cow")
        _mk_catalog(spark, d1, rows)
        cow_sid = S.cow_delete_range(
            spark, d1, "t", "vec_id", lo, hi, "del"
        )
        d2 = str(tmp_path / "mor")
        _mk_catalog(spark, d2, rows)
        mor_sid = S.mor_delete_keys(
            spark, d2, "t", "vec_id",
            self._keys(spark, list(range(lo, hi + 1))), "dk0",
        )
        cow = sorted(
            map(tuple, S.read_snapshot_table(spark, d1, "t", cow_sid).collect())
        )
        mor = sorted(
            map(tuple, S.read_snapshot_table(spark, d2, "t", mor_sid).collect())
        )
        assert cow == mor

    def test_null_keys_and_null_rows_survive(self, spark, tmp_path):
        d = str(tmp_path / "cat")
        df = spark.createDataFrame(
            [(1, 10), (None, 20), (3, 30)], "vec_id long, label long"
        )
        rel = S.write_segment(df, d, "t", "base")
        S.commit_snapshot(d, {"t": [rel]})
        sid = S.mor_delete_keys(
            spark, d, "t", "vec_id",
            spark.createDataFrame(
                [(1,), (None,)], "vec_id long"
            ),
            "dk0",
        )
        m = S.read_manifest(d, sid)
        assert m["deletes"]["t"][0]["n"] == 1  # NULL key dropped
        got = {
            (r["vec_id"], r["label"])
            for r in S.read_snapshot_table(spark, d, "t", sid).collect()
        }
        # the NULL-keyed ROW survives: anti-join can't prove it equal
        assert (None, 20) in got and (3, 30) in got and (1, 10) not in got

    def test_empty_keys_is_noop(self, spark, tmp_path):
        d = str(tmp_path / "cat")
        _mk_catalog(spark, d, [(1, 10)])
        sid = S.mor_delete_keys(
            spark, d, "t", "vec_id", self._keys(spark, []), "dk0"
        )
        assert sid == 0
        assert S.committed_snapshot_ids(d) == [0]

    def test_compaction_folds_delete_files(self, spark, tmp_path):
        d = str(tmp_path / "cat")
        _mk_catalog(spark, d, [(i, 10 * i) for i in range(10)])
        S.mor_delete_keys(spark, d, "t", "vec_id", self._keys(spark, [2]), "dk0")
        S.mor_delete_keys(spark, d, "t", "vec_id", self._keys(spark, [5]), "dk1")
        head = S.committed_snapshot_ids(d)[-1]
        assert len(S.read_manifest(d, head)["deletes"]["t"]) == 2
        sid = S.compact_table(spark, d, "t", "merged")
        m = S.read_manifest(d, sid)
        assert m["deletes"].get("t", []) == []  # retired by the replace
        assert m["tables"]["t"] == ["segments/t/merged"]
        got = sorted(
            r["vec_id"]
            for r in S.read_snapshot_table(spark, d, "t", sid).collect()
        )
        assert got == [i for i in range(10) if i not in (2, 5)]
        # delete files stay referenced by the PRE-compaction snapshots:
        # vacuum must not touch them until those expire
        assert S.vacuum_catalog(d) == []
        S.expire_snapshots(d, keep_last=1)
        removed = S.vacuum_catalog(d)
        assert "segments/t/dk0" in removed and "segments/t/dk1" in removed

    def test_cow_delete_carries_mor_files_forward(self, spark, tmp_path):
        d = str(tmp_path / "cat")
        _mk_catalog(spark, d, [(i, 10 * i) for i in range(10)])
        S.mor_delete_keys(spark, d, "t", "vec_id", self._keys(spark, [9]), "dk0")
        sid = S.cow_delete_range(spark, d, "t", "vec_id", 0, 2, "del")
        m = S.read_manifest(d, sid)
        assert m["deletes"]["t"][0]["path"] == "segments/t/dk0"
        got = sorted(
            r["vec_id"]
            for r in S.read_snapshot_table(spark, d, "t", sid).collect()
        )
        # both the COW range AND the MOR key are gone
        assert got == [3, 4, 5, 6, 7, 8]

    def test_fixture_snapshot_f_readback_equals_derivation(self, spark):
        """Non-tautology rule: the committed store read-back equals the
        drift+MOR derivation the oracle replays."""
        from bigdata_group4_app_spark.sources.registry import load_table

        d = S.ensure_fixture_catalog(spark, SF_CORRECT)
        store = S.read_snapshot_table(spark, d, "documents", S.SNAP_F_ID)
        docs = load_table(spark, SF_CORRECT, "documents").select(
            "doc_id", "lang", "source", "text"
        )
        derived = (
            docs.filter(
                (F.col("doc_id") % S.SNAP_DEL_MOD != S.SNAP_DEL_RES)
                & (F.col("doc_id") % S.MOR_DEL_MOD != S.MOR_DEL_RES)
            )
            .withColumn(
                "source",
                F.when(
                    F.col("doc_id") % S.SNAP_CHG_MOD == S.SNAP_CHG_RES,
                    F.concat(F.col("source"), F.lit("-v2")),
                ).otherwise(F.col("source")),
            )
        )
        st = sorted(
            map(tuple, store.select("doc_id", "lang", "source", "text").collect())
        )
        dv = sorted(map(tuple, derived.collect()))
        assert st == dv


class TestTimestampsAsOf:
    """VERDICT r12 item 5: injected commit timestamps, AS-OF-timestamp
    resolution, age-based expiry."""

    def test_as_of_picks_latest_at_or_before(self, spark, tmp_path):
        d = str(tmp_path / "cat")
        df = spark.createDataFrame([(1, 10)], "vec_id long, label long")
        rel = S.write_segment(df, d, "t", "s0")
        S.commit_snapshot(d, {"t": [rel]}, committed_at=1000)
        S.commit_snapshot(d, {"t": [rel]}, committed_at=2000)
        S.commit_snapshot(d, {"t": [rel]}, committed_at=3000)
        assert S.snapshot_as_of(d, 2500) == 1
        assert S.snapshot_as_of(d, 2000) == 1  # inclusive
        assert S.snapshot_as_of(d, 99999) == 2
        with pytest.raises(LookupError):
            S.snapshot_as_of(d, 999)

    def test_untimed_snapshots_are_as_of_invisible(self, spark, tmp_path):
        d = str(tmp_path / "cat")
        df = spark.createDataFrame([(1, 10)], "vec_id long, label long")
        rel = S.write_segment(df, d, "t", "s0")
        S.commit_snapshot(d, {"t": [rel]}, committed_at=1000)
        S.commit_snapshot(d, {"t": [rel]})  # untimed interloper
        assert S.snapshot_as_of(d, 5000) == 0

    def test_expire_older_than_respects_keep_last_floor(
        self, spark, tmp_path
    ):
        d = str(tmp_path / "cat")
        df = spark.createDataFrame([(1, 10)], "vec_id long, label long")
        rel = S.write_segment(df, d, "t", "s0")
        S.commit_snapshot(d, {"t": [rel]}, committed_at=1000)
        S.commit_snapshot(d, {"t": [rel]})  # untimed: never ages out
        S.commit_snapshot(d, {"t": [rel]}, committed_at=3000)
        S.commit_snapshot(d, {"t": [rel]}, committed_at=4000)
        # cutoff above every timestamp, but keep_last=2 floors the head
        # two; the untimed snapshot survives on principle
        dropped = S.expire_snapshots(d, keep_last=2, older_than=99999)
        assert dropped == [0]
        assert S.committed_snapshot_ids(d) == [1, 2, 3]

    def test_fixture_timestamps_are_the_injected_epochs(self, spark):
        d = S.ensure_fixture_catalog(spark, SF_CORRECT)
        for sid in S.committed_snapshot_ids(d):
            assert S.read_manifest(d, sid)["committed_at"] == S.fixture_ts(
                sid
            )


class TestWideSimHash:
    """Two-lane 120-bit SimHash: lane A pins to the 60-bit signature,
    block banding pins complete vs brute force, and the packed-counter
    aggregate pins to an unpacked per-lane replay."""

    def test_lane_a_equals_60bit_signature(self, spark):
        from bigdata_group4_app_spark.operators.dedup import (
            simhash_hamming_signatures,
            simhash_wide_signatures,
        )

        wide = {
            r["doc_id"]: (r["sig_a"], r["sig_b"])
            for r in simhash_wide_signatures(spark, SF_SMOKE).collect()
        }
        narrow = {
            r["doc_id"]: r["sig"]
            for r in simhash_hamming_signatures(spark, SF_SMOKE).collect()
        }
        assert set(wide) == set(narrow)
        assert all(wide[d][0] == narrow[d] for d in narrow)

    def test_pigeonhole_complete_vs_brute_force(self, spark):
        from bigdata_group4_app_spark.operators.dedup import (
            WSH_MAX_HAMMING,
            simhash_wide_pairs,
            simhash_wide_signatures,
        )

        sigs = sorted(
            simhash_wide_signatures(spark, SF_SMOKE).collect(),
            key=lambda r: r["doc_id"],
        )
        brute = {}
        for i, a in enumerate(sigs):
            for b in sigs[i + 1:]:
                d = bin(a["sig_a"] ^ b["sig_a"]).count("1") + bin(
                    a["sig_b"] ^ b["sig_b"]
                ).count("1")
                if d <= WSH_MAX_HAMMING:
                    brute[(a["doc_id"], b["doc_id"])] = d
        got = {
            (r["doc_id_1"], r["doc_id_2"]): r["hamming"]
            for r in simhash_wide_pairs(spark, SF_SMOKE).collect()
        }
        assert got == brute
        assert brute  # non-vacuous: the smoke corpus has near-dups

    def test_wide_hamming_lower_bounded_by_narrow(self, spark):
        # lane A IS the 60-bit signature, so 120-bit distance >= 60-bit
        # distance on every pair; any wide pair at k<=5 whose narrow
        # distance <=3 must appear in the narrow query too.
        from bigdata_group4_app_spark.operators.dedup import (
            simhash_hamming_pairs,
            simhash_hamming_signatures,
            simhash_wide_pairs,
        )

        narrow_sig = {
            r["doc_id"]: r["sig"]
            for r in simhash_hamming_signatures(spark, SF_SMOKE).collect()
        }
        narrow_pairs = {
            (r["doc_id_1"], r["doc_id_2"])
            for r in simhash_hamming_pairs(spark, SF_SMOKE).collect()
        }
        for r in simhash_wide_pairs(spark, SF_SMOKE).collect():
            nd = bin(
                narrow_sig[r["doc_id_1"]] ^ narrow_sig[r["doc_id_2"]]
            ).count("1")
            assert r["hamming"] >= nd
            if nd <= 3:
                assert (r["doc_id_1"], r["doc_id_2"]) in narrow_pairs


class TestBranchRefs:
    """Round-13 branch/tag refs: CAS advance, tag immutability,
    fast-forward descent requirement, ref-pinned expiry."""

    def test_tag_is_immutable(self, spark, tmp_path):
        d = str(tmp_path / "cat")
        _mk_catalog(spark, d, [(1, 10)])
        S.create_ref(d, "v1.0", 0, "tag")
        assert S.resolve_ref(d, "v1.0") == 0
        m = S.read_manifest(d, 0)
        S.commit_snapshot(d, dict(m["tables"]))
        with pytest.raises(S.RefConflict):
            S._advance_ref(d, "v1.0", 0, 1)
        with pytest.raises(S.RefConflict):
            S.fast_forward(d, "v1.0", "main")

    def test_create_existing_ref_conflicts(self, spark, tmp_path):
        d = str(tmp_path / "cat")
        _mk_catalog(spark, d, [(1, 10)])
        S.create_ref(d, "b", 0)
        S.create_ref(d, "b", 0)  # identical: idempotent accept
        m = S.read_manifest(d, 0)
        S.commit_snapshot(d, dict(m["tables"]))
        with pytest.raises(S.RefConflict):
            S.create_ref(d, "b", 1)

    def test_branch_commit_invisible_to_main(self, spark, tmp_path):
        d = str(tmp_path / "cat")
        _mk_catalog(spark, d, [(1, 10), (2, 20)])
        S.create_ref(d, "audit", 0)
        df = spark.createDataFrame([(9, 90)], "vec_id long, label long")
        rel = S.write_segment(df, d, "t", "staged")
        base = S.read_manifest(d, 0)["tables"]["t"]
        sid = S.commit_to_branch(
            d, "audit", {"t": base + [rel]}, expected_sid=0
        )
        assert sid == 1
        assert S.resolve_ref(d, "audit") == 1
        # the IMPLICIT main (no explicit ref yet) skips branch-stamped
        # snapshots: staging never moves main
        assert S.resolve_ref(d, "main") == 0
        assert S.read_manifest(d, sid)["parent"] == 0
        assert S.read_manifest(d, sid)["branch"] == "audit"
        rows = S.read_snapshot_table(spark, d, "t", 0).count()
        assert rows == 2  # main's snapshot unchanged
        assert S.read_snapshot_table(spark, d, "t", sid).count() == 3

    def test_fast_forward_requires_descent(self, spark, tmp_path):
        d = str(tmp_path / "cat")
        _mk_catalog(spark, d, [(1, 10)])
        m = S.read_manifest(d, 0)
        # two siblings of 0: a main advance and a branch commit
        S.commit_snapshot(d, dict(m["tables"]))  # id 1, parent 0 (main)
        S.create_ref(d, "side", 0)
        sid = S.commit_to_branch(d, "side", dict(m["tables"]))  # id 2, parent 0
        assert sid == 2
        # main is now at 1; side@2 does NOT descend from 1
        with pytest.raises(S.RefConflict):
            S.fast_forward(d, "main", "side")

    def test_branch_cas_race_single_winner(self, spark, tmp_path):
        import threading

        d = str(tmp_path / "cat")
        _mk_catalog(spark, d, [(1, 10)])
        S.create_ref(d, "b", 0)
        m = S.read_manifest(d, 0)
        errs, oks = [], []

        def stage(tag):
            try:
                oks.append(
                    S.commit_to_branch(
                        d, "b", dict(m["tables"]), expected_sid=0
                    )
                )
            except S.RefConflict:
                errs.append(tag)

        ts = [threading.Thread(target=stage, args=(i,)) for i in range(4)]
        [t.start() for t in ts]
        [t.join() for t in ts]
        # exactly one writer advanced the branch from base 0; each loser
        # saw RefConflict either pre-commit (ref moved) or at the CAS
        assert len(oks) + len(errs) == 4 and len(oks) >= 1
        head_ref = S.resolve_ref(d, "b")
        assert head_ref in oks
        # every non-published snapshot from a lost CAS is parent-0 and
        # unreferenced — expirable, never torn
        for sid in oks:
            assert S.read_manifest(d, sid)["parent"] == 0

    def test_expire_protects_ref_pinned(self, spark, tmp_path):
        d = str(tmp_path / "cat")
        _mk_catalog(spark, d, [(1, 10)])
        m = S.read_manifest(d, 0)
        S.create_ref(d, "pin", 0)
        for _ in range(3):
            S.commit_snapshot(d, dict(m["tables"]))
        dropped = S.expire_snapshots(d, keep_last=1)
        assert 0 not in dropped  # ref-pinned survives
        assert S.committed_snapshot_ids(d) == [0, 3]
        assert S.read_snapshot_table(spark, d, "t", 0).count() == 1


class TestWapCatalog:
    """WAP fixture: the published read equals the derivation (the
    non-tautology rule) and the branch ends in sync with main."""

    def test_published_read_equals_derivation(self, spark):
        from bigdata_group4_app_spark.operators.snapshots import (
            SNAP_CHG_MOD,
            SNAP_CHG_RES,
            SNAP_DEL_MOD,
            SNAP_DEL_RES,
            WAP_SRC_TAG,
            ensure_wap_catalog,
            read_snapshot_table,
            resolve_ref,
        )
        from bigdata_group4_app_spark.sources.registry import load_table

        d = ensure_wap_catalog(spark, SF_CORRECT)
        pub = resolve_ref(d, "main")
        assert pub == resolve_ref(d, "audit") == S.WAP_STAGED_ID
        got = sorted(
            tuple(r)
            for r in read_snapshot_table(
                spark, d, "documents", pub
            ).collect()
        )
        docs = load_table(spark, SF_CORRECT, "documents").select(
            "doc_id", "lang", "source", "text"
        )
        base = docs.filter(
            F.col("doc_id") % SNAP_DEL_MOD != SNAP_DEL_RES
        ).withColumn(
            "source",
            F.when(
                F.col("doc_id") % SNAP_CHG_MOD == SNAP_CHG_RES,
                F.concat(F.col("source"), F.lit("-v2")),
            ).otherwise(F.col("source")),
        )
        staged = docs.filter(
            F.col("doc_id") % SNAP_DEL_MOD == SNAP_DEL_RES
        ).withColumn(
            "source", F.concat(F.col("source"), F.lit(WAP_SRC_TAG))
        )
        want = sorted(
            tuple(r) for r in base.unionByName(staged).collect()
        )
        assert got == want

    def test_as_of_branch_scoped(self, spark, tmp_path):
        # a timed snapshot staged on a side branch is NOT visible to a
        # main-scoped AS-OF resolution, but IS to its own branch's
        d = str(tmp_path / "cat")
        _mk_catalog(spark, d, [(1, 10)])  # id 0, untimed
        m = S.read_manifest(d, 0)
        S.commit_snapshot(d, dict(m["tables"]), committed_at=1000)  # id 1
        S.create_ref(d, "stage", 1)
        S.commit_to_branch(
            d, "stage", dict(m["tables"]), committed_at=2000
        )  # id 2, branch-stamped
        assert S.snapshot_as_of(d, 5000, branch="main") == 1
        assert S.snapshot_as_of(d, 5000, branch="stage") == 2
        assert S.snapshot_as_of(d, 5000) == 2  # legacy whole-pool


class TestBloomSidecars:
    """Round-13 sidecar stat files: the pruning decision is identical
    to the inline form, the manifest sheds its bitsets, and vacuum GCs
    sidecars with the last manifest naming them."""

    def test_sidecar_prune_equals_inline_prune(self, spark):
        d = S.ensure_fixture_catalog(spark, SF_CORRECT)
        inline = S.prune_segments_by_keys(
            d, S.SNAP_E_ID, "documents", "doc_id", S.BLOOM_PROBE_KEYS
        )
        side = S.prune_segments_by_keys(
            d, S.SNAP_G_ID, "documents", "doc_id", S.BLOOM_PROBE_KEYS
        )
        assert side == inline  # same segments (lists carried from E->G)

    def test_manifest_sheds_bitsets_for_refs(self, spark):
        d = S.ensure_fixture_catalog(spark, SF_CORRECT)
        e_stats = S.read_manifest(d, S.SNAP_E_ID)["stats"]["documents"]
        g_stats = S.read_manifest(d, S.SNAP_G_ID)["stats"]["documents"]
        n_inline_e = sum(
            1 for v in e_stats.values() if "doc_id_bloom" in (v or {})
        )
        assert n_inline_e > 0
        assert not any(
            "doc_id_bloom" in (v or {}) for v in g_stats.values()
        )
        refs = [
            v["doc_id_bloom_ref"]
            for v in g_stats.values()
            if "doc_id_bloom_ref" in (v or {})
        ]
        assert len(refs) == n_inline_e
        for ref in refs:
            p = os.path.join(d, ref)
            assert os.path.exists(p)
            body = json.load(open(p))
            assert body["m"] == S.BLOOM_M and body["k"] == S.BLOOM_K
        # byte-identical relocation: sidecar bitsets equal E's inline
        for seg, v in g_stats.items():
            if "doc_id_bloom_ref" in (v or {}):
                got = json.load(
                    open(os.path.join(d, v["doc_id_bloom_ref"]))
                )["bloom"]
                assert got == e_stats[seg]["doc_id_bloom"]

    def test_vacuum_gcs_unreferenced_sidecars(self, spark, tmp_path):
        d = str(tmp_path / "cat")
        _mk_catalog(spark, d, [(1, 10), (2, 20)])
        ref = S.write_bloom_sidecar(d, "segments/t/base", "vec_id", "ff")
        m = S.read_manifest(d, 0)
        S.commit_snapshot(
            d,
            dict(m["tables"]),
            stats={"t": {"segments/t/base": {"vec_id_bloom_ref": ref}}},
        )
        orphan = S.write_bloom_sidecar(d, "segments/t/gone", "vec_id", "00")
        removed = S.vacuum_catalog(d)
        assert os.path.normpath(orphan) in removed
        assert os.path.exists(os.path.join(d, ref))  # referenced survives
        # advance past the referencing snapshot, then expire it -> the
        # sidecar loses its last referencing manifest and GCs
        S.commit_snapshot(d, dict(m["tables"]))
        S.expire_snapshots(d, keep_last=1)
        removed2 = S.vacuum_catalog(d)
        assert os.path.normpath(ref) in removed2


class TestBinpackCompaction:
    """Round-13 partial compaction: merge only the small segments,
    keep the big ones (and their stats), keep the MOR delete files."""

    def _seed(self, spark, d):
        big = spark.range(0, 2000).selectExpr(
            "id AS vec_id", "id * 10 AS label"
        )
        rel_big = S.write_segment(big, d, "t", "big")
        rels = [rel_big]
        for i in range(3):
            df = spark.createDataFrame(
                [(10_000 + 10 * i + j, 1) for j in range(3)],
                "vec_id long, label long",
            )
            rels.append(S.write_segment(df, d, "t", f"small-{i}"))
        S.commit_snapshot(
            d,
            {"t": rels},
            stats={"t": {rel_big: {"vec_id_min": 0, "vec_id_max": 1999}}},
        )
        return rel_big

    def test_binpack_merges_only_small(self, spark, tmp_path):
        d = str(tmp_path / "cat")
        rel_big = self._seed(spark, d)
        before = sorted(
            tuple(r)
            for r in S.read_snapshot_table(spark, d, "t").collect()
        )
        sid = S.compact_table_binpack(
            spark, d, "t", "packed", small_bytes=15_000
        )
        m = S.read_manifest(d, sid)
        assert rel_big in m["tables"]["t"]  # untouched
        assert "segments/t/packed" in m["tables"]["t"]
        assert len(m["tables"]["t"]) == 2  # 3 smalls -> 1
        # untouched segment's zone maps survive the partial rewrite
        assert m["stats"]["t"][rel_big]["vec_id_max"] == 1999
        after = sorted(
            tuple(r)
            for r in S.read_snapshot_table(spark, d, "t", sid).collect()
        )
        assert after == before
        # nothing to pack -> no churn commit
        assert (
            S.compact_table_binpack(
                spark, d, "t", "again", small_bytes=15_000
            )
            is None
        )

    def test_binpack_keeps_delete_files(self, spark, tmp_path):
        d = str(tmp_path / "cat")
        self._seed(spark, d)
        # MOR-delete one key in the BIG segment and one in a small one
        keys = spark.createDataFrame(
            [(5,), (10_001,)], "vec_id long"
        )
        S.mor_delete_keys(spark, d, "t", "vec_id", keys, "mordel")
        sid = S.compact_table_binpack(
            spark, d, "t", "packed", small_bytes=15_000
        )
        m = S.read_manifest(d, sid)
        # delete entries carried: the big segment still holds vec_id=5
        assert [e["path"] for e in m["deletes"]["t"]] == [
            "segments/t/mordel"
        ]
        vals = {
            r["vec_id"]
            for r in S.read_snapshot_table(spark, d, "t", sid).collect()
        }
        assert 5 not in vals and 10_001 not in vals
        assert 10_000 in vals and 4 in vals
        # a FULL compaction afterwards folds the delete files away
        sid2 = S.compact_table(spark, d, "t", "full")
        m2 = S.read_manifest(d, sid2)
        assert m2.get("deletes", {}).get("t", []) == []
        vals2 = {
            r["vec_id"]
            for r in S.read_snapshot_table(spark, d, "t", sid2).collect()
        }
        assert vals2 == vals


class TestStreamingWap:
    """Round-13 streaming write-audit-publish: micro-batches stage on a
    branch, main sees nothing until the audited fast-forward."""

    def _boot(self, spark, d):
        from bigdata_group4_app_spark.streaming.sinks import (
            catalog_commit_step,
        )

        catalog_commit_step(
            spark.createDataFrame(
                [(1, "one"), (2, "two")], "doc_id long, text string"
            ),
            d,
        )

    def test_staged_batches_invisible_until_publish(self, spark, tmp_path):
        from bigdata_group4_app_spark.streaming.sinks import (
            catalog_commit_step_staged,
            publish_staging,
        )

        d = str(tmp_path / "cat")
        self._boot(spark, d)
        base = S.resolve_ref(d, "main")
        for rows in ([(10, "ten"), (11, "eleven")], [(12, "twelve")]):
            sid = catalog_commit_step_staged(
                spark.createDataFrame(rows, "doc_id long, text string"), d
            )
            assert sid is not None
        # main untouched; branch carries the chain
        assert S.resolve_ref(d, "main") == base
        main_ids = {
            r["doc_id"]
            for r in S.read_snapshot_table(
                spark, d, "documents", base
            ).collect()
        }
        assert main_ids == {1, 2}
        staged_sid = S.resolve_ref(d, "staging")
        staged_ids = {
            r["doc_id"]
            for r in S.read_snapshot_table(
                spark, d, "documents", staged_sid
            ).collect()
        }
        assert staged_ids == {1, 2, 10, 11, 12}
        # replaying a staged batch is a no-op (branch-scoped dedup)
        assert (
            catalog_commit_step_staged(
                spark.createDataFrame(
                    [(11, "eleven")], "doc_id long, text string"
                ),
                d,
            )
            is None
        )
        pub = publish_staging(spark, d)
        assert S.resolve_ref(d, "main") == pub == staged_sid
        st = S.read_snapshot_table(spark, d, "doc_stats", pub).collect()[0]
        assert st["n_docs"] == 5

    def test_publish_audit_catches_dup_producer(self, spark, tmp_path):
        from bigdata_group4_app_spark.streaming.sinks import (
            StagingAuditFailure,
            publish_staging,
        )

        d = str(tmp_path / "cat")
        self._boot(spark, d)
        main_sid = S.resolve_ref(d, "main")
        # a buggy producer bypasses the dedup and stages doc_id 1 again
        S.create_ref(d, "staging", main_sid)
        head = S.read_manifest(d, main_sid)
        bad = spark.createDataFrame(
            [(1, "dup!")], "doc_id long, text string"
        )
        rel = S.write_segment(bad, d, "documents", "bad-seg")
        S.commit_to_branch(
            d,
            "staging",
            {
                **{t: list(v) for t, v in head["tables"].items()},
                "documents": head["tables"]["documents"] + [rel],
            },
            expected_sid=main_sid,
        )
        with pytest.raises(StagingAuditFailure):
            publish_staging(spark, d)
        assert S.resolve_ref(d, "main") == main_sid  # main untouched

    def test_abandon_staging_resets_branch(self, spark, tmp_path):
        from bigdata_group4_app_spark.streaming.sinks import (
            abandon_staging,
            catalog_commit_step_staged,
        )

        d = str(tmp_path / "cat")
        self._boot(spark, d)
        base = S.resolve_ref(d, "main")
        catalog_commit_step_staged(
            spark.createDataFrame(
                [(99, "staged")], "doc_id long, text string"
            ),
            d,
        )
        orphan = S.resolve_ref(d, "staging")
        assert orphan != base
        abandon_staging(d)
        assert S.resolve_ref(d, "staging") == base
        # the orphaned chain is expirable (not ref-pinned any more)
        assert orphan not in S.ref_pinned_snapshots(d)


def test_orphan_ref_dir_pins_nothing(spark, tmp_path):
    # a create_ref that died between mkdir and the version link must
    # not crash expiry/pinning — it is invisible, like a manifest temp
    d = str(tmp_path / "cat")
    _mk_catalog(spark, d, [(1, 10)])
    os.makedirs(os.path.join(d, "refs", "half-created"))
    assert S.ref_pinned_snapshots(d) == set()
    m = S.read_manifest(d, 0)
    S.commit_snapshot(d, dict(m["tables"]))
    assert S.expire_snapshots(d, keep_last=1) == [0]


def test_wap_release_tag_pins_published_snapshot(spark):
    from bigdata_group4_app_spark.operators.snapshots import (
        WAP_STAGED_ID,
        ensure_wap_catalog,
        ref_pinned_snapshots,
        resolve_ref,
    )

    d = ensure_wap_catalog(spark, SF_CORRECT)
    assert resolve_ref(d, "published-v1") == WAP_STAGED_ID
    assert WAP_STAGED_ID in ref_pinned_snapshots(d)
    with pytest.raises(S.RefConflict):
        S._advance_ref(d, "published-v1", WAP_STAGED_ID, 0)


class TestPositionDeletes:
    """Round-13 position-scoped MOR deletes: exact physical rows
    removed, later appends untouched, compaction folds them away."""

    def test_exact_rows_removed_multifile(self, spark, tmp_path):
        d = str(tmp_path / "cat")
        # TWO part files in one segment: positions are per-file ordinals
        df = spark.createDataFrame(
            [(v, v) for v in [0, 1, 2, 3, 4, 10, 11, 12, 13, 14]],
            "vec_id long, label long",
        )
        seg = os.path.join(d, "segments", "t", "base")
        df.repartition(2).write.parquet(seg)
        S.commit_snapshot(d, {"t": ["segments/t/base"]})
        # find each row's (file, ordinal) ground truth via _metadata
        rows = (
            spark.read.parquet(seg)
            .select(
                "vec_id",
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("f"),
                F.col("_metadata.row_index").alias("i"),
            )
            .collect()
        )
        victims = {2, 13}
        pos = spark.createDataFrame(
            [(r["f"], r["i"]) for r in rows if r["vec_id"] in victims],
            "file_name string, row_index long",
        )
        sid = S.mor_delete_positions(spark, d, "t", pos, "pd")
        got = {
            r["vec_id"]
            for r in S.read_snapshot_table(spark, d, "t", sid).collect()
        }
        assert got == {0, 1, 3, 4, 10, 11, 12, 14}
        # appending rows at positions that collide with deleted
        # ordinals in OTHER files must not lose them (position scope
        # is per file name)
        c = spark.range(20, 23).selectExpr("id AS vec_id", "id AS label")
        rel_c = S.write_segment(c.repartition(1), d, "t", "later")
        sid2 = S.commit_snapshot_rebase(
            d, appends={"t": [rel_c]}, base_head=sid
        )
        got2 = {
            r["vec_id"]
            for r in S.read_snapshot_table(spark, d, "t", sid2).collect()
        }
        assert got2 == got | {20, 21, 22}
        # full compaction folds + retires position delete files
        sid3 = S.compact_table(spark, d, "t", "full")
        m = S.read_manifest(d, sid3)
        assert m.get("deletes", {}).get("t", []) == []
        got3 = {
            r["vec_id"]
            for r in S.read_snapshot_table(spark, d, "t", sid3).collect()
        }
        assert got3 == got2

    def _k3_deleted(self, spark, d):
        """Two one-file segments holding k = 0..19, with k = 3 removed
        by a position delete."""
        rels = [
            S.write_segment(
                spark.range(lo, lo + 10).selectExpr("id AS k").coalesce(1),
                d,
                "t",
                f"s{lo}",
            )
            for lo in (0, 10)
        ]
        S.commit_snapshot(d, {"t": rels})
        pos = (
            spark.read.parquet(os.path.join(d, rels[0]))
            .filter("k = 3")
            .select(
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("file_name"),
                F.col("_metadata.row_index").alias("row_index"),
            )
        )
        S.mor_delete_positions(spark, d, "t", pos, "pd")

    def _keys(self, spark, d):
        return {r["k"] for r in S.read_snapshot_table(spark, d, "t").collect()}

    def test_binpack_keeps_position_deleted_row_deleted(
        self, spark, tmp_path
    ):
        d = str(tmp_path / "cat")
        self._k3_deleted(spark, d)
        assert self._keys(spark, d) == set(range(20)) - {3}
        S.compact_table_binpack(spark, d, "t", "packed", small_bytes=1 << 30)
        assert self._keys(spark, d) == set(range(20)) - {3}

    def test_cow_delete_keeps_position_deleted_row_deleted(
        self, spark, tmp_path
    ):
        d = str(tmp_path / "cat")
        self._k3_deleted(spark, d)
        S.cow_delete_range(spark, d, "t", "k", 5, 6, "cow")
        assert self._keys(spark, d) == set(range(20)) - {3, 5, 6}

    def test_fixture_read_equals_rank_derivation(self, spark):
        from bigdata_group4_app_spark.operators.snapshots import (
            POSDEL_POS_MOD,
            POSDEL_POS_RES,
            POSDEL_TAB_MOD,
            POSDEL_TAB_RES,
            ensure_posdel_catalog,
            read_snapshot_table,
        )
        from bigdata_group4_app_spark.sources.registry import load_table

        d = ensure_posdel_catalog(spark, SF_CORRECT)
        got = sorted(
            tuple(r)
            for r in read_snapshot_table(spark, d, "archive", 1).collect()
        )
        docs = sorted(
            tuple(r)
            for r in load_table(spark, SF_CORRECT, "documents")
            .select("doc_id", "lang", "source", "text")
            .filter(F.col("doc_id") % POSDEL_TAB_MOD == POSDEL_TAB_RES)
            .collect()
        )
        want = [
            r
            for i, r in enumerate(docs)
            if i % POSDEL_POS_MOD != POSDEL_POS_RES
        ]
        assert got == want
