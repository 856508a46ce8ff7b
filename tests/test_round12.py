"""Round-12 additions.

Covers the r11 ADVICE fixes (thread-unique manifest temp files, actual-
predecessor parent lineage, typed empty-table reads, zone-map-pruned
streaming dedup) and the round's new surface (catalog schema evolution,
Hamming-banded SimHash, MinHash (b,r) banding lever) as they land.
"""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from bigdata_group4_app_spark.operators import snapshots as S

from .conftest import SF_SMOKE


class TestManifestCommitRaces:
    def test_same_process_writers_publish_their_own_bytes(self, tmp_path):
        """ADVICE r11 (medium): two same-process writers racing one id
        must each link their own private temp file — with a pid-keyed
        shared temp the link winner could publish the LOSER'S manifest
        content as its own (silent wrong-content commit). 8 threads ×
        6 blind commits: every returned id's manifest must carry
        exactly the payload that writer sent."""
        d = str(tmp_path / "cat")
        os.makedirs(d)
        results: dict[tuple[int, int], int] = {}
        errors: list[BaseException] = []

        def writer(w: int) -> None:
            try:
                for i in range(6):
                    sid = S.commit_snapshot(
                        d, {"t": [f"segments/t/w{w}-{i}"]}
                    )
                    results[(w, i)] = sid
            except BaseException as e:  # pragma: no cover
                errors.append(e)

        threads = [
            threading.Thread(target=writer, args=(w,)) for w in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors
        ids = sorted(results.values())
        assert ids == list(range(48)), "ids must be distinct and dense"
        for (w, i), sid in results.items():
            m = S.read_manifest(d, sid)
            assert m["tables"] == {"t": [f"segments/t/w{w}-{i}"]}, (
                f"writer {w} commit {i} (id {sid}) published foreign bytes"
            )
        # no temp-file litter
        assert not [f for f in os.listdir(d) if f.endswith(".tmp")]

    def test_blind_commit_parent_is_actual_predecessor(self, tmp_path):
        """ADVICE r11 (low): a blind commit records the snapshot it
        actually follows, even when the caller's parent argument is
        stale (computed before an interleaved writer advanced)."""
        d = str(tmp_path / "cat")
        os.makedirs(d)
        assert S.commit_snapshot(d, {"t": ["a"]}) == 0
        assert S.commit_snapshot(d, {"t": ["b"]}) == 1
        # caller believes head is still 0 — lineage must not skip 1
        sid = S.commit_snapshot(d, {"t": ["c"]}, parent=0)
        assert sid == 2
        assert S.read_manifest(d, sid)["parent"] == 1

    def test_rollback_parent_is_head_it_follows(self, tmp_path):
        d = str(tmp_path / "cat")
        os.makedirs(d)
        S.commit_snapshot(d, {"t": ["a"]})
        S.commit_snapshot(d, {"t": ["b"]})
        rid = S.rollback_snapshot(d, 0)
        m = S.read_manifest(d, rid)
        assert m["tables"] == {"t": ["a"]}
        assert m["parent"] == 1


class TestSchemaEvolution:
    DDL_V1 = "doc_id BIGINT, payload STRING"
    DDL_V2 = "doc_id BIGINT, payload STRING, tier BIGINT"

    def _seed(self, spark, tmp_path):
        d = str(tmp_path / "cat")
        v1 = spark.range(0, 40).selectExpr(
            "id AS doc_id", "CAST(id % 3 AS STRING) AS payload"
        )
        r0 = S.write_segment(v1, d, "t", "s0")
        S.commit_snapshot(d, {"t": [r0]}, schemas={"t": self.DDL_V1})
        v2 = spark.range(40, 60).selectExpr(
            "id AS doc_id",
            "CAST(id % 3 AS STRING) AS payload",
            "id % 4 AS tier",
        )
        r1 = S.write_segment(v2, d, "t", "s1")
        # add-column commit: new segment carries `tier`, old one doesn't
        S.commit_snapshot(
            d, {"t": [r0, r1]}, schemas={"t": self.DDL_V2}
        )
        return d

    def test_add_column_null_backfill_on_read(self, spark, tmp_path):
        d = self._seed(spark, tmp_path)
        df = S.read_snapshot_table(spark, d, "t", 1)
        assert df.columns == ["doc_id", "payload", "tier"]
        rows = {r["doc_id"]: r["tier"] for r in df.collect()}
        assert len(rows) == 60
        assert all(rows[i] is None for i in range(40))
        assert all(rows[i] == i % 4 for i in range(40, 60))

    def test_pinned_pre_evolution_snapshot_keeps_old_schema(
        self, spark, tmp_path
    ):
        d = self._seed(spark, tmp_path)
        df = S.read_snapshot_table(spark, d, "t", 0)
        assert df.columns == ["doc_id", "payload"]
        assert df.count() == 40

    def test_compaction_materializes_evolved_schema(self, spark, tmp_path):
        d = self._seed(spark, tmp_path)
        sid = S.compact_table(spark, d, "t", "s-compact")
        m = S.read_manifest(d, sid)
        assert m["schemas"]["t"] == self.DDL_V2
        assert len(m["tables"]["t"]) == 1
        df = S.read_snapshot_table(spark, d, "t", sid)
        assert df.columns == ["doc_id", "payload", "tier"]
        rows = {r["doc_id"]: r["tier"] for r in df.collect()}
        assert len(rows) == 60 and rows[0] is None and rows[59] == 59 % 4

    def test_empty_segment_list_reads_typed_empty(self, spark, tmp_path):
        """ADVICE r11 (low): a COW delete of every row leaves a
        legitimate empty segment list — the read must return an empty
        frame of the committed schema, not an opaque zero-path error."""
        d = str(tmp_path / "cat")
        os.makedirs(d)
        S.commit_snapshot(d, {"t": []}, schemas={"t": self.DDL_V1})
        df = S.read_snapshot_table(spark, d, "t", 0)
        assert df.columns == ["doc_id", "payload"]
        assert df.count() == 0

    def test_empty_segment_list_without_schema_is_descriptive(
        self, spark, tmp_path
    ):
        d = str(tmp_path / "cat")
        os.makedirs(d)
        S.commit_snapshot(d, {"t": []})
        with pytest.raises(ValueError, match="zero segments"):
            S.read_snapshot_table(spark, d, "t", 0)

    def test_unknown_table_is_descriptive(self, spark, tmp_path):
        d = str(tmp_path / "cat")
        os.makedirs(d)
        S.commit_snapshot(d, {"t": []}, schemas={"t": self.DDL_V1})
        with pytest.raises(KeyError, match="nope"):
            S.read_snapshot_table(spark, d, "nope", 0)


class TestFixtureSchemaEvolution:
    def test_snapshot_c_readback_equals_derivation(self, spark):
        """Non-tautology rule: the oracle replays the tier DERIVATION,
        so pytest must pin that the committed store READ-BACK equals
        that derivation — otherwise the oracle would only check the
        derivation against itself."""
        from bigdata_group4_app_spark.operators import snapshots as S

        d = S.ensure_fixture_catalog(spark, SF_SMOKE)
        got = sorted(
            map(
                tuple,
                S.read_snapshot_table(
                    spark, d, "documents", S.SNAP_C_ID
                ).collect(),
            )
        )
        _, snap_b, _ = S._fixture_frames(spark, SF_SMOKE)
        dirty = S._dirty_buckets(spark, SF_SMOKE)
        from pyspark.sql import functions as F

        want = sorted(
            map(
                tuple,
                snap_b.select(
                    "doc_id",
                    "lang",
                    "source",
                    "text",
                    F.when(
                        F.pmod(
                            F.col("doc_id"), F.lit(S._DOC_SEG_BUCKETS)
                        ).isin([int(x) for x in dirty]),
                        F.col("doc_id") % S.TIER_MOD,
                    ).alias("tier"),
                ).collect(),
            )
        )
        assert got == want
        # both schema regimes actually present in the read
        tiers = {t[-1] for t in got}
        assert None in tiers and len(tiers) > 1

    def test_schema_hints_match_segment_footers(self, spark):
        """The schema hint is trusted, not validated, at read time: every
        (snapshot, table) of the fixture catalogs that commits no schema
        is read with _DOC_SCHEMA_V1 / _EMB_SCHEMA_V1, so the hint's
        columns must equal each listed segment's footer columns — a
        hinted column absent from the segment would read as silent NULLs,
        a segment column absent from the hint would vanish. Footers are
        read with pyarrow: no Spark job."""
        import glob

        import pyarrow.parquet as pq

        hints = {
            "documents": S._DOC_SCHEMA_V1,
            "archive": S._DOC_SCHEMA_V1,
            "embeddings": S._EMB_SCHEMA_V1,
        }
        n_checked = 0
        for d in (
            S.ensure_fixture_catalog(spark, SF_SMOKE),
            S.ensure_wap_catalog(spark, SF_SMOKE),
            S.ensure_posdel_catalog(spark, SF_SMOKE),
        ):
            for sid in S.committed_snapshot_ids(d):
                m = S.read_manifest(d, sid)
                for table, rels in m["tables"].items():
                    if table in m.get("schemas", {}):
                        continue  # the committed schema wins over a hint
                    hinted = {
                        c.split()[0] for c in hints[table].split(", ")
                    }
                    for rel in rels:
                        files = glob.glob(os.path.join(d, rel, "*.parquet"))
                        assert files, f"{d} {rel}: no parquet file"
                        for f in files:
                            assert set(pq.read_schema(f).names) == hinted, (
                                f"{d} snapshot {sid} {table} {f}"
                            )
                            n_checked += 1
        assert n_checked > 0

    def test_pinned_snapshots_keep_pre_evolution_schema(self, spark):
        from bigdata_group4_app_spark.operators import snapshots as S

        d = S.ensure_fixture_catalog(spark, SF_SMOKE)
        for sid in (S.SNAP_A_ID, S.SNAP_B_ID):
            cols = S.read_snapshot_table(
                spark, d, "documents", sid
            ).columns
            assert "tier" not in cols


class TestSimhashHamming:
    def test_banding_is_complete_vs_brute_force(self, spark):
        """Pigeonhole pin: the block-banded join must find EVERY pair
        within Hamming distance HB_MAX_HAMMING = HB_BLOCKS-1 — compare
        against the all-pairs distance set computed driver-side at
        sf0.001 (tiny)."""
        from bigdata_group4_app_spark.operators.dedup import (
            HB_MAX_HAMMING,
            simhash_hamming_pairs,
            simhash_hamming_signatures,
        )

        sigs = {
            r["doc_id"]: r["sig"]
            for r in simhash_hamming_signatures(spark, SF_SMOKE).collect()
        }
        ids = sorted(sigs)
        want = {
            (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if bin(sigs[a] ^ sigs[b]).count("1") <= HB_MAX_HAMMING
        }
        got = {
            (r["doc_id_1"], r["doc_id_2"], r["hamming"])
            for r in simhash_hamming_pairs(spark, SF_SMOKE).collect()
        }
        assert got == want
        assert want, "degenerate fixture: no near-dup pairs at sf0.001"

    def test_k0_rows_are_exact_equality_dups(self, spark):
        from bigdata_group4_app_spark.operators.dedup import (
            simhash_hamming_pairs,
            simhash_hamming_signatures,
        )

        sigs = {
            r["doc_id"]: r["sig"]
            for r in simhash_hamming_signatures(spark, SF_SMOKE).collect()
        }
        zero = {
            (r["doc_id_1"], r["doc_id_2"])
            for r in simhash_hamming_pairs(spark, SF_SMOKE).collect()
            if r["hamming"] == 0
        }
        ids = sorted(sigs)
        want = {
            (a, b)
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if sigs[a] == sigs[b]
        }
        assert zero == want


class TestMinhashBandingLever:
    def test_scaled_output_is_subset_of_r1_mining(self, spark):
        """An (b=4, r=2) candidate must agree on both components of a
        band, hence on each individually — so every scaled VERIFIED
        pair is also an r=1 verified pair (banding only prunes
        candidates; the exact-Jaccard verify is shared)."""
        from bigdata_group4_app_spark.operators.dedup import (
            minhash_lsh_pairs,
            minhash_lsh_pairs_scaled,
        )

        full = {
            (r["doc_id_1"], r["doc_id_2"], r["jaccard"])
            for r in minhash_lsh_pairs(spark, SF_SMOKE).collect()
        }
        scaled = {
            (r["doc_id_1"], r["doc_id_2"], r["jaccard"])
            for r in minhash_lsh_pairs_scaled(spark, SF_SMOKE).collect()
        }
        assert scaled <= full

    def test_audit_volume_column_is_suffix_sum(self, spark):
        from bigdata_group4_app_spark.operators.dedup import (
            minhash_accuracy_audit,
        )

        rows = minhash_accuracy_audit(spark, SF_SMOKE).collect()
        # rows ordered by n_match asc; volume_ge is the suffix sum
        suffix = 0
        for r in reversed(rows):
            suffix += r["n_pairs"]
            assert r["cand_volume_ge"] == suffix


class TestCowDeleteRange:
    DDL = "k BIGINT, v STRING"

    def _seed(self, spark, tmp_path):
        """Three range-clustered segments with committed zone maps:
        [0,99], [100,199], [200,299]."""
        d = str(tmp_path / "cat")
        rels, stats = [], {}
        for lo in (0, 100, 200):
            df = spark.range(lo, lo + 100).selectExpr(
                "id AS k", "CAST(id % 7 AS STRING) AS v"
            )
            rel = S.write_segment(df, d, "t", f"s{lo}")
            rels.append(rel)
            stats[rel] = {"k_min": lo, "k_max": lo + 99}
        S.commit_snapshot(
            d, {"t": rels}, stats={"t": stats}, schemas={"t": self.DDL}
        )
        return d, rels

    def test_delete_prunes_blast_radius_and_keeps_by_reference(
        self, spark, tmp_path
    ):
        d, rels = self._seed(spark, tmp_path)
        sid = S.cow_delete_range(spark, d, "t", "k", 120, 180, "del1")
        assert sid == 1
        m = S.read_manifest(d, 1)
        segs = m["tables"]["t"]
        # untouched segments kept by reference (same paths), one rewrite
        assert rels[0] in segs and rels[2] in segs
        assert rels[1] not in segs
        assert len(segs) == 3
        got = sorted(
            r["k"] for r in S.read_snapshot_table(spark, d, "t", 1).collect()
        )
        assert got == [k for k in range(300) if not (120 <= k <= 180)]
        # new segment carries measured bounds for future pruning
        new_rel = next(p for p in segs if p not in rels)
        assert m["stats"]["t"][new_rel] == {"k_min": 100, "k_max": 199}
        # pinned pre-delete reader still sees every row (time travel)
        assert S.read_snapshot_table(spark, d, "t", 0).count() == 300

    def test_delete_outside_all_zone_maps_is_noop(self, spark, tmp_path):
        d, rels = self._seed(spark, tmp_path)
        sid = S.cow_delete_range(spark, d, "t", "k", 500, 600, "del2")
        assert sid == 0  # unchanged head, no new snapshot
        assert S.committed_snapshot_ids(d) == [0]

    def test_delete_entire_segment_drops_it_from_the_list(
        self, spark, tmp_path
    ):
        d, rels = self._seed(spark, tmp_path)
        sid = S.cow_delete_range(spark, d, "t", "k", 100, 199, "del3")
        segs = S.read_manifest(d, sid)["tables"]["t"]
        assert segs == [rels[0], rels[2]]
        assert S.read_snapshot_table(spark, d, "t", sid).count() == 200

    def test_null_key_rows_survive(self, spark, tmp_path):
        d = str(tmp_path / "cat")
        df = spark.range(0, 50).selectExpr(
            "CASE WHEN id % 10 = 0 THEN NULL ELSE id END AS k",
            "CAST(id AS STRING) AS v",
        )
        rel = S.write_segment(df, d, "t", "s0")
        # no stats: segment conservatively treated as overlapping
        S.commit_snapshot(d, {"t": [rel]}, schemas={"t": self.DDL})
        sid = S.cow_delete_range(spark, d, "t", "k", 0, 100, "del4")
        rows = S.read_snapshot_table(spark, d, "t", sid).collect()
        assert len(rows) == 5
        assert all(r["k"] is None for r in rows)
        # review r12: the all-NULL survivor segment must get NO zone
        # map (not a {None, None} entry), and a later prune on the
        # table must still work — conservatively scanning it
        m = S.read_manifest(d, sid)
        (new_rel,) = m["tables"]["t"]
        assert "k_min" not in m.get("stats", {}).get("t", {}).get(
            new_rel, {}
        )
        assert S.prune_segments_by_range(d, sid, "t", "k", 0, 10) == [
            new_rel
        ]
        # and a second range delete over the poisoned-in-the-old-code
        # state completes instead of raising TypeError
        sid2 = S.cow_delete_range(spark, d, "t", "k", 0, 10, "del5")
        assert S.read_snapshot_table(spark, d, "t", sid2).count() == 5

    def test_fixture_snapshot_d_is_the_generic_delete(self, spark):
        """Non-tautology pin for catalog_takedown_read: the committed
        snapshot-D read-back equals the derivation the oracle replays
        (evens minus the takedown range), and the untouched segments
        are the SAME paths as snapshot C's."""
        d = S.ensure_fixture_catalog(spark, SF_SMOKE)
        got = sorted(
            r["vec_id"]
            for r in S.read_snapshot_table(
                spark, d, "embeddings", S.SNAP_D_ID
            ).collect()
        )
        from bigdata_group4_app_spark.sources.registry import load_table

        want = sorted(
            r["vec_id"]
            for r in load_table(spark, SF_SMOKE, "embeddings")
            .filter("vec_id % 2 = 0")
            .filter(f"vec_id NOT BETWEEN {S.TKDN_LO} AND {S.TKDN_HI}")
            .collect()
        )
        assert got == want and got
        mc = set(S.read_manifest(d, S.SNAP_C_ID)["tables"]["embeddings"])
        md = set(S.read_manifest(d, S.SNAP_D_ID)["tables"]["embeddings"])
        assert mc - md, "at least one segment was retired"
        assert md & mc, "untouched segments shared by reference"


class TestBloomManifestStats:
    def test_bloom_prune_never_skips_a_segment_holding_a_key(self, spark):
        """Completeness (the only correctness property a bloom owes):
        for every probe key PRESENT in snapshot B, the segment that
        holds it must survive pruning — checked against brute-force
        per-bucket membership from the derivation."""
        d = S.ensure_fixture_catalog(spark, SF_SMOKE)
        _, snap_b, _ = S._fixture_frames(spark, SF_SMOKE)
        present = {
            r["doc_id"]
            for r in snap_b.select("doc_id")
            .filter(F.col("doc_id").isin(S.BLOOM_PROBE_KEYS))
            .collect()
        }
        assert present, "no probe key present: degenerate fixture"
        pruned = set(
            S.prune_segments_by_keys(
                d, S.SNAP_E_ID, "documents", "doc_id", S.BLOOM_PROBE_KEYS
            )
        )
        listed = S.read_manifest(d, S.SNAP_E_ID)["tables"]["documents"]
        by_bucket = {
            int(p.rsplit("seg=", 1)[1]): p for p in listed
        }
        for k in present:
            assert by_bucket[k % S._DOC_SEG_BUCKETS] in pruned
        # and it actually prunes: deleted/absent keys don't force scans
        assert len(pruned) < len(listed)

    def test_store_bloom_equals_derivation_bloom(self, spark):
        """Non-tautology: the manifest's committed bitsets equal a
        fresh driver-side rebuild from the derivation frame."""
        d = S.ensure_fixture_catalog(spark, SF_SMOKE)
        _, snap_b, _ = S._fixture_frames(spark, SF_SMOKE)
        want = S.compute_segment_blooms(
            snap_b.select(
                "doc_id",
                F.pmod(
                    F.col("doc_id"), F.lit(S._DOC_SEG_BUCKETS)
                ).alias("seg"),
            ),
            "seg",
            "doc_id",
        )
        m = S.read_manifest(d, S.SNAP_E_ID)
        st = m["stats"]["documents"]
        by_bucket = {
            int(p.rsplit("seg=", 1)[1]): p
            for p in m["tables"]["documents"]
        }
        assert set(want) == set(by_bucket)
        for b, hexbits in want.items():
            assert st[by_bucket[b]]["doc_id_bloom"] == hexbits

    def test_segment_without_bloom_is_kept_conservatively(
        self, spark, tmp_path
    ):
        d = str(tmp_path / "cat")
        df = spark.range(0, 10).selectExpr("id AS k", "'x' AS v")
        rel = S.write_segment(df, d, "t", "s0")
        S.commit_snapshot(d, {"t": [rel]})  # no stats at all
        keep = S.prune_segments_by_keys(d, 0, "t", "k", [99999])
        assert keep == [rel]

    def test_stats_only_commit_changes_no_table_list(self, spark):
        d = S.ensure_fixture_catalog(spark, SF_SMOKE)
        md = S.read_manifest(d, S.SNAP_D_ID)
        me = S.read_manifest(d, S.SNAP_E_ID)
        assert me["tables"] == md["tables"]
        assert me["parent"] == S.SNAP_D_ID
        assert me["schemas"] == md["schemas"]


class TestCatalogSinkPrunedDedup:
    def _batch(self, spark, lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS doc_id", "repeat('x', CAST(id % 5 + 1 AS INT)) AS text"
        )

    def test_seen_read_is_zone_map_pruned(self, spark, tmp_path):
        """ADVICE r11 (low): the exactly-once anti-join must not
        re-read the whole committed corpus per micro-batch. Committed
        segments carry (doc_id_min, doc_id_max) zone maps; a batch's
        dedup read opens only overlapping segments."""
        from bigdata_group4_app_spark.streaming.sinks import (
            catalog_commit_step,
        )

        d = str(tmp_path / "cat")
        assert catalog_commit_step(self._batch(spark, 0, 100), d) == 0
        assert catalog_commit_step(self._batch(spark, 100, 200), d) == 1
        assert catalog_commit_step(self._batch(spark, 200, 300), d) == 2
        m = S.read_manifest(d, 2)
        segs = m["tables"]["documents"]
        assert len(segs) == 3
        st = m["stats"]["documents"]
        assert st[segs[0]] == {"doc_id_min": 0, "doc_id_max": 99}
        assert st[segs[2]] == {"doc_id_min": 200, "doc_id_max": 299}
        # a batch in [120, 180] may only open the middle segment
        keep = S.prune_segments_by_range(
            d, 2, "documents", "doc_id", 120, 180
        )
        assert keep == [segs[1]]

    def test_replay_still_exactly_once_under_pruning(self, spark, tmp_path):
        """A replayed batch's ids lie inside their original segment's
        zone map by construction, so pruning can never unblock a
        duplicate: the replay commits nothing."""
        from bigdata_group4_app_spark.streaming.sinks import (
            catalog_commit_step,
        )

        d = str(tmp_path / "cat")
        assert catalog_commit_step(self._batch(spark, 0, 50), d) == 0
        assert catalog_commit_step(self._batch(spark, 50, 90), d) == 1
        # full replay of batch 2: nothing new, no snapshot
        assert catalog_commit_step(self._batch(spark, 50, 90), d) is None
        # partial overlap: only the genuinely-new tail commits
        assert catalog_commit_step(self._batch(spark, 80, 120), d) == 2
        docs = S.read_snapshot_table(spark, d, "documents", 2)
        assert docs.count() == 120
        assert docs.select("doc_id").distinct().count() == 120
        stats = S.read_snapshot_table(spark, d, "doc_stats", 2).collect()[0]
        assert stats["n_docs"] == 120
