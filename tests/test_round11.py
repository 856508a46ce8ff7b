"""Round-11 additions: VERDICT r10 items (segment-store version-claim
race, snapshot diff over real committed versions, table-snapshot
catalog) and ADVICE r10 regression pins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from .conftest import SF_CORRECT, SF_SMOKE


class TestSegmentVersionClaim:
    """VERDICT r10 item 3 / ADVICE r10: ingest and compaction used to
    allocate the next segment as committed[-1]+1 — a compaction racing
    an ingest step could pick the SAME version directory and interleave
    member writes, committing a mixed-member segment. The fix makes
    directory CREATION the claim (atomic os.mkdir over ALL existing
    v* dirs); these tests pin mutual exclusion and the interleaved
    end-to-end protocol."""

    def test_claim_is_exclusive_and_monotonic(self, tmp_path):
        import os

        from bigdata_group4_app_spark.streaming.sinks import _claim_version

        state = str(tmp_path / "s")
        # seed: committed v0, v1; an uncommitted ORPHAN v2 (crashed
        # writer) — the claim must never reuse the orphan either
        for v in (0, 1):
            os.makedirs(f"{state}/v{v}")
            open(f"{state}/v{v}/_SUCCESS", "w").close()
        os.makedirs(f"{state}/v2")

        a = _claim_version(state)  # "compaction" claims
        b = _claim_version(state)  # "ingest" claims concurrently
        assert a != b
        assert a == 3 and b == 4  # both past ALL existing dirs, incl. orphan
        assert os.path.isdir(f"{state}/v{a}") and os.path.isdir(f"{state}/v{b}")

    def test_claim_bootstraps_empty_state(self, tmp_path):
        from bigdata_group4_app_spark.streaming.sinks import _claim_version

        state = str(tmp_path / "fresh")
        assert _claim_version(state) == 0
        assert _claim_version(state) == 1

    def test_compaction_racing_ingest_cannot_mix_segments(
        self, spark, tmp_path
    ):
        """Deterministic interleave of the exact r10 race: compaction
        CLAIMS its output slot, then an ingest step runs to completion
        (claiming the NEXT slot), then the compaction finishes and
        commits. Under the old committed[-1]+1 rule both writers picked
        the same v{n}; now the directories are disjoint, the ingest
        segment stays live (it is not in the compaction manifest), and
        the reader sees every doc exactly once."""
        import os

        from .test_round10 import _mh_split
        from bigdata_group4_app_spark.streaming.sinks import (
            _claim_version,
            _live_versions,
            compact_minhash_index,
            minhash_index_step,
            read_minhash_index,
        )

        state = str(tmp_path / "mh_state")
        corpus, batch = _mh_split(spark, SF_SMOKE)
        sub0 = corpus.filter(F.col("doc_id") % 2 == 0)
        sub1 = corpus.filter(F.col("doc_id") % 2 == 1)
        minhash_index_step(sub0, state)
        minhash_index_step(sub1, state)
        assert _live_versions(state) == [0, 1]

        # nightly compaction starts: claims its slot and snapshots its
        # live inputs...
        compact_slot = _claim_version(state)
        compact_inputs = [0, 1]
        assert compact_slot == 2
        # ...and a concurrent micro-batch ingest commits meanwhile:
        # its claim MUST land on a different directory
        minhash_index_step(batch, state)
        assert _live_versions(state) == [0, 1, 3]
        # compaction finishes into its pre-claimed slot against its
        # pre-ingest input snapshot
        retired = compact_minhash_index(
            spark,
            state,
            claimed_version=compact_slot,
            input_versions=compact_inputs,
        )
        assert retired == [0, 1]

        # no mixed-member directory: the compacted segment and the
        # ingest segment are disjoint dirs, both committed
        assert os.path.exists(f"{state}/v2/_SUCCESS")
        assert os.path.exists(f"{state}/v3/_SUCCESS")
        assert _live_versions(state) == [2, 3]

        # reader equivalence: every doc exactly once
        sh, bands = read_minhash_index(spark, state)
        doc_counts = (
            bands.select("doc_id").distinct().count()
        )
        all_ids = {
            r["doc_id"]
            for df in (corpus, batch)
            for r in df.select("doc_id").collect()
        }
        assert doc_counts == len(all_ids)
        # shingle rows per doc identical to a race-free replay
        ref_state = str(tmp_path / "mh_ref")
        minhash_index_step(sub0, ref_state)
        minhash_index_step(sub1, ref_state)
        minhash_index_step(batch, ref_state)
        ref_sh, _ = read_minhash_index(spark, ref_state)
        assert sorted(map(tuple, sh.collect())) == sorted(
            map(tuple, ref_sh.collect())
        )


class TestSnapshotCatalog:
    """VERDICT r10 items 4+8: the multi-table snapshot catalog —
    atomic manifest commits (put-if-absent), copy-on-write segment
    reuse, pinned-reader stability across writer/compaction advances,
    crash protocol, and the closed lineage loop (diff over two REAL
    committed versions, with the store-equals-derivation pin that
    keeps the shared oracle from being a tautology)."""

    def _seed(self, spark, tmp_path):
        from bigdata_group4_app_spark.operators import snapshots as S

        d = str(tmp_path / "cat")
        docs = spark.range(0, 100).selectExpr(
            "id AS doc_id", "CAST(id % 7 AS STRING) AS payload"
        )
        rel0 = S.write_segment(docs.filter("doc_id < 50"), d, "t", "s0")
        rel1 = S.write_segment(docs.filter("doc_id >= 50"), d, "t", "s1")
        sid = S.commit_snapshot(d, {"t": [rel0, rel1]})
        assert sid == 0
        return S, d, docs

    def test_commit_put_if_absent_never_shares_an_id(self, spark, tmp_path):
        S, d, docs = self._seed(spark, tmp_path)
        # two writers race for the next id: distinct ids, both committed
        a = S.commit_snapshot(d, {"t": ["segments/t/s0"]}, parent=0)
        b = S.commit_snapshot(d, {"t": ["segments/t/s1"]}, parent=0)
        assert a != b
        assert S.committed_snapshot_ids(d) == [0, a, b]

    def test_uncommitted_segments_are_invisible(self, spark, tmp_path):
        """Crash before the manifest commit: segment files exist on
        disk but no manifest lists them — readers of every committed
        snapshot are unaffected."""
        S, d, docs = self._seed(spark, tmp_path)
        S.write_segment(docs.filter("doc_id < 10"), d, "t", "orphan")
        got = S.read_snapshot_table(spark, d, "t").count()
        assert got == 100
        assert S.committed_snapshot_ids(d) == [0]

    def test_pinned_reader_stable_across_writer_and_compaction(
        self, spark, tmp_path
    ):
        S, d, docs = self._seed(spark, tmp_path)
        before = sorted(
            map(tuple, S.read_snapshot_table(spark, d, "t", 0).collect())
        )
        # writer advances: snapshot 1 drops half the rows (new segment)
        rel = S.write_segment(docs.filter("doc_id % 2 = 0"), d, "t", "s2")
        S.commit_snapshot(d, {"t": [rel]}, parent=0)
        # compaction advances again
        S.compact_table(spark, d, "t", "s-compact")
        assert S.committed_snapshot_ids(d) == [0, 1, 2]
        # the pinned snapshot-0 read is bit-identical
        after = sorted(
            map(tuple, S.read_snapshot_table(spark, d, "t", 0).collect())
        )
        assert after == before
        # and the compacted head equals the pre-compaction head
        head1 = sorted(
            map(tuple, S.read_snapshot_table(spark, d, "t", 1).collect())
        )
        head2 = sorted(
            map(tuple, S.read_snapshot_table(spark, d, "t", 2).collect())
        )
        assert head2 == head1

    def test_fixture_store_reads_equal_derivation(self, spark):
        """The non-tautology pin: the committed fixture store, read
        back through the manifest reader, must equal the in-plan drift
        derivation the oracle replays — so the _versions oracle checks
        the real read path."""
        from bigdata_group4_app_spark.operators import snapshots as S

        d = S.ensure_fixture_catalog(spark, SF_CORRECT)
        snap_a, snap_b, emb = S._fixture_frames(spark, SF_CORRECT)
        for sid, want_df in ((S.SNAP_A_ID, snap_a), (S.SNAP_B_ID, snap_b)):
            got = sorted(
                map(
                    tuple,
                    S.read_snapshot_table(
                        spark, d, "documents", sid
                    ).collect(),
                )
            )
            want = sorted(map(tuple, want_df.collect()))
            assert got == want, f"documents snapshot {sid} diverges"
        for sid in (S.SNAP_A_ID, S.SNAP_B_ID):
            got = sorted(
                map(
                    tuple,
                    S.read_snapshot_table(
                        spark, d, "embeddings", sid
                    ).collect(),
                )
            )
            assert got == sorted(map(tuple, emb.collect()))
        # copy-on-write: both manifests list the SAME embeddings file
        ma = S.read_manifest(d, S.SNAP_A_ID)["tables"]["embeddings"]
        mb = S.read_manifest(d, S.SNAP_B_ID)["tables"]["embeddings"]
        assert ma == mb

    def test_versions_diff_stable_across_compaction_between_reads(
        self, spark, tmp_path, monkeypatch
    ):
        """VERDICT item 4's done-criterion: reader equivalence across a
        compaction BETWEEN the two reads — the diff pinned to snapshot
        ids 0/1 is unchanged after a compaction commits snapshot 2."""
        from bigdata_group4_app_spark.operators import snapshots as S

        # isolate: copy of the fixture catalog in tmp_path
        import shutil

        src = S.ensure_fixture_catalog(spark, SF_SMOKE)
        d = str(tmp_path / "cat_iso")
        shutil.copytree(src, d)
        monkeypatch.setattr(S, "_fixture_dir", lambda sf: d)

        before = sorted(
            map(
                tuple,
                S.corpus_snapshot_diff_versions(spark, SF_SMOKE).collect(),
            )
        )
        before_ids = S.committed_snapshot_ids(d)
        S.compact_table(spark, d, "documents", "seg-doc-compact")
        # the fixture history grows by rounds (r12 added the schema
        # evolution + takedown snapshots); the pin is that compaction
        # appended exactly ONE snapshot
        assert S.committed_snapshot_ids(d) == before_ids + [
            before_ids[-1] + 1
        ]
        after = sorted(
            map(
                tuple,
                S.corpus_snapshot_diff_versions(spark, SF_SMOKE).collect(),
            )
        )
        assert after == before


def _write_xlsx_multisheet(path, sheets, first_named=None, phonetic=None):
    """Multi-sheet .xlsx writer for the sheet-resolution tests:
    ``sheets`` maps part name (e.g. 'sheet10.xml') -> rows (list of
    lists of strings); workbook order lists ``first_named`` first and
    resolves it through the workbook rels. ``phonetic`` optionally
    injects a sharedStrings <si> with an rPh run; cell A1 of the FIRST
    sheet then references it (t="s" index 0)."""
    import zipfile

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"

    def sheet_xml(rows, shared_a1=False):
        out = []
        for ri, row in enumerate(rows, 1):
            cells = []
            for ci, v in enumerate(row):
                col = chr(ord("A") + ci)
                if shared_a1 and ri == 1 and ci == 0:
                    cells.append(f'<c r="{col}{ri}" t="s"><v>0</v></c>')
                else:
                    cells.append(
                        f'<c r="{col}{ri}" t="inlineStr"><is><t>{v}</t>'
                        "</is></c>"
                    )
            out.append(f'<row r="{ri}">{"".join(cells)}</row>')
        return (
            f'<?xml version="1.0"?><worksheet xmlns="{ns}">'
            f"<sheetData>{''.join(out)}</sheetData></worksheet>"
        )

    order = [first_named] + [p for p in sheets if p != first_named]
    wb_sheets = "".join(
        f'<sheet name="S{i}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i in range(len(order))
    )
    wb = (
        f'<?xml version="1.0"?><workbook xmlns="{ns}" xmlns:r="{rns}">'
        f"<sheets>{wb_sheets}</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0"?><Relationships xmlns="http://schemas.open'
        'xmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" Type="{rns}/worksheet" '
            f'Target="worksheets/{p}"/>'
            for i, p in enumerate(order)
        )
        + "</Relationships>"
    )
    sst = ""
    if phonetic is not None:
        base, hint = phonetic
        sst = (
            f'<?xml version="1.0"?><sst xmlns="{ns}" count="1" '
            'uniqueCount="1"><si>'
            f"<r><t>{base}</t></r>"
            f'<rPh sb="0" eb="1"><t>{hint}</t></rPh>'
            "<phoneticPr fontId=\"1\"/></si></sst>"
        )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxml'
            'formats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.open'
            'xmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            "</Types>",
        )
        z.writestr(
            "_rels/.rels",
            '<?xml version="1.0"?><Relationships xmlns="http://schemas.'
            'openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rns}/officeDocument" '
            'Target="xl/workbook.xml"/></Relationships>',
        )
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        if sst:
            z.writestr("xl/sharedStrings.xml", sst)
        for i, p in enumerate(order):
            z.writestr(
                f"xl/worksheets/{p}",
                sheet_xml(sheets[p], shared_a1=(sst and i == 0)),
            )


class TestExcelSheetResolution:
    """VERDICT r10 item 6 + ADVICE r10: first-sheet resolution follows
    workbook.xml order (not lexicographic part names), phonetic rPh
    runs are excluded from shared strings, and the schema fallback path
    returns the FULL declared schema."""

    def test_first_sheet_by_workbook_order_not_part_name(
        self, spark, tmp_path
    ):
        from bigdata_group4_app_spark.sources.files import read_excel

        path = tmp_path / "multi.xlsx"
        # workbook order puts sheet10 FIRST; lexicographic part-name
        # sort would pick sheet10 too — so ALSO invert: workbook names
        # sheet2 first while sheet10 sorts first lexicographically
        _write_xlsx_multisheet(
            path,
            {
                "sheet10.xml": [["wrong_header"], ["wrong_row"]],
                "sheet2.xml": [["name"], ["right_row"]],
            },
            first_named="sheet2.xml",
        )
        df = read_excel(spark, str(path))
        assert df.columns == ["name"]
        assert [r["name"] for r in df.collect()] == ["right_row"]

    def test_numeric_fallback_when_no_workbook_rels(self, spark, tmp_path):
        """Without usable rels the fallback sorts sheetN NUMERICALLY:
        sheet2 before sheet10 (lexicographic would invert them)."""
        import zipfile

        from bigdata_group4_app_spark.sources.files import (
            _xlsx_first_sheet,
        )

        path = tmp_path / "bare.xlsx"
        with zipfile.ZipFile(path, "w") as z:
            z.writestr("xl/worksheets/sheet10.xml", "<x/>")
            z.writestr("xl/worksheets/sheet2.xml", "<x/>")
        with zipfile.ZipFile(path) as z:
            assert (
                _xlsx_first_sheet(z, z.namelist())
                == "xl/worksheets/sheet2.xml"
            )

    def test_phonetic_rph_runs_excluded_from_shared_strings(
        self, spark, tmp_path
    ):
        from bigdata_group4_app_spark.sources.files import read_excel

        path = tmp_path / "phon.xlsx"
        _write_xlsx_multisheet(
            path,
            {"sheet1.xml": [["IGNORED_BY_SST_REF"], ["tokyo"]]},
            first_named="sheet1.xml",
            phonetic=("東京", "トウキョウ"),
        )
        df = read_excel(spark, str(path))
        # header cell A1 references the shared string: visible text
        # only, no furigana hint concatenated
        assert df.columns == ["東京"]

    def test_schema_fallback_projects_missing_fields_as_null(
        self, spark, tmp_path
    ):
        from pyspark.sql import types as T

        from bigdata_group4_app_spark.sources.files import read_excel

        path = tmp_path / "narrow.xlsx"
        _write_xlsx_multisheet(
            path,
            {"sheet1.xml": [["present"], ["v1"], ["v2"]]},
            first_named="sheet1.xml",
        )
        schema = T.StructType(
            [
                T.StructField("present", T.StringType(), True),
                T.StructField("absent_int", T.IntegerType(), True),
            ]
        )
        df = read_excel(spark, str(path), schema=schema)
        assert df.schema == schema
        rows = df.orderBy("present").collect()
        assert [r["present"] for r in rows] == ["v1", "v2"]
        assert [r["absent_int"] for r in rows] == [None, None]


class TestBucketedRankNullGuard:
    """ADVICE r10: a NULL bucket expression used to silently DROP rows
    (NULL never matches the offset equi-join); now it fails loudly via
    an in-plan assert_true, and valid data is untouched."""

    def test_null_bucket_fails_loudly(self, spark):
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import PySparkRuntimeError

        from bigdata_group4_app_spark.functions.ranking import bucketed_rank

        df = spark.range(0, 10).selectExpr(
            "id", "CASE WHEN id = 7 THEN NULL ELSE id div 3 END AS b"
        )
        ranked = bucketed_rank(df, F.col("b"), [F.col("id")])
        with pytest.raises((Py4JJavaError, PySparkRuntimeError, Exception)) as ei:
            ranked.collect()
        assert "bucket expression evaluated to NULL" in str(ei.value)

    def test_valid_buckets_rank_exactly(self, spark):
        from bigdata_group4_app_spark.functions.ranking import bucketed_rank

        df = spark.range(0, 100).selectExpr("id", "id div 7 AS b")
        got = {
            r["id"]: r["rnk"]
            for r in bucketed_rank(df, F.col("b"), [F.col("id")]).collect()
        }
        assert got == {i: i + 1 for i in range(100)}


class TestCatalogExpireAndVacuum:
    """GC halves: expiry deletes manifests (the retention decision),
    vacuum deletes segments no retained manifest references — and a
    copy-on-write-shared segment survives as long as ANY retained
    manifest names it."""

    def test_vacuum_is_cow_aware(self, spark, tmp_path):
        import os

        from bigdata_group4_app_spark.operators import snapshots as S

        d = str(tmp_path / "cat")
        docs = spark.range(0, 40).selectExpr(
            "id AS doc_id", "CAST(id AS STRING) AS payload"
        )
        shared = S.write_segment(docs.filter("doc_id < 20"), d, "t", "shared")
        old_only = S.write_segment(
            docs.filter("doc_id >= 20"), d, "t", "old-only"
        )
        S.commit_snapshot(d, {"t": [shared, old_only]})  # snap 0
        new_only = S.write_segment(
            docs.filter("doc_id >= 30"), d, "t", "new-only"
        )
        S.commit_snapshot(d, {"t": [shared, new_only]})  # snap 1

        # nothing unreferenced yet: vacuum is a no-op
        assert S.vacuum_catalog(d) == []

        expired = S.expire_snapshots(d, keep_last=1)
        assert expired == [0]
        removed = S.vacuum_catalog(d)
        # old-only (referenced only by the expired snap 0) is gone; the
        # COW-shared segment survives because snap 1 still names it
        assert removed == [os.path.normpath(old_only)]
        assert os.path.isdir(os.path.join(d, shared))
        got = S.read_snapshot_table(spark, d, "t").count()
        assert got == 30  # 20 shared + 10 new-only

        # an expired pin fails fast on the missing manifest
        with pytest.raises(FileNotFoundError):
            S.read_manifest(d, 0)


class TestCatalogIncrementalDiff:
    """Round-11 deepening: bucket-aligned copy-on-write + the
    manifest-pruned incremental diff. The manifests' segment
    set-difference must coincide with the content-derived dirty-bucket
    set, the pruned scan must touch strictly fewer segments than the
    full one (at a SF with clean buckets), and the incremental output
    must equal the full diff's is_match = 0 rows exactly."""

    def test_cow_reuses_clean_buckets_and_prunes_scan(self, spark):
        from bigdata_group4_app_spark.operators import snapshots as S

        d = S.ensure_fixture_catalog(spark, SF_CORRECT)
        a = set(S.read_manifest(d, S.SNAP_A_ID)["tables"]["documents"])
        b = set(S.read_manifest(d, S.SNAP_B_ID)["tables"]["documents"])
        shared = a & b
        assert shared, "no clean bucket reused — COW not exercised"
        # shared entries point INTO the snapshot-A write (true reuse)
        assert all(p.startswith("segments/documents/a/") for p in shared)
        # the pruned scan is strictly smaller than the full one
        assert len(a - shared) < len(a)
        # and the manifest-dirty set equals the content-dirty set
        dirty_manifest = {
            int(p.rsplit("seg=", 1)[1])
            for p in (a - shared) | (b - shared)
        }
        assert dirty_manifest == S._dirty_buckets(spark, SF_CORRECT)

    def test_incremental_equals_full_dirty_rows(self, spark):
        from bigdata_group4_app_spark.operators import snapshots as S

        for sf in (SF_SMOKE, SF_CORRECT):
            full = {
                r["bucket"]: tuple(r)
                for r in S.corpus_snapshot_diff_versions(spark, sf)
                .filter("is_match = 0")
                .collect()
            }
            inc = {
                r["bucket"]: tuple(r)
                for r in S.catalog_incremental_diff(spark, sf).collect()
            }
            assert inc == full


class TestStreamingCatalogSink:
    """The streaming half of the catalog story: a foreachBatch writer
    commits ONE atomic multi-table snapshot per micro-batch (documents
    appended as immutable segments + an incrementally-maintained
    one-segment stats table). Pins: per-snapshot stats CONSISTENT with
    that snapshot's doc list, pinned readers unaffected by later
    commits, replay is a commit-level no-op, and a crash before the
    manifest leaves only invisible segment files."""

    def _batches(self, spark):
        from bigdata_group4_app_spark.sources.registry import load_table

        docs = load_table(spark, SF_SMOKE, "documents").select(
            "doc_id", "text"
        )
        return (
            docs.filter(F.col("doc_id") % 3 == 0),
            docs.filter(F.col("doc_id") % 3 == 1),
        )

    def test_each_snapshot_is_internally_consistent(self, spark, tmp_path):
        from bigdata_group4_app_spark.operators import snapshots as S
        from bigdata_group4_app_spark.streaming.sinks import (
            catalog_commit_step,
        )

        d = str(tmp_path / "cat")
        b0, b1 = self._batches(spark)
        s0 = catalog_commit_step(b0, d)
        s1 = catalog_commit_step(b1, d)
        assert (s0, s1) == (0, 1)
        for sid in (0, 1):
            docs = S.read_snapshot_table(spark, d, "documents", sid)
            stats = S.read_snapshot_table(spark, d, "doc_stats", sid).collect()
            assert len(stats) == 1
            want = docs.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum(F.length("text")), F.lit(0)).alias("c"),
            ).collect()[0]
            assert stats[0]["n_docs"] == want["n"]
            assert stats[0]["n_chars"] == want["c"]

    def test_pinned_reader_and_replay_noop(self, spark, tmp_path):
        from bigdata_group4_app_spark.operators import snapshots as S
        from bigdata_group4_app_spark.streaming.sinks import (
            catalog_commit_step,
        )

        d = str(tmp_path / "cat")
        b0, b1 = self._batches(spark)
        catalog_commit_step(b0, d)
        pinned = sorted(
            map(
                tuple,
                S.read_snapshot_table(spark, d, "documents", 0).collect(),
            )
        )
        # writer advances; replayed batch 0 commits NOTHING
        catalog_commit_step(b1, d)
        assert catalog_commit_step(b0, d) is None
        assert S.committed_snapshot_ids(d) == [0, 1]
        after = sorted(
            map(
                tuple,
                S.read_snapshot_table(spark, d, "documents", 0).collect(),
            )
        )
        assert after == pinned

    def test_crash_before_manifest_is_invisible_then_vacuumable(
        self, spark, tmp_path
    ):
        from bigdata_group4_app_spark.operators import snapshots as S
        from bigdata_group4_app_spark.streaming.sinks import (
            catalog_commit_step,
        )

        d = str(tmp_path / "cat")
        b0, b1 = self._batches(spark)
        catalog_commit_step(b0, d)
        # simulated crash: batch-1 segments written, NO manifest commit
        S.write_segment(b1.limit(2), d, "documents", "seg-crashed")
        assert S.committed_snapshot_ids(d) == [0]
        n = S.read_snapshot_table(spark, d, "documents").count()
        # the replayed step commits normally (anti-join sees only
        # COMMITTED docs, so nothing from the wreckage leaks in)
        assert catalog_commit_step(b1, d) == 1
        n1 = S.read_snapshot_table(spark, d, "documents", 1).count()
        assert n1 == n + b1.count()
        # the wreckage is unreferenced -> vacuum GC
        import os

        removed = S.vacuum_catalog(d)
        assert os.path.normpath("segments/documents/seg-crashed") in removed
        assert S.read_snapshot_table(spark, d, "documents", 1).count() == n1


class TestSnapshotRollback:
    """RESTORE semantics: rollback commits a NEW manifest with the old
    table lists — history is never deleted, pinned intermediate readers
    keep working, and the restored head is bit-identical to the target."""

    def test_rollback_restores_without_deleting_history(
        self, spark, tmp_path
    ):
        from bigdata_group4_app_spark.operators import snapshots as S

        d = str(tmp_path / "cat")
        docs = spark.range(0, 60).selectExpr(
            "id AS doc_id", "CAST(id AS STRING) AS payload"
        )
        r0 = S.write_segment(docs, d, "t", "s0")
        S.commit_snapshot(d, {"t": [r0]})  # snap 0: 60 rows
        r1 = S.write_segment(docs.filter("doc_id < 10"), d, "t", "s1")
        S.commit_snapshot(d, {"t": [r1]}, parent=0)  # snap 1: bad write
        assert S.read_snapshot_table(spark, d, "t").count() == 10

        rid = S.rollback_snapshot(d, 0)
        assert rid == 2
        assert S.committed_snapshot_ids(d) == [0, 1, 2]  # history intact
        got = sorted(
            map(tuple, S.read_snapshot_table(spark, d, "t").collect())
        )
        want = sorted(
            map(tuple, S.read_snapshot_table(spark, d, "t", 0).collect())
        )
        assert got == want
        # the bad snapshot stays inspectable until expired
        assert S.read_snapshot_table(spark, d, "t", 1).count() == 10


class TestCatalogZoneMapPrune:
    """Manifest zone maps: measured per-segment (min, max) bounds
    committed with the manifest; a range predicate prunes segments
    from the MANIFEST alone, and the pruned answer is range-exact."""

    def test_prunes_disjoint_segments_only(self, spark):
        from bigdata_group4_app_spark.operators import snapshots as S

        d = S.ensure_fixture_catalog(spark, SF_CORRECT)
        full = S.read_manifest(d, S.SNAP_A_ID)["tables"]["embeddings"]
        kept = S.prune_segments_by_range(
            d, S.SNAP_A_ID, "embeddings", "vec_id", S._ZONE_LO, S._ZONE_HI
        )
        # sf0.01: 500 vecs -> 4 width-128 segments; [8, 200] overlaps 2
        assert len(full) == 4 and len(kept) == 2
        assert set(kept) < set(full)
        # pruning never changes answers: pruned + residual filter
        # equals the unpruned computation
        want = (
            S.read_snapshot_table(spark, d, "embeddings", S.SNAP_A_ID)
            .filter(F.col("vec_id").between(S._ZONE_LO, S._ZONE_HI))
            .count()
        )
        got = S.catalog_zonemap_prune(spark, SF_CORRECT).collect()[0]
        assert got["n_rows"] == want

    def test_segment_without_stats_is_kept(self, tmp_path):
        from bigdata_group4_app_spark.operators import snapshots as S

        d = str(tmp_path / "cat")
        S.commit_snapshot(
            d,
            {"t": ["segments/t/a", "segments/t/b", "segments/t/c"]},
            stats={
                "t": {
                    "segments/t/a": {"k_min": 0, "k_max": 9},
                    "segments/t/b": {"k_min": 100, "k_max": 199},
                    # segments/t/c has NO stats -> conservative keep
                }
            },
        )
        kept = S.prune_segments_by_range(d, 0, "t", "k", 50, 60)
        assert kept == ["segments/t/c"]
        kept = S.prune_segments_by_range(d, 0, "t", "k", 5, 120)
        assert kept == ["segments/t/a", "segments/t/b", "segments/t/c"]


class TestConditionalCommit:
    """commit_snapshot_if: the read-set-validated commit. A writer that
    computed its table lists from a stale head must get CommitConflict
    (rebase-and-retry), never a silent lost update."""

    def test_conflict_raises_instead_of_lost_update(self, tmp_path):
        from bigdata_group4_app_spark.operators import snapshots as S

        d = str(tmp_path / "cat")
        assert S.commit_snapshot_if(d, {"t": ["segments/t/s0"]}, None) == 0
        # writer W reads head 0 and prepares lists...
        # ...but another writer advances to 1 first
        S.commit_snapshot(d, {"t": ["segments/t/s1"]}, parent=0)
        with pytest.raises(S.CommitConflict):
            S.commit_snapshot_if(d, {"t": ["segments/t/stale"]}, 0)
        # W rebases on the new head and succeeds
        assert (
            S.commit_snapshot_if(
                d, {"t": ["segments/t/s1", "segments/t/s2"]}, 1
            )
            == 2
        )
        assert S.read_manifest(d, 2)["tables"]["t"] == [
            "segments/t/s1",
            "segments/t/s2",
        ]
        # no manifest ever silently dropped the other writer's segment
        assert S.read_manifest(d, 1)["tables"]["t"] == ["segments/t/s1"]


def test_chartsheet_first_workbook_skips_to_first_worksheet(
    spark, tmp_path
):
    """Review r11: a workbook listing a CHARTSHEET first must resolve
    to the first real worksheet in workbook order, not parse the
    chartsheet to an empty grid."""
    import zipfile

    from bigdata_group4_app_spark.sources.files import read_excel

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    path = tmp_path / "chart.xlsx"
    sheet = (
        f'<?xml version="1.0"?><worksheet xmlns="{ns}"><sheetData>'
        '<row r="1"><c r="A1" t="inlineStr"><is><t>name</t></is></c></row>'
        '<row r="2"><c r="A1" t="inlineStr"><is><t>data</t></is></c></row>'
        "</sheetData></worksheet>"
    )
    chart = f'<?xml version="1.0"?><chartsheet xmlns="{ns}"/>'
    wb = (
        f'<?xml version="1.0"?><workbook xmlns="{ns}" xmlns:r="{rns}">'
        '<sheets><sheet name="Chart" sheetId="1" r:id="rId1"/>'
        '<sheet name="Data" sheetId="2" r:id="rId2"/></sheets></workbook>'
    )
    wb_rels = (
        '<?xml version="1.0"?><Relationships xmlns="http://schemas.open'
        'xmlformats.org/package/2006/relationships">'
        f'<Relationship Id="rId1" Type="{rns}/chartsheet" '
        'Target="chartsheets/sheet1.xml"/>'
        f'<Relationship Id="rId2" Type="{rns}/worksheet" '
        'Target="worksheets/sheet1.xml"/></Relationships>'
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxml'
            'formats.org/package/2006/content-types">'
            '<Default Extension="xml" ContentType="application/xml"/>'
            "</Types>",
        )
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/chartsheets/sheet1.xml", chart)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    df = read_excel(spark, str(path))
    assert df.columns == ["name"]
    assert [r["name"] for r in df.collect()] == ["data"]
