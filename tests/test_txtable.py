"""Commit-log table format: snapshot isolation, optimistic
concurrency, crash invisibility, time travel, vacuum."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from nyc_landmarks_datalake_spark.sources import txtable


def _mk(spark, n, tag):
    return spark.range(n).select(
        F.col("id").alias("k"), F.lit(tag).alias("tag")
    )


def test_create_append_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    v0 = txtable.commit(spark, path, _mk(spark, 5, "a"), "create", None)
    assert v0 == 0 and txtable.current_version(path) == 0
    # next snapshot = old ∪ new rows (full-snapshot manifest)
    snap0 = txtable.read_snapshot(spark, path, 0)
    v1 = txtable.commit(
        spark, path, snap0.unionByName(_mk(spark, 3, "b")), "append", 0
    )
    assert v1 == 1
    assert txtable.read_snapshot(spark, path).count() == 8
    # time travel: v0 still reads exactly the original 5 rows
    assert txtable.read_snapshot(spark, path, 0).count() == 5
    tags = {r["tag"] for r in txtable.read_snapshot(spark, path, 0).collect()}
    assert tags == {"a"}


def test_commit_conflict_detected(spark, tmp_path):
    path = str(tmp_path / "t")
    txtable.commit(spark, path, _mk(spark, 4, "a"), "create", None)
    # two writers both base on v0; the second publish must fail
    txtable.commit(spark, path, _mk(spark, 4, "w1"), "overwrite", 0)
    with pytest.raises(txtable.CommitConflict):
        txtable.commit(spark, path, _mk(spark, 4, "w2"), "overwrite", 0)
    # the loser's staged files are orphans: latest snapshot is w1 only
    tags = {r["tag"] for r in txtable.read_snapshot(spark, path).collect()}
    assert tags == {"w1"}
    # creating over an existing table is a conflict too
    with pytest.raises(txtable.CommitConflict):
        txtable.commit(spark, path, _mk(spark, 1, "x"), "create", None)


def test_crashed_writer_invisible_and_vacuumed(spark, tmp_path):
    path = str(tmp_path / "t")
    txtable.commit(spark, path, _mk(spark, 4, "a"), "create", None)
    # simulate a crash: data staged but manifest never published
    orphaned = txtable._stage_data(_mk(spark, 9, "crash"), path, 1)
    assert txtable.read_snapshot(spark, path).count() == 4  # invisible
    # version 1 is still free, so the stager may be in flight: kept
    assert txtable.vacuum(path, keep_versions=1) == []
    # another writer takes version 1: the staged dir is now an orphan
    txtable.commit(spark, path, _mk(spark, 4, "b"), "rewrite", 0)
    deleted = txtable.vacuum(path, keep_versions=2)
    assert sorted(deleted) == sorted(orphaned)
    assert txtable.read_snapshot(spark, path).count() == 4
    # live files survived vacuum
    live = txtable.referenced_files(path)
    assert all(os.path.exists(os.path.join(path, f)) for f in live)


def test_vacuum_spares_a_writer_in_flight(spark, tmp_path):
    """A writer that staged the next version and has not published yet
    survives a vacuum that runs in between: its publish then yields a
    readable latest snapshot, not a manifest naming deleted files."""
    path = str(tmp_path / "t")
    txtable.commit(spark, path, _mk(spark, 4, "a"), "create", None)
    df = _mk(spark, 6, "inflight")
    files = txtable._stage_data(df, path, 1)
    deleted = txtable.vacuum(path, keep_versions=1)
    txtable._publish(
        path,
        1,
        {"version": 1, "parent": 0, "operation": "rewrite",
         "schema": df.schema.jsonValue(), "files": files},
    )
    assert _rows(txtable.read_snapshot(spark, path)) == _rows(df)
    assert deleted == []


def test_publish_fsyncs_the_txlog_dir_after_the_link(tmp_path, monkeypatch):
    """A published manifest is durable: the ``_txlog`` directory is
    fsynced after the link that publishes it. The link is a directory
    entry, which the fsync of the manifest file itself does not cover."""
    path = str(tmp_path / "t")
    os.makedirs(txtable._txlog_dir(path))
    log_ino = os.stat(txtable._txlog_dir(path)).st_ino
    events = []
    real_link, real_fsync = os.link, os.fsync

    def link(src, dst):
        real_link(src, dst)
        events.append("link")

    def fsync(fd):
        real_fsync(fd)
        events.append("fsync_txlog" if os.fstat(fd).st_ino == log_ino else "fsync")

    monkeypatch.setattr(os, "link", link)
    monkeypatch.setattr(os, "fsync", fsync)
    txtable._publish(path, 0, {"version": 0, "files": []})
    assert "link" in events
    assert "fsync_txlog" in events[events.index("link") + 1 :], events


def test_read_snapshot_resolves_latest_again_after_vacuum(
    spark, tmp_path, monkeypatch
):
    """A latest-version read whose resolved manifest a vacuum removed
    before it was opened resolves the latest version again; time travel
    to a vacuumed version still raises."""
    path = str(tmp_path / "t")
    txtable.commit(spark, path, _typed(spark, 3, "a"), "create", None)
    new = _typed(spark, 5, "b")
    txtable.commit(spark, path, new, "overwrite", 0)
    txtable.vacuum(path, keep_versions=1)
    real, calls = txtable.current_version, []

    def stale_first(p):
        calls.append(p)
        return 0 if len(calls) == 1 else real(p)

    monkeypatch.setattr(txtable, "current_version", stale_first)
    assert _rows(txtable.read_snapshot(spark, path)) == _rows(new)
    assert len(calls) == 2
    with pytest.raises(FileNotFoundError):
        txtable.read_snapshot(spark, path, 0)


def test_rewrite_rebases_past_a_vacuumed_base(spark, tmp_path, monkeypatch):
    """A rewrite whose resolved base version a vacuum dropped after a
    newer commit resolves the latest version again and commits on top
    of it, counting the lost read as one of its attempts."""
    path = str(tmp_path / "t")
    txtable.commit(spark, path, _mk(spark, 3, "a"), "create", None)
    txtable.commit(spark, path, _mk(spark, 4, "b"), "overwrite", 0)
    txtable.commit(spark, path, _mk(spark, 5, "c"), "overwrite", 1)
    txtable.vacuum(path, keep_versions=1)
    real, calls = txtable.current_version, []

    def stale_first(p):
        calls.append(p)
        return 0 if len(calls) == 1 else real(p)

    monkeypatch.setattr(txtable, "current_version", stale_first)
    added = spark.createDataFrame([(50, "added")], "k BIGINT, tag STRING")
    v = txtable.rewrite(spark, path, "rewrite", lambda s: s.unionByName(added))
    monkeypatch.undo()
    assert v == 3
    got = {r["k"]: r["tag"] for r in txtable.read_snapshot(spark, path).collect()}
    assert got == {**{k: "c" for k in range(5)}, 50: "added"}
    # a base that is gone on every attempt exhausts MAX_ATTEMPTS
    monkeypatch.setattr(txtable, "current_version", lambda p: 0)
    with pytest.raises(txtable.CommitConflict):
        txtable.rewrite(spark, path, "rewrite", lambda s: s)


def test_history_skips_a_manifest_vacuumed_after_listing(tmp_path, monkeypatch):
    """history() lists _txlog, then opens each manifest: one that a
    concurrent vacuum unlinked in between is left out, not raised."""
    path = str(tmp_path / "t")
    for v in range(3):
        txtable._publish(
            path, v, {"version": v, "parent": v - 1 if v else None,
                      "operation": "op", "files": []}
        )
    listed = txtable._versions(path)
    os.unlink(txtable._manifest_path(path, 0))  # vacuum after the listing
    monkeypatch.setattr(txtable, "_versions", lambda p: listed)
    assert [m["version"] for m in txtable.history(path)] == [1, 2]


def test_vacuum_skips_what_a_racing_vacuum_removed(tmp_path, monkeypatch):
    """A vacuum works from listings a concurrent vacuum can make stale:
    a manifest, an orphan dir or an orphan dir's files already gone are
    skipped, not raised; any other error still raises."""
    path = str(tmp_path / "t")
    for v in range(3):
        txtable._publish(
            path, v, {"version": v, "parent": v - 1 if v else None,
                      "operation": "op", "files": []}
        )
    data_root = os.path.join(path, "data")
    for sub in ("00000000-a", "00000001-b"):  # orphans of v0 and v1
        os.makedirs(os.path.join(data_root, sub))
        open(os.path.join(data_root, sub, "part-0.parquet"), "w").close()
    listed = txtable._versions(path)
    os.unlink(txtable._manifest_path(path, 0))  # the racer dropped v0
    monkeypatch.setattr(txtable, "_versions", lambda p: listed)
    real_listdir = os.listdir

    def stale_listdir(p):
        names = real_listdir(p)
        if p == data_root:  # the racer already removed 00000000-z ...
            return names + ["00000000-z"]
        if p.endswith("00000001-b"):  # ... and removes -b under us
            shutil.rmtree(p)
        return names

    monkeypatch.setattr(os, "listdir", stale_listdir)
    deleted = txtable.vacuum(path, keep_versions=1)
    monkeypatch.undo()
    assert os.path.join("data", "00000000-a", "part-0.parquet") in deleted
    assert txtable._versions(path) == [2]
    assert os.listdir(data_root) == []

    def denied(p):
        raise PermissionError(p)

    monkeypatch.setattr(os, "unlink", denied)
    with pytest.raises(PermissionError):
        txtable.vacuum(path, keep_versions=0)


def test_merge_upsert_tx_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "old"), (2, "old"), (3, "old")], ["k", "tag"]
    )
    updates = spark.createDataFrame([(2, "new"), (4, "new")], ["k", "tag"])
    # an explicit commit keeps the caller's layout: several files
    txtable.commit(spark, path, base.repartition(16), "create", None)
    assert len(txtable._read_manifest(path, 0)["files"]) > 1
    v = txtable.merge_upsert_tx(spark, path, updates, ["k"])
    assert v == 1
    # the MERGE is right-sized: a few bytes of input make one file
    assert len(txtable._read_manifest(path, 1)["files"]) == 1
    got = {r["k"]: r["tag"] for r in txtable.read_snapshot(spark, path).collect()}
    assert got == {1: "old", 2: "new", 3: "old", 4: "new"}
    # vacuum keeping only the latest drops v0's manifest and files
    txtable.vacuum(path, keep_versions=1)
    assert txtable._versions(path) == [1]
    assert {r["k"] for r in txtable.read_snapshot(spark, path).collect()} == {
        1, 2, 3, 4,
    }


def test_optimize_compacts_transactionally(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    txtable.commit(spark, path, df.repartition(16), "create", None)
    assert len(txtable._read_manifest(path, 0)["files"]) == 16
    v = txtable.optimize(spark, path, target_files=2)
    assert v == 1
    m = txtable._read_manifest(path, 1)
    assert len(m["files"]) == 2 and m["operation"] == "optimize"
    # row content unchanged; old version still readable (time travel)
    assert txtable.read_snapshot(spark, path, 1).count() == 1000
    assert txtable.read_snapshot(spark, path, 0).count() == 1000


def test_data_files_are_zstd(spark, tmp_path):
    path = str(tmp_path / "t")
    txtable.commit(spark, path, _mk(spark, 50, "a"), "create", None)
    codecs = {
        md.row_group(g).column(c).compression
        for f in txtable.referenced_files(path)
        for md in [pq.read_metadata(os.path.join(path, f))]
        for g in range(md.num_row_groups)
        for c in range(md.num_columns)
    }
    assert codecs == {"ZSTD"}


def _race_after_read(monkeypatch, spark, path, races):
    """Wrap ``read_snapshot`` so that on each of the first ``races``
    reads a racer commits one new key on top of the latest version,
    after the writer read its base and before it publishes. Returns the
    racers' keys."""
    read = txtable.read_snapshot
    keys: list[int] = []

    def read_then_race(spark_, path_, version=None):
        snap = read(spark_, path_, version)
        if len(keys) < races:
            v = txtable.current_version(path)
            keys.append(100 + len(keys))
            row = spark.createDataFrame([(keys[-1], "racer")], "k BIGINT, tag STRING")
            txtable.commit(spark, path, read(spark, path, v).unionByName(row), "racer", v)
        return snap

    monkeypatch.setattr(txtable, "read_snapshot", read_then_race)
    return keys


@pytest.mark.parametrize("op", ["merge_upsert", "optimize", "rewrite"])
def test_rebase_on_racing_writer(spark, tmp_path, monkeypatch, op):
    """A merge, an optimize or a bare ``rewrite`` that loses its publish
    to a racer rebases on the racer's version and keeps its rows; one
    that loses every attempt raises CommitConflict after
    ``MAX_ATTEMPTS``, leaving the racer's version latest and its own
    staged files as orphans for vacuum."""
    added = spark.createDataFrame([(50, "added")], "k BIGINT, tag STRING")

    def run(path):
        if op == "optimize":
            return txtable.optimize(spark, path, target_files=1)
        if op == "rewrite":
            return txtable.rewrite(
                spark, path, "rewrite", lambda snap: snap.unionByName(added)
            )
        upd = spark.createDataFrame([(1, "new")], "k BIGINT, tag STRING")
        return txtable.merge_upsert_tx(spark, path, upd, ["k"])

    read = txtable.read_snapshot  # unwrapped: checking must not race

    def tags(path):
        return {r["k"]: r["tag"] for r in read(spark, path).collect()}

    base = {0: "a", 1: "a", 2: "a", 3: "a"}
    once, always = str(tmp_path / "once"), str(tmp_path / "always")
    for path in (once, always):
        txtable.commit(spark, path, _mk(spark, 4, "a"), "create", None)

    raced = _race_after_read(monkeypatch, spark, once, races=1)
    assert run(once) == 2
    assert [m["operation"] for m in txtable.history(once)] == ["create", "racer", op]
    want = {**base, raced[0]: "racer"}
    if op == "merge_upsert":
        want[1] = "new"
    if op == "rewrite":
        want[50] = "added"  # the additive fn re-ran on the racer's rows
    assert tags(once) == want

    monkeypatch.undo()
    raced = _race_after_read(monkeypatch, spark, always, races=10)
    with pytest.raises(txtable.CommitConflict):
        run(always)
    assert len(raced) == txtable.MAX_ATTEMPTS
    assert txtable.current_version(always) == txtable.MAX_ATTEMPTS
    assert {m["operation"] for m in txtable.history(always)[1:]} == {"racer"}
    assert tags(always) == {**base, **{k: "racer" for k in raced}}
    live = {os.path.dirname(f) for f in txtable.referenced_files(always)}
    staged = {os.path.join("data", d) for d in os.listdir(os.path.join(always, "data"))}
    orphans = staged - live
    assert len(orphans) == txtable.MAX_ATTEMPTS
    deleted = txtable.vacuum(always, keep_versions=txtable.MAX_ATTEMPTS + 1)
    assert deleted and {os.path.dirname(f) for f in deleted} == orphans
    assert {os.path.join("data", d) for d in os.listdir(os.path.join(always, "data"))} == live
    assert tags(always) == {**base, **{k: "racer" for k in raced}}


def test_streaming_upsert_sink_commits_per_batch(spark, tmp_path):
    """One commit per micro-batch: the first batch creates the table,
    the newest row per key wins inside a batch (by ``order_cols``) and
    the update wins across batches, a crashed writer's staged files
    stay invisible until vacuumed, and a replayed batch leaves the
    snapshot's rows unchanged."""
    path, src, ckpt = (str(tmp_path / n) for n in ("t", "src", "ckpt"))
    schema = "k BIGINT, ts BIGINT, tag STRING"

    def run_batch(name, rows):
        if rows:
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
                os.path.join(src, name)
            )
        q = (
            spark.readStream.schema(schema)
            .parquet(os.path.join(src, "*"))
            .writeStream.foreachBatch(
                txtable.streaming_upsert_sink(spark, path, ["k"], ["ts"])
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        return {r["k"]: r["tag"] for r in txtable.read_snapshot(spark, path).collect()}

    # (a) the first batch creates the table; (b) key 1 arrives twice in
    # one batch and only its newest row is committed
    got = run_batch("b0", [(1, 2, "newest"), (1, 1, "older"), (2, 1, "old")])
    assert got == {1: "newest", 2: "old"}
    assert txtable.read_snapshot(spark, path).count() == 2
    assert [m["operation"] for m in txtable.history(path)] == ["create"]

    # (c) across batches the update wins
    got = run_batch("b1", [(2, 0, "new"), (3, 0, "new")])
    assert got == {1: "newest", 2: "new", 3: "new"}

    # (d) a writer staged the next version and died before publishing:
    # invisible, the next batch publishes past it, vacuum reaps it
    orphan = txtable._stage_data(
        spark.createDataFrame([(9, 9, "crash")], schema), path, 2
    )
    got = run_batch("b2", [(4, 0, "new")])
    assert got == {1: "newest", 2: "new", 3: "new", 4: "new"}
    assert [m["operation"] for m in txtable.history(path)] == [
        "create", "merge_upsert", "merge_upsert",
    ]
    assert sorted(txtable.vacuum(path, keep_versions=3)) == sorted(orphan)

    # (e) crash between the commit and the checkpoint write: the batch
    # replays and commits again, with identical rows
    before = _rows(txtable.read_snapshot(spark, path))
    commits = os.path.join(ckpt, "commits")
    last = max((n for n in os.listdir(commits) if n.isdigit()), key=int)
    for n in (last, f".{last}.crc"):
        os.remove(os.path.join(commits, n))
    run_batch("b3", [])
    assert txtable.current_version(path) == 3
    assert _rows(txtable.read_snapshot(spark, path)) == before


def test_stream_mv_upsert_versions_and_idempotence(spark, sf_small, tmp_path):
    """The additive streaming MV: the replay equals the batch GROUP BY;
    its sink commits one version per micro-batch with the batch id in
    the manifest op, intermediate versions are readable snapshots of
    the partial MV, and a re-sent batch id is a NO-OP (the
    read-modify-write add must never double-count)."""
    from nyc_landmarks_datalake_spark.sources.catalog import table as cat
    from nyc_landmarks_datalake_spark.streaming.mv_upsert import (
        _committed_ops,
        mv_sink,
        replay_stream_mv_upsert,
    )

    ev = cat(spark, sf_small, "events").select("event_id", "user_id")
    want = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("event_id").cast("long").alias("sum_event_ids"),
    )

    def by_user(df):
        return {r.user_id: (r.n_events, r.sum_event_ids) for r in df.collect()}

    w = by_user(want)
    assert by_user(replay_stream_mv_upsert(spark, ev, n_source_files=3)) == w

    tbl = str(tmp_path / "mv")
    sink = mv_sink(spark, tbl)
    batches = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    for batch_id, batch in enumerate(batches):
        sink(batch, batch_id)
    # one create + one commit per batch, each op tagged by batch id
    assert _committed_ops(tbl) == {
        "create", "mv_delta_b0", "mv_delta_b1", "mv_delta_b2",
    }
    assert txtable.current_version(tbl) == 3
    final = txtable.read_snapshot(spark, tbl)
    assert by_user(final) == w
    # intermediate snapshot: a strict subset of the final event mass
    mid = txtable.read_snapshot(spark, tbl, 1)
    assert (
        mid.agg(F.sum("n_events")).collect()[0][0]
        < final.agg(F.sum("n_events")).collect()[0][0]
    )
    # crash-replay: batch 1 arrives again after its commit
    sink(batches[1], 1)
    assert txtable.current_version(tbl) == 3
    assert by_user(txtable.read_snapshot(spark, tbl)) == w


def _inferred(spark, path, version):
    """The table at ``version`` as schema inference over its files reads it."""
    files = txtable._read_manifest(path, version)["files"]
    return spark.read.parquet(*[os.path.join(path, f) for f in files])


def _rows(df):
    return sorted(map(repr, df.collect()))


def _typed(spark, n, tag):
    """Non-nullable, nested and temporal columns: the cases where a
    written schema and the one read back could differ."""
    return spark.range(n).select(
        F.col("id").alias("k"),
        F.lit(tag).alias("tag"),
        (F.col("id") / 3).cast("decimal(12,4)").alias("amount"),
        F.timestamp_seconds(F.col("id") * 86400).alias("ts"),
        F.array(F.col("id"), F.lit(None).cast("long")).alias("arr"),
        F.struct(F.col("id").alias("a"), F.lit(tag).alias("b")).alias("st"),
        F.create_map(F.lit(tag), F.col("id").cast("double")).alias("m"),
    )


def test_snapshot_schema_matches_inference(spark, tmp_path):
    """Every version — create, merge, optimize, each read by time travel
    — reads back with the column order, types and rows that schema
    inference over the same files gives."""
    path = str(tmp_path / "t")
    txtable.commit(spark, path, _typed(spark, 20, "a").repartition(3), "create", None)
    upd = _typed(spark, 30, "b").filter(F.col("k") >= 15)
    assert txtable.merge_upsert_tx(spark, path, upd, ["k"]) == 1
    assert txtable.optimize(spark, path, target_files=2) == 2
    for v in txtable._versions(path):
        got, want = txtable.read_snapshot(spark, path, v), _inferred(spark, path, v)
        assert got.schema == want.schema, v
        assert _rows(got) == _rows(want), v
    assert txtable.read_snapshot(spark, path).count() == 30


def test_empty_manifest_reads_empty_with_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    txtable.commit(spark, path, _typed(spark, 5, "a"), "create", None)
    m = txtable._read_manifest(path, 0)
    txtable._publish(
        path, 1, {**m, "version": 1, "parent": 0, "operation": "delete", "files": []}
    )
    got = txtable.read_snapshot(spark, path, 1)
    assert got.schema == _inferred(spark, path, 0).schema
    assert got.collect() == []


def test_read_snapshot_starts_no_job(spark, tmp_path):
    """Building a snapshot's DataFrame (before any action) runs no Spark
    job; schema inference over the same files does, which shows the
    job check can see one."""
    from nyc_landmarks_datalake_spark.plans.observe import job_group

    path = str(tmp_path / "t")
    txtable.commit(spark, path, _typed(spark, 20, "a").repartition(3), "create", None)
    txtable.merge_upsert_tx(spark, path, _typed(spark, 5, "b"), ["k"])
    tracker = spark.sparkContext.statusTracker()
    with job_group(spark, "build_snapshots", "read_snapshot, no action"):
        for v in (0, 1, None):
            txtable.read_snapshot(spark, path, v)
    with job_group(spark, "infer_snapshot", "schema inference, no action"):
        _inferred(spark, path, 1)
    assert tracker.getJobIdsForGroup("build_snapshots") == []
    assert tracker.getJobIdsForGroup("infer_snapshot") != []
