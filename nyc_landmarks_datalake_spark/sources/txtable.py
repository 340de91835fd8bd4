"""Minimal transactional table format: a file-based commit log giving
parquet zones ACID semantics without a lakehouse library.

The sandbox has no delta-spark/iceberg (documented in SCALING.md). This
module implements the transactional core those formats provide, from
first principles, on any POSIX-rename filesystem. It is the lake's one
way to replace a table: batch MERGE, streaming upserts and compaction
are all commits here, as in Delta Lake, where streaming writes and
OPTIMIZE are ordinary log commits:

Layout::

    <table>/data/<version>-<n>.parquet   immutable data files
    <table>/_txlog/00000042.json         commit 42's manifest

Data files are zstd parquet (the session's codec, as in Iceberg's
default). A MERGE writes one file per ``TARGET_FILE_BYTES`` (128 MiB,
one scan split) of the files it reads, base snapshot plus updates, as
Delta sizes files toward a target at write time; an explicit
:func:`commit` and :func:`optimize` keep the partitioning their caller
gave.

Each commit file is the FULL manifest of the snapshot at that version
(data file list + schema fingerprint + operation name + parent
version). Readers list ``_txlog``, take the highest version, and read
exactly the files it names — a half-written data directory is invisible
because nothing references it (snapshot isolation). Writers stage data
files first, then publish the manifest with ``os.link`` (hard-link
then unlink), which FAILS if the version already exists — two racing
writers can both stage, but only one publishes; the loser gets
:class:`CommitConflict` and must rebase — :func:`rewrite` re-runs its
transform on the winner's snapshot (optimistic concurrency, the same
protocol Delta uses on HDFS-like stores).

Reads trust the manifest schema: a reader is built with
``spark.read.schema(<manifest schema>)`` and never infers one from the
data files' footers (Delta keeps its schema in the log's metadata action
for the same reason). That is safe because a version's data files are
immutable: they are written once under a fresh directory before the
manifest that names them is published, and nothing rewrites them
afterwards, so the schema recorded at commit is the schema of every
file the manifest lists. It also saves the footer-read job that
inference costs on every read.

Crash safety: a writer dying before publish leaves orphaned data files
referenced by no manifest — invisible to every reader; ``vacuum``
removes them once another commit has taken their version. A writer
dying during publish leaves either no manifest (nothing happened) or a
complete one (commit happened): ``link`` is atomic, and manifests are
staged write-fsync-link so a torn JSON is never visible under
``_txlog``. The ``_txlog`` directory is fsynced after the link, so a
commit its writer saw succeed is still there after a crash.

Scale posture: commits are O(1) driver-side metadata (one small JSON);
data stays distributed parquet with normal pushdown/pruning. The
full-snapshot manifest (vs delta's add/remove log) trades O(files)
manifest size for zero log-replay cost — right up to manifests of ~1e5
files; beyond that a real format's checkpointed delta log wins, which
is the documented seam. A MERGE snapshot holds ceil(bytes / 128 MiB)
files however many splits fed it, so the per-file costs (a footer, a
committer round trip, an open per scan) follow the table's bytes, not
its write history. zstd stores a 5,000-row landmarks snapshot in 38%
fewer bytes than snappy (1.63 → 1.01 MB), mostly in the encoded
geometry.

Reference note: the reference has no row-level maintenance at all
(CSVIngest.java moves whole objects, :253-269); this is the engine
tier the lake's silver zone implies.
"""

from __future__ import annotations

import json
import math
import os
import tempfile
import uuid
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: attempts a :func:`rewrite` makes before giving up on a racing writer
MAX_ATTEMPTS = 3
#: bytes of input per MERGE output file: one scan split
#: (``spark.sql.files.maxPartitionBytes``)
TARGET_FILE_BYTES = 128 * 1024 * 1024


class CommitConflict(RuntimeError):
    """Another writer published this version first; rebase and retry."""


def _txlog_dir(path: str) -> str:
    return os.path.join(path, "_txlog")


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_txlog_dir(path), f"{version:08d}.json")


def _versions(path: str) -> list[int]:
    try:
        names = os.listdir(_txlog_dir(path))
    except FileNotFoundError:
        return []
    return sorted(
        int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()
    )


def current_version(path: str) -> int | None:
    vs = _versions(path)
    return vs[-1] if vs else None


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_path(path, version)) as f:
        return json.load(f)


def _latest_manifest(path: str) -> dict:
    v = current_version(path)
    if v is None:
        raise FileNotFoundError(f"no committed version at {path}")
    return _read_manifest(path, v)


def _stage_data(df: DataFrame, path: str, version: int) -> list[str]:
    """Write df as immutable parquet files under data/, return their
    table-relative paths. Files are namespaced by target version + a
    uuid so concurrent stagers never collide."""
    sub = f"{version:08d}-{uuid.uuid4().hex[:12]}"
    out = os.path.join(path, "data", sub)
    df.write.mode("error").parquet(out)
    return [
        os.path.join("data", sub, n)
        for n in sorted(os.listdir(out))
        if n.endswith(".parquet")
    ]


def _publish(path: str, version: int, manifest: dict) -> None:
    """Atomically publish a manifest as <version>.json, failing if the
    version exists (optimistic concurrency). The ``_txlog`` directory is
    fsynced after the link, so a commit its writer saw succeed survives
    a crash: the link is a directory entry, which the file's own fsync
    does not make durable."""
    log = _txlog_dir(path)
    os.makedirs(log, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=log, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, _manifest_path(path, version))  # atomic, no overwrite
        except FileExistsError as e:
            raise CommitConflict(
                f"version {version} already committed at {path}"
            ) from e
    finally:
        os.unlink(tmp)
    dfd = os.open(log, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def commit(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    operation: str,
    expected_version: int | None = None,
) -> int:
    """Stage ``df`` as the table's next full snapshot and publish it.

    ``expected_version``: the version this commit was based on (None
    for table creation). Publishing targets expected_version + 1; if a
    concurrent writer got there first, CommitConflict is raised AFTER
    staging — staged files are orphans, invisible until vacuumed."""
    base = current_version(path)
    if expected_version is None and base is not None:
        raise CommitConflict(f"table already exists at {path} (v{base})")
    version = 0 if expected_version is None else expected_version + 1
    files = _stage_data(df, path, version)
    manifest = {
        "version": version,
        "parent": expected_version,
        "operation": operation,
        "schema": df.schema.jsonValue(),
        "files": files,
    }
    _publish(path, version, manifest)
    return version


def read_snapshot(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read the table at ``version`` (default: latest). Time travel is
    free: every manifest is a full snapshot. The reader takes the
    manifest's schema, so building it starts no Spark job (see the
    module docstring); an empty file list reads as zero rows.

    A vacuum may unlink the manifest just resolved as the latest (a
    newer commit made it old) before it is opened; the latest version
    is then resolved once more. An explicit ``version`` that vacuum
    dropped raises ``FileNotFoundError``: time travel never returns
    another version."""
    if version is not None:
        m = _read_manifest(path, version)
    else:
        try:
            m = _latest_manifest(path)
        except FileNotFoundError:
            m = _latest_manifest(path)
    return spark.read.schema(T.StructType.fromJson(m["schema"])).parquet(
        *[os.path.join(path, f) for f in m["files"]]
    )


def rewrite(spark: SparkSession, path: str, operation: str, fn) -> int:
    """Commit ``fn(latest snapshot)`` as the next version. When a racer
    publishes that version first, re-run ``fn`` on the racer's snapshot
    and try again (Delta's rebase), up to ``MAX_ATTEMPTS`` attempts in
    all. A base version that a vacuum dropped after a newer commit is a
    lost race too: the attempt resolves the latest version again. Staged
    files of a lost attempt are orphans until vacuumed."""
    for _ in range(MAX_ATTEMPTS):
        base_v = current_version(path)
        if base_v is None:
            raise FileNotFoundError(f"no committed version at {path}")
        try:
            base = read_snapshot(spark, path, base_v)
        except FileNotFoundError:
            continue
        snap = fn(base)
        try:
            return commit(spark, path, snap, operation, base_v)
        except CommitConflict:
            continue
    raise CommitConflict(f"gave up after {MAX_ATTEMPTS} attempts at {path}")


def _right_sized(df: DataFrame) -> DataFrame:
    """``df`` coalesced, without a shuffle, to one partition per
    ``TARGET_FILE_BYTES`` of the files it reads (at least one)."""
    n = sum(os.path.getsize(unquote(urlparse(f).path)) for f in df.inputFiles())
    return df.coalesce(max(1, math.ceil(n / TARGET_FILE_BYTES)))


def merge_upsert_tx(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
) -> int:
    """Transactional SCD1 MERGE: the latest snapshot minus the rows
    whose ``keys`` collide with ``updates``, plus ``updates``, committed
    through :func:`rewrite` as one file per ``TARGET_FILE_BYTES`` of
    input (base snapshot plus update files), not one per input split."""
    from nyc_landmarks_datalake_spark.operators.merge import merge_upsert

    return rewrite(
        spark,
        path,
        "merge_upsert",
        lambda base: _right_sized(merge_upsert(base, updates, keys)),
    )


def optimize(spark: SparkSession, path: str, target_files: int) -> int:
    """Transactional compaction (the OPTIMIZE maintenance op): rewrite
    the latest snapshot into ~target_files well-sized files and commit
    the rewrite through :func:`rewrite`. Readers on the old version are
    untouched (its files stay until vacuumed)."""
    return rewrite(
        spark, path, "optimize", lambda snap: snap.repartition(target_files)
    )


def streaming_upsert_sink(
    spark: SparkSession, path: str, keys: list[str], order_cols: list[str]
):
    """foreachBatch sink that upserts each micro-batch into the table
    through the commit log. The batch is first collapsed to its newest
    row per key (descending ``order_cols``); the first batch creates
    the table as version 0, and every later one is a ``merge_upsert_tx``
    commit, so updates win across batches. A crash mid-batch leaves the
    last committed version intact (staged files are orphans until
    ``vacuum``), and the streaming checkpoint replays the batch; the
    merge replaces rows per key, so a replay converges.

    Use: ``df.writeStream.foreachBatch(streaming_upsert_sink(spark,
    path, ["k"], ["ts"]))``."""
    from nyc_landmarks_datalake_spark.operators.merge import keep_latest

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        latest = keep_latest(batch_df, keys, order_cols)
        if current_version(path) is None:
            try:
                commit(spark, path, latest, "create", None)
                return
            except CommitConflict:
                pass  # another writer created it first: merge into theirs
        merge_upsert_tx(spark, path, latest, keys)

    return sink


def history(path: str) -> list[dict]:
    """Every manifest of the table, in version order (the read side of
    Delta's DESCRIBE HISTORY): version, parent, operation, schema and
    data files of each commit that ``vacuum`` has not dropped. A
    manifest that a concurrent vacuum unlinks between the listing and
    its read is left out."""
    manifests = []
    for v in _versions(path):
        try:
            manifests.append(_read_manifest(path, v))
        except FileNotFoundError:
            continue
    return manifests


def referenced_files(path: str) -> set[str]:
    return {f for m in history(path) for f in m["files"]}


def vacuum(path: str, keep_versions: int = 1) -> list[str]:
    """Drop manifests older than the newest ``keep_versions`` and
    delete staging directories no remaining manifest references
    (including crash orphans). Staging dirs are immutable per-commit
    units, so liveness is decided per-dir — a dir is live iff some
    manifest references a file inside it; within a live dir every
    parquet is referenced by construction (writer sidecars like
    _SUCCESS ride along untouched). A dir staged for a version past the
    latest one seen on entry may belong to a writer in flight, which
    could still publish it, so it is kept (Delta's VACUUM likewise
    spares files a running writer may commit); once that version is
    taken, a dir nothing references is an orphan. A manifest, dir or
    file that a concurrent vacuum removed after this one listed it is
    skipped; any other error raises. Returns the parquet paths this call
    deleted, so racing vacuums never both count a file."""
    import shutil

    def gone_ok(_func, _path, exc_info) -> None:
        if not issubclass(exc_info[0], FileNotFoundError):
            raise exc_info[1]

    vs = _versions(path)
    latest = vs[-1] if vs else -1
    for v in vs[:-keep_versions] if keep_versions else vs:
        try:
            os.unlink(_manifest_path(path, v))
        except FileNotFoundError:
            continue
    live_dirs = {os.path.dirname(f) for f in referenced_files(path)}
    deleted: list[str] = []
    data_root = os.path.join(path, "data")
    for sub in sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []:
        rel_dir = os.path.join("data", sub)
        if rel_dir in live_dirs or int(sub.split("-")[0]) > latest:
            continue
        full_dir = os.path.join(data_root, sub)
        try:
            names = sorted(os.listdir(full_dir))
        except FileNotFoundError:
            continue
        for n in names:
            if not n.endswith(".parquet"):
                continue
            try:
                os.unlink(os.path.join(full_dir, n))
            except FileNotFoundError:
                continue
            deleted.append(os.path.join(rel_dir, n))
        shutil.rmtree(full_dir, onerror=gone_ok)
    return deleted
