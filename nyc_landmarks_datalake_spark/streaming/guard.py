"""The finite streaming replay protocol.

A replay runs a batch table through the REAL streaming engine so an
operator's state has to carry across micro-batch boundaries, and then
compares the result with a batch oracle. Every replay in this package
takes the same steps:

1. :func:`stage` writes the input as parquet files;
2. :func:`file_stream` reads them back as a stream, one file per
   micro-batch (``maxFilesPerTrigger=1``);
3. :func:`replay` runs a ``foreachBatch`` sink with its checkpoint
   under the replay's base dir and an ``availableNow`` trigger, waits
   in :func:`finish_replay`, reads the sink's output with the caller's
   session and materializes it (eager ``localCheckpoint``).

A replay owns its base dir: callers make it with ``tempfile.mkdtemp``,
and ``replay`` removes it before returning, on success or failure. The
result reads no files, so a caller may hold it as long as it likes.

``finish_replay`` fails loud: ``awaitTermination(timeout)`` returns
``False`` on timeout with the query still RUNNING, and reading the sink
then would return a partial result (or nothing), a silently wrong
answer. A hung replay is stopped and raises instead.

Stateful replays stream on :func:`replay_session`, a clone with few
shuffle partitions. A streaming query keeps one state-store instance
per shuffle partition per stateful operator per micro-batch, so at
replay scale (a few thousand rows) the parent session's 32 partitions
are pure store-provider overhead (the stream-stream outer join spent
~9% of the whole bench on it). The clone shares the SparkContext but
has its own SessionState, so the shared session's conf is never
mutated mid-query. The sink writes plain parquet, so the caller's
session reads the result back with its own conf.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame

#: shuffle partitions of the replay clone; on a real cluster size this
#: to executor count × state volume instead
REPLAY_SHUFFLE_PARTITIONS = 8

#: seconds a replay may run before :func:`finish_replay` gives up
REPLAY_TIMEOUT_S = 300

#: one cached clone per application — a ``newSession()`` per replay
#: leaked a SessionState (and its listener/conf machinery) each time.
#: Keyed on applicationId (not ``id(sparkContext)``: CPython reuses id()
#: after GC, so a restarted context could collide with a dead clone's
#: key) and validated for liveness before reuse.
_REPLAY_SESSIONS: dict[str, object] = {}


def replay_session(spark):
    """The cached low-shuffle-partition clone of ``spark`` for stateful
    replays. Reuse is safe: each replay runs to completion before the
    next starts (finish_replay blocks), sinks are per-call dirs and no
    temp views are registered, so a clone carries nothing between
    replays."""
    key = spark.sparkContext.applicationId
    sess = _REPLAY_SESSIONS.get(key)
    if sess is not None:
        # a cached clone can outlive its context (stop() + new session
        # in tests): hand back only a clone that shares the CALLER's
        # live context, else rebuild.
        try:
            alive = (
                sess.sparkContext is spark.sparkContext
                and not sess.sparkContext._jsc.sc().isStopped()
            )
        except Exception:
            alive = False
        if not alive:
            _REPLAY_SESSIONS.pop(key, None)
            sess = None
    if sess is None:
        sess = spark.newSession()
        sess.conf.set(
            "spark.sql.shuffle.partitions", str(REPLAY_SHUFFLE_PARTITIONS)
        )
        _REPLAY_SESSIONS[key] = sess
    return sess


def stage(rows: DataFrame, path: str, n_files: int) -> str:
    """Write ``rows`` as ``n_files`` parquet files under ``path``."""
    rows.repartition(n_files).write.mode("overwrite").parquet(path)
    return path


def file_stream(sess, path: str, schema) -> DataFrame:
    """The staged files under ``path`` as a stream, one file per
    micro-batch."""
    return sess.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)


def replay(
    spark,
    query: DataFrame,
    base: str,
    zone: str,
    mode: str = "append",
    sink=None,
    read=None,
    timeout_s: int = REPLAY_TIMEOUT_S,
) -> DataFrame:
    """Run the streaming ``query`` to completion (checkpoint under
    ``base``, ``availableNow``) and return its output materialized, then
    remove ``base``. The default sink appends each micro-batch to
    ``<base>/out``, or overwrites it in complete mode, so the last
    complete snapshot survives. The output is ``read()``, by default
    the parquet under ``<base>/out`` read with ``spark``; a
    caller-supplied ``sink`` writes there or passes its own ``read``."""
    out = os.path.join(base, "out")
    if sink is None:
        write_mode = "overwrite" if mode == "complete" else "append"

        def sink(batch_df: DataFrame, _batch_id: int) -> None:
            batch_df.write.mode(write_mode).parquet(out)

    try:
        q = (
            query.writeStream.foreachBatch(sink)
            .outputMode(mode)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        finish_replay(q, timeout_s, zone)
        result = read() if read else spark.read.parquet(out)
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def finish_replay(q, timeout_s: int, zone: str) -> None:
    """Block until the streaming query ``q`` terminates; stop it and
    raise on timeout."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise RuntimeError(
            f"streaming replay ({zone}) did not finish within "
            f"{timeout_s}s; refusing to read a partial result"
        )
