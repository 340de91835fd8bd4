"""Process-lifetime scratch directories for zones that outlive a call.

The census table, the partitioned and DPP zones, the bucketed tables,
the transaction-log scenario and the source round-trip dirs stage data
under ``tempfile.mkdtemp`` roots that must OUTLIVE the lazy DataFrames
read back from them (the caller collects the result later). ``mkdtemp``
dirs do not die at process exit though, so this module registers every
such root and removes them all in ONE ``atexit`` hook. Streaming
replays do not need it: ``streaming.guard.replay`` materializes their
result and removes their staging itself."""

from __future__ import annotations

import atexit
import shutil
import tempfile

_ROOTS: list[str] = []


def scratch_dir(prefix: str) -> str:
    """``tempfile.mkdtemp`` that self-cleans at interpreter exit."""
    path = tempfile.mkdtemp(prefix=prefix)
    _ROOTS.append(path)
    return path


@atexit.register
def _cleanup() -> None:
    while _ROOTS:
        shutil.rmtree(_ROOTS.pop(), ignore_errors=True)
