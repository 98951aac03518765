"""The one availableNow drain and the one result-directory helper.

Every streaming query in the package runs through ``drain``: the
stream is processed up to what is present when it starts
(``trigger(availableNow=True)``), then stops. The sink is either an
in-memory table, returned as a DataFrame, or a ``foreachBatch``
function that writes each micro-batch wherever it likes. Results that
must outlive the call (``foreachBatch`` stores read lazily by the
returned DataFrame) go under ``fresh_result_dir``.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import shutil
import tempfile
import time
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

# Memory-sink query names must be unique per (re)run within a session.
_seq = itertools.count()


def drain(
    stream_df: DataFrame,
    mode: str = "append",
    *,
    table: str | None = None,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    ckpt: str | None = None,
) -> tuple[DataFrame | None, StreamingQuery]:
    """Run ``stream_df`` to the end of its available input.

    Without ``foreach_batch`` the rows land in a memory table named
    ``table``, returned as a DataFrame of the stream's session; with
    it, the returned table is None. If ``table`` is None the memory
    table gets a fresh unique name, and that view is dropped once the
    DataFrame has resolved it (the frame keeps the sink's rows), so
    repeat drains leave no views behind. Returns
    ``(table, query)``, the query terminated, so a caller can read its
    ``lastProgress``.

    Each drain gets a fresh checkpoint, removed once the query ends,
    also when it fails: a reused checkpoint would mark the input
    already processed and drain nothing on a repeat run. A caller that
    passes ``ckpt`` owns it, and it is kept (restart from a crash).

    ``mode`` is the output mode. Complete mode emits the full state
    once on a single-batch drain; append mode would withhold every
    window still inside the watermark delay, since the drain ends
    before the watermark passes the tail windows. Stream-stream joins
    and stateless projections drain in append mode, where rows emit as
    they are produced."""
    writer = stream_df.writeStream.outputMode(mode).trigger(availableNow=True)
    if foreach_batch is None:
        name = table or f"pmrs_drain_{next(_seq)}"
        writer = writer.format("memory").queryName(name)
    else:
        writer = writer.foreachBatch(foreach_batch)
    own_ckpt = ckpt is None
    if own_ckpt:
        ckpt = tempfile.mkdtemp(prefix="pmrs_drain_ckpt_")
    try:
        query = writer.option("checkpointLocation", ckpt).start()
        query.awaitTermination()
    finally:
        if own_ckpt:
            shutil.rmtree(ckpt, ignore_errors=True)
    if foreach_batch is not None:
        return None, query
    spark = stream_df.sparkSession
    out = spark.table(name)
    if table is None:
        spark.catalog.dropTempView(name)
    return out, query


def fresh_result_dir(kind: str, sf_dir: str) -> str:
    """Deterministic per-(pid, sf_dir) result directory under
    ``/tmp/<kind>/<pid>/<hash>``, cleared up front: repeat runs in one
    process (bench best-of-N, gate re-runs) reuse ONE directory
    instead of leaking a fresh mkdtemp each invocation. The dir must
    outlive the call (the returned DataFrame reads it lazily), so it
    is cleared at the START of the next run, not on exit — and
    sibling PID dirs whose process has exited are swept here too
    (pid-keyed tags otherwise accumulate in /tmp indefinitely across
    processes)."""
    parent = os.path.join(tempfile.gettempdir(), kind)
    os.makedirs(parent, exist_ok=True)
    with os.scandir(parent) as it:
        for e in it:
            if not e.is_dir(follow_symlinks=False):
                continue
            try:
                pid = int(e.name)
            except ValueError:
                # pre-r14 hash-keyed layout: pid unrecoverable, sweep
                shutil.rmtree(e.path, ignore_errors=True)
                continue
            if pid == os.getpid():
                continue
            if pid <= 0:
                # os.kill(0, 0) signals OUR OWN process group and
                # always "succeeds" — a dir literally named "0" (or a
                # negative number) is never a live sibling; sweep it.
                shutil.rmtree(e.path, ignore_errors=True)
                continue
            try:
                os.kill(pid, 0)
            except (ProcessLookupError, OverflowError):
                # gone — or an all-digit pre-r14 hash tag too large to
                # be a pid; either way the dir is stale
                shutil.rmtree(e.path, ignore_errors=True)
                continue
            except PermissionError:
                pass  # alive under another uid — not ours to sweep
            # pid-alive can be a RECYCLED pid belonging to an unrelated
            # process; age out dirs untouched for a day as a fallback.
            # Writes land in TAG SUBDIRS, which never touch the parent
            # pid dir's mtime — so age on the MAX mtime across the pid
            # dir and its children, or a legitimately long-running
            # (>1 day) live sibling would be swept mid-run.
            # Best-effort: correctness never depends on the sweep, only
            # /tmp hygiene does.
            try:
                newest = e.stat(follow_symlinks=False).st_mtime
                with os.scandir(e.path) as tags:
                    for t in tags:
                        newest = max(
                            newest, t.stat(follow_symlinks=False).st_mtime
                        )
                if time.time() - newest > 86400:
                    shutil.rmtree(e.path, ignore_errors=True)
            except OSError:
                pass
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    out = os.path.join(parent, str(os.getpid()), tag)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    return out
