"""Digest-aware parquet checkpoints for shared curation artifacts.

``tracked_persist`` (functions/caching.py) memoizes within one Spark
session; this module is the cross-run boundary: a DataFrame is written
to parquet ONCE per (key, digest) and every later request — in this
process or the next driver run — reads the checkpoint instead of
recomputing the corpus-wide scan/shuffle. At 100 TB this is the
difference between re-reading a columnar table and re-running the
shingle/hash pipeline over the raw text.

The digest covers both the PLAN (``semanticHash`` — canonicalized, so
it is stable across sessions for the same query) and the INPUT FILES
(path, size, mtime of every file the plan reads): a changed query or
changed data produces a new digest, and the stale checkpoint is pruned.
The mechanism mirrors the Task digest/sha-dirtiness design (task.py) at
DataFrame granularity.

Checkpoints live under ``$SPARK_GRAFT_CHECKPOINT_DIR``; when that is
set explicitly (a production deployment wiring a durable artifact
store, the DataFrame-level analogue of Task.store) the artifacts are
shared across driver processes as described above. UNSET — the test
rig / bench default — the directory is scoped per PROCESS: every new
driver invocation (bench run, correctness sweep, oracle gate) starts
cold and computes from the parquet inputs, sharing the artifact only
between consumers INSIDE that invocation. A timed or gated run
therefore never reads an intermediate a previous run persisted
(r11 measurement-honesty rule); stale per-process directories from
exited drivers are pruned on first use.
Set ``SPARK_GRAFT_CHECKPOINT=0`` to fall back to session-level
``tracked_persist`` only (tests that measure cold plans do this).

A second, orthogonal knob serves ITERATIVE loops
(:func:`iter_checkpoint`): ``$SPARK_GRAFT_RELIABLE_CHECKPOINT_DIR``
switches the per-round lineage truncation inside
``min_label_components`` (functions/components.py) from
``localCheckpoint`` (executor-local blocks — fast, but a lost executor
kills the loop) to reliable ``checkpoint()`` against that directory
(HDFS/S3 on a cluster). Unset — the local[N] default — keeps
``localCheckpoint``: on a single JVM there is no executor to lose and
the reliable path's extra write/read round-trip buys nothing.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame

from pypers_spark.functions.caching import tracked_persist
from pypers_spark.sources.io import read_parquet

_OPEN: dict = {}  # (key, digest) -> checkpoint-backed DataFrame


def checkpoint_dir() -> str:
    explicit = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if explicit:
        return explicit
    return os.path.join(_default_base(), f"proc-{os.getpid()}")


def _default_base() -> str:
    return os.path.join(tempfile.gettempdir(), "pypers_spark_checkpoints")


_PRUNED = False


def _prune_stale_process_dirs() -> None:
    """Best-effort removal of per-process checkpoint dirs whose owning
    driver has exited (the default scope leaves one directory per
    invocation behind; a dead pid's artifacts can never be read again
    by design). Runs once per process, before the first write."""
    global _PRUNED
    if _PRUNED:
        return
    _PRUNED = True
    base = _default_base()
    if not os.path.isdir(base):
        return
    for entry in os.listdir(base):
        if not entry.startswith("proc-"):
            continue
        try:
            pid = int(entry.split("-", 1)[1])
        except ValueError:
            continue
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)  # raises if the pid is gone
        except ProcessLookupError:
            shutil.rmtree(os.path.join(base, entry), ignore_errors=True)
        except OSError:
            pass  # pid exists but isn't ours — leave it alone


def checkpoint_enabled() -> bool:
    return os.environ.get("SPARK_GRAFT_CHECKPOINT", "1") not in ("0", "false", "off")


def reliable_checkpoint_dir() -> str | None:
    """Directory for reliable iterative checkpoints, or None (the
    local-rig default, meaning ``localCheckpoint``)."""
    return os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT_DIR") or None


def iter_checkpoint(df: DataFrame) -> DataFrame:
    """Eager lineage-truncating materialization for iterative loops.

    With ``$SPARK_GRAFT_RELIABLE_CHECKPOINT_DIR`` set: reliable
    ``checkpoint()`` — blocks are written to that directory (HDFS/S3 on
    a cluster), so a lost executor mid-convergence recovers from
    durable storage instead of killing the whole job. Unset: eager
    ``localCheckpoint()``, the single-JVM fast path. Plan shape is
    identical either way — only the storage of the truncated lineage
    differs — so loops converge to byte-identical results under both
    (pinned in tests/test_round6_ops.py).

    ``setCheckpointDir`` is applied once per SparkContext (Spark
    creates a fresh UUID subdirectory per call; re-setting every round
    would leak directories).
    """
    target = reliable_checkpoint_dir()
    if target is None:
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    current = sc.getCheckpointDir()
    if not current or target.rstrip("/") not in current:
        sc.setCheckpointDir(target)
    return df.checkpoint(eager=True)


def _digest(df: DataFrame) -> str:
    h = hashlib.md5()
    h.update(str(df.semanticHash()).encode())
    h.update(df.schema.json().encode())
    for f in sorted(df.inputFiles()):
        path = f.removeprefix("file:")
        try:
            st = os.stat(path)
            h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}".encode())
        except OSError:
            h.update(f"{f}:?".encode())  # non-local file — plan hash only
    return h.hexdigest()[:16]


def table_checkpoint(df: DataFrame, key: str) -> DataFrame:
    """Return a checkpoint-backed DataFrame for ``df`` under ``key``.

    First call per (key, digest) writes the parquet checkpoint; later
    calls — including from other driver processes — read it. Older
    digests under the same key are pruned (data or plan changed → the
    old artifact is dead). Disabled → plain ``tracked_persist``.
    """
    if not checkpoint_enabled():
        return tracked_persist(df, key)
    spark = df.sparkSession
    try:
        digest = _digest(df)
    except Exception:
        return tracked_persist(df, key)  # e.g. plan without file sources
    memo = _OPEN.get((key, digest))
    if memo is not None:
        try:
            if memo.sparkSession is spark:
                return memo
        except Exception:
            pass
    if not os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR"):
        _prune_stale_process_dirs()
    base = os.path.join(checkpoint_dir(), key)
    path = os.path.join(base, digest)
    if not os.path.isfile(os.path.join(path, "_SUCCESS")):
        # Write to a process-private staging dir and publish with an
        # atomic rename: concurrent driver processes racing on the same
        # digest each write their own staging copy, exactly one rename
        # wins, and readers never observe a half-written checkpoint.
        staging = f"{path}.tmp-{os.getpid()}"
        df.write.mode("overwrite").parquet(staging)
        try:
            os.rename(staging, path)
        except OSError:
            shutil.rmtree(staging, ignore_errors=True)  # lost the race
        # prune stale digests and staging dirs abandoned by crashed
        # writers (>1h old; a live writer publishes within one job).
        # A digest memoized in _OPEN is NOT stale (r11 fix): sessions
        # that alternate scale factors under one key (profilers warm at
        # sf0.001 then run sf0.1; the bench warms the same way) flip
        # between digests, and pruning the other digest deletes parquet
        # under a LIVE persisted DataFrame — its lazily-read / evicted
        # cache partitions then fail with FAILED_READ.FILE_NOT_EXIST
        # (the source of this round's flaky retries).
        if os.path.isdir(base):
            import time

            live = {d for (k2, d) in _OPEN if k2 == key}
            live.add(digest)
            cutoff = time.time() - 3600
            for entry in os.listdir(base):
                full = os.path.join(base, entry)
                if entry not in live and ".tmp-" not in entry:
                    shutil.rmtree(full, ignore_errors=True)
                elif ".tmp-" in entry and entry != os.path.basename(staging):
                    try:
                        if os.path.getmtime(full) < cutoff:
                            shutil.rmtree(full, ignore_errors=True)
                    except OSError:
                        pass
    # The read-back is ALSO session-persisted (keyed memoization): the
    # parquet artifact serves cross-process reuse, the persist serves
    # the 2-3 consumers inside one query plan without re-decoding the
    # parquet each time.
    out = tracked_persist(read_parquet(spark, path), key)
    _OPEN[(key, digest)] = out
    return out
