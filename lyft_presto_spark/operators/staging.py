"""Managed lifetimes for persisted intermediate artifacts.

Several queries stage an intermediate once and reuse it within (and across)
calls — TPC-H q11's supply aggregate feeds the main agg and the HAVING scalar
subquery; minhash/simhash signatures feed banding plus both sides of the
candidate self-join. Spark inlines CTEs, so without caching those would
recompute per consumer.

Round 2 persisted these inline per call: every repeat call re-persisted the
same logical plan ("Asked to cache already cached data" warnings) and nothing
ever unpersisted, so a long-lived session (the driver's sweep, a real service)
leaked cached partitions until executor eviction. This module makes the
lifetime explicit, the same posture as ``operators/ivf.py``'s build-once /
probe-many index:

- ``staged(spark, sf_dir, name, build)``: get-or-create a staged DataFrame
  keyed by (session, sf_dir, name). Exactly one staged copy per artifact per
  session regardless of call count — the production "materialized signature
  dataset" model.
- ``staged_view(...)``: same, plus registers (and returns the name of) a
  temp view whose name embeds a digest of ``sf_dir`` — two concurrent
  callers at different scale dirs can never bind a query to the wrong
  scale's artifact (ADVICE r11).
- ``release_staged(spark=None)``: drop all artifacts (or one session's) and
  free their storage. Benches/tests/services call this at pass or teardown
  boundaries. For checkpoint-staged artifacts this unpersists the underlying
  checkpointed RDD (``Dataset.unpersist`` is a cache-manager no-op for a
  LogicalRDD leaf — ADVICE r11), so blocks are freed immediately, not at
  eventual ContextCleaner GC.

Two staging mechanisms, selected by ``SPARK_GRAFT_STAGING``:

- ``local`` (default): ``localCheckpoint(eager=False)``. Spark's cache
  manager substitutes InMemoryRelations on the ANALYZED plan
  (withCachedData) but WITH-CTEs inline only later in the optimizer, so a
  ``persist()``-cached artifact referenced inside any CTE body silently
  misses the cache and re-runs its whole build per consumer (found r11 via
  the PQ plans: the bigram posting table re-tokenized the corpus 3x through
  exactly this hole). localCheckpoint cuts lineage instead — the artifact
  becomes an opaque LogicalRDD leaf that survives CTE inlining, view
  re-registration, and cache-manager misses alike. Non-reliable checkpoint
  is single-JVM-safe ONLY: lineage is cut, so on a real cluster an executor
  loss makes the blocks unrecoverable and fails the job.
- ``table``: the durable mode a multi-node 100 TB deployment uses
  (SCALE.md). The artifact is written once as parquet under
  ``SPARK_GRAFT_STAGING_DIR`` (write to a unique stage dir, then one atomic
  directory rename — the loser of a cross-process race reads the winner's
  table) and read back as a plain file-relation leaf. Same
  leaf-not-lineage property, plus durability: blocks are HDFS/S3 files, an
  executor loss re-reads them, and a NEW session (or process) finds the
  artifact on disk and skips the build entirely.

Reference analog: the reference materializes reused subplans via
CommonSubqueryRewriter/cte materialization rather than re-executing them; the
memory ownership lives with the coordinator, not the query text.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import threading
import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class _Entry:
    df: DataFrame
    release: Callable[[], None]  # frees the artifact's storage, idempotent


# Key shape: (session, abs sf_dir, artifact name, mode, version) — code that
# indexes positionally (release_staged's k[0], plan tests' k[2]) relies on it.
_StageKey = tuple[str, str, str, str, str]

_STAGED: dict[_StageKey, _Entry] = {}
# _LOCK guards the maps only and is never held across build(): builds of
# unrelated artifacts (different names/sessions) must not serialize behind
# one slow plan construction, and a build that re-enters staged() for a
# *different* artifact must not deadlock (ADVICE r3). Same-key callers block
# on each other via a per-key lock so a race can't stage twice and leak
# the losing copy until session end.
_LOCK = threading.Lock()
_KEY_LOCKS: dict[_StageKey, threading.Lock] = {}


def _session_key(spark: SparkSession) -> str:
    from ..session import session_key

    return session_key(spark)


def staging_mode() -> str:
    """``local`` (localCheckpoint, default) or ``table`` (durable parquet)."""
    mode = os.environ.get("SPARK_GRAFT_STAGING", "local")
    if mode not in ("local", "table"):
        raise ValueError(f"SPARK_GRAFT_STAGING must be local|table, got {mode!r}")
    return mode


def staging_root() -> str:
    """Directory holding table-mode artifacts (cross-session, cross-process)."""
    return os.environ.get(
        "SPARK_GRAFT_STAGING_DIR",
        os.path.join(tempfile.gettempdir(), "lyft_presto_spark_staging"),
    )


def dir_digest(sf_dir: str) -> str:
    """Short stable digest of a scale dir — view-name and path key material."""
    return hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:12]


def content_fingerprint(sf_dir: str) -> str:
    """Digest of the scale dir's data files' (relpath, size, mtime).

    Table-mode artifacts persist across processes; keyed on the path alone,
    a regenerated source dataset at the same path would silently keep
    serving every later session the stale artifact (ADVICE r12). Folding
    the input files' identity into the artifact path makes a changed input
    MISS the on-disk artifact and rebuild. mtime is read at nanosecond
    granularity where the filesystem provides it; the walk is sorted so the
    digest is order-independent of os.walk's directory enumeration.
    """
    h = hashlib.sha256()
    entries = []
    root = os.path.abspath(sf_dir)
    for dirpath, _dirnames, filenames in os.walk(root):
        for fn in filenames:
            p = os.path.join(dirpath, fn)
            try:
                st = os.stat(p)
            except OSError:
                continue
            entries.append((os.path.relpath(p, root), st.st_size, st.st_mtime_ns))
    for rel, size, mtime in sorted(entries):
        h.update(f"{rel}\x00{size}\x00{mtime}\x00".encode())
    return h.hexdigest()[:12]


def _stage_local(build: Callable[[], DataFrame]) -> _Entry:
    df = build().localCheckpoint(eager=False)
    # Capture the checkpointed RDD NOW: Dataset.unpersist only uncaches
    # cache-manager entries, which a localCheckpoint never has, so releasing
    # through the Dataset would leave the blocks alive until ContextCleaner
    # GC (ADVICE r11). The analyzed plan of a checkpointed Dataset is the
    # LogicalRDD leaf itself; its rdd() is the handle whose blocks hold the
    # artifact once materialized.
    try:
        jrdd = df._jdf.queryExecution().analyzed().rdd()
    except Exception:  # noqa: BLE001 — plan shape drift: degrade to GC lifecycle
        jrdd = None

    def release() -> None:
        try:
            if jrdd is not None:
                jrdd.unpersist(False)
            else:
                df.unpersist()
        except Exception:  # noqa: BLE001 — session already stopped
            pass

    return _Entry(df=df, release=release)


def _stage_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], DataFrame],
    version: str,
) -> _Entry:
    # The artifact path folds in (a) the scale-dir path digest, (b) a
    # fingerprint of the scale dir's data files, and (c) the caller's
    # build-version token: a regenerated input OR a changed build misses
    # the stale on-disk artifact and rebuilds (ADVICE r12). Stale
    # fingerprint dirs are dead weight, reclaimed by purge_staged_tables().
    final = os.path.join(
        staging_root(),
        f"{dir_digest(sf_dir)}-{content_fingerprint(sf_dir)}",
        f"{name}@v{version}",
    )
    if not os.path.exists(os.path.join(final, "_SUCCESS")):
        # Build into a unique stage dir, then one atomic directory rename.
        # os.rename onto an existing directory fails on POSIX, so exactly
        # one process wins a cross-process race; the loser discards its
        # stage dir and reads the winner's table. (On HDFS/S3 the same
        # protocol is a rename/commit. write_path's table rewrites commit
        # the same way one level up: a new version directory, then one
        # catalog repoint.)
        stage = f"{final}.__stage_{uuid.uuid4().hex}"
        os.makedirs(os.path.dirname(final), exist_ok=True)
        build().write.mode("errorifexists").parquet(stage)
        try:
            os.rename(stage, final)
        except OSError:
            if not os.path.exists(os.path.join(final, "_SUCCESS")):
                raise  # lost the race to a non-table? surface it
            shutil.rmtree(stage, ignore_errors=True)
    df = spark.read.parquet(final)
    # Durable artifacts outlive the session by design: release only drops
    # the in-memory handle. purge_staged_tables() deletes the files.
    return _Entry(df=df, release=lambda: None)


def staged(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], DataFrame],
    version: str = "1",
) -> DataFrame:
    """Get-or-create the staged artifact ``name`` for (session, sf_dir).

    ``version`` is the artifact's build-version token: bump it when the
    build's logic/SQL changes so table-mode deployments miss (and rebuild)
    the durable artifact written by the old logic (ADVICE r12). Local mode
    is per-session so the token is key material only.
    """
    # The resolved mode is part of the key: flipping SPARK_GRAFT_STAGING
    # mid-session must re-stage under the new mechanism, never silently
    # serve artifacts staged under the other one (ADVICE r12).
    mode = staging_mode()
    key = (_session_key(spark), os.path.abspath(sf_dir), name, mode, version)
    entry = _STAGED.get(key)
    if entry is not None:
        return entry.df
    with _LOCK:
        entry = _STAGED.get(key)  # double-checked: loser of the race reuses
        if entry is not None:
            return entry.df
        key_lock = _KEY_LOCKS.setdefault(key, threading.Lock())
    with key_lock:  # only same-key callers wait; build() runs outside _LOCK
        entry = _STAGED.get(key)
        if entry is None:
            if mode == "table":
                entry = _stage_table(spark, sf_dir, name, build, version)
            else:
                entry = _stage_local(build)
            with _LOCK:
                _STAGED[key] = entry
    return entry.df


def staged_view(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], DataFrame],
    version: str = "1",
) -> str:
    """``staged()`` + register a temp view; returns the view name.

    The view name embeds ``dir_digest(sf_dir)`` so concurrent callers at
    different scale dirs register DIFFERENT views — a fixed global name let
    two threads race createOrReplaceTempView vs spark.sql analysis and bind
    a query to the wrong scale's artifact (ADVICE r11). Same-key re-calls
    re-register the same DataFrame under the same name (idempotent).
    """
    df = staged(spark, sf_dir, name, build, version=version)
    view = f"{name}_{dir_digest(sf_dir)}"
    df.createOrReplaceTempView(view)
    return view


def release_staged(spark: SparkSession | None = None) -> int:
    """Release staged artifacts; returns how many were dropped.

    With ``spark`` given, only that session's artifacts are dropped; with
    None, everything. Checkpoint-staged artifacts have their RDD blocks
    unpersisted immediately; table-staged artifacts keep their files (use
    ``purge_staged_tables`` to delete those).
    """
    with _LOCK:
        if spark is not None:
            sk = _session_key(spark)
            keys = [k for k in _STAGED if k[0] == sk]
        else:
            keys = list(_STAGED)
        entries = [_STAGED.pop(k) for k in keys]
        for k in keys:
            _KEY_LOCKS.pop(k, None)
    for e in entries:
        e.release()
    return len(keys)


def purge_staged_tables() -> None:
    """Delete all table-mode artifact files under the staging root."""
    shutil.rmtree(staging_root(), ignore_errors=True)
