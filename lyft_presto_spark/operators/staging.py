"""Build-once artifacts: the one module that knows how an artifact is built
once, on disk or in a session.

- ``publish_once(final, write)`` at ``artifact_dir(sf_dir, name, version)``
  for artifacts on disk: ``write(stage)`` fills a hidden sibling directory
  and one atomic rename commits it (the reference's TableWriterNode/
  TableFinishNode). Used by table-mode ``staged()``, both IVF indexes
  (queries/similarity_queries.py), the streaming ANN ingest sink and
  tools/scale_layout_bench.py's derived layouts.
- ``session_memo(spark, key, build)`` for values that live in a session:
  resolved fixture tables (``session.load_table``), fitted ML models,
  prepared geometry Column trees, learned spatial partitionings, the
  filelog topic, and once-per-session UDF/data-source registrations.

``staged()`` shares session_memo's get-or-create over its own store,
``_STAGED``, whose entries own releasable storage. Several queries stage an intermediate once and reuse it within (and across)
calls — TPC-H q11's supply aggregate feeds the main agg and the HAVING scalar
subquery; minhash/simhash signatures feed banding plus both sides of the
candidate self-join. Spark inlines CTEs, so without caching those would
recompute per consumer.

- ``staged(spark, sf_dir, name, build)``: get-or-create a staged DataFrame
  keyed by (session, sf_dir, name). Exactly one staged copy per artifact per
  session regardless of call count — the production "materialized signature
  dataset" model.
- ``staged_view(...)``: same, plus registers (and returns the name of) a
  temp view whose name embeds a digest of ``sf_dir`` — two concurrent
  callers at different scale dirs can never bind a query to the wrong
  scale's artifact (ADVICE r11).
- ``release_staged(spark=None)``: drop all staged artifacts (or one
  session's) and free their storage. Benches/tests/services call this at
  pass or teardown boundaries. For checkpoint-staged artifacts this
  unpersists the underlying checkpointed RDD (``Dataset.unpersist`` is a
  cache-manager no-op for a LogicalRDD leaf — ADVICE r11), so blocks are
  freed immediately, not at eventual ContextCleaner GC. Memos are not
  dropped: they hold no storage of their own.

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
  (SCALE.md). The artifact is published once as parquet under
  ``SPARK_GRAFT_STAGING_DIR`` (``publish_once`` at ``artifact_dir``) and
  read back as a plain file-relation leaf. Same leaf-not-lineage property,
  plus durability: blocks are HDFS/S3 files, an executor loss re-reads
  them, and a NEW session (or process) finds the artifact on disk and
  skips the build entirely.

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
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")


@dataclass
class _Entry:
    df: DataFrame
    release: Callable[[], None]  # frees the artifact's storage, idempotent


# Key shape: (session, abs sf_dir, artifact name, mode, version) — code that
# indexes positionally (release_staged's k[0], plan tests' k[2]) relies on it.
_StageKey = tuple[str, str, str, str, str]

_STAGED: dict[_StageKey, _Entry] = {}
# session_memo's store; its 2-tuple keys never equal a 5-tuple _STAGED key.
_MEMO: dict[tuple[str, tuple], object] = {}
# _LOCK guards the maps only and is never held across build(): builds of
# unrelated artifacts (different names/sessions) must not serialize behind
# one slow plan construction, and a build that re-enters for a *different*
# artifact must not deadlock (ADVICE r3). Same-key callers block on each
# other via a per-key lock so a race can't build twice and leak the losing
# copy until session end.
_LOCK = threading.Lock()
_KEY_LOCKS: dict[tuple, threading.Lock] = {}


def _get_or_create(store: dict, key: tuple, build: Callable[[], T]) -> T:
    value = store.get(key)  # hit path: one dict lookup, no lock
    if value is not None:
        return value
    with _LOCK:
        value = store.get(key)  # double-checked: loser of the race reuses
        if value is not None:
            return value
        key_lock = _KEY_LOCKS.setdefault(key, threading.Lock())
    with key_lock:  # only same-key callers wait; build() runs outside _LOCK
        value = store.get(key)
        if value is None:
            value = build()
            with _LOCK:
                store[key] = value
    return value


def session_key(spark: SparkSession) -> str:
    """Stable identity for a live session (survives id() reuse across stops)."""
    return spark.sparkContext.applicationId


def session_memo(spark: SparkSession, key: tuple, build: Callable[[], T]) -> T:
    """Get-or-create the value ``build()`` once per (live session, ``key``).

    ``key`` is a tuple that starts with the calling site's name, followed by
    whatever else the value depends on (e.g. the scale dir). The session
    part of the key is its applicationId, stable and unique per
    SparkContext, not ``id(spark)``: a stopped session's id() can be
    recycled by the allocator, and a new session would then be served the
    old one's DataFrames, Columns or registrations. ``build`` runs at most
    once per key (concurrent callers of the same key wait for it; other keys
    never do) and must not return None. ``release_staged`` does not drop
    memos.
    """
    return _get_or_create(_MEMO, (session_key(spark), key), build)


def staging_mode() -> str:
    """``local`` (localCheckpoint, default) or ``table`` (durable parquet)."""
    mode = os.environ.get("SPARK_GRAFT_STAGING", "local")
    if mode not in ("local", "table"):
        raise ValueError(f"SPARK_GRAFT_STAGING must be local|table, got {mode!r}")
    return mode


def staging_root() -> str:
    """Directory holding durable artifacts (cross-session, cross-process)."""
    return os.environ.get(
        "SPARK_GRAFT_STAGING_DIR",
        os.path.join(tempfile.gettempdir(), "lyft_presto_spark_staging"),
    )


def dir_digest(sf_dir: str) -> str:
    """Short stable digest of a scale dir — view-name and path key material."""
    return hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:12]


def content_fingerprint(sf_dir: str) -> str:
    """Digest of the scale dir's data files' (relpath, size, mtime).

    Durable artifacts persist across processes; keyed on the path alone,
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


def artifact_dir(sf_dir: str, name: str, version: str) -> str:
    """Durable location of artifact ``name`` built from ``sf_dir``: a
    regenerated input (content fingerprint) OR a changed build (``version``)
    misses the stale artifact and rebuilds (ADVICE r12). Stale dirs are
    reclaimed by purge_staged_tables()."""
    return os.path.join(
        staging_root(),
        f"{dir_digest(sf_dir)}-{content_fingerprint(sf_dir)}",
        f"{name}@v{version}",
    )


def publish_once(final: str, write: Callable[[str], object]) -> bool:
    """Publish the directory ``final`` once; True when this call published.

    ``write(stage)`` fills ``stage``, a hidden sibling of ``final``
    (``.<basename>.stage-<uuid>``, ignored by partition discovery), and must
    leave a ``_SUCCESS`` marker there, as every Spark file write does. One
    atomic rename then publishes it: os.rename onto a non-empty directory
    fails on POSIX, so exactly one process wins a race, and the loser drops
    its stage. A failed write removes its stage before re-raising.
    """
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return False
    parent, base = os.path.split(final)
    stage = os.path.join(parent, f".{base}.stage-{uuid.uuid4().hex}")
    os.makedirs(parent, exist_ok=True)
    try:
        write(stage)
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    try:
        os.rename(stage, final)
    except OSError:
        shutil.rmtree(stage, ignore_errors=True)
        if not os.path.exists(os.path.join(final, "_SUCCESS")):
            raise
        return False  # lost the race: the winner's directory is the artifact
    return True


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
    final = artifact_dir(sf_dir, name, version)
    publish_once(final, lambda stage: build().write.mode("errorifexists").parquet(stage))
    # Durable artifacts outlive the session by design: release only drops
    # the in-memory handle. purge_staged_tables() deletes the files.
    return _Entry(df=spark.read.parquet(final), release=lambda: None)


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
    key = (session_key(spark), os.path.abspath(sf_dir), name, mode, version)

    def stage() -> _Entry:
        if mode == "table":
            return _stage_table(spark, sf_dir, name, build, version)
        return _stage_local(build)

    return _get_or_create(_STAGED, key, stage).df


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
    ``purge_staged_tables`` to delete those). ``session_memo`` values stay.
    """
    with _LOCK:
        if spark is not None:
            sk = session_key(spark)
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
    """Delete all durable artifact files under the staging root."""
    shutil.rmtree(staging_root(), ignore_errors=True)
