"""KG-table sinks (K2-K4) — the Spark equivalents of the reference's
Logstash→Elasticsearch path.

Reference:
  * K2 — ``manager.py:194-229``: Logstash writes ``{project}_out`` docs to
    ES index ``{project}`` with ``document_id => %{doc_id}`` — idempotent
    last-write-wins upsert per doc_id.
  * K3 — ``manager.py:237-255``: PUT the index mapping if absent
    (create-table-if-not-exists bootstrap).
  * K4 — ``dig_tabular_import.py:493-533``; ``ts_converter.py:218-227``:
    JSON-lines file export.

Design: the KG table is a parquet directory (Delta's ``MERGE INTO`` is the
drop-in production upgrade — same call shape — but Delta isn't in this
container, so upsert = read ∪ dedupe ∪ atomic-rename rewrite). Last-write-
wins ordering uses an explicit ``order_col`` (kafka offset / batch id):
ES's behavior is "later write replaces earlier", which in a parallel engine
MUST be made explicit or batch-internal ordering is nondeterministic
(SURVEY §4 R5; ``etk_worker.py:133-134`` sends synchronously per doc).
"""

from __future__ import annotations

import contextlib
import glob as glob_mod
import logging
import os
import shutil
import socket
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

logger = logging.getLogger(__name__)


class TableLockTimeout(RuntimeError):
    """Another writer holds the table's advisory lock and did not
    release it within the timeout."""


# --------------------------------------------------------------------------
# Pointer-file commit — the one-rename publication primitive shared by every
# multi-file swap in the engine (BM25 stats epochs in ``functions/kg.py``,
# the bucketed table's manifest below). The ES-alias-swap analog
# (`manager.py:237-255` bootstrap pattern under /root/reference): the index
# never serves a 404 mid-reindex because readers resolve an alias, and the
# alias flip is a single atomic metadata write. Here the alias is a small
# file whose content names the live root(s); the flip is ``os.replace`` —
# atomic on POSIX — so a reader sees either the old payload or the new one,
# never a missing or partial pointer. This retires the rename-aside
# protocol's honest-contract hole ("a read landing between the two renames
# sees a missing root"): with pointer indirection there IS no between-renames
# window, because data dirs are immutable once written and only the pointer
# moves. Local-FS semantics; on HDFS ``os.replace`` maps to an overwriting
# FileSystem.rename, on S3 use a manifest-committing table format (Delta).

def pointer_path(root: str, name: str = "_CURRENT") -> str:
    return os.path.join(root, name)


def _fsync_dirent(dirpath: str) -> None:
    """Best-effort fsync of a DIRECTORY — flushes dirent updates (a
    rename/replace) so later operations cannot be persisted ahead of
    them. Shared by every driver-side publish in this module; OSError
    is swallowed because some filesystems reject directory fsync."""
    try:
        fd = os.open(dirpath or ".", os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    except OSError:
        pass
    finally:
        os.close(fd)


def commit_pointer(root: str, payload: str, *,
                   name: str = "_CURRENT") -> None:
    """Atomically publish ``payload`` as the live pointer under ``root``.

    Write-to-temp + fsync + ``os.replace``: a crash before the replace
    leaves the old pointer intact (temp files are swept by the owning
    writer's entry-time recovery); a crash after leaves the new one —
    there is no state in which the pointer is absent or torn. The fsync
    matters: without it a power loss can commit the rename but not the
    payload bytes, publishing an empty pointer."""
    os.makedirs(root, exist_ok=True)
    tmp = pointer_path(root, f".{name}.tmp.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(payload)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, pointer_path(root, name))
    # fsync the PARENT DIRECTORY too: os.replace updates a dirent, and
    # without flushing it a power loss can persist the commit's
    # FOLLOW-UP work (the sweep's unlinks of superseded dirs) while the
    # rename itself is still unflushed — after reboot the pointer would
    # name deleted directories. Payload fsync alone does not order the
    # dirent against later operations (r11 round-close review).
    _fsync_dirent(root)


def resolve_pointer(root: str, *, name: str = "_CURRENT") -> str | None:
    """Read the live pointer payload, or None when no pointer exists
    (pre-pointer legacy layout, or a never-written table). Read-only —
    never heals anything (healing is the writers' job, under their
    lock).

    ONLY the two errnos that prove absence (ENOENT for a missing file
    or parent, ENOTDIR for a path component that is a file — both mean
    "this root has never committed a pointer") map to None. Every
    other OSError propagates: a transient open() failure (EMFILE under
    a busy Spark driver, EACCES, an NFS hiccup) must fail the caller's
    operation, NOT silently reclassify a pointer-committed table as
    legacy/unborn — for the bucket manifest that demotion would make
    the next upsert treat the table as a birth write, commit a fresh
    manifest referencing only its own batch, and sweep every
    previously committed epoch dir (silent table truncation — the
    exact hole ``_load_manifest`` already refuses to open for parse
    errors; r11 external review, medium)."""
    try:
        with open(pointer_path(root, name), encoding="utf-8") as fh:
            return fh.read()
    except (FileNotFoundError, NotADirectoryError):
        return None


def sweep_pointer_tmps(root: str, *, name: str = "_CURRENT") -> bool:
    """Drop orphaned pointer temp files left by a writer that crashed
    between its payload write and its ``os.replace`` — recomputable by
    construction. Writer-entry-time only (runs under the table lock).
    Returns True only when every matching temp is actually gone, so a
    caller's "fully swept" verdict can fold it in (an undeletable tmp
    must not be stamped over and shielded by the fast path — round-12
    review, second pass)."""
    clean = True
    for stale in glob_mod.glob(
            os.path.join(glob_mod.escape(root), f".{name}.tmp.*")):
        try:
            os.remove(stale)
        except OSError:
            pass
        clean &= not os.path.exists(stale)
    return clean


def _rmtree_verified(path: str) -> bool:
    """``shutil.rmtree(ignore_errors=True)`` + verify: returns True only
    when ``path`` is actually gone afterwards. The ONE idiom behind
    every "stamp only when clean" site — reclamation that silently
    fails (NFS silly-rename, EBUSY) must read as not-clean so the
    swept-gen sidecar stays unstamped and the next entry retries
    (round-12 review)."""
    shutil.rmtree(path, ignore_errors=True)
    return not os.path.isdir(path)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except (PermissionError, OverflowError):
        return True
    return True


@contextlib.contextmanager
def table_lock(target_path: str, *, timeout: float = 300.0,
               stale_after: float = 3600.0):
    """Advisory single-writer lock for a KG table (``<table>.__lock__``
    directory; ``mkdir`` is the atomic test-and-set). Every mutating
    entry point takes it, closing the same-host lost-update window:
    without it, two concurrent upserts each read the table, then each
    swaps its own merge in — the second swap silently drops the first's
    batch — and a nightly ``scripts/maintain.py`` compaction overlapping
    a live ingest can swap a stale bucket copy over fresh rows. With the
    lock, writer 2 blocks until writer 1's swap completes, then merges
    against the committed result, preserving the "pure function of
    (key, order)" contract under concurrency.

    Scope is honest: the owner check (recorded pid+host) can only break
    a dead owner's lock on the SAME host; a crashed writer on another
    host holds the lock until ``stale_after`` expires. Multi-driver
    fleets writing one table need a real transaction log — Delta's
    MERGE, the documented production drop-in for this whole module.

    A live owner HEARTBEATS (a daemon thread refreshes the lock dir's
    mtime every ``stale_after/4``, capped at 60 s), so the TTL break
    only ever fires on owners that stopped heartbeating — without it, a
    legitimately long operation (a multi-hour compaction of a huge
    table) would have its lock stolen mid-write by any contender that
    out-waited ``stale_after``, re-opening the exact lost-update window
    the lock exists to close. The mtime refresh travels through the
    shared filesystem, so cross-host contenders see it too."""
    lockd = target_path + ".__lock__"
    owner = os.path.join(lockd, "owner")
    me = f"{os.getpid()} {socket.gethostname()}"
    deadline = time.monotonic() + timeout
    while True:
        try:
            os.mkdir(lockd)
            break
        except FileExistsError:
            pass
        except FileNotFoundError:
            # first-ever write to a fresh path: create the parent
            os.makedirs(os.path.dirname(lockd) or ".", exist_ok=True)
            continue
        try:
            age = time.time() - os.stat(lockd).st_mtime
        except OSError:
            continue  # released between the mkdir and the stat
        dead_local = False
        try:
            pid_s, host = open(owner, encoding="utf-8").read().split()
            dead_local = (host == socket.gethostname()
                          and not _pid_alive(int(pid_s)))
        except (OSError, ValueError):
            pass  # owner file not written yet / torn: trust the TTL
        if (dead_local and age > 2.0) or age > stale_after:
            # break the stale lock rename-aside so two breakers never
            # race a half-removed directory
            aside = f"{lockd}.stale.{uuid.uuid4().hex[:8]}"
            try:
                os.rename(lockd, aside)
            except OSError:
                continue  # someone else broke or released it first
            logger.warning("table_lock: broke stale lock on %s "
                           "(age %.0fs, dead_local=%s)", target_path,
                           age, dead_local)
            shutil.rmtree(aside, ignore_errors=True)
            continue
        if time.monotonic() > deadline:
            raise TableLockTimeout(
                f"{target_path}: another writer holds {lockd} "
                f"(age {age:.0f}s); concurrent mutation would lose "
                f"updates — retry, or remove the lock if the owner is "
                f"known dead")
        time.sleep(0.25)
    stop = threading.Event()

    def _heartbeat():
        beat = min(max(stale_after / 4.0, 0.05), 60.0)
        while not stop.wait(beat):
            try:
                os.utime(lockd)
            except OSError:
                return  # lock dir gone (released/stolen): stop quietly

    hb = threading.Thread(target=_heartbeat, daemon=True,
                          name="kg-table-lock-heartbeat")
    try:
        with open(owner, "w", encoding="utf-8") as fh:
            fh.write(me)
        hb.start()
        yield
    finally:
        stop.set()
        if hb.is_alive():
            hb.join(timeout=5.0)
        # release only what is provably still OURS: if this owner froze
        # past stale_after and a contender broke the lock, `lockd` now
        # belongs to the new owner — blindly rmtree'ing it would admit a
        # THIRD writer alongside the second (cascading theft). If our
        # own owner-file write failed, the dir leaks instead and heals
        # through the dead-pid / TTL break like any crashed owner's.
        try:
            still_me = open(owner, encoding="utf-8").read() == me
        except OSError:
            still_me = False
        if still_me:
            shutil.rmtree(lockd, ignore_errors=True)
        else:
            logger.warning("table_lock: not releasing %s — owner "
                           "changed (lock was broken while we held "
                           "it; our writes may have raced the new "
                           "owner's)", lockd)


def _is_table_dir(path: str) -> bool:
    """True when ``path`` is a directory carrying any committed-table
    marker — the ONE definition of "a table exists here", shared by the
    bootstrap existence check and the seed's refuse-to-delete guard so
    the two can never drift apart (drift would let the seed rmtree a
    dir the caller considers a committed table)."""
    return os.path.isdir(path) and any(
        f.endswith(".parquet") or f == "_SUCCESS"
        or f.startswith("_kb=")       # bucketed layout IS the table
        or f == _MANIFEST             # manifest-routed bucket layout
        for f in os.listdir(path))


def _contains_null_type(dt: T.DataType) -> bool:
    """True when the type (recursively) contains NullType — Spark's
    parquet writer rejects void columns loudly, and the seed path must
    not be WIDER than the writer it replaces (pyarrow would happily
    write a null-typed column, deferring the failure to the first real
    upsert of a now-committed broken table)."""
    if isinstance(dt, T.NullType):
        return True
    if isinstance(dt, T.StructType):
        return any(_contains_null_type(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _contains_null_type(dt.elementType)
    if isinstance(dt, T.MapType):
        return (_contains_null_type(dt.keyType)
                or _contains_null_type(dt.valueType))
    return False


def _write_empty_seed(path: str, schema: T.StructType) -> None:
    """Driver-side zero-row parquet seed — no Spark job. The footer
    carries the same ``org.apache.spark.sql.parquet.row.metadata`` key a
    Spark writer embeds (the catalyst StructType JSON), so a later
    ``spark.read.parquet`` restores EXACTLY the pinned schema — not the
    parquet-type fallback conversion — just as if Spark had written the
    seed itself. Build-aside (uuid-suffixed, module convention) +
    atomic rename; staged bytes fsynced before the rename via
    :func:`_fsync_tree` and the parent dirent flushed after it (both
    gated on ``FSYNC_STAGED_DATA`` — an unflushed dirent orders nothing
    when the data beneath it was never flushed), the same
    data-before-publish ordering as the bucketed commit. NullType
    anywhere in the schema raises up front so the caller's Spark
    fallback reproduces the old loud bootstrap error.

    Caller contract: runs under ``table_lock`` (the bootstrap in
    :func:`create_table_if_not_exists` takes it), so the entry-time
    staging sweep can only ever reclaim a CRASHED predecessor's dir,
    never a live peer's mid-write staging — all creators serialize on
    the lock. The marker refusal below stays as defense in depth for
    any out-of-band caller."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    if _contains_null_type(schema):
        raise ValueError("void column in seed schema — Spark's parquet "
                         "writer would reject it; let the fallback say so")
    arrow = to_arrow_schema(schema).with_metadata(
        {b"org.apache.spark.sql.parquet.row.metadata":
         schema.json().encode()})
    # reclaim crashed predecessors' staging dirs (recomputable garbage;
    # same entry-time sweep discipline as _recover_upsert's .__tmp__*,
    # and like that sweep it runs under the table lock)
    for stale in glob_mod.glob(glob_mod.escape(path) + ".__seed__*"):
        shutil.rmtree(stale, ignore_errors=True)
    if os.path.isdir(path):
        if _is_table_dir(path):
            # a committed table is already here (an out-of-band creator,
            # or a caller that skipped the existence check) — refuse
            # rather than delete it (the old Spark mode('overwrite')
            # write WOULD have deleted it; the caller's except path
            # re-checks and returns False)
            raise FileExistsError(path)
        shutil.rmtree(path)          # stray non-table dir: mirror overwrite
    tmp = path + f".__seed__{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    try:
        pq.write_table(arrow.empty_table(),
                       os.path.join(tmp, "part-00000-seed.snappy.parquet"),
                       compression="snappy")
        open(os.path.join(tmp, "_SUCCESS"), "wb").close()
        _fsync_tree(tmp)
        os.rename(tmp, path)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)  # don't leak the aside
        raise
    if FSYNC_STAGED_DATA:            # order the rename like commit_pointer
        _fsync_dirent(os.path.dirname(path))


def create_table_if_not_exists(spark: SparkSession, path: str,
                               schema: T.StructType) -> bool:
    """K3: bootstrap an empty table with a pinned schema; returns True if
    created. Pinning the schema up front (like the ES mapping PUT) stops
    the first writer's inferred types from becoming the contract.

    The seed is written on the driver (:func:`_write_empty_seed`) — an
    empty-DataFrame Spark write costs a full job (task scheduling + the
    Hadoop commit protocol, ~0.9 s on the bench host) purely to emit a
    zero-row file; guide §5 (the driver should do almost no data work —
    and scheduling a cluster job to write 0 rows is the inverse). Types
    the Arrow converter cannot express fall back to the Spark write.

    Creation is serialized under :func:`table_lock`, like every other
    mutating entry point in this module — exclusion closes the
    concurrent-creation TOCTOU wholesale (the existence re-check, the
    staging sweep, the seed rename AND the destructive
    ``mode('overwrite')`` fallback job all run while no peer can
    mutate the table), instead of point-patching each window. The
    except-path re-check stays as defense in depth against creators
    that bypass this function."""
    if _is_table_dir(path):           # cheap lock-free fast path: the
        return False                  # common case is "already exists"
    with table_lock(path):
        if _is_table_dir(path):       # a peer created it while we waited
            return False
        try:
            _write_empty_seed(path, schema)
        except Exception:
            if _is_table_dir(path):   # an out-of-band creator won
                logger.info("create_table_if_not_exists: driver seed "
                            "lost a creation race at %s; keeping the "
                            "winner's table", path)
                return False
            logger.warning("create_table_if_not_exists: driver-side "
                           "seed failed at %s; falling back to the "
                           "Spark write", path, exc_info=True)
            spark.createDataFrame([], schema).write.mode("overwrite") \
                .parquet(path)
        return True


def dedupe_last_write_wins(df: DataFrame,
                           key_col: str | list[str] = "doc_id",
                           order_col: str = "kafka_offset") -> DataFrame:
    """Keep the row with the greatest ``order_col`` per key (one column,
    or a list of columns) — ES overwrite semantics made deterministic
    (ties broken by the order column only; give every record a unique
    offset upstream)."""
    w = Window.partitionBy(key_col).orderBy(F.col(order_col).desc())
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def _dedupe_per_bucket(df: DataFrame, key_col: str,
                       order_col: str) -> DataFrame:
    """:func:`dedupe_last_write_wins` over a ``_kb``-bucketed frame with
    every bucket's rows in ONE partition. ``_kb`` is a function of the
    key, so the window over (``_kb``, key) keeps the same winners as the
    window over the key alone, and the repartition on ``_kb`` is the
    window's only exchange. A ``partitionBy("_kb")`` write of the result
    emits exactly one file per bucket."""
    return dedupe_last_write_wins(df.repartition("_kb"),
                                  ["_kb", key_col], order_col)


def _recover_upsert(target_path: str) -> None:
    """Heal the rename-aside swap window (:func:`_swap_upsert`) and
    sweep its leftovers — called by the plain :func:`upsert` (still the
    flat table's commit protocol) and, for PRE-r11 crash leftovers
    only, by the BM25 stats refresh (``functions/kg.refresh_bm25_stats``
    — its own commits are pointer-epoch now). A crash between
    the two renames leaves ``.__old__`` holding the only complete copy
    — restore it (the interrupted write replays via foreachBatch / the
    caller's retry / the next maintenance run). A crash AFTER the
    second rename but before the final cleanup leaves a committed
    target plus a stale ``.__old__`` — drop the stale copy here (safe:
    renames are atomic, so a present target is always complete;
    without this sweep a consumer that never reaches its next swap —
    e.g. a stats refresh that keeps finding the snapshot fresh — would
    leak the full aside copy forever). Orphaned ``.__tmp__*`` write
    dirs are recomputable and dropped."""
    old = target_path + ".__old__"
    if os.path.isdir(old):
        if not os.path.isdir(target_path):
            logger.warning("upsert: restoring %s from interrupted swap",
                           target_path)
            os.rename(old, target_path)
        else:
            shutil.rmtree(old, ignore_errors=True)
    for stale in glob_mod.glob(glob_mod.escape(target_path)
                               + ".__tmp__*"):
        shutil.rmtree(stale, ignore_errors=True)


def upsert(spark: SparkSession, target_path: str, batch: DataFrame, *,
           key_col: str = "doc_id", order_col: str = "kafka_offset",
           lock_timeout: float = 300.0) -> None:
    """K2: MERGE the batch into the parquet KG table by key.

    Existing rows keep their stored ``order_col`` and compete with the
    batch under the same last-write-wins rule — so the outcome is a pure
    function of (key, order), independent of how a stream chopped the
    records into micro-batches, and batch replays are idempotent. The
    rewrite goes to a temp dir and swaps in rename-aside style (previous
    table moves to ``.__old__`` BEFORE the new one moves in): no crash
    point leaves zero complete copies on disk — a delete-then-rename
    swap has a window where the only table is gone and a replaying
    stream would silently rebuild from one batch.
    :func:`_recover_upsert` heals the between-renames window on entry,
    and the whole read→merge→swap runs under :func:`table_lock` so a
    second concurrent writer merges against the committed result
    instead of silently dropping this batch (lost update)."""
    if os.path.isdir(target_path) and any(
            f.startswith("_kb=") or f == _BUCKETS_META or f == _MANIFEST
            for f in os.listdir(target_path)):
        raise ValueError(
            f"upsert: {target_path} is a bucket-partitioned table "
            "(_kb=/_kg_buckets layout) — use upsert_partitioned, which "
            "preserves the layout and its O(touched) merge; the plain "
            "upsert would silently flatten it")
    with table_lock(target_path, timeout=lock_timeout):
        _recover_upsert(target_path)
        batch = dedupe_last_write_wins(batch, key_col, order_col)
        if os.path.isdir(target_path):
            existing = spark.read.parquet(target_path)
            merged = dedupe_last_write_wins(
                existing.unionByName(batch, allowMissingColumns=True),
                key_col, order_col)
        else:
            merged = batch
        tmp = f"{target_path}.__tmp__{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").parquet(tmp)
        _swap_upsert(target_path, tmp)


def _swap_upsert(target_path: str, tmp: str) -> None:
    """Pure-filesystem commit of the plain :func:`upsert`: previous
    table aside to ``.__old__``, merged copy in, aside copy dropped.
    Module-level (not inline) so the crash-fuzz suite can inject a
    fault at every single fs op without a Spark write per iteration —
    the same design as :mod:`webdataset`'s ``_swap_export``."""
    old = target_path + ".__old__"
    if os.path.isdir(target_path):
        shutil.rmtree(old, ignore_errors=True)  # stale committed copy
        os.rename(target_path, old)
    os.rename(tmp, target_path)
    shutil.rmtree(old, ignore_errors=True)


# ---------------------------------------------------------------------------
# Bucket manifest: the pointer-committed catalog of the bucketed table's
# live directories (verdict r10 item 2 — the same one-rename publication
# primitive as the BM25 stats epochs, applied per table).
#
# Layout contract (manifest era): bucket data lives in IMMUTABLE epoch
# directories named ``.kbe_<bucket>_<token>`` (dot-prefixed: invisible to
# naive directory listings — ``read_partitioned`` is the ONLY read API;
# a raw ``spark.read.parquet(root)`` fails loudly on a fully-epoch table
# and silently serves stale/partial rows on an in-place-migrated one
# whose legacy ``_kb=`` dirs still hold the unrewritten buckets — see
# ``compact_partitioned``'s docstring); the manifest file ``_kg_manifest``
# maps bucket id → live dir name and is replaced atomically by
# ``commit_pointer``. A multi-bucket upsert or compaction therefore commits
# ALL its buckets in ONE rename — there is no per-bucket between-renames
# window where a bucket is missing, and no rollback protocol: a crash
# before the flip leaves only unreferenced epoch dirs (recomputable,
# swept at the next writer entry), a crash after leaves the commit fully
# applied. Legacy tables (pre-manifest ``_kb=<n>`` dirs) keep reading
# through the old listing path and migrate in place on their first
# mutating entry: the initial manifest simply references the existing
# ``_kb=<n>`` names — no data moves.
#
# Reader grace: each commit records the touched buckets' PREVIOUS dirs in
# the manifest's ``grace`` map, each entry stamped with the committing
# generation and wall-clock time. Sweeps keep live ∪ grace, so an
# in-flight reader that resolved a pre-flip manifest keeps complete
# roots until its entries age past the RETENTION window (Delta's
# retain-until-VACUUM doctrine). Retention is configurable (r11 external
# review, low — the fixed one-interval grace broke lock-free scans that
# outlive two quick successive commits under continuous micro-batch
# ingest): an entry is reclaimed only once it is BOTH more than
# ``GRACE_RETAIN_GENERATIONS`` commits old AND (when a time window is
# set) older than ``GRACE_RETAIN_SECONDS``. The defaults reproduce the
# original doctrine — one writer interval, no time floor; a deployment
# with long concurrent scans raises either knob (generation depth for
# bursty ingest, the time window for "no scan runs longer than X"
# guarantees). Reclamation happens AT COMMIT (targeted: exactly the
# entries the prune releases) and at entry recovery after a crash —
# the steady-state write path never lists the table root (see
# ``_SWEPT_GEN``). The cost of retention is that an idle table keeps
# its last commits' superseded copies until the next writer entry.
GRACE_RETAIN_GENERATIONS: int = 1
GRACE_RETAIN_SECONDS: float = 0.0

_MANIFEST = "_kg_manifest"

# Swept-generation sidecar (verdict r11 item 4 — the entry-sweep syscall
# tax): ``.kg_swept_gen`` records the manifest generation whose commit
# (or entry recovery) last left the table fully swept. A mutating entry
# whose manifest generation equals the sidecar skips the whole recovery
# scan — the legacy-heal globs, the grace prune, and the O(live dirs)
# unreferenced sweep — making steady-state upserts O(touched buckets) in
# syscalls. The file is ADVISORY and fail-safe by construction: writers
# UNLINK it before staging any new on-disk state (so a crashed writer's
# orphans are found by the next entry's full sweep) and re-stamp it only
# after a complete commit+sweep; a torn or stale value can only compare
# unequal to the live generation (generations grow, a torn prefix is a
# smaller number, a parse failure reads as absent) — every failure mode
# degrades to one extra full sweep, never to a skipped-but-needed one.
_SWEPT_GEN = ".kg_swept_gen"

# Naive-read tripwire (verdict r11 item 3): once any committed bucket
# lives in a hidden ``.kbe_`` epoch dir, a raw ``spark.read.parquet``
# at the table root is WRONG — on an in-place-migrated table (visible
# legacy ``_kb=`` dirs coexisting with hidden epochs) it silently
# serves stale/partial rows, indefinitely. This visible non-parquet
# file makes such a read fail loudly instead (Spark's footer read
# names the file: CANNOT_READ_FILE_FOOTER .../KG_NAIVE_READ_GUARD),
# while every sanctioned path ignores it — ``read_partitioned`` reads
# explicit bucket dirs, the flat-file migration pass matches only
# ``*.parquet`` names, and DuckDB-style ``root/*.parquet`` globs never
# see it. ``scripts/maintain.py --check`` reports the layout state.
_NAIVE_READ_GUARD = "KG_NAIVE_READ_GUARD"

# fsync staged epoch data before the manifest references it (r11
# external review, low): Spark writes staged parquet without fsync, so
# without this walk a power loss could persist the (fsynced) manifest
# while the epoch files it names are torn or empty — the durability
# guarantee held for the pointer metadata only. With it, the commit
# order is data → dirents → pointer, and a manifest can only name
# durable files. Deployments on filesystems where the walk is
# prohibitive (or that delegate durability to replication, as HDFS
# does) may disable it and accept the narrower metadata-only claim.
FSYNC_STAGED_DATA: bool = True

_BUCKETS_META = "_kg_buckets"
# Second meta token: the bucket-hash VERSION. Tables born after the r8
# width-safe change carry "widened" (integral keys cast to BIGINT before
# xxhash64); a meta file holding only the count — or no meta at all over
# an existing _kb= layout — identifies a LEGACY table whose directories
# were placed by the unwidened hash. Legacy tables keep hashing
# unwidened FOREVER (their layout contract; switching silently would
# misplace every narrow-keyed row and duplicate keys through the merge)
# until rebucket_partitioned rewrites them, which always stamps the
# widened marker.
_HASH_WIDENED = "widened"


# sentinel distinguishing "caller did not pass a cached manifest" from
# "caller loaded and found none (legacy table)" — a plain None default
# could not make that distinction
_UNSET = object()


def _load_manifest(target_path: str) -> dict | None:
    """Parse the table's bucket manifest, or None for a pre-manifest
    (legacy) table. Returns ``{"gen": int, "live": {bucket: dirname},
    "grace": {bucket: [(dirname, gen_created, ts_created), ...]},
    "buckets": int|None, "widened": bool|None}``. The bucket count and
    hash version are duplicated here from ``_kg_buckets`` because the
    manifest is the fsync-guaranteed artifact (``commit_pointer``): if
    a power loss eats the meta file but not the manifest, recovering
    the hash version from the manifest prevents a widened table from
    being misread as legacy-unwidened — which, now that stored rows'
    ``_kb`` is recomputed from the key, would scatter stored rows into
    wrong buckets instead of merely duplicating batch rows (r11
    round-close review). Read-only; a torn or unparsable manifest is
    impossible by the pointer-commit contract, so parse errors are
    raised, not masked — masking one would silently demote a manifest
    table to legacy listing and resurrect swept-dir reads.

    Grace wire formats: v1 manifests hold one ``[dir, gen]`` pair per
    bucket (the fixed one-generation grace); v2 holds a LIST of
    ``[dir, gen, ts]`` entries per bucket (configurable retention —
    see ``GRACE_RETAIN_GENERATIONS``). Both parse; writes are v2.
    Entries with no recorded timestamp (v1, or a hand-edited v2) adopt
    PARSE time, not 0.0: "infinitely old" would let a configured
    ``GRACE_RETAIN_SECONDS`` window release a dir recorded seconds
    before the upgrade while an in-flight reader inside the promised
    window still resolves it — adopting now errs in the conservative
    direction (retained up to one window longer), and the first v2
    rewrite freezes the adopted value (round-12 review)."""
    import json

    raw = resolve_pointer(target_path, name=_MANIFEST)
    if raw is None:
        return None
    m = json.loads(raw)
    now = time.time()
    adopted = False

    def entries(v):
        nonlocal adopted
        if v and isinstance(v[0], str):          # v1: ["dir", gen]
            adopted = True
            return [(v[0], int(v[1]), now)]
        out = []
        for e in v:
            if len(e) > 2:
                out.append((e[0], int(e[1]), float(e[2])))
            else:
                adopted = True
                out.append((e[0], int(e[1]), now))
        return out

    return {
        "gen": int(m.get("gen", 0)),
        "live": {int(k): v for k, v in m.get("live", {}).items()},
        "grace": {int(k): entries(v)
                  for k, v in m.get("grace", {}).items()},
        "buckets": (int(m["buckets"])
                    if m.get("buckets") is not None else None),
        "widened": (bool(m["widened"])
                    if m.get("widened") is not None else None),
        # True when any grace entry carried NO timestamp and adopted
        # parse time: the recovery path must REWRITE the manifest to
        # freeze the adopted value — otherwise every parse re-adopts a
        # fresh "now", the configured time window never starts, and a
        # v1 table's superseded dirs are retained forever (round-12
        # review, second pass)
        "adopted_ts": adopted,
    }


def _dump_manifest(gen: int, live: dict[int, str], grace: dict[int, list],
                   *, buckets: int | None, widened: bool | None) -> str:
    """The ONE serializer of the manifest wire format (every writer —
    commit, recovery's grace prune, rebucket's birth manifest — goes
    through here, so a format change lands exactly once)."""
    import json

    return json.dumps({
        "v": 2, "gen": gen, "buckets": buckets, "widened": widened,
        "live": {str(k): v for k, v in sorted(live.items())},
        "grace": {str(k): [[d, g, ts] for d, g, ts in es]
                  for k, es in sorted(grace.items()) if es},
    })


def _prune_grace(grace: dict[int, list], gen: int
                 ) -> tuple[dict[int, list], list[str]]:
    """Apply the retention policy to a grace map: keep an entry while
    it is within ``GRACE_RETAIN_GENERATIONS`` commits of ``gen`` OR
    (when a time window is configured) younger than
    ``GRACE_RETAIN_SECONDS``. Returns (kept_map, released_dir_names) —
    the released dirs are exactly what the caller may reclaim. Pure
    (no filesystem access): callable from both the commit path and the
    entry recovery without re-listing anything."""
    now = time.time()
    kept: dict[int, list] = {}
    dropped: list[str] = []
    for n, es in grace.items():
        keep = []
        for d, g, ts in es:
            if g > gen - GRACE_RETAIN_GENERATIONS or (
                    GRACE_RETAIN_SECONDS > 0
                    and now - ts < GRACE_RETAIN_SECONDS):
                keep.append((d, g, ts))
            else:
                dropped.append(d)
        if keep:
            kept[n] = keep
    return kept, dropped


def _read_swept_gen(target_path: str) -> int | None:
    """The generation the table was last left fully swept at, or None
    (absent / torn / unparsable — all read as "must sweep")."""
    try:
        with open(os.path.join(target_path, _SWEPT_GEN),
                  encoding="utf-8") as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return None


def _invalidate_swept_gen(target_path: str) -> None:
    """Unlink the swept-gen sidecar BEFORE staging any new on-disk
    state: if this writer crashes mid-work, the next entry finds no
    sidecar and runs the full recovery sweep over the orphans."""
    try:
        os.remove(os.path.join(target_path, _SWEPT_GEN))
    except OSError:
        pass


def _stamp_swept_gen(target_path: str, gen: int) -> None:
    """Record that generation ``gen``'s commit left the table fully
    swept. Advisory, plain write, no payload fsync: every loss/tear
    mode of the FILE reads back as absent or as a stale (smaller)
    generation — see the ``_SWEPT_GEN`` doctrine — costing one extra
    full sweep, never a skipped-but-needed one.

    The parent-directory fsync BEFORE creating the file is the one
    ordering that matters: the caller's reclamation unlinks dirents in
    this same directory, and without a barrier a power loss could
    persist the stamp's create while losing the unlinks — reboot would
    then show a MATCHING sidecar beside resurrected unreferenced dirs
    that the fast path shields forever. Flushing the dirents first
    means a power loss can only lose the stamp (safe direction); if
    the directory fsync itself fails, we skip stamping — one extra
    full sweep, same safe direction (round-12 review, second pass)."""
    try:
        fd = os.open(target_path, os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    except OSError:
        return  # cannot order the unlinks before the stamp: don't stamp
    finally:
        os.close(fd)
    try:
        with open(os.path.join(target_path, _SWEPT_GEN), "w",
                  encoding="utf-8") as fh:
            fh.write(str(gen))
    except OSError:
        pass


def _write_naive_read_guard(target_path: str, live: dict[int, str]) -> None:
    """Drop the visible non-parquet tripwire file once any live bucket
    is a hidden epoch dir (see ``_NAIVE_READ_GUARD``). Idempotent; a
    crash before this write is healed by the next commit or entry
    recovery. Never written while every live dir is a visible
    ``_kb=`` name (there a root read still resolves the full table)."""
    if not any(d.startswith(".kbe_") for d in live.values()):
        return
    guard = os.path.join(target_path, _NAIVE_READ_GUARD)
    if os.path.exists(guard):
        return
    try:
        with open(guard, "w", encoding="utf-8") as fh:
            fh.write(
                "This bucketed KG table routes reads through its "
                "manifest (_kg_manifest): some committed buckets live "
                "in hidden .kbe_* epoch directories that a raw "
                "directory listing cannot see, so a naive "
                "spark.read.parquet(<table root>) would silently "
                "return stale or partial rows. This deliberately "
                "non-parquet file makes such a read fail loudly "
                "instead. Read via "
                "dig_etl_engine_spark.sinks.kg_table.read_partitioned; "
                "run rebucket_partitioned to normalize the layout for "
                "external tools; scripts/maintain.py --check <table> "
                "reports the layout state.\n")
    except OSError:
        logger.warning("kg_table: could not write naive-read guard "
                       "under %s", target_path, exc_info=True)


def _fsync_tree(root: str) -> None:
    """fsync every file, then every directory, under ``root`` (bottom-
    up) — the data half of the durability contract (see
    ``FSYNC_STAGED_DATA``). File fsync failures PROPAGATE (a file that
    cannot be made durable must not be referenced by the manifest — the
    batch fails and replays); directory fsync is best-effort like
    ``commit_pointer``'s parent-dirent flush (some filesystems reject
    it). Cost is O(files in the staged epochs) — the touched buckets,
    never the table."""
    if not FSYNC_STAGED_DATA:
        return
    for dirpath, _dirnames, filenames in os.walk(root, topdown=False):
        for fn in filenames:
            fd = os.open(os.path.join(dirpath, fn), os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
        try:
            fd = os.open(dirpath, os.O_RDONLY)
        except OSError:
            continue
        try:
            os.fsync(fd)
        except OSError:
            pass
        finally:
            os.close(fd)


def _legacy_bucket_dirs(target_path: str) -> dict[int, str]:
    """Bucket id → dir name from a pre-manifest ``_kb=<n>`` listing."""
    out: dict[int, str] = {}
    try:
        names = os.listdir(target_path)
    except OSError:
        return out
    for name in names:
        if name.startswith("_kb=") and \
                os.path.isdir(os.path.join(target_path, name)):
            try:
                out[int(name[4:])] = name
            except ValueError:
                continue
    return out


def _live_bucket_dirs(target_path: str) -> dict[int, str]:
    """The table's live bucket directories: manifest when present,
    legacy ``_kb=`` listing otherwise."""
    m = _load_manifest(target_path)
    if m is not None:
        return m["live"]
    return _legacy_bucket_dirs(target_path)


def _sweep_unreferenced_buckets(target_path: str, live: dict[int, str],
                                grace: dict[int, list]) -> bool:
    """Drop bucket dirs referenced by neither the live map nor the grace
    map, plus orphaned manifest temp files. Safe by the manifest-era
    invariant: every committed dir is referenced, so unreferenced =
    a crashed writer's staged epoch or a pruned grace copy — both
    recomputable/superseded. Runs under the table lock only, and only
    on the NON-steady path (entry recovery after a crash / first touch
    of a table; see ``_SWEPT_GEN`` — the commit path reclaims its
    released grace dirs by name instead of listing the root).

    Returns True only when everything targeted is actually GONE — the
    caller must not stamp the swept-gen sidecar on a partial sweep
    (an NFS silly-rename or EBUSY can defeat rmtree), or the leftover
    would be shielded by the fast path forever (round-12 review)."""
    referenced = set(live.values()) | {
        d for es in grace.values() for d, _, _ in es}
    try:
        names = os.listdir(target_path)
    except OSError:
        return False
    clean = True
    for name in names:
        if (name.startswith(".kbe_") or name.startswith("_kb=")) \
                and name not in referenced \
                and os.path.isdir(os.path.join(target_path, name)):
            clean &= _rmtree_verified(os.path.join(target_path, name))
    clean &= sweep_pointer_tmps(target_path, name=_MANIFEST)
    return clean


def _commit_buckets(target_path: str, new_dirs: dict[int, str], *,
                    buckets: int | None = None,
                    widened: bool | None = None,
                    manifest=_UNSET) -> tuple[int, bool]:
    """The bucketed table's linearization point: publish ``new_dirs``
    (bucket id → epoch dir name, already fully written under
    ``target_path``) with ONE atomic manifest replace, then sweep dirs
    the new manifest no longer references.

    Replaces the per-bucket rename-aside swap (``_swap_upsert_buckets``
    pre-r11): that protocol had a between-renames instant per bucket
    where the bucket dir was absent and external readers saw a
    missing root; here data dirs never move after being written, only
    the manifest flips, so every resolve-time view is a complete
    committed epoch set. Crash matrix: before the flip → target
    unchanged, staged epochs unreferenced (swept at next entry), the
    batch replays idempotently; after the flip → commit fully applied,
    superseded dirs sweep now or at next entry. The touched buckets'
    previous dirs are kept as generation-stamped grace copies for
    in-flight readers (see the ``_MANIFEST`` doctrine above).

    A legacy table migrates here in place: the initial manifest
    references its existing ``_kb=<n>`` dirs verbatim.

    ``buckets``/``widened`` stamp the table's bucket count and hash
    version into the manifest (the fsync-guaranteed recovery source for
    ``_kg_buckets`` — see :func:`_load_manifest`); None carries the
    previous manifest's values forward (compaction and other writers
    that don't rehash anything).

    Returns ``(generation, clean)``: callers stamp the generation into
    the swept-gen sidecar once their residue cleanup is done, and ONLY
    when ``clean`` (plus their own cleanup) actually removed
    everything — a partial rmtree (NFS silly-rename, EBUSY) must leave
    the sidecar unstamped so the next entry's full sweep retries
    instead of the fast path shielding the leftover forever (round-12
    review). Reclamation here is TARGETED: the retention prune
    (:func:`_prune_grace`) names exactly the grace dirs this commit
    releases, and only those are removed — no root listing, keeping
    the steady-state commit O(touched buckets) in syscalls (verdict
    r11 item 4). Anything else unreferenced (a crashed writer's
    orphans) is the entry recovery's job, which runs whenever the
    sidecar is stale.

    ``manifest`` lets the caller pass the entry-time parsed manifest
    (the whole read→merge→commit runs under the table lock and nothing
    in between rewrites it, so the cache is exact); the manifest parse
    is the dominant fast-path cost at large bucket counts and was
    being paid four times per entry (round-12 review, second pass)."""
    m = _load_manifest(target_path) if manifest is _UNSET else manifest
    if m is None:
        m = {"gen": 0, "live": _legacy_bucket_dirs(target_path),
             "grace": {}, "buckets": None, "widened": None}
    gen = m["gen"] + 1
    live = dict(m["live"])
    grace = {n: list(es) for n, es in m["grace"].items()}
    now = time.time()
    for n, d in new_dirs.items():
        old = live.get(n)
        live[n] = d
        if old is not None:
            grace.setdefault(n, []).append((old, gen, now))
    grace, released = _prune_grace(grace, gen)
    stamp_b = buckets if buckets is not None else m["buckets"]
    stamp_w = widened if widened is not None else m["widened"]
    if stamp_b is None:
        # a writer that doesn't know the hash facts (compaction) over a
        # table whose manifest doesn't carry them yet (first manifest
        # born from a compaction-led migration): lift them from the
        # meta file NOW, while it still exists — otherwise the manifest
        # is stamped None forever and the meta-loss recovery in
        # _load_bucket_meta has nothing to recover from (r11
        # round-close review, second pass)
        meta = _read_meta_file(target_path)
        if meta is not None:
            stamp_b, stamp_w = meta
    commit_pointer(target_path, _dump_manifest(
        gen, live, grace, buckets=stamp_b, widened=stamp_w,
    ), name=_MANIFEST)
    # reclaim exactly what the prune released (the flip above already
    # de-referenced them; readers within the retention window still
    # resolve pre-flip manifests whose dirs are all in live ∪ grace)
    clean = True
    for d in released:
        clean &= _rmtree_verified(os.path.join(target_path, d))
    _write_naive_read_guard(target_path, live)
    return gen, clean


def _read_meta_file(target_path: str) -> tuple[int, bool] | None:
    """Parse ``_kg_buckets`` → (count, widened), or None when the file
    is absent/torn (the caller decides how to recover — manifest
    fallback, legacy adoption, or birth)."""
    try:
        with open(os.path.join(target_path, _BUCKETS_META),
                  encoding="utf-8") as fh:
            tokens = fh.read().split()
            return int(tokens[0]), _HASH_WIDENED in tokens[1:]
    except (OSError, ValueError, IndexError):
        return None


def _load_bucket_meta(target_path: str, buckets: int, *,
                      manifest=_UNSET) -> tuple[int, bool]:
    """The table's persisted bucket count wins over the argument — the
    same doctrine as the minhash index's ``_load_minhash_meta``: a
    caller passing a different ``buckets`` against an existing table
    would silently break last-write-wins, because the merge reads the
    batch's "touched" buckets under the NEW count while earlier copies
    of the same keys sit in directories keyed by the OLD count — stale
    rows survive and ``read_partitioned`` returns duplicate keys. The
    count is fixed at table birth; change it with
    :func:`rebucket_partitioned`. Legacy tables (pre-meta ``_kb``
    layouts) adopt the caller's value — but only after a layout sanity
    check: a legacy table built N-way has ``_kb`` directory values in
    [0, N), so any on-disk ``_kb >= buckets`` proves the argument is
    smaller than the build count and would hit the very
    silent-duplicate-keys hole this meta file closes (and worse,
    persist the wrong count permanently). Such calls are rejected with
    the repair path named. (A too-LARGE argument over a sparse legacy
    layout is undetectable from directories alone — the dirs only
    bound the count from below — but it is also the harmless
    direction only when equal; equal counts pass the check, and the
    first post-adoption upsert persists the value so later drift is
    caught exactly.)

    Returns ``(buckets, widened)``: the second token records the
    bucket-hash version (see ``_HASH_WIDENED``). A count-only meta, or
    no meta over an existing ``_kb=`` layout, identifies a legacy
    unwidened table; no meta and no layout is a BIRTH — new tables
    always start width-safe."""
    # the layout probe must consult the manifest: a manifest table's
    # live dirs may all be hidden .kbe_ epochs, so a bare _kb= listing
    # would misread it as a BIRTH and stamp the wrong hash version
    # (one manifest load serves both the probe and the recovery
    # branch; callers that already parsed it pass it in)
    if manifest is _UNSET:
        manifest = _load_manifest(target_path)
    live = manifest["live"] if manifest is not None \
        else _legacy_bucket_dirs(target_path)
    has_kb = bool(live)
    meta = _read_meta_file(target_path)
    if meta is None:
        # meta file missing/torn, but the (fsync-committed) manifest
        # carries the same facts: recover from it and re-persist the
        # meta — without this, a widened table that lost only its meta
        # to a power loss would be misread as legacy-unwidened and the
        # key recompute would scatter stored rows (r11 review)
        if manifest is not None and manifest["buckets"] is not None:
            if manifest["buckets"] != buckets:
                logger.warning(
                    "upsert_partitioned: table %s is bucketed %d-way "
                    "(recovered from manifest; meta file was missing); "
                    "ignoring buckets=%d argument", target_path,
                    manifest["buckets"], buckets)
            _persist_bucket_meta(target_path, manifest["buckets"],
                                 widened=bool(manifest["widened"]))
            return manifest["buckets"], bool(manifest["widened"])
        max_kb = max(live.keys(), default=-1)
        if max_kb >= buckets:
            raise ValueError(
                f"upsert_partitioned: legacy table {target_path} has no "
                f"{_BUCKETS_META} meta but its layout holds _kb={max_kb} "
                f">= buckets={buckets} — it was built with a larger "
                "bucket count. Pass the original count (or run "
                "rebucket_partitioned) instead of adopting a mismatched "
                "one; merging under the wrong count leaves stale "
                "duplicate keys in unread directories.")
        # metaless: an existing _kb= layout is legacy (pre-marker hash
        # placed its dirs); a fresh/flat-only table is a birth and
        # starts width-safe
        return buckets, not has_kb
    persisted, widened = meta
    if persisted != buckets:
        logger.warning(
            "upsert_partitioned: table %s is bucketed %d-way; ignoring "
            "buckets=%d argument (rebucket_partitioned changes the count)",
            target_path, persisted, buckets)
    return persisted, widened


def _persist_bucket_meta(target_path: str, buckets: int, *,
                         widened: bool = True) -> None:
    if _read_meta_file(target_path) == (buckets, widened):
        return  # already says exactly this — skip the fsync+replace
    os.makedirs(target_path, exist_ok=True)
    tmp = os.path.join(target_path, f".{_BUCKETS_META}.tmp.{os.getpid()}")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(f"{buckets} {_HASH_WIDENED}" if widened else str(buckets))
        fh.flush()
        # fsync like the manifest commit: a power loss that keeps the
        # (fsynced) manifest but eats this file would otherwise demote
        # a widened table to legacy-unwidened hashing on the next load
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(target_path, _BUCKETS_META))


def _recover_partitioned_swap(target_path: str
                              ) -> tuple[dict | None, bool]:
    """Entry-time recovery for the bucketed table, shared by every
    mutating entry point (upsert, compaction, rebucket caller). Two
    eras, healed in order:

    LEGACY (pre-manifest rename-aside protocol — these states can only
    exist on tables last written by a pre-r11 build, or constructed by
    hand; the manifest protocol never creates them):

    * ``.upsert_old_<kb>_*`` / ``.compact_old_<kb>_*`` with ``_kb=<kb>``
      present → that bucket's swap committed; drop the aside copy.
    * ``.compact_tmp_<kb>_*`` with the bucket dir ABSENT → crash between
      the two renames and the tmp holds the complete compacted copy —
      FINISH the swap (content-identical to the original).
    * ``.upsert_old_<kb>_*`` / ``.compact_old_<kb>_*`` with the bucket
      dir ABSENT → crash between the two renames; roll BACK (restore
      the original — an interrupted upsert batch replays idempotently).
    * remaining ``.upsert_tmp_*`` / ``.compact_tmp_*`` staging →
      recomputable; drop (after the old-dir pass, so a staged copy is
      never adopted over a restorable original).

    MANIFEST era (no rollback protocol — the flip is the linearization
    point): prune grace entries past the retention window (see the
    ``_MANIFEST`` doctrine), then sweep every dir the pruned manifest
    no longer references — crashed writers' staged epochs and expired
    grace copies alike — plus orphaned manifest temp files.

    STEADY-STATE FAST PATH (verdict r11 item 4): when the swept-gen
    sidecar equals the manifest's generation, every commit since the
    last full sweep completed cleanly (writers unlink the sidecar
    before staging and re-stamp it only after commit+cleanup), so
    there is nothing to heal or sweep — return after two small file
    reads instead of five root listings plus per-dir stats. A crashed
    writer can never leave a matching sidecar; a hand-modified table
    can (documented limitation — the protocol's files are not a
    defense against out-of-band edits; ``maintain.py --check`` and
    ``rebucket_partitioned`` are).

    Returns ``(manifest, steady)``: the table's parsed manifest as
    this recovery left it (post-prune; None on legacy tables) for the
    caller to REUSE instead of re-parsing — the parse is the dominant
    fast-path cost at large bucket counts — and whether the fast path
    was taken (a steady table provably has no stray flat files except
    hand-planted ones, so the caller may skip its migration listdir
    too; round-12 review, second pass).
    """
    if not os.path.isdir(target_path):
        return None, False
    esc = glob_mod.escape(target_path)
    m = _load_manifest(target_path)
    if m is not None and not m["adopted_ts"] \
            and _read_swept_gen(target_path) == m["gen"] \
            and not _prune_grace(m["grace"], m["gen"])[1]:
        # the prune probe is pure (no filesystem) and closes the
        # time-window hole the sidecar alone would open: with
        # GRACE_RETAIN_SECONDS configured, grace entries expire by
        # CLOCK, not by generation — a non-committing entry (a nightly
        # compaction that finds nothing to rewrite) must still reclaim
        # them, or an idle table retains superseded copies forever
        # (round-12 review). adopted_ts forces the slow path so the
        # adopted timestamps are frozen by a v2 rewrite below — without
        # that, every parse re-adopts a fresh "now" and the window
        # never starts. The guard heal runs even on the fast path: the
        # file is advisory and can be removed out-of-band, and a
        # read-mostly table may see no data commit for a long time.
        _write_naive_read_guard(target_path, m["live"])
        return m, True
    clean = True
    if m is None:
        # legacy: finish a compact swap whose tmp is the only complete
        # copy of its bucket
        for tmp_ in glob_mod.glob(os.path.join(esc, ".compact_tmp_*")):
            kbv = os.path.basename(tmp_).split("_")[2]
            d = os.path.join(target_path, f"_kb={kbv}")
            if not os.path.isdir(d):
                logger.warning("kg_table recovery: completing interrupted "
                               "compact swap for %s from %s", d, tmp_)
                os.rename(tmp_, d)
            else:
                shutil.rmtree(tmp_, ignore_errors=True)
        # legacy: restore or drop aside copies
        for pat in (".upsert_old_*", ".compact_old_*"):
            for old in glob_mod.glob(os.path.join(esc, pat)):
                kbv = os.path.basename(old).split("_")[2]
                d = os.path.join(target_path, f"_kb={kbv}")
                if not os.path.isdir(d):
                    logger.warning("kg_table recovery: restoring %s from "
                                   "interrupted swap copy %s", d, old)
                    os.rename(old, d)
                else:
                    shutil.rmtree(old, ignore_errors=True)
        # epoch dirs without a manifest can only be a publisher that
        # crashed mid-migration, before its flip — recomputable orphans
        for orphan in glob_mod.glob(os.path.join(esc, ".kbe_*")):
            shutil.rmtree(orphan, ignore_errors=True)
        # a legacy table must never carry a swept-gen sidecar (it has
        # no generations); one can only be hand-planted or left by a
        # demotion — drop it so it can never mask a future sweep
        _invalidate_swept_gen(target_path)
    else:
        # manifest era: the manifest-protocol never creates these, and
        # migration healed any pre-upgrade states before the manifest
        # was born — whatever matches now is junk (e.g. hand-planted
        # litter), never a recovery source
        for pat in (".compact_tmp_*", ".compact_old_*", ".upsert_old_*"):
            for stale in glob_mod.glob(os.path.join(esc, pat)):
                clean &= _rmtree_verified(stale)
    for stale in glob_mod.glob(os.path.join(esc, ".upsert_tmp_*")):
        clean &= _rmtree_verified(stale)
    # manifest era: prune expired grace, sweep unreferenced dirs, then
    # record the table as fully swept at this generation (the prune
    # rewrite keeps the generation — only data commits advance it) —
    # but ONLY when every removal verifiably landed: a partial rmtree
    # must leave the sidecar unstamped so the next entry retries
    # (round-12 review)
    if m is not None:
        grace, _released = _prune_grace(m["grace"], m["gen"])
        if grace != m["grace"] or m["adopted_ts"]:
            # a rewrite also freezes any parse-time-adopted grace
            # timestamps into the v2 format, starting the retention
            # clock exactly once (round-12 review, second pass)
            commit_pointer(target_path, _dump_manifest(
                m["gen"], m["live"], grace,
                buckets=m["buckets"], widened=m["widened"]),
                name=_MANIFEST)
            m["adopted_ts"] = False
        m["grace"] = grace
        clean &= _sweep_unreferenced_buckets(target_path, m["live"],
                                             grace)
        _write_naive_read_guard(target_path, m["live"])
        if clean:
            _stamp_swept_gen(target_path, m["gen"])
    return m, False


def _publish_staged_buckets(target_path: str, staging: str, token: str,
                            *, buckets: int | None = None,
                            widened: bool | None = None,
                            expected: set[int] | None = None,
                            manifest=_UNSET) -> None:
    """Pure-filesystem commit of :func:`upsert_partitioned`'s step 4:
    move each staged ``_kb=<n>`` subdir to its immutable epoch name
    ``.kbe_<n>_<token>`` (renames of not-yet-referenced dirs — crashing
    here leaves only recomputable orphans, never a torn table), publish
    them ALL with one atomic manifest flip (:func:`_commit_buckets`),
    then sweep the staging residue (``_SUCCESS`` marker). Contrast with
    the retired per-bucket rename-aside swap: there is no per-bucket
    missing-dir instant and no rollback path — the flip either happened
    (commit fully applied) or it didn't (table unchanged; the batch
    replays idempotently). Module-level so the crash-fuzz suite can
    inject faults without a Spark write per iteration.

    ``expected`` (the merge's touched-bucket set) is the
    placement-invariant tripwire: a staged bucket OUTSIDE it means
    rows read from a touched directory re-hashed into a bucket whose
    incumbent rows were never read — publishing it would REPLACE that
    bucket's live dir and silently drop those rows (reachable only on
    a table whose stored rows violate key↔directory placement, e.g.
    pre-r8 width-drift corruption; the pre-r11 directory-name read
    merely duplicated such rows). Refusing BEFORE any rename leaves
    the table untouched and the staging sweepable; the fix is
    ``rebucket_partitioned``, which rewrites every row under one
    hash (r11 round-close review, second pass)."""
    staged_dirs = sorted(glob_mod.glob(
        os.path.join(glob_mod.escape(staging), "_kb=*")))
    ids = [int(os.path.basename(d).split("=", 1)[1])
           for d in staged_dirs]
    if expected is not None:
        rogue = sorted(set(ids) - set(expected))
        if rogue:
            raise ValueError(
                f"upsert_partitioned: merged rows hash into bucket(s) "
                f"{rogue} that this batch never touched — stored rows "
                f"in the touched directories hash outside their own "
                f"bucket (placement-invariant violation; legacy "
                f"width-drift corruption is the known cause). "
                f"Publishing would silently drop those buckets' "
                f"incumbent rows; run rebucket_partitioned on "
                f"{target_path} to rewrite the table under one hash.")
    # data durability BEFORE the manifest may reference it: flush the
    # staged files (Spark writes them without fsync) so the commit
    # order is data → dirents → pointer — see FSYNC_STAGED_DATA
    for staged in staged_dirs:
        _fsync_tree(staged)
    new_dirs: dict[int, str] = {}
    for staged, kbv in zip(staged_dirs, ids):
        name = f".kbe_{kbv}_{token}"
        os.rename(staged, os.path.join(target_path, name))
        new_dirs[kbv] = name
    gen = None
    clean = True
    if new_dirs:
        gen, clean = _commit_buckets(target_path, new_dirs,
                                     buckets=buckets, widened=widened,
                                     manifest=manifest)
    clean &= _rmtree_verified(staging)  # _SUCCESS marker etc.
    if gen is None and clean:
        # EMPTY publish (a streaming micro-batch that delivered no
        # rows): nothing was committed, but the entry-time sidecar
        # unlink already happened — re-stamp the CURRENT generation so
        # an empty-batch stream doesn't permanently defeat the fast
        # path (round-12 review, second pass)
        m = _load_manifest(target_path) if manifest is _UNSET \
            else manifest
        if m is not None:
            gen = m["gen"]
    if gen is not None and clean:
        # all residue verifiably gone — the next entry may fast-path;
        # on a partial cleanup the sidecar stays unstamped so the
        # next entry's full sweep retries (round-12 review)
        _stamp_swept_gen(target_path, gen)


def upsert_partitioned(spark: SparkSession, target_path: str,
                       batch: DataFrame, *, key_col: str = "doc_id",
                       order_col: str = "kafka_offset",
                       buckets: int = 64,
                       lock_timeout: float = 300.0) -> None:
    """K2 at scale: MERGE into a hash-bucket-partitioned KG table,
    rewriting ONLY the partitions the batch touches. The whole
    read→merge→swap runs under :func:`table_lock` (see :func:`upsert`
    for the lost-update scenario it closes — here the overlap partner
    is typically a nightly ``compact_partitioned``/
    ``rebucket_partitioned`` run against a live ingest).

    The plain :func:`upsert` rereads + rewrites the whole table per batch —
    fine for tests, quadratic over a day of micro-batches at 100 TB. Here
    the table is laid out as ``_kb=pmod(xxhash64(key), buckets)`` partition
    directories (uniform — no skewed dirs), and the merge:

      1. buckets and deduplicates the batch, caches it, and collects
         its touched bucket ids (≤ ``buckets`` values — a driver-safe
         list);
      2. reads back only those buckets' directories, at the table's
         probed schema (untouched directories are never opened);
      3. last-write-wins merges batch ∪ touched-existing;
      4. writes the merged buckets to a dot-prefixed staging dir inside
         the table, moves each to an immutable hidden epoch dir
         (``.kbe_<n>_<token>``), and publishes them ALL with ONE atomic
         manifest replace (:func:`_publish_staged_buckets` →
         :func:`_commit_buckets` — the protocol shared with
         :func:`compact_partitioned` and the BM25 stats epochs).

    The caller's plan behind ``batch`` is evaluated once: steps 1 and 4
    both read the cached frame. Every dedup runs over (``_kb``, key)
    after a repartition on ``_kb``, so each bucket's rows sit in one
    task and every written bucket — on a merge and on the birth write
    alike — is exactly one parquet file.

    Step 4 deliberately avoids Spark's dynamic partition overwrite: its
    job commit deletes each touched partition directory before moving
    the staged one in, so a driver crash mid-commit loses the
    pre-existing rows of that bucket with no recovery artifact — a
    replaying micro-batch then re-merges against an EMPTY bucket and
    the old keys are silently gone. With the manifest commit, every
    crash point leaves the table serving a complete committed epoch
    set: before the flip the batch simply hasn't happened (its staged
    epochs are unreferenced orphans, swept at the next entry) and
    replays idempotently (merge is a pure function of (key, order));
    after the flip it is fully applied, with the touched buckets'
    previous dirs retained as reader-grace copies for one writer
    interval. There is no rollback path and no per-bucket
    missing-directory instant — the failure class the old rename-aside
    swap could only narrow, the manifest removes.

    Cost per batch is O(touched data), not O(table). Delta's MERGE is the
    production drop-in (same semantics, real commit log).

    The bucket count is a TABLE property, not a call property: the first
    partitioned write persists it (``_kg_buckets``, underscore-prefixed
    so parquet never sees it) and later calls use the persisted value
    regardless of the argument — see :func:`_load_bucket_meta` for the
    silent-duplicate-keys failure this closes. Grow an outscaled table
    with :func:`rebucket_partitioned`."""
    with table_lock(target_path, timeout=lock_timeout):
        _upsert_partitioned_locked(spark, target_path, batch,
                                   key_col=key_col, order_col=order_col,
                                   buckets=buckets)


def _bucket_expr(df: DataFrame, key_col: str, buckets: int, *,
                 widened: bool = True):
    """``_kb = pmod(xxhash64(key), buckets)`` with the key WIDENED to a
    canonical per-family type first (integral → BIGINT, float →
    DOUBLE; shared with the Bloom filter via ``functions/hashkey.py``).
    xxhash64 hashes INT and BIGINT differently for equal values, so
    without widening a batch whose key column arrives narrower than the
    original writer's would bucket the SAME logical keys into DIFFERENT
    ``_kb=`` directories — the partitioned merge then reads the wrong
    partitions and last-write-wins silently keeps both rows (the r7
    external-review bloom finding, same class; closed here
    proactively). Every writer and re-bucketer of a table MUST go
    through this one expression, built from the dataframe the
    expression is APPLIED to (an expression built from another frame's
    schema would pick the cast from the wrong dtype).

    ``widened=False`` reproduces the pre-marker hash for LEGACY tables
    whose ``_kb=`` directories were placed unwidened — their layout
    contract is preserved exactly (see :func:`_load_bucket_meta`);
    :func:`rebucket_partitioned` is the upgrade path (it rewrites every
    row, so it always stamps the widened hash)."""
    from dig_etl_engine_spark.functions.hashkey import widen_for_hash

    key = F.col(key_col)
    if widened:
        key = widen_for_hash(key, df.schema[key_col].dataType.simpleString())
    return F.pmod(F.xxhash64(key), F.lit(buckets)).cast("int")


_INT_WIDTHS = {"tinyint": 1, "smallint": 2, "int": 3, "bigint": 4}
_FLT_WIDTHS = {"float": 1, "double": 2}


def _num_family(t: str) -> str | None:
    if t in _INT_WIDTHS:
        return "integral"
    if t in _FLT_WIDTHS:
        return "fractional"
    return None


def _align_to_table(batch: DataFrame, ref_schema, *,
                    target_path: str, frame: str = "batch",
                    allow_new: bool = False) -> DataFrame:
    """Cast the batch's common columns to the TABLE's exact types — the
    bucketed table's schema is a cross-bucket contract (r9).

    The hazard this closes (found by the r9 migration golden): the
    partitioned merge rewrites only the TOUCHED buckets, so a batch
    column arriving WIDER than the table's (bigint vs int) used to
    coerce the union up and rewrite those buckets at the wider parquet
    type — the table became cross-bucket schema-inconsistent and
    ``read_partitioned`` failed with PARQUET_COLUMN_DATA_TYPE_MISMATCH
    on the next read touching both widths. (The plain ``upsert`` is
    immune: it rewrites the WHOLE table, so its schema evolves
    atomically.)

    Same-family numeric drift aligns via a GUARDED ``try_cast``: a
    value that does not fit the table's type raises at execution
    (deployment-independent — a plain cast wraps silently under
    ansi=false and throws under ansi=true), everything else lands at
    the table's birth type so every bucket file keeps one schema.
    Cross-family drift and batch-only NEW columns are refused — adding
    a column to a bucketed table is a full-table rewrite, not a merge —
    EXCEPT under ``allow_new`` (the flat-bootstrap case, where the
    caller rewrites every row in one pass anyway, so a new column lands
    in every bucket atomically and first-upsert schema evolution stays
    legal).
    Columns MISSING from the batch stay fine (the union fills nulls
    and the rewrite keeps the full table schema). Fractional
    down-casts (double→float) lose precision by construction; the
    table's birth type is the declared contract, same as any fixed
    parquet schema — but a FINITE double overflowing to float
    ±Infinity is a misencoding, not a precision loss, and raises like
    the integral overflow does (``try_cast`` alone cannot see it:
    double→float overflow yields Inf, not NULL — r9 round-close
    review). ``frame`` names the frame being aligned in every
    diagnostic ("batch", or the stray flat-file migration frame — a
    wedged migration must blame the on-disk stray, not the caller's
    conforming batch)."""
    ref_types = {f.name: f.dataType.simpleString()
                 for f in ref_schema.fields if f.name != "_kb"}
    extra = [c for c in batch.columns if c not in ref_types]
    if extra and not allow_new:
        raise ValueError(
            f"upsert_partitioned: {frame} adds column(s) {extra} not "
            f"present in the bucketed table {target_path} — a per-bucket "
            "merge would leave the new column in touched buckets only "
            "(a cross-bucket schema mix read_partitioned cannot "
            "resolve). Adding a column is a full-table rewrite: "
            "read_partitioned → withColumn → write to a fresh path.")
    exprs = []
    drift = False
    for c in batch.columns:
        if c not in ref_types:          # allow_new: pass through as-is
            exprs.append(F.col(c))
            drift = True
            continue
        t_b = batch.schema[c].dataType.simpleString()
        t_t = ref_types[c]
        if t_b == t_t:
            exprs.append(F.col(c))
            continue
        if _num_family(t_b) is None or _num_family(t_b) != _num_family(t_t):
            raise ValueError(
                f"upsert_partitioned: {frame} column {c}:{t_b} cannot "
                f"merge into the table's {c}:{t_t} at {target_path} "
                "(cross-family or unsupported type drift) — cast the "
                f"{frame} explicitly to the table's type.")
        drift = True
        tc = F.col(c).try_cast(t_t)
        # try_cast yields NULL on integral overflow, but double→float
        # overflow yields ±Infinity (verified on Spark 4.1.2) — guard a
        # FINITE source turning infinite separately
        does_not_fit = F.col(c).isNotNull() & tc.isNull()
        if t_t in _FLT_WIDTHS:
            inf = F.lit(float("inf"))
            does_not_fit = does_not_fit | (
                (F.abs(tc) == inf) & (F.abs(F.col(c)) != inf))
        exprs.append(
            F.when(does_not_fit,
                   F.raise_error(F.lit(
                       f"upsert_partitioned: a value in {frame} column "
                       f"{c} ({t_b}) does not fit the table's {t_t} — "
                       f"the bucketed table keeps its birth type; fix "
                       f"the value or rewrite the table at a wider "
                       f"type.")))
            .otherwise(tc).cast(t_t).alias(c))
    return batch.select(*exprs) if drift else batch


def _check_key_family(batch_df: DataFrame, table_df: DataFrame,
                      key_col: str, *, widened: bool,
                      frame: str = "batch") -> None:
    """Reject a batch whose key type cannot hash-agree with the stored
    table's: cross-family always (string vs bigint — the union would
    silently coerce to string while the bucket hashes diverge, leaving
    duplicate keys across partitions), and same-family width drift on
    LEGACY (unwidened) tables, whose fix is an explicit
    ``rebucket_partitioned`` upgrade. ``frame`` names the offending
    frame in the diagnostic — when the check runs over the on-disk
    stray migration frame, blaming "the batch" points the operator at
    data no batch cast can ever fix (r9 round-close review)."""
    from dig_etl_engine_spark.functions.hashkey import canonical_hash_type

    b_t = batch_df.schema[key_col].dataType.simpleString()
    t_t = table_df.schema[key_col].dataType.simpleString()
    if widened:
        ok = canonical_hash_type(b_t) == canonical_hash_type(t_t)
    else:
        ok = b_t == t_t
    if not ok:
        raise ValueError(
            f"upsert_partitioned: {frame} key {key_col}:{b_t} cannot "
            f"hash-agree with the table's {key_col}:{t_t} "
            f"({'cross-family' if widened else 'legacy unwidened table'})"
            " — the merge would bucket the same logical keys into "
            f"different _kb= partitions and silently keep duplicates. "
            f"Cast the {frame} key explicitly"
            + ("" if widened else
               ", or run rebucket_partitioned to upgrade the table to "
               "width-safe hashing") + ".")


def _upsert_partitioned_locked(spark: SparkSession, target_path: str,
                               batch: DataFrame, *, key_col: str,
                               order_col: str, buckets: int) -> None:
    # recovery FIRST: it returns the table's parsed manifest (the one
    # parse this entry pays — threading it through meta-load, the live
    # map and the commit was 4 parses before, the dominant fast-path
    # cost at large bucket counts) plus whether the fast path was
    # taken (round-12 review, second pass)
    m, steady = _recover_partitioned_swap(target_path)
    buckets, widened = _load_bucket_meta(target_path, buckets,
                                         manifest=m)

    # Migration / crash-recovery: flat root *.parquet files exist when the
    # table is a create_table bootstrap, was built by the plain upsert, OR
    # a previous migration crashed between its partitioned write and its
    # cleanup (mixed flat + _kb= layout). Fold ALL flat rows into this
    # batch BEFORE computing touched buckets — their buckets then rewrite
    # with the merge — and delete the flat files after the write, so the
    # layout converges to pure _kb= dirs from any starting state. The
    # files are read by explicit path (a whole-directory read of a mixed
    # layout throws 'conflicting directory structures'). NOT _SUCCESS:
    # the partitioned write recreates the root marker, and deleting it
    # would make the table look absent to create_table_if_not_exists.
    # A STEADY table (sidecar fast path) provably has no strays except
    # hand-planted ones — every protocol path that can leave a flat
    # file also leaves the sidecar unlinked — so the migration listdir
    # is skipped there, keeping the steady-state write path free of
    # root listings entirely.
    flat_files: list[str] = []
    live: dict[int, str] = {}
    if steady:
        live = m["live"]
    elif os.path.isdir(target_path):
        flat_files = [f for f in os.listdir(target_path)
                      if f.endswith(".parquet")]
        live = m["live"] if m is not None \
            else _legacy_bucket_dirs(target_path)
    has_kb = bool(live)
    existing_all = None
    stray = None
    if has_kb:
        # the incumbent SCHEMA frame (lazy — no job ever runs on it):
        # one bucket dir suffices, because _align_to_table enforces the
        # schema as a cross-bucket contract — every bucket file carries
        # the same types. Reading one dir instead of all keeps the
        # per-batch footer/listing cost O(1) in bucket count (at the
        # rebucket-as-you-grow doctrine's scale, bucket count tracks
        # table size, and an O(buckets) listing per micro-batch would
        # be a hidden O(table) term — measured as the residual slope in
        # scripts/scaling_study.py's upsert kernel). Merge DATA is read
        # from the touched dirs only, further down, with _kb recomputed
        # from the key (exact by the writer invariant: every stored
        # row's key hashes to its directory's bucket under the table's
        # recorded hash version).
        #
        # Fallback (r11 external review, low): probe the lowest-id live
        # dir that actually HOLDS a parquet file. The protocol never
        # commits an empty bucket dir, but a hand-modified table whose
        # first dir was emptied would otherwise fail the whole upsert
        # at UNABLE_TO_INFER_SCHEMA when every other bucket is intact.
        # Still O(1) listings on a healthy table (the first dir wins).
        probe = None
        for _, dname in sorted(live.items()):
            d = os.path.join(target_path, dname)
            try:
                if any(f.endswith(".parquet") for f in os.listdir(d)):
                    probe = d
                    break
            except OSError:
                continue
        if probe is None:
            raise ValueError(
                f"upsert_partitioned: none of {target_path}'s live "
                f"bucket dirs holds a parquet file — the layout was "
                "modified outside the table protocol (committed "
                "buckets are never empty). Run rebucket_partitioned "
                "to rewrite the table, or restore the missing files.")
        existing_all = spark.read.parquet(probe)
    if flat_files:
        stray = spark.read.parquet(
            *[os.path.join(target_path, f) for f in flat_files])

    # The INCUMBENT schema (the bucketed dirs, else the flat bootstrap)
    # is the table's contract: check the key's hash-compatibility
    # against it, then align every writer-side frame to its EXACT types
    # (r9, found by the migration golden): the merge rewrites only the
    # touched buckets, so letting the union coerce a wider batch column
    # up would rewrite those buckets at a different parquet type and
    # leave the table cross-bucket schema-inconsistent — see
    # _align_to_table. The alignment also subsumes the r8 stray-width
    # rule (a stray column of a different width would otherwise hash
    # into the wrong partition): post-alignment, batch, stray and table
    # hash from one key dtype.
    incumbent = existing_all if existing_all is not None else stray
    _STRAY_FRAME = ("stray flat-file migration frame (on disk at the "
                    "table root, not this batch)")
    if incumbent is not None:
        _check_key_family(batch, incumbent, key_col, widened=widened)
        # batch-only NEW columns are refused only when bucketed dirs
        # already exist (a per-bucket merge would leave the column in
        # touched buckets only); in the flat-bootstrap case every row
        # (stray ∪ batch) is rewritten in this one pass, so schema
        # evolution on the first partitioned upsert stays legal (r9
        # round-close review — this worked before the alignment landed)
        batch = _align_to_table(batch, incumbent.schema,
                                target_path=target_path,
                                allow_new=existing_all is None)
        if stray is not None and existing_all is not None:
            _check_key_family(stray, incumbent, key_col, widened=widened,
                              frame=_STRAY_FRAME)
            stray = _align_to_table(
                stray, incumbent.schema, target_path=target_path,
                frame=_STRAY_FRAME)

    kb = _bucket_expr(batch, key_col, buckets, widened=widened)
    b = _dedupe_per_bucket(batch.withColumn("_kb", kb), key_col, order_col)
    if stray is not None:
        # the bucket expression is still rebuilt from the (aligned)
        # stray frame itself — an expression built from another frame's
        # schema would pick the widening cast from the wrong dtype
        stray = stray.withColumn(
            "_kb", _bucket_expr(stray, key_col, buckets, widened=widened))
        b = _dedupe_per_bucket(
            stray.unionByName(b, allowMissingColumns=True),
            key_col, order_col)
    token = uuid.uuid4().hex[:8]
    staging = os.path.join(target_path, f".upsert_tmp_{token}")
    # with live buckets, the touched collect and the write both read b:
    # cache it so the caller's plan (extraction, dedup, joins) runs once
    if has_kb:
        b.persist()
    try:
        merged = b
        if has_kb:
            touched = [r[0] for r in b.select("_kb").distinct().collect()]
            touched_dirs = [os.path.join(target_path, live[n])
                            for n in sorted(touched) if n in live]
            if touched_dirs:
                # only the touched buckets' directories are ever opened,
                # read at the probed schema — _align_to_table makes it
                # the contract of every bucket, so no second inference
                existing = spark.read.schema(existing_all.schema) \
                    .parquet(*touched_dirs)
                existing = existing.withColumn(
                    "_kb", _bucket_expr(existing, key_col, buckets,
                                        widened=widened))
                merged = _dedupe_per_bucket(
                    existing.unionByName(b, allowMissingColumns=True),
                    key_col, order_col)
        # drop the swept-gen sidecar before the first byte of new on-disk
        # state: a crash anywhere past this line leaves orphans AND no
        # sidecar, so the next entry runs the full recovery sweep
        _invalidate_swept_gen(target_path)
        merged.write.partitionBy("_kb").parquet(staging)
    finally:
        if has_kb:
            b.unpersist()
    # the tripwire set for the publish step: every staged bucket must
    # come from the batch/stray fold (= touched, computed above) — on
    # a birth write there are no incumbents to protect
    expected = set(touched) if has_kb else None
    # (re-)pin the table's bucket count AND hash version BEFORE the
    # manifest flip: idempotent, heals a manually deleted meta; a legacy
    # table stays marked legacy (its directories were placed by the
    # unwidened hash — only rebucket_partitioned, which rewrites every
    # row, may flip the flag). Writing it pre-commit means a crash
    # between the two leaves a correctly-classified table either way
    # (meta with no manifest is simply a not-yet-committed batch).
    _persist_bucket_meta(target_path, buckets, widened=widened)
    # m is still exact: we hold the table lock and nothing since the
    # entry recovery rewrote the manifest
    _publish_staged_buckets(target_path, staging, token,
                            buckets=buckets, widened=widened,
                            expected=expected, manifest=m)
    for f in flat_files:
        try:
            os.remove(os.path.join(target_path, f))
        except OSError:
            # non-fatal: a stray flat file just gets re-merged (and
            # re-deleted) by the next upsert's migration pass — but say so,
            # silent leftovers made one real incident hard to trace
            logger.warning("upsert_partitioned: could not remove migrated "
                           "flat file %s", os.path.join(target_path, f),
                           exc_info=True)


def compact_partitioned(spark: SparkSession, target_path: str, *,
                        target_file_bytes: int = 128 << 20,
                        min_files: int = 2,
                        lock_timeout: float = 300.0) -> int:
    """Small-file compaction for the bucketed KG table. An upsert
    rewrites each touched bucket whole, as one file, into a fresh epoch
    directory, so upserts never fragment a bucket; a bucket holds many
    files only when another writer placed it (:func:`rebucket_partitioned`,
    a pre-manifest layout, a hand-placed directory). Rewrite each bucket holding ≥ ``min_files``
    files down to ceil(bytes/target) files; untouched buckets keep their
    exact files. Returns the number of buckets compacted.

    Each bucket is compacted to a hidden immutable epoch directory
    (``.kbe_<n>_<token>`` — never read until referenced), then ALL
    compacted buckets are published with ONE atomic manifest replace
    (:func:`_commit_buckets`; verdict r10 item 2 — the ES alias-swap
    contract: the index never serves a 404 mid-reindex). Never reading
    and overwriting the same path in one job also keeps clear of
    Spark's self-overwrite guard. There is NO crash window in which a
    bucket is missing: before the flip the table serves its exact
    pre-compaction state (orphan epochs are swept at the next entry);
    after the flip the compaction is fully applied, with each bucket's
    previous dir retained as a generation-stamped grace copy for
    in-flight readers until the next writer entry reclaims it.

    Local-FS rename semantics here; on HDFS swap ``os.replace`` for an
    overwriting FileSystem.rename, on S3 use a manifest-committing
    table format (Delta's OPTIMIZE is the managed-table equivalent of
    exactly this commit shape).

    Writer exclusion is ENFORCED via :func:`table_lock` (a concurrent
    upsert could otherwise rewrite a bucket between this function's
    read and its flip, losing the upsert — with the lock it simply
    waits). Readers need no coordination: :func:`read_partitioned`
    resolves the manifest in one atomic pointer read. Naive directory
    listings (``spark.read.parquet`` straight at the table root) are
    NOT the read API on a manifest table, in EITHER direction: on a
    table whose buckets have all moved to hidden epoch dirs such a
    read fails loudly (no visible data files), but on an
    in-place-migrated table — visible legacy ``_kb=`` dirs coexisting
    with hidden epochs for the rewritten buckets — it SILENTLY serves
    stale or partial rows (the unrewritten buckets plus whatever
    superseded visible dirs remain), with no error, indefinitely.
    Route every reader through :func:`read_partitioned`; a one-shot
    :func:`rebucket_partitioned` normalizes a migrated table if the
    mixed layout bothers an external tool.
    """
    with table_lock(target_path, timeout=lock_timeout):
        return _compact_partitioned_locked(
            spark, target_path, target_file_bytes=target_file_bytes,
            min_files=min_files)


def _compact_partitioned_locked(spark: SparkSession, target_path: str,
                                *, target_file_bytes: int,
                                min_files: int) -> int:
    import glob
    import math

    # heal any pre-manifest-era crash states and sweep manifest-era
    # orphans/expired grace — the shared entry recovery (its parsed
    # manifest is reused below instead of a second parse)
    m, _steady = _recover_partitioned_swap(target_path)

    live = m["live"] if m is not None \
        else _legacy_bucket_dirs(target_path)
    todo: list[tuple[int, str, int]] = []
    for kb, dname in sorted(live.items()):
        d = os.path.join(target_path, dname)
        files = glob.glob(os.path.join(glob.escape(d), "*.parquet"))
        if len(files) >= min_files:
            nbytes = sum(os.path.getsize(f) for f in files)
            nfiles = max(1, math.ceil(nbytes / target_file_bytes))
            # skip buckets already AT the target layout: rewriting 3
            # ~target-sized files into 3 files pays a full-bucket
            # rewrite for zero gain, on every nightly run, forever
            if nfiles < len(files):
                todo.append((kb, d, nfiles))
    # write every compacted copy to its (hidden, not-yet-referenced)
    # epoch dir, then publish them ALL with one atomic manifest flip —
    # a crash before the flip leaves only recomputable orphan epochs
    # (swept at the next entry) and the table serving its exact
    # pre-compaction state; compaction never changes data, so there is
    # nothing to replay
    token = uuid.uuid4().hex[:8]
    new_dirs: dict[int, str] = {}
    if todo:
        # new on-disk state follows: invalidate the fast-path sidecar
        # first so a crash mid-compaction is fully swept at next entry
        _invalidate_swept_gen(target_path)
    for kb, d, nfiles in todo:
        name = f".kbe_{kb}_{token}"
        (spark.read.parquet(d).coalesce(nfiles)
         .write.parquet(os.path.join(target_path, name)))
        _fsync_tree(os.path.join(target_path, name))
        new_dirs[kb] = name
    if new_dirs:
        gen, clean = _commit_buckets(target_path, new_dirs, manifest=m)
        if clean:
            _stamp_swept_gen(target_path, gen)
    return len(todo)


def rebucket_partitioned(spark: SparkSession, target_path: str,
                         new_buckets: int, *,
                         key_col: str = "doc_id",
                         lock_timeout: float = 300.0) -> int:
    """Change a partitioned KG table's bucket count — the maintenance op
    for a table that outgrew its birth layout. Bucket SIZE, not bucket
    count, is what should stay constant as a table grows: a 64-bucket
    table that was right at 1 TB has 100× oversized buckets at 100 TB
    (each micro-batch rewrite touches 1/64th of the table), so growth is
    periodic rebucketing, exactly like re-sharding a key-value store.

    Protocol (single-writer maintenance op, like
    :func:`compact_partitioned`): read the whole table, rewrite under
    the new count into a sibling staging dir (complete with its
    ``_kg_buckets`` meta), then swap with two renames — target aside to
    ``.rebucket_old``, staging in — and drop the old copy. Crash
    recovery on entry: a staging dir bearing Spark's ``_SUCCESS`` marker
    with the table missing finishes the swap; a missing table with only
    the old copy restores it; stale staging dirs are swept. Returns the
    row count of the rebucketed table. Runs under :func:`table_lock`
    (writer exclusion against live upserts; see
    :func:`compact_partitioned` for the reader-atomicity caveat that
    the lock does NOT cover).
    """
    with table_lock(target_path, timeout=lock_timeout):
        return _rebucket_partitioned_locked(spark, target_path,
                                            new_buckets, key_col=key_col)


def _rebucket_partitioned_locked(spark: SparkSession, target_path: str,
                                 new_buckets: int, *,
                                 key_col: str) -> int:
    tmp = target_path + f".rebucket_tmp.{os.getpid()}"
    old = target_path + ".rebucket_old"

    # recovery before new work (states keyed by what survived a crash)
    for stale in glob_mod.glob(glob_mod.escape(target_path)
                               + ".rebucket_tmp.*"):
        if not os.path.isdir(target_path) and \
                os.path.exists(os.path.join(stale, "_SUCCESS")) and \
                os.path.exists(os.path.join(stale, _BUCKETS_META)):
            logger.warning("rebucket_partitioned: finishing interrupted "
                           "swap from %s", stale)
            os.rename(stale, target_path)
        else:
            shutil.rmtree(stale, ignore_errors=True)
    if not os.path.isdir(target_path) and os.path.isdir(old):
        logger.warning("rebucket_partitioned: restoring %s from %s",
                       target_path, old)
        os.rename(old, target_path)
    shutil.rmtree(old, ignore_errors=True)

    df = read_partitioned(spark, target_path)
    # a rebucket rewrites EVERY row, so it is also the sanctioned
    # upgrade path from legacy unwidened hashing: always place (and
    # mark) the new layout with the width-safe hash
    kb = _bucket_expr(df, key_col, new_buckets, widened=True)
    (df.withColumn("_kb", kb)
     .write.mode("overwrite").partitionBy("_kb").parquet(tmp))
    _persist_bucket_meta(tmp, new_buckets, widened=True)
    # data durability before the manifest references it (the staging
    # root is about to become the table — same contract as the
    # publish path's staged-epoch flush)
    _fsync_tree(tmp)
    # a rebucketed table is born manifest-routed: reference the fresh
    # _kb= dirs in place (gen 0, no grace — the whole root swaps at once)
    commit_pointer(tmp, _dump_manifest(
        0, _legacy_bucket_dirs(tmp), {},
        buckets=new_buckets, widened=True), name=_MANIFEST)
    n = spark.read.option("basePath", tmp) \
        .parquet(os.path.join(tmp, "_kb=*")).count()
    os.rename(target_path, old)
    os.rename(tmp, target_path)
    shutil.rmtree(old, ignore_errors=True)
    return n


def _effective_bucket_dirs(target_path: str) -> list[str]:
    """Read-only resolution of the bucket layout during a concurrent
    swap (the :mod:`webdataset` ``_effective_files`` doctrine applied to
    the KG table): a bucket is readable from its live ``_kb=<n>`` dir
    when present, else from a swap-aside copy (``.upsert_old_<n>_*`` /
    ``.compact_old_<n>_*``) — during the instant between a swap's two
    renames the aside copy is the bucket's only complete epoch, and a
    plain directory listing would silently return results missing those
    rows. Never mutates anything (healing is the writers' job, under
    their lock). Re-lists until two consecutive scans agree so a swap
    progressing mid-scan can't yield a bucket twice or not at all; under
    constant churn, returns the last consistent-per-bucket view (each
    bucket still resolves to exactly one complete epoch).

    MANIFEST tables short-circuit all of that: one pointer read yields
    the complete live-dir set atomically — no aside resolution, no
    stability re-listing — because committed epoch dirs never move and
    survive as generation-stamped grace copies after being superseded
    (see the ``_MANIFEST`` doctrine). The legacy scan below serves only
    pre-manifest tables."""
    m = _load_manifest(target_path)
    if m is not None:
        return [os.path.join(target_path, d)
                for _, d in sorted(m["live"].items())]
    esc = glob_mod.escape(target_path)

    def scan():
        live: dict[int, str] = {}
        for d in glob_mod.glob(os.path.join(esc, "_kb=*")):
            try:
                live[int(os.path.basename(d).split("=", 1)[1])] = d
            except ValueError:
                continue
        aside: dict[int, str] = {}
        for pat in (".upsert_old_*", ".compact_old_*"):
            for d in glob_mod.glob(os.path.join(esc, pat)):
                try:
                    aside.setdefault(
                        int(os.path.basename(d).split("_")[2]), d)
                except (ValueError, IndexError):
                    continue
        return live, aside

    live, aside = scan()
    for _ in range(50):
        live2, aside2 = scan()
        if (live2, aside2) == (live, aside):
            break
        live, aside = live2, aside2
    return [d for _, d in sorted({**aside, **live}.items())]


def layout_report(target_path: str) -> dict:
    """Read-only layout diagnosis of a KG table for
    ``scripts/maintain.py --check`` (verdict r11 item 3): classifies
    the era, counts visible vs hidden live dirs, and returns
    ``findings`` — human-readable anomaly strings, empty when a naive
    ``spark.read.parquet(root)`` would be safe. Mixed layouts (hidden
    ``.kbe_`` epochs beside visible dirs/files — the in-place-migration
    steady state) are flagged with :func:`rebucket_partitioned` named
    as the normalizer and the guard file's presence reported. Takes no
    lock and mutates nothing — safe against a live ingest (the counts
    are a snapshot; only the classification is load-bearing)."""
    report: dict = {"path": target_path, "era": "absent",
                    "findings": []}
    if not os.path.isdir(target_path):
        report["findings"].append("table directory does not exist")
        return report
    names = os.listdir(target_path)
    m = _load_manifest(target_path)
    flat = [f for f in names if f.endswith(".parquet")]
    if m is None:
        legacy = _legacy_bucket_dirs(target_path)
        report["era"] = "legacy" if legacy else "flat"
        if legacy and flat:
            report["findings"].append(
                f"{len(flat)} stray flat parquet file(s) beside "
                f"{len(legacy)} _kb= dirs (interrupted migration; the "
                "next upsert_partitioned folds them in)")
        litter = [n for n in names
                  if n.startswith((".upsert_", ".compact_", ".kbe_"))]
        if litter:
            report["findings"].append(
                f"pre-manifest crash litter: {sorted(litter)[:5]} — "
                "healed by the next mutating entry's recovery")
        return report
    report["era"] = "manifest"
    report["gen"] = m["gen"]
    report["buckets"] = m["buckets"]
    hidden = {n: d for n, d in m["live"].items()
              if d.startswith(".kbe_")}
    visible = {n: d for n, d in m["live"].items() if n not in hidden}
    report["live_hidden"] = len(hidden)
    report["live_visible"] = len(visible)
    report["grace_dirs"] = sum(len(es) for es in m["grace"].values())
    guard = _NAIVE_READ_GUARD in names
    report["guard_present"] = guard
    if hidden:
        report["findings"].append(
            f"mixed/hidden layout: {len(hidden)} live bucket(s) in "
            f"hidden epoch dirs, {len(visible)} still visible — a "
            "naive spark.read.parquet(root) CANNOT see this table "
            "correctly; read via kg_table.read_partitioned, or run "
            "rebucket_partitioned to normalize the layout for "
            "external tools"
            + ("" if guard else
               " [naive-read guard file MISSING — a raw root read "
               "would silently serve stale/partial rows; the next "
               "commit or writer entry restores it]"))
    referenced = set(m["live"].values()) | {
        d for es in m["grace"].values() for d, _, _ in es}
    orphans = [n for n in names
               if (n.startswith(".kbe_") or n.startswith("_kb="))
               and n not in referenced
               and os.path.isdir(os.path.join(target_path, n))]
    if orphans:
        report["findings"].append(
            f"{len(orphans)} unreferenced bucket dir(s) (crashed "
            "writer's orphans or expired grace): swept at the next "
            "writer entry")
    if flat:
        report["findings"].append(
            f"{len(flat)} stray flat parquet file(s) at the root of a "
            "manifest table: folded in by the next upsert_partitioned")
    return report


def read_partitioned(spark: SparkSession, target_path: str) -> DataFrame:
    """Read a partitioned KG table without the internal bucket column.
    Reads the bucket dirs by explicit path so a crash-window mixed
    layout (stray flat files awaiting the next upsert's migration)
    stays readable, resolving each bucket through
    :func:`_effective_bucket_dirs` so a concurrent upsert/compaction
    swap never makes a bucket transiently invisible; a table mid-
    rebucket swap (the whole dir briefly aside) reads from its
    ``.rebucket_old`` copy."""
    if not os.path.isdir(target_path):
        # mid-swap fallbacks: the retired copy is the only complete
        # table during the instant between a swap's two renames
        for aside in (".rebucket_old", ".__old__"):
            if os.path.isdir(target_path + aside):
                target_path = target_path + aside
                break
    dirs = _effective_bucket_dirs(target_path) \
        if os.path.isdir(target_path) else []
    if dirs:
        # explicit per-dir roots (no basePath): no _kb partition column
        # is inferred, and aside dirs — whose names don't parse as
        # partitions — read identically to live ones
        return spark.read.parquet(*dirs)
    return spark.read.parquet(target_path)


def write_jsonlines(df: DataFrame, path: str, *,
                    compression: str | None = None) -> None:
    """K4: JSON-lines export (`.jl` / `.jl.gz`); one file per partition —
    ``coalesce(1)`` first when a single upload-shaped file is required."""
    writer = df.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)
