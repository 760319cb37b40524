"""Storage-agnostic filesystem helpers via the JVM Hadoop FileSystem API.

Replaces the reference's recursive HDFS walking + path filters
(core/util/HdfsUtils.java:78-102, core/util/HdfsFsWalker.java:51) with the
Hadoop FS client Spark already ships — works identically on local disk,
HDFS, and object stores, so nothing here assumes a single machine.
"""

from __future__ import annotations

import json
import posixpath
import threading
from collections import OrderedDict
from typing import Dict, List, Optional, Sequence, Tuple
from urllib.parse import urlparse

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

# FileStat: (normalized path, size bytes, mtime epoch-millis)
FileStat = Tuple[str, int, int]


def normalize_path(p: str) -> str:
    """Canonical URI form so paths from ``_metadata.file_path`` (file:///x),
    Hadoop FileStatus (file:/x) and user input (/x, relative) compare
    equal. Relative paths are absolutized first — ``file://data/events``
    would make ``data`` the URI authority, so the same table referenced
    relatively vs absolutely would hash to different table ids and the
    index would be invisible under one spelling (r9 review finding);
    a bare-bucket URI keeps an empty path instead of normpath's ``.``."""
    u = urlparse(p)
    if not u.scheme:
        import os

        return "file://" + posixpath.normpath(os.path.abspath(p))
    netloc = u.netloc or ""
    path = posixpath.normpath(u.path) if u.path else ""
    if path == ".":
        path = ""
    return f"{u.scheme}://{netloc}{path}"


def normalize_path_col(col):
    """SQL-side twin of :func:`normalize_path` for the spellings that
    occur in columns (``file:/x`` vs ``file:///x``) — ONE definition so
    every module's stored ``file`` values stay join-compatible.

    Only the authority-LESS spelling is rewritten (``file:/x`` →
    ``file:///x``); ``file://host/x`` passes through unchanged, matching
    the Python twin's netloc handling — folding the host into the path
    would silently break joins against driver-side normalized sets."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"^file:/(?=[^/])", "file:///")


def file_path_col(col):
    """Canonicalize ``_metadata.file_path`` — and ONLY that column.

    ``_metadata.file_path`` renders the URI-ENCODED form (a space in a
    table path becomes ``%20``), while Hadoop listings — the other side
    of every file-set comparison — render the LITERAL disk path. Before
    r13 the mismatch made every index over a path containing a space
    (or any URI-special character) prune to an EMPTY file set: the
    descriptor claimed full coverage in literal form, the postings
    referenced ``%20`` spellings no listing ever produced, and queries
    silently returned zero rows (r13 review probe).

    Decoding: ``url_decode`` is form-decoding, which also folds ``+``
    into a space — but ``+`` is a legal, UNENCODED path character in
    ``_metadata.file_path``, so a literal ``+`` is first re-protected
    as ``%2B`` (pre-existing ``%2B`` sequences already MEAN ``+``, so
    the rewrite is idempotent on them). All pure Column ops, JVM-side.

    Stored ``file`` columns (postings written by the builders) hold the
    DECODED literal form this function produces — normalize THOSE with
    :func:`normalize_path_col`; decoding twice would corrupt a literal
    ``%xx`` sequence in a file name (e.g. Spark's own partition-value
    escaping)."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    decoded = F.url_decode(F.regexp_replace(c, r"\+", "%2B"))
    return F.regexp_replace(decoded, r"^file:/(?=[^/])", "file:///")


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def _is_data_file(name: str) -> bool:
    # hidden-file filter, as the reference's PathFilters (HdfsUtils.java:78-102)
    return not (name.startswith(".") or name.startswith("_"))


def list_data_files(spark: SparkSession, path: str) -> List[FileStat]:
    """Recursively list visible data files under ``path`` (or the single
    file) with size + mtime — the staleness-check inputs (M2)."""
    fs, jpath, _ = _fs_and_path(spark, path)
    out: List[FileStat] = []

    def walk(status):
        if status.isDirectory():
            for child in fs.listStatus(status.getPath()):
                if _is_data_file(child.getPath().getName()):
                    walk(child)
        else:
            out.append(
                (
                    normalize_path(status.getPath().toString()),
                    int(status.getLen()),
                    int(status.getModificationTime()),
                )
            )

    walk(fs.getFileStatus(jpath))
    return sorted(out)


def exists(spark: SparkSession, path: str) -> bool:
    fs, jpath, _ = _fs_and_path(spark, path)
    return bool(fs.exists(jpath))


def delete(spark: SparkSession, path: str) -> None:
    fs, jpath, _ = _fs_and_path(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)


def staged_dir(final_dir: str) -> str:
    """The staged sibling of ``final_dir``, ``<final_dir>.staging``: the
    one name every rewrite (index builds and refreshes, table re-layout,
    sketch compaction) writes before :func:`publish_dir` swaps it in,
    and the one name :func:`recover_publish`, :func:`recover_pair` and
    :func:`require_published` look for."""
    return final_dir.rstrip("/") + ".staging"


def publish_dir(spark: SparkSession, tmp_dir: str, final_dir: str) -> None:
    """Write-then-publish: replace ``final_dir`` with the fully-written
    ``tmp_dir`` (delete + rename). Raises ``OSError`` when the rename
    reports failure — Hadoop ``FileSystem.rename`` returns False instead
    of raising (dest exists because the delete failed, tmp missing,
    cross-filesystem move), and an unchecked False would let a caller
    publish a descriptor over missing or stale data (r9 review finding).

    NOT atomic: generic Hadoop filesystems have no directory swap, so a
    crash between the delete and the rename leaves ``final_dir`` absent
    while ``tmp_dir`` is complete. That window never publishes WRONG
    data (the descriptor still describes the old state and reads fail
    loudly); call :func:`recover_publish` before reading ``final_dir``
    to complete an interrupted publish. Writers stage at
    :func:`staged_dir`, so any later build or refresh of the same
    index finds the crashed publish of either.

    SINGLE WRITER per ``final_dir``: two concurrent writers of the SAME
    dir share one staged path, so writer B's overwrite can gut the dir
    writer A is about to rename. Callers hold :class:`build_lease` (or
    :func:`writer_lease`) around the staged write and the publish.
    Concurrent writers of different dirs are fine."""
    fs, _, _ = _fs_and_path(spark, final_dir)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    if not fs.exists(jvm_path(tmp_dir)):
        raise OSError(f"publish_dir: staged dir {tmp_dir} does not exist")
    delete(spark, final_dir)
    if not fs.rename(jvm_path(tmp_dir), jvm_path(final_dir)):
        raise OSError(
            f"publish_dir: rename {tmp_dir} -> {final_dir} failed "
            "(FileSystem.rename returned false)"
        )


def staging_committed(spark: SparkSession, tmp_dir: str) -> bool:
    """Was the staged write COMMITTED? A staging dir can also be the
    leftover of a build killed MID-WRITE (a rebuild after an earlier
    crashed publish writes into the staging while the final dir is
    already absent): it then holds ``_temporary`` task scratch and a
    partial part-file set, and renaming it into place would serve
    silently incomplete data (r13 review — the recovery paths assumed
    "staging exists ⇒ staging complete"). The committer keeps
    ``_temporary`` under the write's output root until job commit, so
    its presence — at the staged root or in an immediate child (the
    ``batch_run=`` partition-subdir layout) — is a reliable
    uncommitted witness; an empty dir likewise. Cost: one listing of
    the staged root, recovery-path only."""
    fs, jpath, _ = _fs_and_path(spark, tmp_dir)
    entries = list(fs.listStatus(jpath))
    if not entries:
        return False
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    for st in entries:
        name = st.getPath().getName()
        if name == "_temporary":
            return False
        if st.isDirectory() and fs.exists(
            jvm_path(f"{tmp_dir.rstrip('/')}/{name}/_temporary")
        ):
            return False
    return True


def recover_publish(spark: SparkSession, tmp_dir: str, final_dir: str) -> bool:
    """Complete a :func:`publish_dir` interrupted between delete and
    rename: when ``final_dir`` is missing but the fully-written staging
    dir survives, finish the rename. Returns True iff a recovery
    happened. A leftover ``tmp_dir`` NEXT TO a live ``final_dir`` is a
    crashed run's stale staging output (the write preceded the publish)
    and is removed so the next staged write starts clean — as is an
    UNCOMMITTED staging next to a missing final (a write killed
    mid-flight; renaming it would serve partial data, see
    :func:`staging_committed`), which leaves the missing final to
    surface as the loud rebuild-needed error instead."""
    fs, _, _ = _fs_and_path(spark, final_dir)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    if not fs.exists(jvm_path(tmp_dir)):
        return False
    if fs.exists(jvm_path(final_dir)):
        delete(spark, tmp_dir)
        return False
    if not staging_committed(spark, tmp_dir):
        delete(spark, tmp_dir)
        return False
    if not fs.rename(jvm_path(tmp_dir), jvm_path(final_dir)):
        raise OSError(
            f"recover_publish: rename {tmp_dir} -> {final_dir} failed"
        )
    return True


def require_published(spark: SparkSession, final_dir: str) -> None:
    """Reader-side diagnosis for :func:`publish_dir`'s delete→rename
    window: when ``final_dir`` is missing but its :func:`staged_dir`
    survives, a publish is in flight or crashed there — the data is
    complete in the staged dir, and the raw parquet path-not-found a
    reader would otherwise hit says none of that. Raises
    ``FileNotFoundError`` naming the recovery; a missing dir with no
    staged sibling falls through to the reader's normal error.
    :func:`read_parquet` calls it only once its listing of the
    directory has failed, so a published index table pays nothing
    extra; direct callers pay one ``exists()`` metadata call."""
    if exists(spark, final_dir):
        return
    tmp_dir = staged_dir(final_dir)
    if not exists(spark, tmp_dir):
        return
    if staging_committed(spark, tmp_dir):
        raise FileNotFoundError(
            f"{final_dir} is missing but its staged sibling "
            f"{tmp_dir} exists: a build/refresh is publishing "
            "right now, or crashed between delete and rename. "
            "The staged data is complete — re-run the build (a "
            "refresh heals it only when it has files to index or "
            "drop), or call fsio.recover_publish(spark, "
            f"{tmp_dir!r}, {final_dir!r}) to finish the publish."
        )
    raise FileNotFoundError(
        f"{final_dir} is missing and its staged sibling "
        f"{tmp_dir} is INCOMPLETE (a rebuild was killed "
        "mid-write): there is no recoverable copy — re-run the "
        "build/refresh to rebuild the index."
    )


# --------------------------------------------------------------- parquet reads
#
# ``spark.read.parquet`` infers the schema with a Spark job. With
# ``mergeSchema`` off, that job reads one footer: the lexicographically
# smallest data file's (ParquetUtils.splitFiles sorts the listing by
# path). The inferred schema is therefore a function of that file and of
# the session confs that steer footer→schema conversion, and a schema
# remembered under the file's FileStat — the (path, size, mtime)
# identity catalog.fresh_files already trusts for index freshness — is
# the one Spark would infer again.

#: session confs read by Spark's parquet footer→schema conversion
_SCHEMA_CONFS = (
    "spark.sql.caseSensitive",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.variant.allowReadingShredded",
)
_MERGE_SCHEMA_CONF = "spark.sql.parquet.mergeSchema"
#: process-wide, least recently used out first. Sharing is safe: an
#: entry is a function of its key alone, so no caller can change what
#: another reads.
SCHEMA_CACHE_ENTRIES = 512
_SCHEMAS: "OrderedDict[tuple, object]" = OrderedDict()
_SCHEMAS_LOCK = threading.Lock()


def read_parquet(
    spark: SparkSession, *paths: str, stats: Optional[Sequence[FileStat]] = None
) -> DataFrame:
    """``spark.read.parquet(*paths)`` minus the schema-inference job
    when the schema of the same smallest data file was inferred before.

    Three call shapes:

    * ``read_parquet(spark, idx_dir)`` — one of the package's own
      published index tables, or a table the caller has not listed (the
      LSH gate's corpus). The directory is listed here
      (:func:`_first_data_file`); when the listing fails,
      :func:`require_published` names an in-flight or crashed publish
      before Spark raises its own path-not-found.
    * ``read_parquet(spark, table_path, stats=live)`` — a directory
      whose data files the caller has already listed.
    * ``read_parquet(spark, stats=files)`` — exactly the files in
      ``files`` (a pruned scan, a refresh delta).

    Plain inference runs on a miss, for zero files (raising Spark's
    own error) and under ``spark.sql.parquet.mergeSchema=true`` (every
    footer counts then). Only reads without partition columns are
    remembered; a hit on a partitioned directory still infers its
    partition columns from the layout, as Spark does. Outside the key:
    Parquet summary files (``_common_metadata``, written only when
    ``parquet.summary.metadata.level`` is set), a data file that also
    stores a column named like its partition directory (Spark's writer
    never does), and a file landing in a directory between the caller's
    listing and this read — the window a build's pre-listing already
    has."""
    if stats is None:
        (path,) = paths
        try:
            first = _first_data_file(spark, path)
        except Py4JError:  # missing or unlistable: diagnosed, else Spark's error
            require_published(spark, path)
            return spark.read.parquet(path)
        stats = [first] if first is not None else []
    elif not paths:
        paths = tuple(p for p, _, _ in stats)
    confs = tuple(spark.conf.get(k, None) for k in (_MERGE_SCHEMA_CONF, *_SCHEMA_CONFS))
    if not stats or str(confs[0]).lower() == "true":
        return spark.read.parquet(*paths)
    key = (min(stats), confs)
    with _SCHEMAS_LOCK:
        schema = _SCHEMAS.get(key)
        if schema is not None:
            _SCHEMAS.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    return _infer_and_remember(spark, paths, key)


def _first_data_file(spark: SparkSession, path: str) -> Optional[FileStat]:
    """FileStat of the smallest visible entry directly under ``path``
    when that entry is a file: the smallest data file of the tree, so
    the one whose footer Spark infers the schema from. None when there
    is no visible entry, or when it is a directory (a partitioned
    layout, which is never remembered). One listing plus two py4j calls
    per entry, where :func:`list_data_files` needs eight — the listing
    runs on every index-table read."""
    fs, jpath, jvm = _fs_and_path(spark, path)
    listed = fs.listStatus(jpath)
    entries = jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(listed)
    names = [entries[i].toString() for i in range(len(entries))]
    visible = [i for i, n in enumerate(names) if _is_data_file(posixpath.basename(n))]
    if not visible:
        return None
    i = min(visible, key=names.__getitem__)
    st = listed[i]
    if st.isDirectory():
        return None
    return normalize_path(names[i]), int(st.getLen()), int(st.getModificationTime())


def stats_of(stats: Sequence[FileStat], paths) -> List[FileStat]:
    """The entries of ``stats`` whose path is in ``paths``, in listing
    order — the ``stats=`` argument for a read of a listed subset."""
    wanted = set(paths)
    return [st for st in stats if st[0] in wanted]


def _infer_and_remember(spark: SparkSession, paths: Sequence[str], key: tuple) -> DataFrame:
    """The plain read; its schema is remembered under ``key`` when the
    relation has no partition columns."""
    df = spark.read.parquet(*paths)
    try:
        relation = df._jdf.queryExecution().analyzed().relation()
        if not relation.partitionSchema().isEmpty():
            return df
    except Py4JError:  # an unexpected plan shape is just not remembered
        return df
    with _SCHEMAS_LOCK:
        _SCHEMAS[key] = df.schema
        while len(_SCHEMAS) > SCHEMA_CACHE_ENTRIES:
            _SCHEMAS.popitem(last=False)
    return df


# ---------------------------------------------------------------- build lease
#
# publish_dir documents SINGLE WRITER per index dir; nothing enforced
# it (r13 verdict item 4): two simultaneous builds of one index share
# the staged path, so writer B's overwrite can gut the dir writer A is
# renaming — and for PAIRED indexes the two halves can end up written
# by different builders under different epochs. The lease is a
# create-EXCLUSIVE marker file next to the index data (Hadoop
# ``create(path, overwrite=false)`` raises if the file exists — the
# same primitive HDFS leases and Delta's S3 mutual-exclusion files
# build on; on a plain local FS the check-then-create window is not
# perfectly atomic, which narrows but does not void the protection).
# A crashed builder's lease is taken over after ``ttl_ms`` (staleness
# takeover), so no manual cleanup is ever needed. Reference analog:
# the per-file job's hasPreviousIndex overwrite-skip
# (core/indexing/AbstractBlockIndexingJob.java:176-312) — coarse
# mutual exclusion at the index level, not row locking.

BUILD_LEASE_NAME = "_build_lease"
DEFAULT_LEASE_TTL_MS = 30 * 60 * 1000


class BuildLeaseHeld(RuntimeError):
    """Another builder holds the index's build lease (and it is not
    stale). Loud-by-default: the caller chose to run two builds of the
    SAME index concurrently, which the publish contract forbids."""


def _lease_path(idx_dir: str) -> str:
    return idx_dir.rstrip("/") + "/" + BUILD_LEASE_NAME


def _try_create_exclusive(spark: SparkSession, path: str, payload: str) -> bool:
    """Create ``path`` with ``overwrite=false``; False if it exists."""
    fs, jpath, _ = _fs_and_path(spark, path)
    # parent must exist for create() on some stores
    fs.mkdirs(jpath.getParent())
    try:
        out = fs.create(jpath, False)
    except Exception:
        return False
    try:
        out.write(bytearray(payload.encode("utf-8")))
    finally:
        out.close()
    return True


def _delete_if_unchanged(
    spark: SparkSession,
    path: str,
    expected_text: Optional[str] = None,
    expected_mtime: Optional[int] = None,
) -> bool:
    """Guarded stale-takeover delete (r15 advisor): re-read immediately
    before deleting and only remove the marker if it is byte-identical
    (or, for torn markers, mtime-identical) to the stale state this
    contender decided on. A holder that released-and-recreated, or a
    rival takeover that already re-created, changed the marker and is
    left alone. Returns False (without deleting) on any change,
    vanish, or read failure — the caller's next create attempt decides."""
    try:
        if expected_text is not None and read_text(spark, path) != expected_text:
            return False
        if expected_mtime is not None:
            fs, jpath, _ = _fs_and_path(spark, path)
            if int(fs.getFileStatus(jpath).getModificationTime()) != int(
                expected_mtime
            ):
                return False
    except Exception:
        return False
    delete(spark, path)
    return True


def acquire_build_lease(
    spark: SparkSession,
    idx_dir: str,
    ttl_ms: int = DEFAULT_LEASE_TTL_MS,
) -> str:
    """Acquire the index's build lease; returns the owner token to pass
    to :func:`release_build_lease`. One stale-takeover retry: if the
    existing lease is older than its ttl, it belongs to a crashed
    builder and is removed. Two r15 guards shrink the takeover race:
    the delete only fires if the marker is unchanged since the
    staleness read (:func:`_delete_if_unchanged`), and every successful
    create is re-read to confirm this builder's owner token survived —
    a rival whose guarded delete interleaved our create is detected
    here and this acquire raises instead of double-granting. The
    residual window is the rival's re-read→delete gap (microseconds on
    a local FS, one round-trip on a remote store): two grants inside it
    share the staged dirs until the pre-publish renew fence
    (:func:`renew_build_lease`) stops all but the marker's current
    owner, so at most one ever PUBLISHES — but the survivor's staged
    output may have been interleaved and should be treated as suspect
    if the fence ever fires in practice. True atomicity needs a CAS
    primitive the local FS lacks."""
    import time as _time
    import uuid as _uuid

    owner = _uuid.uuid4().hex
    payload = json.dumps(
        {"owner": owner, "acquired_ms": int(_time.time() * 1000), "ttl_ms": int(ttl_ms)}
    )
    path = _lease_path(idx_dir)
    for attempt in (1, 2, 3):
        if _try_create_exclusive(spark, path, payload):
            # post-create confirmation (r15 advisor): our create can race
            # a rival's stale-takeover delete — re-read and verify the
            # marker still carries OUR owner token before claiming. The
            # read is retried (r16 advisor): a TRANSIENT read hiccup is
            # not evidence of a lost race, and raising on one would leave
            # our own marker orphaned on disk with no holder to release
            # it, wedging every builder for the full ttl.
            check = None
            for _ in range(3):
                try:
                    check = json.loads(read_text(spark, path))
                    break
                except Exception:
                    _time.sleep(0.05)
            if check is not None and check.get("owner") == owner:
                return owner
            if check is None:
                # persistent read failure: we may still own the marker we
                # just created — best-effort remove it (guarded on our own
                # payload bytes, so a rival's replacement is left alone)
                # before raising, so the failure costs one acquire, not a
                # ttl-long outage for every subsequent builder.
                _delete_if_unchanged(spark, path, expected_text=payload)
            raise BuildLeaseHeld(
                f"lost the lease takeover race for {idx_dir}: the marker "
                "this builder created was removed, replaced, or unreadable "
                "before it could be confirmed (a rival's stale-takeover "
                "delete interleaved the create, or the FS read failed "
                "persistently) — aborting without the lease."
            )
        try:
            raw = read_text(spark, path)
            held = json.loads(raw)
        except Exception:
            # Read failed. VANISHED (holder released between our failed
            # create and the read) → retry the create. Existing but
            # UNPARSABLE → the creator crashed between its
            # create-exclusive and its payload write (the one non-atomic
            # window in the claim protocol — the lease is claimed by raw
            # create, not write_text): fall back to the FILE's mtime for
            # staleness so the wedge self-heals after the ttl instead of
            # permanently requiring manual deletion (r14 review). A
            # healthy holder's marker is parsable, so this branch never
            # evicts one; within the ttl the torn marker is refused
            # loudly, same as a held lease.
            if not exists(spark, path):
                continue
            fs, jpath, _ = _fs_and_path(spark, path)
            try:
                mtime = int(fs.getFileStatus(jpath).getModificationTime())
            except Exception:
                continue  # vanished between exists() and stat → re-create
            age = int(_time.time() * 1000) - mtime
            if attempt < 3 and age > int(ttl_ms):
                # torn AND stale: takeover, guarded on the mtime we judged
                _delete_if_unchanged(spark, path, expected_mtime=mtime)
                continue
            raise BuildLeaseHeld(
                f"writer lease {path} exists but cannot be parsed (a "
                f"creator likely crashed mid-claim; age {age} ms). It "
                "becomes stale-takeable after the ttl; retry then, or "
                "delete it manually if its writer is known dead."
            )
        age = int(_time.time() * 1000) - int(held.get("acquired_ms", 0))
        if attempt < 3 and age > int(held.get("ttl_ms", ttl_ms)):
            # stale takeover, guarded on the exact bytes we judged stale;
            # loser of the post-delete re-create race raises above
            _delete_if_unchanged(spark, path, expected_text=raw)
            continue
        raise BuildLeaseHeld(
            f"index build already in flight for {idx_dir} (lease "
            f"{path} held by {held.get('owner', '?')}, age {age} ms). "
            "Wait for it, or delete the lease file if its builder is "
            "known dead."
        )
    raise BuildLeaseHeld(f"lost the lease re-create race for {idx_dir}")


# Same-process renew serialization: the heartbeat thread (see
# :class:`build_lease`) and the main thread's pre-publish fence both
# call renew_build_lease on the same marker; without a lock their
# read-modify-write could interleave into a torn marker that makes the
# fence false-abort. One lock per lease path closes the same-process
# case; cross-process torn writes remain the documented residual
# (self-healing via file-mtime staleness in acquire_build_lease).
_RENEW_LOCKS: Dict[str, object] = {}
# Eagerly initialised (r16 advisor): a lazy `if None: create` here is
# itself the unsynchronized read-modify-write this guard exists to
# prevent — two threads' FIRST-ever concurrent calls (precisely the
# heartbeat-vs-fence pair) could each mint a distinct guard, then each
# mint a distinct per-path lock, leaving the renews unserialized.
_RENEW_LOCKS_GUARD = threading.Lock()
# How long release_build_lease waits for the per-path renew lock before
# loudly deferring (r15 verdict nit 1): a heartbeat renew hung inside a
# slow FS call would otherwise block the release UNBOUNDEDLY. Deferring
# is safe by construction — the undeleted marker self-heals via ttl
# staleness takeover — so the bound only trades a ttl of lease
# availability for a diagnosable, non-wedging release path. 10 s is
# ≥2× any sane FS round-trip (local: µs; object store: ~100 ms).
RELEASE_LOCK_WAIT_S = 10.0


def _renew_lock(path: str):
    with _RENEW_LOCKS_GUARD:
        lock = _RENEW_LOCKS.get(path)
        if lock is None:
            lock = _RENEW_LOCKS[path] = threading.Lock()
        return lock


def _evict_renew_lock(path: str) -> None:
    """Drop the per-path lock entry once its lease marker is deleted
    (r16 advisor: _RENEW_LOCKS otherwise grows one entry per lease path
    per process lifetime — unbounded for services and bench loops that
    mint a fresh index root per rep). Only called AFTER the marker is
    gone: a renew that raced past eviction into a fresh lock object just
    reads the deleted marker and raises loudly — it never writes, so two
    lock objects can never interleave a torn re-stamp."""
    with _RENEW_LOCKS_GUARD:
        _RENEW_LOCKS.pop(path, None)


def renew_build_lease(
    spark: SparkSession,
    idx_dir: str,
    owner: str,
    lock_wait_s: Optional[float] = None,
) -> None:
    """Heartbeat + fencing, called by writers immediately BEFORE their
    publish (and periodically DURING long staged writes, from
    :class:`build_lease`'s heartbeat thread): re-stamps ``acquired_ms``
    so a build longer than the ttl keeps its lease, and — the
    load-bearing half — raises if the lease is no longer ours (a ttl
    takeover happened while this build ran).
    Aborting HERE means a zombie writer that outlived its ttl can never
    clobber the takeover writer's published output: the fence sits
    between the staged write and the destructive delete+rename.

    A lease that has ALREADY gone stale is refused even when the owner
    still matches (r14 review): re-stamping a stale lease races the
    takeover's delete+create — the zombie's rename could replace the
    new holder's marker undetectably. Refusing keeps the protocol
    one-sided: takeover only ever arms against stale leases, and renew
    only ever re-stamps fresh ones, so the two cannot interleave
    (modulo clock skew on the order of a read round-trip — the honest
    residual on filesystems without compare-and-swap).

    ``lock_wait_s`` bounds the wait for the per-path renew lock (r16
    sweep): the HEARTBEAT passes its beat interval so that one renew
    hung in a slow FS call cannot park every later beat behind it —
    a timed-out beat raises ``TimeoutError``, which the heartbeat
    records as transient and retries next interval. The pre-publish
    FENCE leaves it None (unbounded): the fence must never be skipped,
    and blocking there is safe — no publish happens without it."""
    import time as _time

    path = _lease_path(idx_dir)
    lock = _renew_lock(path)
    if lock_wait_s is None:
        lock.acquire()
    elif not lock.acquire(timeout=lock_wait_s):
        raise TimeoutError(
            f"renew of {idx_dir} timed out after {lock_wait_s:.1f}s waiting "
            "for the per-path renew lock (another renew is parked in a slow "
            "FS call) — skipping this beat; the next one retries."
        )
    try:
        try:
            held = json.loads(read_text(spark, path))
        except Exception:
            held = None
        if held is None or held.get("owner") != owner:
            raise BuildLeaseHeld(
                f"writer lease for {idx_dir} is no longer held by this "
                f"builder (now: {held.get('owner', 'absent') if held else 'absent'}) "
                "— the build outlived its ttl and was taken over; aborting "
                "BEFORE publish so the new writer's output is not clobbered."
            )
        now = int(_time.time() * 1000)
        if now - int(held.get("acquired_ms", 0)) > int(held.get("ttl_ms", 0)):
            raise BuildLeaseHeld(
                f"writer lease for {idx_dir} went STALE during this build "
                "(ttl exceeded without a heartbeat): a takeover may be in "
                "flight, so re-stamping would race it — aborting before "
                "publish. Renew more often than the ttl, or raise ttl_ms."
            )
        held["acquired_ms"] = now
        write_text(spark, path, json.dumps(held))
    finally:
        lock.release()


def release_build_lease(spark: SparkSession, idx_dir: str, owner: str) -> None:
    """Release iff still owned: after a ttl takeover the lease belongs
    to the new builder, and deleting it out from under them would
    re-open the double-build window this machinery closes. A released
    ``<dst>.lease`` sibling scope (see :func:`writer_lease`) is removed
    too when empty, so re-layout targets don't accrue empty marker dirs
    next to their data."""
    path = _lease_path(idx_dir)
    # under the renew lock (r15): build_lease.__exit__ stops and joins
    # the heartbeat before releasing, but with a bounded join a renew
    # hung in a slow FS call could still be in flight — unserialized,
    # its read-then-write could straddle this delete and RESURRECT the
    # marker with a fresh stamp, wedging the next builder for a full
    # ttl. The lock forces order: either the renew lands first (and its
    # re-stamp is deleted here), or the delete lands first (and the
    # renew's read fails loudly inside the heartbeat, which exits).
    # The wait is BOUNDED (r15 verdict nit 1): a renew hung inside a
    # slow FS call holds this lock, and an untimed acquire would block
    # the release behind it indefinitely. On timeout the release defers
    # loudly and returns — the marker self-heals via ttl staleness, so
    # safety (no double-grant, no clobber) is unaffected; only this
    # lease path's availability is traded for a diagnosable exit.
    lock = _renew_lock(path)
    if not lock.acquire(timeout=RELEASE_LOCK_WAIT_S):
        import warnings

        warnings.warn(
            f"release_build_lease({idx_dir}): the per-path renew lock was "
            f"still held after {RELEASE_LOCK_WAIT_S:.0f}s (a heartbeat "
            "renew is likely hung in a slow FS call) — DEFERRING the "
            "release; the lease marker will self-heal via ttl staleness "
            "takeover.",
            RuntimeWarning,
            stacklevel=2,
        )
        return
    try:
        # ownership read retried (r16 sweep, same class as the acquire
        # confirmation): one transient read hiccup here silently skipped
        # the delete of a marker WE own — every subsequent builder then
        # waited out the full ttl for no reason. Absent-after-retries is
        # genuine (already released / taken over+released): return.
        held = None
        for _ in range(3):
            try:
                held = json.loads(read_text(spark, path))
                break
            except Exception:
                try:
                    if not exists(spark, path):
                        return  # genuinely gone — nothing to release
                except Exception:
                    pass  # FS fully unreadable: fall through to retry
                import time as _time

                _time.sleep(0.05)
        if held is None or held.get("owner") != owner:
            return
        delete(spark, path)
    finally:
        lock.release()
    _evict_renew_lock(path)
    scope = idx_dir.rstrip("/")
    if scope.endswith(".lease"):
        fs, jscope, _ = _fs_and_path(spark, scope)
        try:
            if fs.exists(jscope) and not list(fs.listStatus(jscope)):
                fs.delete(jscope, False)
        except Exception:
            pass  # cleanup only — never fail a release over it


def writer_lease(spark: SparkSession, data_dir: str, ttl_ms: int = DEFAULT_LEASE_TTL_MS):
    """Lease scope for writers whose TARGET dir is itself replaced by
    the publish (the re-layout writers): a marker inside ``data_dir``
    would be deleted by the owner's own delete+rename, so it lives in a
    sibling dir (``<dst>.lease/``) that survives the publish. The
    sibling IS visible in a parent listing while a write is in flight
    (only its inner ``_build_lease`` file is underscore-hidden from
    recursive data listings); release removes the empty sibling."""
    return build_lease(spark, data_dir.rstrip("/") + ".lease", ttl_ms)


def renew_writer_lease(spark: SparkSession, data_dir: str, owner: str) -> None:
    """:func:`renew_build_lease` for a :func:`writer_lease` scope — ONE
    place derives the sibling path, so call sites can't drift from the
    acquire-side naming."""
    renew_build_lease(spark, data_dir.rstrip("/") + ".lease", owner)


class build_lease:
    """``with fsio.build_lease(spark, idx_dir):`` — scoped acquire/release.

    While the scope is open a daemon HEARTBEAT thread re-stamps the
    lease every ``ttl_ms / 3`` (r15 advisor / r14 verdict item 3):
    without it, any staged write longer than the ttl went stale
    mid-write and deterministically aborted at its own pre-publish
    fence — safe, but all the work wasted, and the 30-minute default
    ttl was not reachable from the builder/refresher signatures. The
    heartbeat keeps a healthy long write fresh indefinitely; a writer
    that LOSES the lease anyway (rival takeover after a pause longer
    than the ttl) sees its heartbeat stop at the first failed renew and
    still aborts at the fence — the fencing semantics are unchanged,
    only the healthy-but-slow failure mode is removed. Renewals from
    the heartbeat and the main-thread fence are serialized per lease
    path (:func:`_renew_lock`). ``heartbeat=False`` restores the
    renew-only-at-the-fence behavior (used by tests pinning the fence).
    Reference analog for long-job pacing:
    core/indexing/AbstractBlockIndexingJob.java:271-276."""

    def __init__(
        self,
        spark: SparkSession,
        idx_dir: str,
        ttl_ms: int = DEFAULT_LEASE_TTL_MS,
        heartbeat: bool = True,
    ):
        self._spark, self._idx_dir, self._ttl_ms = spark, idx_dir, ttl_ms
        self._owner = None
        self._heartbeat = heartbeat
        self._thread = None
        self._stop = None
        self.heartbeat_errors: list = []
        #: set each time the heartbeat records an error, so a caller can
        #: wait for a beat's outcome instead of sleeping past it
        self.heartbeat_error_recorded = threading.Event()

    def __enter__(self):
        self._owner = acquire_build_lease(self._spark, self._idx_dir, self._ttl_ms)
        if self._heartbeat:
            self._stop = threading.Event()
            interval = max(0.05, self._ttl_ms / 3000.0)

            def _beat():
                while not self._stop.wait(interval):
                    try:
                        # bounded lock wait (r16 sweep): one beat hung in
                        # a slow FS call must not park every later beat
                        # behind it — a TimeoutError lands in the
                        # transient branch below and the next beat retries
                        renew_build_lease(
                            self._spark, self._idx_dir, self._owner,
                            lock_wait_s=interval,
                        )
                    except BuildLeaseHeld as exc:
                        # definitive: the lease is no longer renewable
                        # (taken over, or stale past the refuse point).
                        # Stop beating; the main thread's pre-publish
                        # fence re-checks ownership and aborts loudly.
                        self.heartbeat_errors.append(exc)
                        self.heartbeat_error_recorded.set()
                        return
                    except BaseException as exc:  # noqa: BLE001 — transient FS/py4j hiccup
                        # a single failed beat must not doom a long
                        # write that still holds the lease — record it
                        # and keep beating (the next beat either renews
                        # or hits the definitive refusal above).
                        self.heartbeat_errors.append(exc)
                        self.heartbeat_error_recorded.set()

            self._thread = threading.Thread(
                target=_beat, daemon=True,
                name=f"ets-lease-heartbeat-{posixpath.basename(self._idx_dir.rstrip('/'))}",
            )
            self._thread.start()
        return self._owner

    def __exit__(self, *exc):
        if self._thread is not None:
            self._stop.set()
            self._thread.join(timeout=30.0)
            self._thread = None
        release_build_lease(self._spark, self._idx_dir, self._owner)
        return False


# ---------------------------------------------------------------- pair epochs
#
# Some indexes publish TWO data dirs that are only correct TOGETHER:
# IVF centroids + cluster-partitioned vectors (probing new centroids
# against old assignments silently skews ANN results), text postings +
# doclens (new postings with old BM25 norms). publish_dir is per-dir,
# so a crash between the two renames leaves both dirs PRESENT but
# mismatched — the one state require_published cannot see (r12 advisor,
# medium). Each staged dir is therefore stamped with a shared epoch
# token BEFORE its publish; the rename carries the marker atomically
# with the data, readers cross-check the live markers, and
# recover_pair can finish an interrupted pair publish because the
# surviving staged sibling carries the epoch that names its partner.
# Markers are `_`-prefixed files, invisible to parquet readers and
# partition discovery (same class as _SUCCESS). Indexes built before
# the marker existed have none on either dir — consistent by absence;
# EXACTLY ONE marker present can only arise from a crashed
# first-stamped publish and is treated as a mismatch.

PAIR_EPOCH_NAME = "_pair_epoch"


def _pair_epoch_path(dir_path: str) -> str:
    return dir_path.rstrip("/") + "/" + PAIR_EPOCH_NAME


def read_pair_epoch(spark: SparkSession, dir_path: str):
    """Epoch token of a published/staged dir, or None (pre-marker)."""
    p = _pair_epoch_path(dir_path)
    if not exists(spark, p):
        return None
    return read_text(spark, p).strip()


def stamp_pair_epoch(spark: SparkSession, dir_path: str, epoch: str) -> None:
    write_text(spark, _pair_epoch_path(dir_path), epoch)


def publish_pair(spark: SparkSession, pairs, epoch: str = None) -> str:
    """Stamp every staged dir with one shared epoch, then publish them
    back-to-back. ``pairs`` is a sequence of ``(staged_dir, final_dir)``.
    Returns the epoch. The window between the renames still exists —
    but a crash inside it is now DETECTED by ``require_pair_published``
    and HEALED by ``recover_pair`` instead of silently serving a
    mismatched pair until the next full rebuild."""
    if epoch is None:
        import uuid

        epoch = uuid.uuid4().hex
    for tmp_dir, _ in pairs:
        stamp_pair_epoch(spark, tmp_dir, epoch)
    for tmp_dir, final_dir in pairs:
        publish_dir(spark, tmp_dir, final_dir)
    return epoch


def fence_and_publish(spark: SparkSession, idx_dir: str, owner: str, final_dirs) -> None:
    """The last two steps of an index rewrite under :class:`build_lease`:
    the fence (:func:`renew_build_lease` — a writer whose lease was
    taken over aborts here, before the destructive publish), then the
    publish of each dir in ``final_dirs`` from its :func:`staged_dir`.
    Several dirs are published as a pair (:func:`publish_pair`); one
    keeps whatever pair epoch its staged dir carries."""
    renew_build_lease(spark, idx_dir, owner)
    if len(final_dirs) > 1:
        publish_pair(spark, [(staged_dir(d), d) for d in final_dirs])
    else:
        (final,) = final_dirs
        publish_dir(spark, staged_dir(final), final)


def pair_mismatch(spark: SparkSession, final_dirs) -> bool:
    """True when the live dirs' epoch markers disagree (or exactly one
    half carries a marker — the crashed-upgrade state)."""
    epochs = [read_pair_epoch(spark, d) for d in final_dirs if exists(spark, d)]
    present = [e for e in epochs if e is not None]
    if not present:
        return False
    return len(present) != len(epochs) or len(set(present)) > 1


def recover_pair(spark: SparkSession, final_dirs) -> bool:
    """Heal a pair publish interrupted between its renames. Steps:

    1. finish any half whose final dir is missing but its committed
       :func:`staged_dir` survives (the mid-rename crash
       ``recover_publish`` also heals);
    2. if the live epochs mismatch, publish the staged sibling whose
       epoch matches another live dir's epoch — the surviving half of
       the interrupted pair — until consistent (raises if no staged
       data can reach consistency: only a rebuild can);
    3. once consistent, delete leftover staged siblings (aborted
       pre-publish runs, same cleanup contract as ``recover_publish``).

    Returns True iff any rename was performed. NEVER deletes a staged
    dir while the pair is inconsistent — that staged dir may be the
    only copy of the missing half (the reason paired indexes must call
    this instead of per-dir ``recover_publish``). Each final dir has
    one staged sibling: the writer lease serializes the builds and
    refreshes of an index, and each overwrites the staging dir."""
    healed = False
    # 1: complete missing finals (committed stagings only — an
    # uncommitted one is a killed write, not an interrupted publish;
    # renaming it would serve partial data)
    for final in final_dirs:
        tmp = staged_dir(final)
        if exists(spark, final) or not exists(spark, tmp):
            continue
        if staging_committed(spark, tmp):
            publish_dir(spark, tmp, final)
            healed = True
        else:
            delete(spark, tmp)
    # 2: resolve an epoch mismatch via the surviving staged halves
    if pair_mismatch(spark, final_dirs):
        live = {d: read_pair_epoch(spark, d) for d in final_dirs}
        staged = {}
        for d in final_dirs:
            tmp = staged_dir(d)
            if exists(spark, tmp) and staging_committed(spark, tmp):
                staged[d] = read_pair_epoch(spark, tmp)
        # target epoch: reachable by every dir (live or staged carries
        # it), preferring one that requires publishing staged data (the
        # interrupted NEW generation)
        candidates = {e for e in (*live.values(), *staged.values()) if e is not None}
        target = None
        for t in sorted(candidates):
            ok = all(live[d] == t or staged.get(d) == t for d in final_dirs)
            if ok and (
                target is None
                or any(live[d] != t for d in final_dirs)  # needs a publish
            ):
                target = t
        if target is None:
            raise OSError(
                f"recover_pair: dirs {list(final_dirs)} have mismatched "
                "pair epochs and no staged sibling can complete the pair "
                "— rebuild the index"
            )
        for final in final_dirs:
            if live[final] != target:
                publish_dir(spark, staged_dir(final), final)
                healed = True
    # 3: consistent — clean aborted-run staging leftovers
    for final in final_dirs:
        delete(spark, staged_dir(final))
    return healed


def require_pair_published(spark: SparkSession, final_dirs) -> None:
    """Reader-side gate for paired indexes: every dir published (the
    ``require_published`` diagnosis) AND the pair epochs consistent.
    Raises instead of letting a query silently mix generations — e.g.
    BM25 over new postings with old doclens, or nprobe over new
    centroids with old cluster assignments."""
    for d in final_dirs:
        require_published(spark, d)
    if pair_mismatch(spark, final_dirs):
        raise RuntimeError(
            f"paired index dirs {list(final_dirs)} carry MISMATCHED pair "
            "epochs: a paired publish is in flight or crashed between its "
            "renames, and querying would mix index generations. Re-run "
            "the build/refresh, or call fsio.recover_pair(spark, "
            f"{list(final_dirs)!r}) to finish the interrupted publish."
        )


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write-then-rename, never in place: descriptors and markers are
    read by every later query, and an in-place create truncates the old
    content FIRST — a crash mid-write used to leave a torn JSON file
    that broke the index until manual deletion (r9 review finding).

    Crash guarantee: OLD, NEW, or ABSENT — never torn (r10 advice: the
    earlier docstring over-promised "old or new"). The rename is tried
    FIRST without deleting the destination: POSIX-backed filesystems
    (RawLocalFileSystem's ``File.renameTo``) replace atomically, so the
    absent window only exists on stores whose rename refuses an existing
    destination (HDFS) — there we fall back to delete-then-rename, and
    readers already treat an absent descriptor as staleness (full scan,
    never wrong)."""
    fs, jpath, _ = _fs_and_path(spark, path)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    tmp = jvm_path(path + "._tmp")
    if fs.exists(tmp):
        fs.delete(tmp, False)
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if fs.rename(tmp, jpath):
        return
    if fs.exists(jpath):
        fs.delete(jpath, False)
    if not fs.rename(tmp, jpath):
        raise OSError(f"write_text: rename {path}._tmp -> {path} failed")


def read_text(spark: SparkSession, path: str) -> str:
    fs, jpath, jvm = _fs_and_path(spark, path)
    stream = fs.open(jpath)
    try:
        # py4j does not copy Java-side writes back into a Python bytearray,
        # so readFully(buf) is a silent no-op — collect the bytes JVM-side.
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        return bytes(data).decode("utf-8")
    finally:
        stream.close()


def write_json(spark: SparkSession, path: str, obj: Dict) -> None:
    write_text(spark, path, json.dumps(obj, indent=1, sort_keys=True))


def read_json(spark: SparkSession, path: str) -> Dict:
    return json.loads(read_text(spark, path))
