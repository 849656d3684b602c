"""MapIndex — the stored map engine (the whole reference, Spark-first).

Reference semantics being reproduced (file:line into /root/reference/):

- materialize ``map(doc) -> [[key, value], ...]`` into a sorted
  persistent index (index.js:173-249);
- incrementally maintain it under overwrite / tombstone-delete via the
  per-doc "meta" reverse index (index.js:182-205, 232-242);
- read it back by exact key, prefix, or range, in key order
  (index.js:124-172);
- chain indexes so one index's output feeds another (index.js:250-253).

Spark design (SURVEY.md §7):

- **Storage** — Parquet *segments* ``(index_key, emit_pos, value,
  doc_key)`` partitioned by an ``epoch`` counter, written
  ``repartitionByRange('index_key')`` + ``sortWithinPartitions`` so
  every file covers a narrow key range: Parquet min/max row-group
  statistics + partition layout give LevelDB-seek-equivalent range
  pruning (parity with index.js:127-134) and the layout survives a
  1000-executor scale-out (each range partition is an independent
  file set; no global sort at read time).
- **Incremental maintenance** — LSM-style: an update appends one new
  segment epoch plus per-``doc_key`` *tombstones*; a reader
  anti-joins segments against the (small, broadcast) max-epoch
  tombstone map. This IS the reference's meta-index delete-then-insert
  (index.js:183-186), re-expressed so an update touches only
  O(changed docs) data instead of rewriting the index — the property
  that matters at 100 TB. ``compact()`` folds epochs back to one.
- **Emit identity** — deterministic ``(doc_key, emit_pos)`` replaces
  the reference's ``uuid()`` suffix (index.js:236), keeping multi-emit
  rows collision-free *and* testable.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import posixpath
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from level_mapreduce_spark.engine.mapper import (
    DOC_KEY,
    Mapper,
    pairs_type,
    struct_order_cmp,
)
from level_mapreduce_spark.engine.query import Query, _contains_map

_SEGMENTS = "segments"
_TOMBSTONES = "tombstones"
# staging area for intra-call scratch parquet (delete_range's doomed
# key set): a NON-data sibling of segments/tombstones whose "_" prefix
# Hadoop's default PathFilter also hides, so a reader listing the
# index root can never ingest scratch and Spark logs no ignored-path
# WARN about it. compact() janitor-sweeps crash orphans here — but
# only at lease depth 1 (a reentrant fold inside delete_range may
# still have live readers on it; ADVICE r11 high).
_SCRATCH = "_scratch"
# compact()'s commit journal, a sidecar beside segments/ (see
# MapIndex._recover_fold)
_FOLD_INTENT = "fold.json"

# LSM maintenance thresholds (100 TB guard rails): past either, update()
# folds epochs back to one — unbounded epoch/tombstone growth is the
# scale failure mode flagged in round 1 (small-file proliferation +
# tombstone map outgrowing broadcast).
AUTO_COMPACT_EPOCHS = 24
# Tombstone bytes past which read() stops broadcasting the anti-join
# side and lets AQE pick the strategy (sort-merge / shuffled-hash).
TOMBSTONE_BROADCAST_BYTES = 64 * 1024 * 1024
# Bytes-ratio (leveled) compaction trigger: when the delta epochs'
# total bytes exceed this fraction of the base epoch's bytes — with at
# least two delta epochs to merge — auto_compact pays a FULL fold.
# Epoch COUNT alone misses skewed-size sequences (a handful of
# base-sized deltas multiplies read bytes long before 24 epochs);
# triggering the full fold (not a minor one, which leaves total live
# bytes unchanged) re-absorbs the deltas so read amplification is
# bounded by (1 + ratio) x base while write amplification amortizes to
# (1 + ratio)/ratio per ingested byte, and the trigger stays quiet
# until another ratio's worth accumulates — no per-batch refold.
COMPACT_SIZE_RATIO = 0.5
# The ratio trigger only engages once the deltas are material: below
# this many delta bytes, read amplification is irrelevant at any
# ratio (a 1-row parquet file's fixed footer overhead would otherwise
# dwarf a tiny base and force gratuitous folds on small indexes).
COMPACT_SIZE_MIN_DELTA_BYTES = 64 * 1024 * 1024
# While a mutation runs, the lease holder stamps writer.hb every
# this-many seconds (heartbeat_unix; the lock file itself is never
# rewritten — see _lease_heartbeat_loop). break_lease() decisions
# then have evidence: a live-but-slow writer's heartbeat age stays
# ~this bound, a dead holder's grows without limit (see list_indexes
# lease_heartbeat_age_secs). Tests shrink it via monkeypatch.
LEASE_HEARTBEAT_SECS = 60.0
#: advisory liveness sidecar beside writer.lock (never load-bearing)
_HB_NAME = "writer.hb"


#: bounded retries for sidecar reads racing a rename-over rewrite.
#: ChecksumFileSystem swaps the data file and its .crc shadow in two
#: steps, so the torn window is microseconds wide — 6 attempts with
#: 20·n ms backoff (~0.42 s worst case) outlasts it by orders of
#: magnitude while still surfacing genuine at-rest corruption fast.
_SIDECAR_READ_RETRIES = 6

#: a sidecar staging file older than this is presumed orphaned by a
#: crashed writer and swept on the next put of the same sidecar.
#: Staging writes are tiny (KBs of JSON) so sub-second in practice;
#: ten minutes of margin means a sweep can never race a LIVE writer's
#: in-flight tmp (whose unique name it doesn't share anyway).
_SIDECAR_TMP_TTL_SECS = 600.0


def _is_torn_read_error(e: Exception) -> bool:
    """True iff a sidecar read failure has the caught-mid-rewrite
    signature: new data + stale .crc (ChecksumException), a
    half-visible file (EOF / FileNotFound between exists and open),
    or JSON truncated mid-swap. One classifier for every sidecar
    reader — product heartbeat polls and test polls hit the identical
    window, so the tolerance must live here, not per-caller."""
    if isinstance(e, json.JSONDecodeError):
        return True
    msg = str(e)
    return (
        "ChecksumException" in msg
        or "EOFException" in msg
        or "FileNotFoundException" in msg
        or "checksum error" in msg.lower()
    )


def _is_exists_error(e: Exception) -> bool:
    """True iff a store exception means 'the target already exists'
    (the lost-a-create-race signal). ONE classifier shared by both
    lease create paths — the marker list drifting between copies
    would make one path surface a raw store error where the other
    maps the same condition to ConcurrentWriterError."""
    msg = str(e)
    return (
        "FileAlreadyExists" in msg
        or "already exists" in msg.lower()
        or "file exists" in msg.lower()
    )


def _resolved_scheme(fs, hpath) -> str | None:
    """The effective store scheme for ``hpath``. A scheme-less path
    resolves through ``fs.defaultFS`` — on a cluster that is HDFS/S3,
    NOT the driver's local disk. Classifying it as POSIX from the raw
    URI would act on the driver's local filesystem while every other
    participant looks at the resolved remote store — so ask the
    RESOLVED FileSystem for its scheme instead (r10 lease lesson,
    shared by the conditional lock create and the sidecar writer)."""
    scheme = hpath.toUri().getScheme()
    if scheme is None:
        try:
            scheme = fs.getUri().getScheme()
        except Exception:  # noqa: BLE001 — conservative: treat unknown
            scheme = None
    return scheme


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def _list_epochs(spark: SparkSession, path: str) -> list[int]:
    """Epoch partition dirs under ``path`` (works on any Hadoop FS)."""
    fs, hpath, _ = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return []
    out = []
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        if name.startswith("epoch="):
            out.append(int(name.split("=", 1)[1]))
    return sorted(out)


def _delete_path(spark: SparkSession, path: str) -> None:
    fs, hpath, _ = _hadoop_fs(spark, path)
    if fs.exists(hpath):
        fs.delete(hpath, True)


def _path_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under ``path`` (metadata-only, no Spark job)."""
    fs, hpath, _ = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return 0
    return fs.getContentSummary(hpath).getLength()


def _hashable(col: str, dt: T.DataType):
    """xxhash64-safe view of a column: hashing a MapType (at any
    nesting depth) raises DATATYPE_MISMATCH.HASH_MAP_TYPE, so
    map-bearing columns are hashed through their JSON serialization."""
    if _contains_map(dt):
        return F.xxhash64(F.to_json(F.col(col)))
    return F.col(col)


class ConcurrentWriterError(RuntimeError):
    """A second writer tried to mutate an index whose writer lease is
    held. The data is untouched; retry after the holder finishes, or
    :meth:`MapIndex.break_lease` if the holder is known dead."""


def _writer(method):
    """Guard a mutating MapIndex method with the writer lease.

    Only the lease holder changes storage: segment and tombstone
    writes, the fold commit and its roll-forward
    (:meth:`MapIndex._recover_fold`) are correct only single-writer —
    two handles interleaving build/update/compact could interleave
    deletes and renames of the same epoch dirs. The lease turns that
    into a LOUD :class:`ConcurrentWriterError` on the second writer.
    Reentrant (update() -> auto compact()) via a depth counter."""

    @functools.wraps(method)
    def wrapper(self, *args, **kwargs):
        self._acquire_lease()
        try:
            return method(self, *args, **kwargs)
        finally:
            self._release_lease()

    return wrapper


class MapIndex:
    """One named stored-map index (reference ``Index``, index.js:112-122).

    Parameters
    ----------
    spark : SparkSession
    name : str
        Index namespace; storage lives at ``{store_path}/{name}/``
        (the reference namespaces LevelDB keys by name, index.js:118).
    mapper : Mapper
        The user map function (ExprMapper / PythonMapper /
        AsyncPythonMapper).
    store_path : str
        Base directory (local, HDFS, or object store).
    doc_key : str
        Column in the documents DataFrame holding the document id.
    """

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        mapper: Mapper,
        store_path: str,
        doc_key: str = DOC_KEY,
        auto_compact: bool = True,
        compact_epochs: int | None = None,
    ):
        self.spark = spark
        self.name = name
        self.mapper = mapper
        self.store_path = store_path
        self.doc_key = doc_key
        # compact_epochs: per-handle override of the segment-epoch-
        # count maintenance tier (default AUTO_COMPACT_EPOCHS).
        # Latency-sensitive SERVING families (semdedup) set a lower
        # tier: each live epoch adds a listing + per-read union tax
        # to every serve, and a server ingesting small churn batches
        # accumulates epochs far below the 64 MiB bytes-ratio floor —
        # the r15 measured curve grew ~20 ms/epoch unbounded. A minor
        # fold every N epochs caps serve cost at ~N x the floor while
        # keeping fold cost proportional to the deltas.
        self.compact_epochs = compact_epochs
        # auto_compact=True folds epochs inline when update() crosses the
        # thresholds — convenient at small scale. Large deployments pass
        # False and schedule compact() themselves off the hot path: an
        # inline compaction turns an O(changed-docs) micro-batch into an
        # O(index) rewrite, a multi-hour stall at 100 TB. Either way
        # ``compaction_due`` reports when a compact() would help.
        self.auto_compact = auto_compact
        self.compaction_due = False
        self._downstreams: list[MapIndex] = []
        # temp views registered via create_view(); re-registered after
        # every mutation so SQL through a view never reads a stale
        # file listing (see create_view)
        self._views: set[str] = set()
        # (tomb epoch signature) -> bytes, so repeated read()s don't
        # re-walk the tombstone dir (getContentSummary is a recursive
        # listing — expensive on object stores).
        self._tomb_bytes_cache: tuple[tuple[int, ...], int] | None = None
        # {epoch: bytes} for the segment dir — the bytes-ratio
        # compaction trigger's cache. Epoch dirs are immutable BETWEEN
        # folds, so update() only ever pays a walk of its own new
        # epoch; paths that rewrite or renumber epoch contents in
        # place (build() rebuild, the fold commit, drop) clear the
        # whole dict, and vanished epochs are pruned at read time.
        self._seg_bytes_by_epoch: dict[int, int] = {}
        # writer lease state (see _acquire_lease): per-HANDLE identity
        # + reentrancy depth for update() -> auto compact()
        self._writer_id = f"{os.getpid()}-{uuid.uuid4().hex[:12]}"
        self._lease_depth = 0
        self._lease_thread = None
        # heartbeat machinery: a daemon thread stamps writer.hb
        # while the outermost mutation runs (see _acquire_lease)
        self._lease_hb_stop: threading.Event | None = None
        self._lease_hb_thread: threading.Thread | None = None
        self._lease_lost = False

    # ---------------------------------------------------------------- paths

    @property
    def root(self) -> str:
        return posixpath.join(self.store_path, self.name)

    @property
    def segments_path(self) -> str:
        return posixpath.join(self.root, _SEGMENTS)

    @property
    def tombstones_path(self) -> str:
        return posixpath.join(self.root, _TOMBSTONES)

    # ------------------------------------------------------------- sidecar

    def put_sidecar(self, obj: dict, name: str = "meta.json") -> None:
        """Persist small index metadata (IVFPQ codebooks/centroids +
        residual flag, sketch kind, ...) as JSON under ``root`` — the
        piece that makes a stored index servable by a FRESH session
        without retraining (build job and serve job are different
        processes at scale). Goes through the Hadoop FS API so it works
        on HDFS/object stores, and create-then-rename so readers never
        see a torn file. Sidecars sit beside ``segments/`` and survive
        every :meth:`compact` fold untouched."""
        path = posixpath.join(self.root, name)
        fs, hpath, jvm = _hadoop_fs(self.spark, path)
        payload = json.dumps(obj).encode("utf-8")
        if _resolved_scheme(fs, hpath) == "file":
            # POSIX fast path: os.replace is a true atomic rename(2) —
            # readers see the old doc or the new doc, never a gap.
            # FileContext.rename(OVERWRITE) on the local checksum
            # stack is delete-then-rename (a real missing-file window,
            # observed by the r11 concurrent-rewrite stress test) and
            # moves the .crc shadow separately (a torn-checksum
            # window). Any crc shadow left by a PREVIOUS Hadoop-path
            # write is removed BEFORE the swap: data-without-crc reads
            # clean (ChecksumFileSystem skips verification), while
            # new-data-with-stale-crc would fail every read.
            local = hpath.toUri().getPath()
            os.makedirs(os.path.dirname(local), exist_ok=True)
            # sweep staging files orphaned by crashed writers (unique
            # tmp names mean nothing overwrites them); age-guarded so
            # a concurrent writer's in-flight tmp is never touched
            for cand in glob.glob(glob.escape(local) + ".tmp*"):
                try:
                    if time.time() - os.path.getmtime(cand) > (
                        _SIDECAR_TMP_TTL_SECS
                    ):
                        os.unlink(cand)
                except OSError:
                    pass
            crc = os.path.join(
                os.path.dirname(local), "." + os.path.basename(local) + ".crc"
            )
            try:
                os.unlink(crc)
            except FileNotFoundError:
                pass
            tmp_local = f"{local}.tmp.{uuid.uuid4().hex[:8]}"
            with open(tmp_local, "wb") as f:
                f.write(payload)
            os.replace(tmp_local, local)
            return
        # Remote stores: create-then-rename via FileContext with
        # Rename.OVERWRITE (throws on failure, unlike
        # FileSystem.rename's swallowed boolean). delete-then-rename
        # had a window where readers saw NO sidecar — and a crash
        # inside it lost the sidecar for good. get_sidecar's bounded
        # torn-read retry covers stores whose rename is still
        # multi-step. Unique tmp name: two concurrent writers (main
        # thread + a heartbeat tick) must not truncate each other's
        # staging file mid-write.
        try:  # same age-guarded orphan sweep as the POSIX path
            stale = fs.globStatus(
                jvm.org.apache.hadoop.fs.Path(path + ".tmp*")
            )
            now_ms = time.time() * 1000.0
            for st in stale or []:
                if now_ms - st.getModificationTime() > (
                    _SIDECAR_TMP_TTL_SECS * 1000.0
                ):
                    fs.delete(st.getPath(), False)
        except Exception:  # noqa: BLE001 — hygiene, never load-bearing
            pass
        tmp = jvm.org.apache.hadoop.fs.Path(
            f"{path}.tmp.{uuid.uuid4().hex[:8]}"
        )
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(payload))
        finally:
            out.close()
        gw = self.spark.sparkContext._gateway
        Rename = jvm.org.apache.hadoop.fs.Options.Rename
        opts = gw.new_array(Rename, 1)
        opts[0] = Rename.OVERWRITE
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            hpath.toUri(), self.spark._jsc.hadoopConfiguration()
        )
        fc.rename(tmp, hpath, opts)

    # ------------------------------------------------------- writer lease

    @property
    def _lease_hpath(self):
        return posixpath.join(self.root, "writer.lock")

    @property
    def _hb_path(self):
        """The heartbeat sidecar (single point of truth for its name:
        the stamper, the deleter, and the list_indexes reader all
        derive from here)."""
        return posixpath.join(self.root, _HB_NAME)

    def _acquire_lease(self) -> None:
        """Take the single-writer lease, or raise loudly.

        Primitive: a conditional create-if-absent where the store has
        one (:meth:`_create_lock_conditional` — POSIX ``O_EXCL`` on
        local paths, connector conditional-put asserted via
        ``spark.lmr.lease.conditionalCreate``; both truly atomic, so
        exactly one of N simultaneous acquirers wins). Elsewhere:
        ``FileSystem.create(path, overwrite=False)`` — atomic on HDFS
        but BEST-EFFORT on stores like S3A-without-conditional-put
        (existence checked at ``create()``, object materialized at
        ``close()``), where two near-simultaneous writers can BOTH
        pass ``create()``. To narrow that race the fallback reads the
        lock back after writing it and verifies its own ``writer_id``
        survived (last-writer-wins on a double-create means exactly
        one of the two sees its id; the other raises). That closes
        every race except both writers reading back inside the other's
        create-to-close window — on stores where that matters, enable
        the conditional flag (S3 If-None-Match, GCS generation-match)
        instead of relying on the read-back.

        The lock file records writer id, pid, and acquisition time so
        the loser's error says WHO holds it, and a heartbeat thread
        re-touches it every :data:`LEASE_HEARTBEAT_SECS` while the
        mutation runs (so ``list_indexes`` can report whether the
        holder is live). The lease is released (file deleted) when the
        outermost mutating call returns — including on exception: an
        aborted update leaves recoverable data (see update's
        write-order note) and no stale lock. A lock orphaned by a
        process crash must be cleared explicitly with
        :meth:`break_lease` after confirming the holder is dead (its
        heartbeat age grows without bound) — auto-expiry by wall
        clock is how two writers BOTH think they own a slow store."""
        me = threading.get_ident()
        if self._lease_depth > 0:
            # Reentrancy is only legal for the SAME thread (update ->
            # auto compact). A second thread on this handle is a
            # concurrent writer like any other — letting it ride the
            # depth counter would silently interleave mutations.
            if self._lease_thread != me:
                raise ConcurrentWriterError(
                    f"index '{self.name}' is being mutated by another "
                    f"thread of this process (handle lease held by "
                    f"thread {self._lease_thread})"
                )
            self._lease_depth += 1
            return
        fs, hpath, jvm = _hadoop_fs(self.spark, self._lease_hpath)
        fs.mkdirs(jvm.org.apache.hadoop.fs.Path(self.root))
        payload = json.dumps(
            {
                "writer_id": self._writer_id,
                "pid": os.getpid(),
                "acquired_unix": int(time.time()),
            }
        ).encode("utf-8")
        if not self._create_lock_conditional(fs, hpath, payload):
            # Fallback: best-effort create-if-absent + read-back verify
            # (see docstring for the residual window it cannot close).
            try:
                out = fs.create(hpath, False)
            except Exception as e:
                # Only "the lock already exists" means a concurrent
                # writer. Any other failure (bad credentials,
                # unreachable store, vanished parent) must surface as
                # itself — mapping it to ConcurrentWriterError sends
                # the operator to break_lease for an infrastructure
                # problem.
                if not _is_exists_error(e):
                    raise
                self._raise_lock_held()
            try:
                out.write(bytearray(payload))
                out.close()
            except Exception:
                # The lock file exists but this writer is about to
                # abort: clean it up so the failure does not orphan the
                # lease and block every future writer until a manual
                # break_lease.
                try:
                    out.close()
                except Exception:
                    pass
                fs.delete(hpath, False)
                raise
            # Read-back verify (the double-acquire detector for stores
            # whose create() is not atomic — see docstring). On a
            # double-create the lock holds ONE of the two writer ids;
            # the loser backs off WITHOUT deleting (the lock is the
            # winner's). Distinguish the three read-back outcomes
            # carefully (r9 review): a TRANSIENT read error must not
            # strand this writer's own freshly-created lock as an
            # orphan — retry, and if the store stays unreadable, delete
            # our create and surface the underlying error (we provably
            # cannot hold a lease we cannot read).
            try:
                lock = self._read_lock(raise_errors=True)
            except Exception:
                fs.delete(hpath, False)
                raise
            if lock is None or lock.get("writer_id") != self._writer_id:
                raise ConcurrentWriterError(
                    f"index '{self.name}': lease read-back found "
                    f"{'no lock' if lock is None else 'another writer ' + str(lock.get('writer_id'))} "
                    f"after this writer's create — a concurrent writer won a "
                    f"non-atomic create-if-absent race (or broke the lease); "
                    f"backing off without touching the surviving lock"
                )
        self._lease_thread = me
        self._lease_depth = 1
        self._lease_lost = False
        # Overwrite any stale writer.hb NOW (same handle = same
        # writer_id, so a residue from a PREVIOUS lease of this handle
        # would read as a matching-but-hours-old heartbeat and make
        # list_indexes report a live writer as dead for the first
        # LEASE_HEARTBEAT_SECS of the new lease). Best-effort — the
        # list_indexes reader also clamps hb to >= acquired_unix.
        try:
            self.put_sidecar(
                {
                    "writer_id": self._writer_id,
                    "heartbeat_unix": int(time.time()),
                },
                name=_HB_NAME,
            )
        except Exception:  # noqa: BLE001 — advisory file
            pass
        stop = threading.Event()
        hb = threading.Thread(
            target=self._lease_heartbeat_loop,
            args=(stop, float(LEASE_HEARTBEAT_SECS)),
            daemon=True,
            name=f"lmr-lease-hb-{self.name}",
        )
        self._lease_hb_stop = stop
        self._lease_hb_thread = hb
        hb.start()

    def _raise_lock_held(self) -> None:
        """Raise the standard 'another writer holds the lease' error,
        naming the holder when the lock payload is readable."""
        holder = None
        try:
            holder = self.get_sidecar(name="writer.lock")
        except Exception:
            pass
        raise ConcurrentWriterError(
            f"index '{self.name}' is being mutated by another "
            f"writer (lock {self._lease_hpath}"
            + (f", holder {holder}" if holder else "")
            + "); retry after it finishes, or break_lease() if the "
            "holder is dead"
        ) from None

    def _create_lock_conditional(self, fs, hpath, payload: bytes) -> bool:
        """Create writer.lock with a TRULY ATOMIC create-if-absent
        where the store provides one; return False when it does not
        (caller falls back to best-effort create + read-back verify).

        Two conditional realizations:

        - ``file://`` (and scheme-less local paths): POSIX
          ``open(O_CREAT|O_EXCL)`` — atomic on every local/NFSv4
          filesystem, unlike Hadoop's RawLocalFileSystem
          check-then-create. Exactly one of N simultaneous acquirers
          wins (fault-injection tested with a thread barrier race).
        - Stores whose connector implements conditional create under
          ``create(path, overwrite=false)`` (S3 If-None-Match, GCS
          if-generation-match 0): the deployer asserts it with
          ``spark.lmr.lease.conditionalCreate=true`` and the same
          call becomes contractually atomic, so the read-back verify
          and its residual create-to-close window are skipped. The
          flag is opt-in because the FileSystem API offers no
          portable way to DETECT conditional semantics — claiming
          atomicity on a store that lacks it would readmit the
          double-writer silently.

        Raises :class:`ConcurrentWriterError` when the lock already
        exists on either conditional path."""
        uri = hpath.toUri()
        scheme = _resolved_scheme(fs, hpath)
        if scheme == "file":
            local = uri.getPath()
            try:
                fd = os.open(
                    local, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644
                )
            except FileExistsError:
                self._raise_lock_held()
            try:
                os.write(fd, payload)
            except Exception:
                os.close(fd)
                os.unlink(local)
                raise
            os.close(fd)
            return True
        try:
            asserted = (
                str(
                    self.spark.conf.get(
                        "spark.lmr.lease.conditionalCreate", "false"
                    )
                ).lower()
                == "true"
            )
        except Exception:
            asserted = False
        if not asserted:
            return False
        try:
            out = fs.create(hpath, False)
        except Exception as e:
            if not _is_exists_error(e):
                raise
            self._raise_lock_held()
        try:
            out.write(bytearray(payload))
            out.close()
        except Exception as e:
            # A conditional store CHECKS at close(): a close-time
            # precondition failure (S3 If-None-Match 412, GCS
            # generation mismatch) is the normal lost-race signal, and
            # the object that now exists is the WINNER's lock — a blind
            # delete here would destroy a live writer's lease and
            # readmit the exact double-writer this path exists to
            # close. Delete only what is provably ours; a lost race
            # maps to ConcurrentWriterError like every other path.
            try:
                out.close()
            except Exception:
                pass
            # Retrying read (raise_errors=True) matters here the same
            # way it does on the fallback path (r9 review): a
            # TRANSIENT read failure after a post-commit close error
            # would otherwise strand this writer's own committed lock
            # as an orphan. Unlike the fallback path we must NOT
            # delete on an undecidable read — on a conditional store
            # the surviving object may be the race WINNER's lock.
            try:
                cur = self._read_lock(raise_errors=True)
            except Exception:
                cur = None
                read_ok = False
            else:
                read_ok = True
            if cur is not None and cur.get("writer_id") == self._writer_id:
                # our own object did materialize (failure was after
                # commit, e.g. a wrapped close raising post-flush):
                # clean it up so the abort does not orphan the lease.
                # If the cleanup itself fails, say so with the same
                # break_lease guidance as the unreadable-lock path —
                # otherwise the orphan blocks every future writer with
                # an error naming a writer that never ran.
                try:
                    fs.delete(hpath, False)
                except Exception:
                    raise RuntimeError(
                        f"index '{self.name}': conditional lease "
                        f"create failed at close, this writer's lock "
                        f"{self._lease_hpath} DID commit, and the "
                        f"cleanup delete failed — clear it with "
                        f"break_lease() once the store recovers."
                    ) from e
                raise
            lost_race = (
                cur is not None
                or _is_exists_error(e)
                or any(
                    s in str(e).lower()
                    for s in ("precondition", "generation", "412")
                )
            )
            if lost_race:
                self._raise_lock_held()
            if not read_ok:
                raise RuntimeError(
                    f"index '{self.name}': conditional lease create "
                    f"failed at close AND the lock is unreadable — "
                    f"cannot tell whether this writer's lock "
                    f"committed. If {self._lease_hpath} holds writer "
                    f"{self._writer_id}, clear it with break_lease() "
                    f"once the store recovers."
                ) from e
            raise
        return True

    def _read_lock(self, raise_errors: bool = False) -> dict | None:
        """Current writer.lock payload, or None for a MISSING lock.
        With ``raise_errors=False`` a read failure also maps to None
        ('not provably ours' — fine for release/heartbeat decisions);
        acquire passes True so a transient store error retries and
        then SURFACES instead of masquerading as a lost race."""
        last = None
        for _ in range(3 if raise_errors else 1):
            try:
                return self.get_sidecar(name="writer.lock")
            except Exception as e:  # noqa: BLE001 — policy per flag
                last = e
                time.sleep(0.1)
        if raise_errors and last is not None:
            raise last
        return None

    def _lease_heartbeat_loop(
        self, stop: threading.Event, interval: float
    ) -> None:
        """Stamp ``writer.hb`` (writer_id + heartbeat_unix) every
        ``interval`` seconds while the mutation runs. If the lock has
        vanished or records another writer — i.e. an operator broke a
        LIVE lease and someone re-acquired — stop stamping and flag
        the theft so release raises instead of deleting the new
        holder's lock.

        The heartbeat deliberately does NOT rewrite ``writer.lock``
        itself (r10 review): the lock is the mutual-exclusion token,
        and rewriting it is only atomic where rename-overwrite is
        (local FS) — on object stores a rename is copy+delete, so a
        reader (or an O_EXCL / conditional-create acquirer!) landing
        inside the swap could see NO lock and win a second lease
        under a live writer. With the liveness signal in a separate
        file, the token is immutable for the lease's lifetime: there
        is no window in which it vanishes, and the old residual race
        (a descheduled tick's rename overwriting a successor's lock
        after a break_lease) is gone — a stale tick can at worst
        write a ``writer.hb`` naming the OLD writer id, which readers
        ignore because it no longer matches the lock."""
        while not stop.wait(interval):
            try:
                # raise_errors=True: a TRANSIENT lock-read failure must
                # skip this tick (the except below), not masquerade as
                # None and declare the lease stolen — one S3 throttle
                # would otherwise kill the heartbeat for the rest of a
                # long mutation AND make release raise a spurious
                # ConcurrentWriterError on a clean commit. Only a
                # CLEAN read of a missing/foreign lock is theft.
                lock = self._read_lock(raise_errors=True)
                if lock is None or lock.get("writer_id") != self._writer_id:
                    # Flag theft only when this tick still belongs to
                    # the handle's CURRENT lease (identity check, not
                    # is_set(): release sets the event before its join
                    # but nulls _lease_hb_stop only after, so a timely
                    # tick observing a genuine mid-mutation theft
                    # during the join window still flags it and
                    # release — which captures the flag after the
                    # join — still reports it; a zombie from lease N
                    # unblocking during lease N+1 sees a different or
                    # None _lease_hb_stop and stays silent instead of
                    # poisoning the new lease's clean release).
                    if stop is self._lease_hb_stop:
                        self._lease_lost = True
                    return
                self.put_sidecar(
                    {
                        "writer_id": self._writer_id,
                        "heartbeat_unix": int(time.time()),
                    },
                    name=_HB_NAME,
                )
            except Exception:  # noqa: BLE001 — best-effort; next tick retries
                pass

    def _release_lease(self) -> None:
        if self._lease_depth > 1:
            self._lease_depth -= 1
            return
        self._lease_depth = 0
        self._lease_thread = None
        # Stop the heartbeat before touching the lock. Since the
        # heartbeat stamps the SEPARATE writer.hb (never the lock —
        # see _lease_heartbeat_loop), a tick that outlives this
        # release can no longer resurrect the lock file; the worst
        # late-tick residue is a stale writer.hb naming this (now
        # released) writer id, which readers ignore once the lock is
        # gone or re-owned. A hung tick therefore no longer blocks
        # release (pre-r10 this raised and refused).
        if self._lease_hb_stop is not None:
            self._lease_hb_stop.set()
            hb = self._lease_hb_thread
            if hb is not None:
                hb.join(timeout=60)
                if hb.is_alive():
                    # can no longer resurrect the lock (it only writes
                    # writer.hb), but a store call hung >60 s deserves
                    # a diagnosable trace rather than silence
                    import warnings

                    warnings.warn(
                        f"lease heartbeat thread for '{self.name}' "
                        f"still alive after 60 s join at release — a "
                        f"store call is hung; a late tick may leave a "
                        f"harmless stale {_HB_NAME}",
                        RuntimeWarning,
                        stacklevel=2,
                    )
            self._lease_hb_stop = None
            self._lease_hb_thread = None
        fs, hpath, _ = _hadoop_fs(self.spark, self._lease_hpath)
        # Delete ONLY a lock this handle still owns: after an operator
        # break_lease()s a slow-but-live writer and a second writer
        # acquires, an unconditional delete here would remove the
        # SECOND writer's lock and silently readmit a third. A missing
        # lock (drop() removed the root, or the lease was broken with
        # no successor yet) releases cleanly but still raises when the
        # heartbeat observed the theft — the caller must learn its
        # mutation may have interleaved with the usurper's.
        stolen = self._lease_lost
        self._lease_lost = False
        # raise_errors=True: if the store errors on every read here
        # (e.g. persistent throttling that ALSO kept the heartbeat
        # from ever observing a theft), a single-attempt error->None
        # mapping would classify a possibly-FOREIGN lock as
        # "unreadable/torn" and delete it — removing a usurper's live
        # lease and readmitting the double-writer. Ownership must be
        # PROVEN before the delete; an unprovable read refuses with
        # guidance instead.
        try:
            lock = self._read_lock(raise_errors=True)
        except Exception as e:
            # a refused release must not CONSUME an observed theft —
            # and because a later successful re-acquire resets
            # _lease_lost, the restored flag alone can be wiped before
            # anyone reads it (r10 advisor). The theft fact therefore
            # travels IN THIS MESSAGE, the one artifact the caller is
            # guaranteed to see.
            self._lease_lost = stolen
            theft_note = (
                " NOTE: the heartbeat ALREADY observed this lease "
                "stolen mid-mutation — verify the index for "
                "interleaved writes regardless of the lock's owner."
                if stolen
                else ""
            )
            raise IOError(
                f"index '{self.name}': cannot read {self._lease_hpath} "
                f"to verify ownership at release — NOT deleting (it "
                f"may be a successor's lock after a break_lease). If "
                f"it records writer {self._writer_id}, clear it with "
                f"break_lease() once the store recovers.{theft_note}"
            ) from e
        if lock is not None and lock.get("writer_id") != self._writer_id:
            raise ConcurrentWriterError(
                f"index '{self.name}': writer.lock now records writer "
                f"{lock.get('writer_id')} — this handle's lease was broken "
                f"and re-acquired while its mutation ran; NOT deleting the "
                f"new holder's lock. This mutation may have interleaved "
                f"with theirs — verify the index (break_lease on a live "
                f"holder is exactly this hazard)."
            )
        # lock is ours (id matched) or cleanly missing (drop() removed
        # the root, or the lease was broken with no successor yet):
        # delete. Hadoop delete returns false instead of throwing; a
        # silently undeleted lock would block every future writer
        # (same swallowed-boolean class as the sidecar rename). A
        # false return for an already-gone file is fine — only
        # "returned false AND still there" is an error.
        if not fs.delete(hpath, False) and fs.exists(hpath):
            # keep the flag for a retry AND say it in the message —
            # a later re-acquire would silently reset the flag
            self._lease_lost = stolen
            raise IOError(
                f"failed to release writer lease {self._lease_hpath}; "
                "subsequent writers will be blocked until break_lease()"
                + (
                    ". NOTE: the heartbeat ALREADY observed this lease "
                    "stolen mid-mutation — verify the index for "
                    "interleaved writes."
                    if stolen
                    else ""
                )
            )
        self._delete_hb_file(fs)
        if stolen:
            raise ConcurrentWriterError(
                f"index '{self.name}': this handle's lease was broken "
                f"while its mutation ran (heartbeat found the lock gone "
                f"or re-owned); the mutation may have interleaved with "
                f"another writer — verify the index."
            )

    def _delete_hb_file(self, fs) -> None:
        """Best-effort removal of the heartbeat sidecar — liveness
        metadata only, never load-bearing (readers require its
        writer_id to match the lock's), so failures are ignored. The
        caller's ``fs`` already points at the store; only a Path is
        built here (no second FileSystem resolution)."""
        try:
            jvm = self.spark.sparkContext._jvm
            fs.delete(jvm.org.apache.hadoop.fs.Path(self._hb_path), False)
        except Exception:  # noqa: BLE001 — advisory file
            pass

    def _lease_liveness(self) -> tuple[dict | None, int | None, int | None]:
        """(lock_doc, lease_age_secs, heartbeat_age_secs) for the
        current writer.lock — the evidence a break_lease decision
        reads. ONE implementation shared by the catalog
        (:func:`list_indexes`) and :meth:`break_lease`'s guard so the
        staleness rules can't drift: an hb whose writer_id does not
        match the lock is a previous holder's residue (ignored,
        falling back to the acquisition stamp), and an hb predating
        the acquisition is clamped to it (same-handle prior-lease
        residue). Returns (None, None, None) when no lock exists."""
        lock = self.get_sidecar(name="writer.lock")
        if lock is None:
            return None, None, None
        now = int(time.time())
        acq = lock.get("acquired_unix")
        hb = acq
        try:
            hb_doc = self.get_sidecar(name=_HB_NAME) or {}
            if hb_doc.get("writer_id") == lock.get("writer_id"):
                hb = hb_doc.get("heartbeat_unix", acq)
                if hb is not None and acq is not None:
                    hb = max(int(hb), int(acq))
        except Exception:  # noqa: BLE001 — advisory file
            pass
        lease_age = (now - int(acq)) if acq is not None else None
        hb_age = (now - int(hb)) if hb is not None else None
        return lock, lease_age, hb_age

    def break_lease(self, min_dead_secs: float | None = None) -> bool:
        """Force-clear an orphaned writer lock (holder crashed between
        acquire and release). Returns True if a lock was removed. Only
        safe after confirming the holding process is dead — breaking a
        LIVE holder's lease reintroduces exactly the concurrent-swap
        corruption the lease exists to prevent.

        ``min_dead_secs`` is the fat-finger guard (VERDICT r10 #6):
        when set, the break REFUSES (ConcurrentWriterError) unless the
        holder's heartbeat age — the same evidence ``list_indexes``
        reports — is at least that many seconds, i.e. the holder has
        missed enough ticks to be presumed dead. A live writer stamps
        every LEASE_HEARTBEAT_SECS, so ``min_dead_secs=3 *
        LEASE_HEARTBEAT_SECS`` tolerates two dropped stamps before
        allowing the break. An UNREADABLE heartbeat age refuses too:
        liveness that cannot be proven dead must not be broken under a
        guard whose whole point is that proof (pass ``None`` for the
        unconditional operator override)."""
        if min_dead_secs is not None:
            try:
                lock, _lease_age, hb_age = self._lease_liveness()
            except Exception as e:
                # a persistently unreadable lock is the same refusal as
                # an unreadable heartbeat: the guard exists to PROVE
                # death, and proof is unavailable — surface the
                # documented ConcurrentWriterError, not a raw IO error
                raise ConcurrentWriterError(
                    f"index '{self.name}': break_lease(min_dead_secs="
                    f"{min_dead_secs}) refused — writer.lock could not "
                    f"be read ({type(e).__name__}: {e}), so the holder "
                    f"cannot be proven dead. Retry, or call "
                    f"break_lease() with no guard ONLY after confirming "
                    f"the holder process is gone."
                ) from e
            if lock is not None:
                if hb_age is None:
                    raise ConcurrentWriterError(
                        f"index '{self.name}': break_lease(min_dead_secs="
                        f"{min_dead_secs}) refused — writer.lock exists "
                        f"but its liveness stamps are unreadable, so the "
                        f"holder cannot be proven dead. Retry, or call "
                        f"break_lease() with no guard ONLY after "
                        f"confirming the holder process is gone."
                    )
                if hb_age < min_dead_secs:
                    raise ConcurrentWriterError(
                        f"index '{self.name}': break_lease(min_dead_secs="
                        f"{min_dead_secs}) refused — the holder's "
                        f"heartbeat is only {hb_age}s old (writer "
                        f"{lock.get('writer_id')!r} looks ALIVE; it "
                        f"stamps every ~{LEASE_HEARTBEAT_SECS:.0f}s). "
                        f"Breaking a live lease readmits concurrent "
                        f"writers; wait for the heartbeat to go stale "
                        f"or stop the holder first."
                    )
        fs, hpath, _ = _hadoop_fs(self.spark, self._lease_hpath)
        removed = bool(fs.delete(hpath, False))
        self._delete_hb_file(fs)
        return removed

    def get_sidecar(self, name: str = "meta.json") -> dict | None:
        """Read a :meth:`put_sidecar` JSON blob back; ``None`` if the
        index has none (driver-side metadata read, no Spark job).

        Concurrent-rewrite safe: :meth:`put_sidecar` replaces the data
        file atomically (FileContext rename-over), but on Hadoop's
        ChecksumFileSystem the ``.crc`` shadow file moves in a SEPARATE
        step, so a reader racing a rewrite (the every-tick ``writer.hb``
        heartbeat is rewritten constantly) can observe a torn window:
        new data + old crc → ChecksumException, or a half-swapped /
        truncated view → EOF / JSON parse error. All of these mean
        "caught mid-swap", never "corrupt at rest", so the read retries
        a bounded number of times before surfacing the error — covering
        every caller (product and tests) at the product layer."""
        path = posixpath.join(self.root, name)
        fs, hpath, jvm = _hadoop_fs(self.spark, path)
        last_err: Exception | None = None
        for attempt in range(_SIDECAR_READ_RETRIES):
            # Re-check existence inside the loop: a concurrent
            # break_lease/release may delete the sidecar between
            # attempts — that is "no sidecar", not an error.
            if not fs.exists(hpath):
                return None
            try:
                # read via hadoop-common classes only (o.a.h.io.IOUtils
                # ships with the FS API itself) — commons-io IOUtils is
                # not a guaranteed classpath member on trimmed distros
                # (r7 advisor finding). py4j hands the byte[] back as
                # Python bytes.
                stream = fs.open(hpath)
                bos = jvm.java.io.ByteArrayOutputStream()
                jvm.org.apache.hadoop.io.IOUtils.copyBytes(
                    stream, bos, 4096, True
                )
                return json.loads(bytes(bos.toByteArray()).decode("utf-8"))
            except Exception as e:  # noqa: BLE001 — classified below
                if not _is_torn_read_error(e):
                    raise
                last_err = e
                if attempt < _SIDECAR_READ_RETRIES - 1:
                    time.sleep(0.02 * (attempt + 1))
        raise IOError(
            f"sidecar {path!r} unreadable after "
            f"{_SIDECAR_READ_RETRIES} attempts (persistent torn-read "
            f"signature — possible at-rest corruption): {last_err}"
        )

    # ------------------------------------------------------------- schemas

    @property
    def _storage_schema(self) -> T.StructType:
        if self.mapper is None:
            raise ValueError(
                f"MapIndex {self.name!r} is a sidecar-only probe "
                "(mapper=None): it can read sidecars but cannot "
                "build/update/read data — reopen it through the "
                "family loader to get a working handle"
            )
        return T.StructType(
            [
                T.StructField("index_key", T.StringType(), False),
                T.StructField("emit_pos", T.IntegerType(), False),
                T.StructField("value", self.mapper.value_type, True),
                T.StructField(DOC_KEY, T.StringType(), False),
                T.StructField("epoch", T.IntegerType(), False),
            ]
        )

    @property
    def _tombstone_schema(self) -> T.StructType:
        return T.StructType(
            [
                T.StructField(DOC_KEY, T.StringType(), False),
                T.StructField("epoch", T.IntegerType(), False),
            ]
        )

    # ------------------------------------------------------ change handling

    def _normalize_changes(
        self, docs: DataFrame, assume_unique: bool = False
    ) -> DataFrame:
        """Uniform change rows: payload + doc_key(str) + deleted(bool).

        If a ``seq`` column is present, the latest version per doc_key
        wins — the batch equivalent of the reference's serialized
        write order (level-mutex, index.js:114). Without ``seq`` a
        batch may still contain the same doc_key twice; the reference
        serializes writes so last-wins, but an unordered batch has no
        "last" — we reduce to exactly one row per doc_key with a
        deterministic tie-break (row-content hash) so a re-run always
        materializes the same index.

        ``assume_unique=True`` skips the per-key window entirely —
        callers whose input is one-row-per-doc by construction (the
        chained-index feed; a primary-keyed source table) avoid a
        full shuffle on the write path, which matters at 100 TB.
        """
        out = docs.withColumn(DOC_KEY, F.col(self.doc_key).cast("string"))
        if "deleted" not in out.columns:
            out = out.withColumn("deleted", F.lit(False))
        else:
            out = out.withColumn(
                "deleted", F.coalesce(F.col("deleted").cast("boolean"), F.lit(False))
            )
        if assume_unique:
            return out
        if "seq" in out.columns:
            order = [F.col("seq").desc()]
        else:
            order = [F.xxhash64(*[_hashable(c, out.schema[c].dataType) for c in out.columns]).desc()]
        w = Window.partitionBy(DOC_KEY).orderBy(*order)
        return (
            out.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    def _emits(self, live_docs: DataFrame) -> DataFrame:
        """(index_key, emit_pos, value, doc_key) — the UDTF explode.

        ``posexplode_outer`` + null-key filter is the multi-emit
        flatten (reference index.js:233-240); docs mapping to zero
        pairs vanish (empty array -> one null row -> filtered), which
        is exactly the reference's "empty emit un-indexes the doc"
        behavior (index.js:218-230).

        The OUTER variant is deliberate and load-bearing: for a plain
        ``posexplode``, ``InferFiltersFromGenerate`` inserts a
        ``size(pairs) > 0`` filter under the Generate, and predicate
        pushdown then substitutes the FULL mapper expression into that
        filter and pushes it below any staging projections and
        repartition — re-evaluating an expensive map fn once more per
        row, inlined (no staging), in the upstream stage's (possibly
        single-task) parallelism. No filter is inferable for an outer
        explode, so the mapper expression stays exactly where the
        staged plan put it.
        """
        self._storage_schema  # typed refusal for sidecar-only probes
        pairs = self.mapper.pairs(live_docs, doc_key=DOC_KEY)
        return (
            pairs.select(
                DOC_KEY, F.posexplode_outer("pairs").alias("emit_pos", "pair")
            )
            .select(
                F.col("pair.index_key").alias("index_key"),
                F.col("emit_pos").cast("int").alias("emit_pos"),
                F.col("pair.value").alias("value"),
                DOC_KEY,
            )
            .where(F.col("index_key").isNotNull())
        )

    def _write_segment(self, emits: DataFrame, epoch: int, mode: str) -> None:
        # repartitionByRange runs a RangePartitioner SAMPLING job that
        # evaluates the full upstream (the user map fn) once, and the
        # write evaluates it again — persist the emits so the mapper
        # runs once per build/update, not twice. MEMORY_AND_DISK: at
        # scale a spill-read is still cheaper than re-running an
        # expression-heavy map fn over the corpus.
        emits = emits.persist()
        try:
            (
                emits.withColumn("epoch", F.lit(epoch).cast("int"))
                .repartitionByRange("index_key", DOC_KEY)
                .sortWithinPartitions("index_key", DOC_KEY, "emit_pos")
                .write.mode(mode)
                .partitionBy("epoch")
                .parquet(self.segments_path)
            )
        finally:
            emits.unpersist()

    # --------------------------------------------------------------- build

    @_writer
    def build(self, docs: DataFrame, assume_unique: bool = False) -> "MapIndex":
        """Full (re)materialization — the batch form of the reference's
        write path (index.js:173-249) over a whole documents table.

        ``assume_unique=True`` declares docs one-row-per-key (e.g. a
        primary-keyed source table) and skips the dedup shuffle.

        Crash safety of the REBUILD-over-existing case: the new
        segment is written at an epoch ABOVE every existing tombstone
        (``_next_epoch``), not at 0 — read() keeps rows where
        ``seg.epoch >= tomb_epoch``, so if a crash lands between the
        segment overwrite and the tombstone cleanup, the stale
        tombstones cannot kill any rebuilt row (the same argument
        compact() uses for its fold epoch). Tombstone deletion is
        pure cleanup, not a correctness step. A FRESH index (no
        tombstones) builds at epoch 0 as before; a rebuild resets the
        time-travel horizon either way (full rematerialization).
        """
        changes = self._normalize_changes(docs, assume_unique=assume_unique)
        live = changes.where(~F.col("deleted"))
        emits = self._emits(live)
        build_epoch = (
            self._next_epoch()
            if _list_epochs(self.spark, self.tombstones_path)
            else 0
        )
        self._write_segment(emits, epoch=build_epoch, mode="overwrite")
        _delete_path(self.spark, self.tombstones_path)
        # a full rebuild supersedes any crashed partial-fold journal
        self._clear_fold_intent()
        self._tomb_bytes_cache = None
        self._seg_bytes_by_epoch.clear()
        self.compaction_due = False
        if self._downstreams:
            # Full-rebuild feed = the stored documents as-is. update()
            # must feed every CHANGED key (empty-emit/tombstoned docs
            # as (doc_key, value=[], deleted=false) so the downstream
            # tombstones its prior emits), but a downstream BUILD is a
            # from-scratch overwrite: empty-value rows emit zero index
            # rows either way, so the input-key-set join of
            # changes_feed() added a full re-derivation of the input
            # plus a distinct + two joins for rows that cannot affect
            # the result (r16, guide §2.4 — the converged state is
            # identical, FIXTURES.md A.3's incremental == rebuild
            # invariant holds unchanged).
            feed = self.as_documents()
            for down in self._downstreams:
                down.build(feed, assume_unique=True)
        self._refresh_views()
        return self

    # -------------------------------------------------------------- update

    def _next_epoch(self) -> int:
        """Next write epoch = 1 + max over BOTH segment and tombstone
        epochs. A deleted-only batch (update of all-tombstones, or
        :meth:`delete_range`) appends no segment partition, so counting
        segment epochs alone would reuse the same epoch number for
        consecutive pure-delete batches — still read-correct (strict
        ``seg.epoch < tomb_epoch`` compare) but it merges distinct
        operations into one time-travel point. Counting the union keeps
        every committed batch a distinct ``as_of_epoch`` snapshot.
        """
        epochs = _list_epochs(self.spark, self.segments_path) + _list_epochs(
            self.spark, self.tombstones_path
        )
        return (max(epochs) + 1) if epochs else 1

    @_writer
    def update(
        self, changes: DataFrame, assume_unique: bool = False
    ) -> DataFrame:
        """Incremental maintenance: one LSM epoch per batch.

        Semantics per changed doc (reference index.js:182-242):
        previously-emitted rows die (tombstone), new emits append;
        ``deleted: true`` docs emit nothing. Cost is O(changed docs),
        not O(index) — no existing segment is rewritten.

        Write order is segment first, tombstones last: a crash between
        the two leaves recoverable duplicates (old + new emits both
        visible) that the retry's higher-epoch tombstone supersedes —
        the reverse order would tombstone prior emits with no
        replacement rows, losing data unrecoverably.

        Returns the downstream change feed ``(doc_key, value, deleted)``
        where ``value`` is the doc's full live emit list — the shape
        the reference pushes to piped indexes (index.js:244, 250-253).

        Evaluation contract: ``changes`` is a lazy plan evaluated
        independently for the segment write, the tombstone write, and
        (when piped) the downstream feed — the later evaluations run
        AFTER this index's files have changed, and Spark refreshes
        path listings on every write. A ``changes`` plan that reads
        THIS index's own storage therefore re-observes its own
        partial effects; that is safe iff its doc-KEY set is
        write-invariant (true for the stored-sketch fold, whose keys
        are the batch's bucket keys either way — operators/
        sketches.py), never for value-dependent membership. External
        callers should feed deterministic, non-self-referential plans;
        :meth:`delete_range` stages its self-referential key set to a
        scratch file for exactly this reason.
        """
        self._recover_fold()
        epoch = self._next_epoch()
        changes = self._normalize_changes(changes, assume_unique=assume_unique)

        live = changes.where(~F.col("deleted"))
        emits = self._emits(live)
        self._write_segment(emits, epoch=epoch, mode="append")

        # Tombstone at the SAME epoch: read() keeps seg.epoch >= tomb_epoch,
        # so this kills every prior emit while keeping the batch just written.
        # distinct() already shuffled, so AQE has right-sized the output
        # partitions (1 file at small scale, parallel at 10^8 changed docs —
        # no coalesce(1) single-task funnel).
        changed_keys = changes.select(DOC_KEY).distinct()
        (
            changed_keys.withColumn("epoch", F.lit(epoch).cast("int"))
            .write.mode("append")
            .partitionBy("epoch")
            .parquet(self.tombstones_path)
        )
        self._tomb_bytes_cache = None

        # one post-write listing pair, shared by the due check and the
        # fold policy (object-store LIST calls are the hot-path tax)
        seg_eps = _list_epochs(self.spark, self.segments_path)
        tomb_eps = _list_epochs(self.spark, self.tombstones_path)
        self._set_compaction_due(seg_eps, tomb_eps)
        if self.compaction_due and self.auto_compact:
            self._auto_fold(seg_eps, tomb_eps)  # refreshes views itself
        else:
            self._refresh_views()

        feed = self.changes_feed(changed_keys)
        for down in self._downstreams:
            down.update(feed, assume_unique=True)
        return feed

    def _set_compaction_due(
        self,
        seg_eps: list[int] | None = None,
        tomb_eps: list[int] | None = None,
    ) -> None:
        """Maintenance flag from LIVE storage state, not the write
        counter. (The pre-r9 form compared the monotonically growing
        epoch NUMBER against AUTO_COMPACT_EPOCHS, which stays true
        forever once the counter passes the threshold — with
        auto_compact on, every batch after the 24th paid a full
        O(index) rewrite.) Callers that already hold fresh epoch
        listings pass them in — the update() hot path must not pay
        repeated LIST calls on an object store."""
        seg = (
            _list_epochs(self.spark, self.segments_path)
            if seg_eps is None
            else seg_eps
        )
        n_tomb = len(
            _list_epochs(self.spark, self.tombstones_path)
            if tomb_eps is None
            else tomb_eps
        )
        # tombstone epochs get a HIGHER threshold than segment epochs:
        # minor folds cannot reduce them (they still guard the
        # unfolded base), so counting them against the segment
        # threshold would re-trigger maintenance every batch; only
        # the occasional full fold reclaims them
        tier = self.compact_epochs or AUTO_COMPACT_EPOCHS
        self.compaction_due = (
            len(seg) >= tier
            or n_tomb >= 4 * tier
            or self._tomb_bytes() > TOMBSTONE_BROADCAST_BYTES
            or self._seg_size_pressure(seg)
        )

    def _seg_size_pressure(self, seg_eps: list[int] | None = None) -> bool:
        """Bytes-ratio compaction trigger (see COMPACT_SIZE_RATIO):
        true when the delta epochs' bytes exceed the ratio of the base
        epoch's bytes and there are at least two deltas to merge.
        Bytes come from per-epoch ``getContentSummary`` walks cached
        by epoch number (epoch dirs are immutable between folds; the
        paths that rewrite or renumber an epoch's contents in place
        clear the cache — see the field comment), so a streaming
        update() hot path walks only its OWN new epoch per batch, not
        the whole segments tree."""
        eps = (
            _list_epochs(self.spark, self.segments_path)
            if seg_eps is None
            else seg_eps
        )
        cache = self._seg_bytes_by_epoch
        live = set(eps)
        dead = [k for k in cache if k not in live]
        if dead:
            # A cached epoch that is no longer live proves ANOTHER
            # handle folded since this handle last looked (this
            # handle's own folds clear the cache at the fold site,
            # and epoch numbers are never reused — new epochs are
            # always > max). Every fold also rewrites one SURVIVING
            # epoch in place (full: max; partial: hi), whose cached
            # byte count is now silently stale — e.g. a nightly
            # compact by another process leaves epoch=max holding the
            # whole index while this cache still records its old
            # delta size, making the bytes-ratio trigger fire a
            # spurious full fold on nearly every batch (or chronically
            # under-fire). Dead keys are the detector: drop the WHOLE
            # cache, not just the dead entries. Writers are
            # lease-serialized, so a cross-handle fold cannot race
            # this check mid-mutation. The detection must run BEFORE
            # the few-epochs early return below: the post-fold state
            # is exactly 1-2 live epochs, and skipping it there would
            # carry the stale survivor entry into the next multi-epoch
            # evaluation.
            cache.clear()
        if len(eps) < 3:
            # 0-1 deltas: a full fold would just rewrite the base for
            # nothing (and a single big delta would re-trigger every
            # batch) — epoch-count pressure covers this regime
            return False
        for e in eps:
            if e not in cache:
                cache[e] = _path_bytes(
                    self.spark,
                    posixpath.join(self.segments_path, f"epoch={e}"),
                )
        base = cache[eps[0]]
        delta = sum(cache[e] for e in eps[1:])
        if delta < COMPACT_SIZE_MIN_DELTA_BYTES:
            return False
        if base <= 0:
            return True
        return delta > COMPACT_SIZE_RATIO * base

    def _auto_fold(
        self,
        seg: list[int] | None = None,
        tomb: list[int] | None = None,
    ) -> None:
        """Tiered inline maintenance for ``auto_compact=True``: while
        the pressure is segment read amplification, MINOR-fold the
        delta epochs (base epoch untouched — cost tracks the deltas,
        the scale-safe default); escalate to the full fold only when
        the tombstone side itself is the pressure (bytes past the
        broadcast budget, or tombstone epoch count at the threshold)
        — reclaiming those requires a prefix/full fold. Large
        deployments still pass ``auto_compact=False`` and schedule
        :meth:`compact` off the hot path themselves."""
        if seg is None:
            seg = _list_epochs(self.spark, self.segments_path)
        if tomb is None:
            tomb = _list_epochs(self.spark, self.tombstones_path)
        tier = self.compact_epochs or AUTO_COMPACT_EPOCHS

        def tomb_pressure(tomb_eps=None):
            if tomb_eps is None:
                tomb_eps = _list_epochs(self.spark, self.tombstones_path)
            return (
                self._tomb_bytes() > TOMBSTONE_BROADCAST_BYTES
                or len(tomb_eps) >= 4 * tier
            )

        if tomb_pressure(tomb):
            # cheapest relief first: superseded-marker consolidation
            # touches no segment; only if the pressure survives it
            # (disjoint-doc churn — nothing superseded) pay the full
            # fold that reclaims tombstones for real
            self.compact_tombstones()
            if tomb_pressure():
                self.compact()
                return
            seg = _list_epochs(self.spark, self.segments_path)
        if self._seg_size_pressure(seg):
            # bytes pressure: the deltas are a large fraction of the
            # base, so a minor fold (which leaves total live bytes
            # unchanged) cannot relieve it — pay the full fold and
            # reset delta bytes to zero (COMPACT_SIZE_RATIO docstring
            # has the amortization argument)
            self.compact()
            return
        if len(seg) < 3:
            if len(seg) >= tier:  # degenerate tiny config
                self.compact()
            else:
                self._refresh_views()
            return
        if len(seg) >= tier:
            self.compact(max_epochs=len(seg) - 1, tier="newest")
        else:
            self._refresh_views()

    @_writer
    def delete_range(
        self,
        start: str | None = None,
        end: str | None = None,
        key: str | None = None,
    ) -> int:
        """Range delete — the LSM range-tombstone analog and the
        retention/TTL primitive (e.g. expire the old buckets of a
        stored continuous aggregate): tombstone every document with a
        live emit in ``[start, end)`` (or under exactly ``key``).
        Returns the number of docs tombstoned.

        Cost: one key-pruned range scan to find the doomed doc keys +
        one tombstone epoch — no segment rewrite; space is reclaimed
        at the next :meth:`compact`. NOTE a doc is tombstoned WHOLE:
        if it also emits keys outside the range, those die too (this
        engine's tombstones are per-doc, reference index.js:187-205 —
        documented narrowing; re-``update()`` the doc to re-emit the
        surviving keys).

        Downstream chained indexes receive the standard empty-emit
        change feed before this returns. The doomed key set is
        materialized to a scratch parquet BEFORE the tombstones are
        written — a lazy re-evaluation after the write would see its
        own deletions and propagate an empty feed. A cache
        (``persist()``) is NOT enough: the tombstone append fires
        Spark's recacheByPath/refreshByPath for the written path, and
        whenever prior tombstone epochs exist the doomed plan contains
        a tombstone-path scan, so the cache is re-COMPUTED against the
        refreshed listing — silently empty (caught by
        tests/test_model.py's chained variant). A scratch file read is
        immune: its plan references only the scratch path.

        Scratch lives under ``<root>/_scratch/`` — a non-data sibling
        of segments/tombstones (the ``_`` prefix is additionally
        Hadoop-hidden, like ``_SUCCESS``), so a reader listing the
        index root can never ingest it and Spark logs no ignored-path
        WARN. Ordering matters: the downstream feed is propagated
        BEFORE the auto-compact block. Post-tombstone the feed is
        identical pre/post compact (the doomed docs have no live
        emits either way), and the reentrant ``_auto_fold`` →
        ``compact()`` would otherwise janitor-sweep the scratch while
        the feed plan still references it (ADVICE r11 high; regression
        tests/test_durability.py::
        test_delete_range_survives_reentrant_auto_fold).
        """
        self._recover_fold()
        scratch = posixpath.join(self.root, _SCRATCH, "delrange_keys")
        try:
            (
                self.scan(start=start, end=end, key=key)
                .select(DOC_KEY)
                .distinct()
                .write.mode("overwrite")
                .parquet(scratch)
            )
            doomed = self.spark.read.parquet(scratch)
            n = doomed.count()
            if not n:
                return 0
            epoch = self._next_epoch()
            (
                doomed.withColumn("epoch", F.lit(epoch).cast("int"))
                .write.mode("append")
                .partitionBy("epoch")
                .parquet(self.tombstones_path)
            )
            self._tomb_bytes_cache = None
            # downstream propagation consumes the feed eagerly (their
            # update() writes are actions) while ``doomed`` is pinned —
            # and BEFORE any reentrant fold can sweep the scratch
            feed = self.changes_feed(doomed)
            for down in self._downstreams:
                down.update(feed, assume_unique=True)
            seg_eps = _list_epochs(self.spark, self.segments_path)
            tomb_eps = _list_epochs(self.spark, self.tombstones_path)
            self._set_compaction_due(seg_eps, tomb_eps)
            if self.compaction_due and self.auto_compact:
                self._auto_fold(seg_eps, tomb_eps)
            else:
                self._refresh_views()
            return n
        finally:
            # sweep the whole staging dir, not just the child — an
            # empty _scratch/ left behind is harmless (hidden) but
            # pollutes listings; delete_range is the only writer here
            # and writers are lease-serialized
            _delete_path(self.spark, posixpath.join(self.root, _SCRATCH))

    def changes_feed(
        self, keys: DataFrame, broadcast_keys: bool | None = None
    ) -> DataFrame:
        """(doc_key, value, deleted) for the given doc keys, from the
        stored index. Docs with no live emits surface as
        ``value=[], deleted=false`` — the reference pushes
        ``{key, value: []}`` downstream on tombstone/empty-emit
        (index.js:190, 201, 223) and the *downstream map fn* runs on
        the empty array and decides; it is not a tombstone for the
        downstream index.

        ``broadcast_keys``: ``None`` (default) lets AQE pick the join
        strategy from the key set's RUNTIME size — small change
        batches broadcast, a 10⁸-doc batch falls back to a shuffled
        join instead of OOMing the driver (a forced hint has no such
        guard). ``True`` forces the broadcast hint, ``False`` forbids
        it (full-corpus feeds).
        """
        docs = self.as_documents(keys=keys, broadcast_keys=broadcast_keys)
        return keys.join(docs, DOC_KEY, "left").select(
            DOC_KEY,
            F.coalesce(
                F.col("value"), F.array().cast(pairs_type(self.mapper.value_type))
            ).alias("value"),
            F.lit(False).alias("deleted"),
        )

    # ---------------------------------------------------------------- read

    def _tomb_bytes(self) -> int:
        """Tombstone dir size, cached per epoch-list signature so
        repeated reads cost one listStatus, not a recursive walk."""
        sig = tuple(_list_epochs(self.spark, self.tombstones_path))
        if self._tomb_bytes_cache and self._tomb_bytes_cache[0] == sig:
            return self._tomb_bytes_cache[1]
        n = _path_bytes(self.spark, self.tombstones_path)
        self._tomb_bytes_cache = (sig, n)
        return n

    def read(self, as_of_epoch: int | None = None) -> DataFrame:
        """Live index rows: segments minus tombstoned generations.

        ``as_of_epoch`` time-travels: rows as they stood after that
        epoch committed, reconstructed by ignoring later segments and
        later tombstones — snapshot reads of any retained epoch (a
        partition-pruned filter, no extra IO). The travel horizon is
        the last :meth:`compact`, which folds history into a single
        epoch; ``stats()['epochs']`` lists the valid points. The
        reference has no counterpart (LevelDB exposes no snapshots
        across its API, index.js:113) — this falls out of the epoch
        design for free.

        Reads never change storage: a fold commit left in flight is
        served as its post-fold view and finished by the next writer
        (see :meth:`_live`).
        """
        return self._live(hi=as_of_epoch)

    def _live(self, lo: int | None = None, hi: int | None = None) -> DataFrame:
        """The one liveness rule: rows of the segment epochs in
        ``[lo, hi]`` that survive every tombstone at or below ``hi`` —
        a row dies iff ``row.epoch < max tomb_epoch <= hi`` for its
        doc (the per-doc max makes duplicate and superseded markers
        inert). :meth:`read` is ``_live(hi=as_of_epoch)``; a fold of
        ``[lo, hi]`` writes ``_live(lo, hi)`` at its target epoch.

        Segments come from the committed view. While a fold commit is
        in flight (journal AND ``.fold_tmp`` present) that is every
        ``epoch=`` dir outside the journal's ``fold_epochs`` plus the
        folded copy read at ``fold_max`` — correct however many of the
        commit's deletes have landed, and the reader touches nothing.

        The tombstone side is normally tiny relative to the index (one
        row per ever-changed doc since last compact), so it broadcasts
        and the anti-join never shuffles the index itself. If churn has
        grown the tombstones past broadcast size (checked from file
        metadata, no job) the hint is dropped and AQE picks the join
        strategy — correct either way, never OOMs the driver.
        """
        segs = self._segments()
        if segs is None:
            return self.spark.createDataFrame([], self._storage_schema).drop(
                "epoch"
            )
        if lo is not None:
            segs = segs.where(F.col("epoch") >= lo)
        if hi is not None:
            segs = segs.where(F.col("epoch") <= hi)
        tomb_epochs = _list_epochs(self.spark, self.tombstones_path)
        if hi is not None:
            tomb_epochs = [e for e in tomb_epochs if e <= hi]
        if not tomb_epochs:
            return segs.drop("epoch")
        tombs = (
            self.spark.read.schema(self._tombstone_schema).parquet(
                self.tombstones_path
            )
            .where(F.col("epoch") <= hi if hi is not None else F.lit(True))
            .groupBy(DOC_KEY)
            .agg(F.max("epoch").alias("tomb_epoch"))
        )
        # Compare against the broadcast budget with a 4x margin: Parquet
        # compresses, and the in-memory broadcast relation can be several
        # times the on-disk bytes.
        if self._tomb_bytes() * 4 <= TOMBSTONE_BROADCAST_BYTES:
            tombs = F.broadcast(tombs)
        live = segs.alias("s").join(
            tombs.alias("t"),
            (F.col(f"s.{DOC_KEY}") == F.col(f"t.{DOC_KEY}"))
            & (F.col("s.epoch") < F.col("t.tomb_epoch")),
            "left_anti",
        )
        return live.drop("epoch")

    def _segments(self) -> DataFrame | None:
        """Segment rows (with ``epoch``) of the committed view, or None
        when there are none. Explicit schemas: the storage layout is
        engine-owned, so schema inference (a driver-side footer read
        per construction, ~100 ms locally, a remote GET on object
        stores) buys nothing — serve paths construct several reads per
        query and the tax was the dominant serve cost in the r15
        profile."""
        epochs = _list_epochs(self.spark, self.segments_path)
        intent = self.get_sidecar(name=_FOLD_INTENT)
        if intent is not None:
            fs, tmp, _ = _hadoop_fs(self.spark, self._fold_tmp_path)
            if not fs.exists(tmp):
                intent = None  # renamed in: the listing is post-fold
        if intent is None:
            if not epochs:
                return None
            return self.spark.read.schema(self._storage_schema).parquet(
                self.segments_path
            )
        folded = [int(e) for e in intent["fold_epochs"]]
        view = (
            self.spark.read.schema(
                T.StructType(
                    [f for f in self._storage_schema if f.name != "epoch"]
                )
            )
            .parquet(self._fold_tmp_path)
            .withColumn("epoch", F.lit(int(intent["fold_max"])))
        )
        if any(e not in folded for e in epochs):
            rest = (
                self.spark.read.schema(self._storage_schema)
                .parquet(self.segments_path)
                .where(~F.col("epoch").isin(folded))
            )
            view = rest.unionByName(view)
        return view

    def scan(
        self,
        start: str | None = None,
        end: str | None = None,
        key: str | None = None,
        sort: bool = False,
        limit: int | None = None,
        reverse: bool = False,
        keys: bool = True,
        values: bool = True,
        raw: bool = False,
    ) -> DataFrame:
        """Range / prefix / full scan (reference createReadStream,
        index.js:124-138) with the *intended* end-bound semantics
        (start inclusive, end exclusive) — the reference encodes the
        end bound from ``opts.start`` by mistake (index.js:128;
        SURVEY.md §7.4).

        The key predicates push down to the Parquet scan (min/max
        row-group skipping over the range-partitioned layout) — the
        LevelDB iterator-seek equivalent.

        ``limit``, ``reverse``, ``keys``, ``values``, and ``raw`` are
        the levelup read-stream opts passthroughs (reference
        index.js:124-137 forwards opts verbatim):

        - ``limit``/``reverse``: first/last N rows in key order; with
          ``sort`` (implied by limit) Spark plans a distributed top-k
          (TakeOrderedAndProject), never a global sort.
        - ``keys=True, values=False``: key stream — ``index_key``
          only. ``keys=False, values=True``: value stream — ``value``
          only. Both false is an error (levelup yields undefined
          entries; nothing meaningful to return).
        - ``raw=True``: the undecoded stored record — the composite
          storage key ``namespace\\x00index_key\\x00doc_key\\x00
          emit_pos`` (the byteslice-tuple analog the reference's
          DecodeStream parses apart, index.js:102-104) as ``raw_key``,
          plus ``value``. Overrides keys/values.
        """
        if not keys and not values and not raw:
            raise ValueError(
                "scan(keys=False, values=False): nothing to return"
            )
        df = self.read()
        if key is not None:
            df = df.where(F.col("index_key") == key)
        else:
            if start is not None:
                df = df.where(F.col("index_key") >= start)
            if end is not None:
                df = df.where(F.col("index_key") < end)
        if sort or limit is not None:
            order = [F.col("index_key"), F.col(DOC_KEY), F.col("emit_pos")]
            if reverse:
                order = [c.desc() for c in order]
            df = df.orderBy(*order)
        if limit is not None:
            df = df.limit(limit)
        if raw:
            return df.select(
                F.concat_ws(
                    "\x00",
                    F.lit(self.name),
                    F.col("index_key"),
                    F.col(DOC_KEY),
                    F.col("emit_pos").cast("string"),
                ).alias("raw_key"),
                "value",
            )
        if not values:
            return df.select("index_key")
        if not keys:
            return df.select("value")
        return df

    def get_df(self, key: str) -> DataFrame:
        return (
            self.scan(key=key)
            .orderBy(DOC_KEY, "emit_pos")
            .select("value")
        )

    def get(self, key: str) -> list:
        """All values emitted under exactly ``key`` (reference get,
        index.js:151-172), ordered by ``(doc_key, emit_pos)`` — the
        deterministic stand-in for uuid-insertion order (SURVEY.md
        §7.3 hard part 2). Driver-side collect by design: this is the
        point-lookup API, not a bulk path.
        """
        return [r["value"] for r in self.get_df(key).collect()]

    def count(self, key: str | None = None) -> int:
        """The reference's declared-but-empty ``count`` stub
        (index.js:148-150), implemented."""
        return self.scan(key=key).count()

    def get_meta(self, doc_key: str) -> list[str]:
        """The keys a document currently emits — reference ``getMeta``'s
        ``{keys: [...]}`` reverse lookup (index.js:255-263). Not a
        separate stored structure here: ``doc_key`` is a column of the
        index, so the meta index is a filtered projection (SURVEY §1.1).
        Emit order = ``emit_pos``, matching the meta array order."""
        rows = (
            self.get_meta_df(doc_key).orderBy("emit_pos").collect()
        )
        return [r["index_key"] for r in rows]

    def get_meta_df(self, doc_key: str) -> DataFrame:
        """DataFrame form of :meth:`get_meta`: ``(emit_pos,
        index_key)`` for one document — a pushed-down point lookup on
        the ``doc_key`` column, no collect."""
        return (
            self.read()
            .where(F.col(DOC_KEY) == doc_key)
            .select("emit_pos", "index_key")
        )

    def count_by_key(self) -> DataFrame:
        return self.read().groupBy("index_key").agg(
            F.count("*").alias("n")
        )

    def query(self, start=None, end=None, key=None) -> Query:
        """Scan -> lazy pipeline (reference Index.query, index.js:140-147)."""
        return Query(self.scan(start=start, end=end, key=key))

    def create_view(self, view_name: str | None = None) -> str:
        """Register the index as a temp view so ``spark.sql`` can
        query it directly — the SQL surface of the stored map.

        The view wraps :meth:`read` (tombstone-resolved rows), so
        ``WHERE index_key BETWEEN ...`` predicates written in SQL push
        down to the parquet segments exactly like :meth:`scan` bounds
        (Catalyst pushes filters through the view and the anti-join's
        preserved side). Returns the view name.

        Freshness: a temp view captures the parquet file listing at
        registration time, so THIS index re-registers every view it
        created after each :meth:`build` / :meth:`update` /
        :meth:`compact` — SQL through the view always sees the state
        as of the last completed mutation (and never hits
        FileNotFoundException on files a compaction deleted). Views
        over the same store created by another MapIndex instance or
        another Spark application get no such signal and DO go stale.
        """
        name = view_name or f"lmr_index_{self.name}"
        self.read().createOrReplaceTempView(name)
        self._views.add(name)
        return name

    def _refresh_views(self) -> None:
        """Re-resolve every registered view against the current
        segment/tombstone listing (mutations add or delete files; a
        view holds the listing it was created with)."""
        for name in self._views:
            self.read().createOrReplaceTempView(name)

    # ------------------------------------------------------------ chaining

    def pipe(self, downstream: "MapIndex") -> "MapIndex":
        """Cascade: every (re)index result of this index feeds
        ``downstream`` as documents (reference pipe, index.js:250-253).
        Batch-synchronous, so chained indexes are consistent at every
        build/update boundary — strictly stronger than the reference's
        eventual consistency (tests/test-replication.js:29,42).
        """
        self._downstreams.append(downstream)
        return downstream

    def as_documents(
        self, keys: DataFrame | None = None, broadcast_keys: bool | None = None
    ) -> DataFrame:
        """This index's output as a documents table
        ``(doc_key, value: array<struct<index_key, value>>)`` — the
        shape piped downstream by the reference (index.js:244).

        ``broadcast_keys`` as in :meth:`changes_feed` (None = AQE
        decides from runtime size).
        """
        idx = self.read()
        if keys is not None:
            k = F.broadcast(keys) if broadcast_keys else keys
            idx = idx.join(k, DOC_KEY, "left_semi")
        return (
            idx.groupBy(DOC_KEY)
            .agg(
                # field comparator: sorting the struct directly fails
                # analysis whenever value_type contains a MapType
                # (structs with maps are unorderable); (emit_pos,
                # index_key) is already a total order per doc
                F.array_sort(
                    F.collect_list(
                        F.struct("emit_pos", "index_key", "value")
                    ),
                    struct_order_cmp("emit_pos", "index_key"),
                ).alias("_e")
            )
            .select(
                DOC_KEY,
                F.transform(
                    "_e",
                    lambda s: F.struct(
                        s["index_key"].alias("index_key"),
                        s["value"].alias("value"),
                    ),
                ).alias("value"),
            )
        )

    # ---------------------------------------------------------- compaction

    @property
    def _fold_tmp_path(self) -> str:
        # dot-prefixed so Spark's file index hides it from every read
        # of segments/ while the folded copy is being written
        return posixpath.join(self.segments_path, ".fold_tmp")

    def _recover_fold(self) -> None:
        """Finish, or clean up after, a :meth:`compact` commit.
        Writer-only: called at every write-path entry with the lease
        held, and as the commit step of compact() itself.

        The fold commit is journaled: ``fold.json`` (atomic tmp+rename
        write) records the folded epoch list and the target epoch
        BEFORE any live directory is touched, and the folded copy
        under ``segments/.fold_tmp`` is complete by construction when
        the journal exists (the journal is written only after the fold
        write succeeds). States:

        - no journal: nothing in flight. A stray ``.fold_tmp`` is a
          pre-commit abort (invisible to readers, a dot-dir) — delete
          it, with any staging dir a crashed compact_tombstones()
          left (its protocol needs no journal).
        - journal + ``.fold_tmp``: the commit is running or crashed
          mid-way. Delete the remaining folded epoch dirs, rename the
          tmp in as ``epoch={fold_max}``, drop the journal.
        - journal, no ``.fold_tmp``: the rename happened (deletes
          strictly precede it), or a build() overwrite superseded the
          fold — drop the journal.

        Both journal states end with the dead-tombstone sweep, which
        after a full fold reclaims every tombstone.
        """
        intent = self.get_sidecar(name=_FOLD_INTENT)
        if intent is None:
            _delete_path(self.spark, self._fold_tmp_path)
            _delete_path(self.spark, self.tombstones_path + ".consolidating")
            return
        fs, tmp, jvm = _hadoop_fs(self.spark, self._fold_tmp_path)
        P = jvm.org.apache.hadoop.fs.Path
        fold_max = int(intent["fold_max"])
        if fs.exists(tmp):
            for e in intent["fold_epochs"]:
                fs.delete(
                    P(posixpath.join(self.segments_path, f"epoch={int(e)}")),
                    True,
                )
            dest = P(posixpath.join(self.segments_path, f"epoch={fold_max}"))
            if not fs.rename(tmp, dest):
                raise IOError(
                    f"compact: failed to rename {self._fold_tmp_path} -> "
                    f"epoch={fold_max}; the next write retries the commit"
                )
        self._clear_fold_intent()
        self._sweep_dead_tombstones()
        self._tomb_bytes_cache = None
        self._seg_bytes_by_epoch.clear()

    def _clear_fold_intent(self) -> None:
        fs, hpath, _ = _hadoop_fs(
            self.spark, posixpath.join(self.root, _FOLD_INTENT)
        )
        if fs.exists(hpath):
            fs.delete(hpath, False)

    def _sweep_dead_tombstones(self) -> None:
        """Delete tombstone epochs that can no longer kill anything:
        a tombstone at epoch T kills segment rows with epoch < T, so
        once every remaining segment epoch is >= T the marker is pure
        debris. (After a prefix fold this reclaims every tombstone up
        to the fold target; after a suffix fold usually nothing — the
        unfolded older epochs still need their guards.)"""
        seg_epochs = _list_epochs(self.spark, self.segments_path)
        if not seg_epochs:
            return
        floor = min(seg_epochs)
        fs, _, jvm = _hadoop_fs(self.spark, self.tombstones_path)
        P = jvm.org.apache.hadoop.fs.Path
        for t in _list_epochs(self.spark, self.tombstones_path):
            if t <= floor:
                fs.delete(
                    P(posixpath.join(self.tombstones_path, f"epoch={t}")),
                    True,
                )
        self._tomb_bytes_cache = None

    @_writer
    def compact_tombstones(self) -> int:
        """Drop superseded tombstone markers WITHOUT touching any
        segment: only a doc's max-epoch tombstone has any effect
        (read() applies the per-doc max), so every (doc, T) row with
        a higher-T marker elsewhere is pure debris. Under churn that
        re-touches the same documents, this reclaims most tombstone
        bytes and empties old tombstone epoch dirs at O(tombstones)
        cost — the third maintenance tier between "do nothing" and a
        segment fold. Returns the number of epoch dirs emptied.

        Crash-safe WITHOUT a journal, by construction: the surviving
        rows of every epoch are APPENDED as new files into their own
        epoch dirs first (one Spark job), and only then are the
        pre-listed original files deleted. A crash at any point
        leaves either duplicate live markers (harmless — the read
        path aggregates per-doc max, so duplicates are idempotent)
        or partially-deleted superseded rows (harmless — superseded
        by definition). Concurrent readers see the same states.

        Time travel: a snapshot between a doc's superseded marker and
        its surviving one stops observing the older delete — the
        same history-horizon rule as the folds; current reads are
        identical before and after.
        """
        self._recover_fold()
        tomb_epochs = _list_epochs(self.spark, self.tombstones_path)
        if len(tomb_epochs) < 2:
            return 0
        fs, tomb_root, jvm = _hadoop_fs(self.spark, self.tombstones_path)
        P = jvm.org.apache.hadoop.fs.Path
        # snapshot the ORIGINAL data files per epoch before the append
        originals: dict[int, list] = {}
        for t in tomb_epochs:
            d = P(posixpath.join(self.tombstones_path, f"epoch={t}"))
            files = []
            if fs.exists(d):
                for st in fs.listStatus(d):
                    name = st.getPath().getName()
                    if not (name.startswith("_") or name.startswith(".")):
                        files.append(st.getPath())
            originals[t] = files
        tombs = self.spark.read.parquet(self.tombstones_path)
        w = Window.partitionBy(DOC_KEY)
        keep = (
            tombs.withColumn("_max", F.max("epoch").over(w))
            .where(F.col("epoch") == F.col("_max"))
            .drop("_max")
            # only epochs that actually LOSE rows need a rewrite;
            # fully-live epochs keep their original files untouched
        )
        losing = {
            r["epoch"]
            for r in tombs.groupBy("epoch")
            .agg(F.count(F.lit(1)).alias("n"))
            .join(
                keep.groupBy("epoch").agg(F.count(F.lit(1)).alias("k")),
                "epoch",
                "left",
            )
            .where(F.coalesce(F.col("k"), F.lit(0)) < F.col("n"))
            .collect()
        }
        if not losing:
            return 0
        # stage the survivors in a sibling dir (appending to the path
        # being read is a Spark no-no), then move the files in with
        # metadata-only renames BEFORE deleting any original — the
        # crash-safety argument above is unchanged
        tmp = self.tombstones_path + ".consolidating"
        _delete_path(self.spark, tmp)
        (
            keep.where(F.col("epoch").isin([int(t) for t in losing]))
            .write.mode("overwrite")
            .partitionBy("epoch")
            .parquet(tmp)
        )
        for t in losing:
            src_dir = posixpath.join(tmp, f"epoch={int(t)}")
            src = P(src_dir)
            if not fs.exists(src):
                continue
            dst_dir = posixpath.join(
                self.tombstones_path, f"epoch={int(t)}"
            )
            if not fs.exists(P(dst_dir)):
                fs.mkdirs(P(dst_dir))
            for st in fs.listStatus(src):
                name = st.getPath().getName()
                if name.startswith("_") or name.startswith("."):
                    continue
                fs.rename(
                    st.getPath(), P(posixpath.join(dst_dir, name))
                )
        emptied = 0
        for t in losing:
            for p in originals.get(t, []):
                fs.delete(p, False)
            d = P(posixpath.join(self.tombstones_path, f"epoch={int(t)}"))
            if fs.exists(d) and not any(
                not st.getPath().getName().startswith(("_", "."))
                for st in fs.listStatus(d)
            ):
                fs.delete(d, True)
                emptied += 1
        _delete_path(self.spark, tmp)
        self._tomb_bytes_cache = None
        self._set_compaction_due()
        self._refresh_views()
        return emptied

    @_writer
    def drop(self) -> None:
        """Destroy the stored index: segments, tombstones, sidecars —
        the whole ``{store_path}/{name}/`` namespace — and deregister
        any temp views. The handle stays usable for a later
        ``build()`` (same name, fresh storage). The reference's
        LevelDB namespace has no delete either; this is lifecycle
        completeness for real deployments (a retrained index's old
        generation must be reclaimable). Downstream piped indexes are
        NOT touched — dropping an upstream is a topology change, not a
        data change."""
        for v in list(self._views):
            try:
                self.spark.catalog.dropTempView(v)
            except Exception:  # noqa: BLE001 — already gone
                pass
        self._views.clear()
        _delete_path(self.spark, self.root)
        self._tomb_bytes_cache = None
        self._seg_bytes_by_epoch.clear()
        self.compaction_due = False

    def stats(self) -> dict:
        """Storage observability: the numbers an operator watches to
        schedule :meth:`compact` and size reads (the LSM equivalent of
        table-level stats; the reference exposes nothing — LevelDB
        hides its levels). All come from file listings, no data scan:

        - ``epochs`` — live segment epochs (read amplification: every
          read unions them)
        - ``segment_files`` / ``segment_bytes`` — parquet file count
          and on-disk size of the segment store
        - ``tombstone_epochs`` / ``tombstone_bytes`` — pending delete
          markers folded away by the next compact
        - ``compaction_due`` — the maintenance flag update() sets when
          thresholds are crossed with ``auto_compact=False``
        """
        seg_epochs = _list_epochs(self.spark, self.segments_path)
        tomb_epochs = _list_epochs(self.spark, self.tombstones_path)
        fs, path, _ = _hadoop_fs(self.spark, self.segments_path)
        n_files = 0
        if fs.exists(path):
            it = fs.listFiles(path, True)
            while it.hasNext():
                f = it.next()
                if f.getPath().getName().startswith("part-"):
                    n_files += 1
        return {
            "epochs": seg_epochs,
            "segment_files": n_files,
            "segment_bytes": _path_bytes(self.spark, self.segments_path),
            "tombstone_epochs": tomb_epochs,
            "tombstone_bytes": self._tomb_bytes(),
            "compaction_due": self.compaction_due,
        }

    @_writer
    def compact(
        self, max_epochs: int | None = None, tier: str = "oldest"
    ) -> "MapIndex":
        """Fold epochs + tombstones back together — the LSM merge step
        (run by ``update()`` past the epoch/tombstone thresholds when
        ``auto_compact``, else on the caller's schedule when
        ``compaction_due``).

        ``max_epochs=None`` (default) is the FULL fold: every segment
        epoch into one, all tombstones reclaimed — an O(index) rewrite,
        fine at small scale, a multi-hour stall at 100 TB.
        ``max_epochs=K`` bounds the fold to K contiguous epochs so
        upkeep is schedulable (cost tracks the folded epochs' bytes,
        never the index size — measured by ``scripts/churn_probe.py``):

        - ``tier="newest"`` — minor compaction: fold the K newest
          epochs (the small fresh deltas) into one. Cheap, cuts read
          amplification where it grows, retains every tombstone still
          guarding older epochs, and preserves time travel below the
          folded range. The steady-state upkeep mode for a large
          index: the big base epoch is never rewritten.
        - ``tier="oldest"`` — major step: fold the K oldest epochs
          (including the base) and reclaim every tombstone at or below
          the fold target. Run rarely, sized by how many epochs the
          schedule can afford to rewrite.

        Both forms are one fold of epochs ``[lo, hi]``: the rows
        :meth:`_live` keeps (tombstones ``<= hi`` applied) are written
        at the target epoch — ``hi`` for a bounded fold, ``max(segment
        ∪ tombstone epochs)`` for the full fold. Moving a survivor from
        ``e`` to a target ``>= e`` never changes its liveness: for any
        tombstone ``T <= hi`` the row survived (``e >= T``), so the
        target survives it too; any ``T`` above the target killed it
        before and still does. Tombstones at or below the minimum
        remaining segment epoch are then swept — after a full fold,
        all of them. Time travel: snapshots below the target inside
        the folded range are destroyed (rows moved up); snapshots at
        or above it — and, for a newest-tier fold, below the folded
        range — read identically.

        Commit (journal + roll-forward, :meth:`_recover_fold`): write
        the folded copy to ``segments/.fold_tmp`` (invisible to
        readers) -> journal ``fold.json`` (atomic) -> delete the folded
        ``epoch=`` dirs -> rename the tmp to ``epoch={target}`` -> drop
        the journal -> sweep dead tombstones. A crash anywhere
        re-enters through the journal at the next write-path entry;
        readers meanwhile serve the post-fold view and change nothing.
        """
        self._recover_fold()
        # janitor duty: a delete_range that died mid-call leaves its
        # _scratch staging behind (its finally never ran). The lease
        # serializes writers ACROSS handles, but NOT this handle's own
        # reentrant path — delete_range's _auto_fold calls compact()
        # at depth 2 while its scratch may still be referenced — so
        # only sweep when this compact() holds the OUTERMOST lease
        # (ADVICE r11 high).
        if self._lease_depth <= 1:
            _delete_path(
                self.spark, posixpath.join(self.root, _SCRATCH)
            )
        epochs = _list_epochs(self.spark, self.segments_path)
        if max_epochs is not None and 0 < max_epochs < len(epochs):
            if tier not in ("oldest", "newest"):
                raise ValueError(f"tier must be oldest|newest, got {tier!r}")
            fold = (
                epochs[:max_epochs]
                if tier == "oldest"
                else epochs[-max_epochs:]
            )
            target = fold[-1]
            rows = self._live(fold[0], target)
        else:
            # full-fold target = max over segments AND tombstones: a
            # pure-delete batch (delete_range / all-tombstone update)
            # holds the top epoch number with no segment dir, and
            # folding to max(segment) alone would hand that number
            # BACK to the next update() once the tombstones are
            # reclaimed — silently rebinding an already-observable
            # as_of_epoch snapshot to a different state (_next_epoch's
            # distinct-snapshot contract; caught by tests/
            # test_model.py). A fully tombstoned index folds to zero
            # rows and still keeps its epoch: the unpartitioned
            # .fold_tmp write creates the dir even for an empty frame.
            fold = epochs
            target = max(
                epochs + _list_epochs(self.spark, self.tombstones_path),
                default=0,
            )
            rows = self._live()
        (
            rows.repartitionByRange("index_key", DOC_KEY)
            .sortWithinPartitions("index_key", DOC_KEY, "emit_pos")
            .write.mode("overwrite")
            .parquet(self._fold_tmp_path)
        )
        # COMMIT POINT: from here a crash rolls forward via the journal
        self.put_sidecar(
            {
                "type": "fold-intent",
                "fold_epochs": [int(e) for e in fold],
                "fold_max": int(target),
            },
            name=_FOLD_INTENT,
        )
        self._recover_fold()
        self._set_compaction_due()
        self._refresh_views()
        return self


def list_indexes(spark: SparkSession, store_path: str) -> list[dict]:
    """Discover every index namespace under a store — the catalog view
    an operator of a multi-index deployment starts from (the reference
    namespaces LevelDB keys per index, index.js:118, but exposes no
    listing; this is ops-grade completeness alongside ``stats()`` and
    ``drop()``). Metadata-only: directory listings, never a data scan.

    Per index: name, live/total segment epochs, segment and tombstone
    bytes, the JSON sidecars present (the stored-index families write
    typed sidecars — 'ivfpq', 'band', 'sketch', ... — so the catalog
    says WHAT each index is without opening it), and whether a writer
    currently holds the lease.
    """
    fs, root, _ = _hadoop_fs(spark, store_path)
    if not fs.exists(root):
        return []
    out = []
    for status in fs.listStatus(root):
        if not status.isDirectory():
            continue
        name = status.getPath().getName()
        base = posixpath.join(store_path, name)
        seg = posixpath.join(base, _SEGMENTS)
        seg_fs, seg_path, _ = _hadoop_fs(spark, seg)
        if not seg_fs.exists(seg_path):
            continue  # not an index namespace
        sidecars = {}
        lease_held = False
        lease_age = None
        lease_hb_age = None
        for child in fs.listStatus(status.getPath()):
            cname = child.getPath().getName()
            if cname == "writer.lock":
                lease_held = True
            elif cname.endswith(".json"):
                sidecars[cname] = None
        # type tags from the sidecars, without loading payloads beyond
        # the (tiny) JSON
        probe = MapIndex.__new__(MapIndex)
        probe.spark = spark
        probe.name = name
        probe.store_path = store_path
        for cname in list(sidecars):
            try:
                meta = probe.get_sidecar(name=cname)
                sidecars[cname] = (meta or {}).get("type")
            except Exception:
                sidecars[cname] = "unreadable"
        if lease_held:
            # Evidence for the break_lease decision: a live writer's
            # heartbeat age stays ~LEASE_HEARTBEAT_SECS however long
            # the mutation runs; a dead holder's grows without bound.
            # Shared staleness rules (writer_id match, acquisition
            # clamp) live in MapIndex._lease_liveness — the SAME
            # evidence break_lease(min_dead_secs=...) guards on.
            try:
                _lock, lease_age, lease_hb_age = probe._lease_liveness()
            except Exception:  # noqa: BLE001 — torn/unreadable lock
                pass
        out.append(
            {
                "name": name,
                "epochs": _list_epochs(spark, seg),
                "segment_bytes": _path_bytes(spark, seg),
                "tombstone_bytes": _path_bytes(
                    spark, posixpath.join(base, _TOMBSTONES)
                ),
                "sidecars": sidecars,
                "lease_held": lease_held,
                "lease_age_secs": lease_age,
                "lease_heartbeat_age_secs": lease_hb_age,
            }
        )
    return sorted(out, key=lambda d: d["name"])
