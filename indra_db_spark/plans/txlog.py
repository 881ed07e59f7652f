"""Versioned transaction log for multi-writer parquet tables — the one
storage layout every readonly lake table is written, released and opened
through (:mod:`plans.lake`, :mod:`assembly.snapshot`).  A minimal
snapshot-style transaction log — the same protocol shape the public table
formats use (Delta's `_delta_log` JSON commits, Iceberg's snapshot
manifests), reduced to what this lake needs:

- ``_txlog/v{N:012d}.json`` resolves the COMPLETE live file list of
  version N (snapshot manifests, not action deltas — every version
  doubles as its own checkpoint, so readers never replay a log chain).
  Small tables inline the list; past :data:`INLINE_MANIFEST_FILES` the
  manifest references immutable ``seg-<uuid>.json`` SEGMENTS of the list
  (the Iceberg manifest-list idea, one level): an append reuses every
  surviving segment by name and writes one new one — O(delta) commit
  bytes where the inline form wrote O(table) — and a remove rewrites
  only the segments it intersected.  Readers resolve segments once and
  cache them (immutable ⇒ name determines content).
- Readers resolve the latest version once and scan exactly those files:
  snapshot isolation by construction.  Data files are never mutated and
  never visible before their commit, so a reader can hold a snapshot
  across any number of concurrent commits.  A serving reader pins a
  version (:meth:`TxTable.pin`): its manifest and one parquet relation
  over its files are resolved once, and every pruned read at it
  (:meth:`TxTable.skip_read`) narrows that relation driver-side.  The
  first append records the schema, so opening a table reads no footer.
- Writers commit OPTIMISTICALLY: stage immutable data files under
  ``data/`` with UUID names, then claim version N+1 by atomically
  creating the next version file through a pluggable :class:`LogStore`
  (the exact seam the public table formats use): HDFS claims via
  namenode-arbitrated ``FileSystem.create(overwrite=false)``
  (:class:`HadoopLogStore`); bare local filesystems claim via
  write-temp + ``link(2)`` (:class:`LocalFsLogStore` — kernel-atomic
  EEXIST exclusivity, the O_CREAT|O_EXCL guarantee, plus atomic
  full-content visibility); object stores claim through ONE
  service-arbitrated conditional put (:class:`ObjectStoreLogStore` —
  ``If-None-Match: *`` semantics over any injected SDK client).
  Losing the race means re-reading the new latest
  version, REBASING, and retrying:

  * appends never conflict — rebase = (their list) ∪ (my adds);
  * compaction rebases over concurrent appends and only genuinely
    conflicts when a racing commit already removed one of the files it
    rewrote (someone else compacted them) — then it aborts cleanly and
    its staged files stay invisible garbage for :func:`vacuum`.

- A crash anywhere before the version-file create leaves only unreferenced
  files under ``data/`` — invisible to every reader, reclaimed by
  :func:`TxTable.vacuum` (which only ever deletes files referenced by NO
  retained version).
- Small deletes go MERGE-ON-READ (``delete_where(mode="dv")``): the
  manifest maps data files to deletion-vector sidecars of (physical file,
  row index) pairs; readers apply them with one anti-join, compaction
  materializes them, and any rewrite racing a DV on the same file
  conflicts instead of resurrecting the deleted rows.  Integrity rides
  the same manifests: CHECK constraints (batch-validated pre-stage,
  re-validated on rebase) and RESTORE-to-version rollback commits.

The reference has no analog (its readonly store is rebuilt wholesale per
release, readonly_dumping/); this closes the "table-format transaction
log" gap called out in round 6's verdict for incremental 100-TB serving.
"""

from __future__ import annotations

import bisect
import functools
import json
import os
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession

LOG_DIR = "_txlog"
DATA_DIR = "data"

#: manifest segmentation (the Iceberg manifest-list idea, reduced to one
#: level): past this many live files a manifest stores SEGMENT references
#: (immutable ``seg-<uuid>.json`` chunks of the file list, written once
#: and reused by later manifests) instead of the inline list — so a
#: commit writes O(delta + segments) bytes, not O(table).  At or below
#: the threshold the inline format is kept: tiny tables stay one-file
#: readable and every pre-segmentation manifest parses unchanged.
INLINE_MANIFEST_FILES = 64
#: target files per segment: at 100 TB / 1 GB files = 100k data files,
#: this is ~100 segments — an append rewrites ONE segment-name list plus
#: one new segment, ~0.1% of the bytes the full-snapshot form rewrote
SEGMENT_TARGET_FILES = 1024
#: appends create one (usually small) segment each; when more than this
#: many under-half-full segments would be carried forward, the smallest
#: are re-packed into fresh full segments — amortized O(delta·log) bytes
#: per commit, segment count stays O(files/target + fanin)
SEGMENT_MERGE_FANIN = 16

#: broadcast the DV sidecar side of the read anti-join only while the
#: total deleted-row count (manifest-carried, recorded at delete time) is
#: provably under this — rows, not on-disk bytes, because (file, pos)
#: sidecar parquet is extremely compressible (dictionary file names,
#: delta-packed positions): a byte gate admits payloads whose DECODED
#: hash relation blows past Spark's broadcast limits (r10 ADVICE #1).
#: 4M rows ≈ a few hundred MB built, far under the 8 GB / 512M-row caps.
DV_BROADCAST_MAX_ROWS = 4_000_000

#: segment-tier bloom budgets (r11 verdict next-round #1): a segment's
#: membership bloom — the OR-union of its members' word maps — rides
#: ``seg_meta`` in EVERY manifest, so it must stay small AND useful.
#: Per-file bloom words are SPARSE (≈ k·distinct words regardless of m),
#: so the per-file maps can be hashed under a segment-sized m at ~zero
#: extra stored bytes; the union is carried only while it stays under
#: SEG_BLOOM_MAX_WORDS words (bounding manifest bytes per segment per
#: column) and under SEG_BLOOM_MAX_LOAD occupancy (a saturated filter
#: admits everything — carrying it would be dead weight).  Past either
#: budget the segment simply carries no bloom and eq probes fall back to
#: opening it for its per-file words — admitting is always correct.
#: 4096 words ≈ ≤100 KB JSON worst case; at k=3 that serves segments up
#: to ~80k distinct values per bloom column.  Columns hotter than that
#: (a unique key over a 1024-file segment) are served by per-file blooms
#: behind the concurrent segment prefetch, or by clustering — the same
#: boundary at which a filter "belongs in a real index file, not the
#: log" (set_stats_columns' bloom_m cap).
SEG_BLOOM_MAX_WORDS = 4096
SEG_BLOOM_MAX_LOAD = 0.5
#: ceiling for the segment-tier m: word KEYS are JSON ints (~9 chars at
#: 2^26/64 indexes), so a bigger m costs nothing but key digits — the
#: cap just keeps the auto-sizing (bloom_m × SEGMENT_TARGET_FILES) from
#: minting absurd budgets
SEG_BLOOM_MAX_M = 1 << 26

#: driver-side bloom-probe budget for one skip_read call: probing is
#: O(files × IN-list values) dict lookups in the worst case (the range
#: stats cannot pre-cut a bloom-only column's candidate files), so past
#: this many value-probes the REMAINING files are admitted unprobed —
#: pruning is an optimization, admitting is always correct, and the
#: driver stall stays bounded (~seconds) instead of scaling with
#: |files| × |values|
SKIP_READ_PROBE_BUDGET = 20_000_000

#: data files younger than this survive vacuum() even when unreferenced:
#: an in-flight commit's staged files and freshly written manifest
#: segments are unreferenced until its claim wins, so ungated GC racing
#: that commit could delete segments its winning manifest references —
#: corrupting the LOG itself, not just orphaning data (r10 ADVICE #2).
#: The Delta/Iceberg orphan-file retention pattern; override per call.
VACUUM_MIN_AGE_MS = 15 * 60 * 1000

#: test seam, called between staging data files and the version-claim
#: attempt — lands a racing commit exactly inside the optimistic window
_pre_commit_hook = None

#: test seam, called INSIDE LogStore.try_create immediately before the
#: atomic claim operation — the tightest race window there is: the payload
#: is fully prepared, the claim has not happened.  Lets the contract test
#: land a racing commit (or inject a crash) exactly at the claim point.
_pre_claim_hook = None


class CommitConflict(RuntimeError):
    """A competing commit removed files this transaction rewrote."""


class ConstraintViolation(ValueError):
    """An incoming batch (or the existing table, when adding a
    constraint) violates a CHECK constraint; nothing was committed."""


class NoCommittedData(ValueError):
    """A read hit a table with no committed data (no versions, or a
    config-only / fully-emptied snapshot).  Subclasses ValueError so
    pre-existing ``except ValueError`` contracts keep working, but lets
    fallback paths (e.g. :meth:`plans.lake.ReadonlyLake.pruned`) catch
    EXACTLY this case without also swallowing misuse errors like an
    empty eq-list (r11 ADVICE #1)."""


def eq_lists(eq: dict | None) -> dict[str, list]:
    """Point predicates as sorted distinct value lists: each ``eq``
    entry is a single value or an IN-list for its column (the query
    algebra's HasHash shape)."""
    return {
        c: sorted(set(v))
        if isinstance(v, (list, tuple, set, frozenset))
        else [v]
        for c, v in (eq or {}).items()
    }


def _is_long(v) -> bool:
    return (
        isinstance(v, int)
        and not isinstance(v, bool)
        and -(1 << 63) <= v < 1 << 63
    )


#: joins a string list for its one trip to the JVM (see :func:`isin`)
_SEP = "\x00"


@functools.lru_cache(maxsize=None)
def _jvm_attr(jvm, path: str):
    """``jvm.<path>``, a class or a static method, looked up once per
    gateway: each step of a lookup is a py4j round trip."""
    return functools.reduce(getattr, path.split("."), jvm)


def isin(c: str, vals: list) -> Column:
    """``F.col(c).isin(vals)`` with the values bound as DATA, never as
    code: ``CAST(c AS <type>) INSET vals``, the set built on the JVM
    from one packed ``long[]`` or one joined string (a fixed handful of
    py4j calls at any list length; ``F.col(c).isin`` makes one per
    value).

    Spark's code generator spells integral literals into the generated
    Java, and an ``IN`` list of at most ``inSetConversionThreshold``
    values is one generated branch per value; only an ``InSet`` passes
    its values by reference, as a hash set.  So an ``==`` or a short
    ``IN`` is new code for every new key, and a served request would
    pay a Janino compile plus JIT work for each of its point lookups.
    Here every integer or string list is an ``InSet`` of the same set
    class at any length (the generated code casts the reference to it),
    and ``spark.sql.optimizer.inSetSwitchThreshold`` is 0 in
    :data:`session.DEFAULT_CONF`, so an int-typed ``InSet`` looks its
    values up in the set instead of a generated ``switch``.  The
    optimizer drops the cast again for a column of that type (or
    unwraps it for a narrower integral one), so parquet pushdown and
    ``_metadata`` file pruning see the same filter as an ``IN`` list.
    The cast sets the contract: integers probe an integral column and
    strings a string column.  Other values (floats, None, a string
    holding NUL) take ``F.col(c).isin``."""
    import struct

    from pyspark import SparkContext
    from pyspark.sql import functions as F

    j = functools.partial(_jvm_attr, SparkContext._jvm)
    if vals and all(_is_long(v) for v in vals):
        arr = SparkContext._gateway.new_array(j("long"), len(vals))
        j("java.nio.ByteBuffer.wrap")(
            struct.pack(f">{len(vals)}q", *vals)
        ).asLongBuffer().get(arr)
        typ = "bigint"
    elif vals and all(isinstance(v, str) and _SEP not in v for v in vals):
        utf8 = j("org.apache.spark.unsafe.types.UTF8String.fromString")
        arr = utf8(_SEP.join(vals)).split(utf8(_SEP), -1)
        typ = "string"
    else:
        return F.col(c).isin(vals)
    # built with JVM calls alone: PySpark's own column functions add
    # several round trips each (session lookup, call-site capture)
    expressions = "org.apache.spark.sql.classic.ExpressionUtils"
    inset = j("org.apache.spark.sql.catalyst.expressions.InSet")(
        j(f"{expressions}.expression")(
            j("org.apache.spark.sql.functions.col")(c).cast(typ)
        ),
        j("scala.collection.immutable.HashSet.from")(
            j("scala.collection.immutable.ArraySeq.unsafeWrapArray")(arr)
        ),
    )
    return Column(j(f"{expressions}.column")(inset))


def residual_filter(boxes: dict, eqs: dict[str, list]) -> Column:
    """The EXACT predicate of a box/point probe: ``lo <= col <= hi`` per
    ``boxes`` entry (a None edge is open) AND ``col IN vals`` per
    ``eqs`` entry (an empty list matches nothing).  Every leaf scan
    applies it on top of whatever pruning chose the files, so the rows
    returned never depend on the stats.  The point values go through
    :func:`isin`, even a single one: they are the request's keys, and
    bound as data they leave the generated code the same for every
    request of a shape."""
    from pyspark.sql import functions as F

    cond = F.lit(True)
    for c, (lo, hi) in boxes.items():
        if lo is not None:
            cond = cond & (F.col(c) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(c) <= F.lit(hi))
    for c, vals in eqs.items():
        cond = cond & isin(c, vals)
    return cond


class LogStore:
    """Pluggable commit-claim primitive — the seam the public table
    formats call a LogStore: atomically publish the manifest for version
    N+1 such that exactly ONE racing writer succeeds and readers never
    act on a claim that lost.

    Contract (the whole interface is one method):

    - ``try_create(name, payload) -> bool`` must be ATOMIC with respect to
      concurrent ``try_create`` calls for the same ``name`` from any
      process on any node: exactly one returns True, every other returns
      False, and no invocation may corrupt or truncate the winner's
      payload.
    - A crash mid-call must leave the claim either absent or complete —
      a reader can never be told version N exists and then fail to parse
      it (the implementations below achieve this with namenode-arbitrated
      create and write-temp + atomic link respectively).

    Implementations: :class:`HadoopLogStore` (HDFS and any Hadoop
    FileSystem whose ``create(overwrite=false)`` is arbitrated by a
    central namespace — the namenode), :class:`LocalFsLogStore` (bare
    local filesystems, where Hadoop's RawLocalFileSystem create is
    CHECK-then-create and therefore racy).  An object store (S3 and
    friends) satisfies the same contract with a conditional put
    (``If-None-Match: *`` — one PUT wins, the rest get 412): implement
    ``try_create`` over the store SDK and pass the instance to
    :class:`TxTable`; nothing else in the protocol changes.
    """

    def try_create(self, name: str, payload: bytes) -> bool:
        raise NotImplementedError


class HadoopLogStore(LogStore):
    """Claim via write-temp + ``FileSystem.rename`` — the HDFS LogStore
    shape the public formats use: the payload is FULLY written and closed
    under a dot-prefixed temp name (invisible: ``_versions`` only lists
    ``v*.json``), then renamed onto the version name.  On HDFS the rename
    is one namenode RPC that returns false when the destination exists —
    an atomic claim with all-or-nothing content visibility (the earlier
    claim-then-write form left a window where a crashed writer published
    a permanently torn manifest).  A crash before the rename leaves only
    the invisible temp file.  Correct on any FileSystem with
    namenode-style rename arbitration; NOT safe on RawLocalFileSystem
    (java renameTo overwrites an existing destination there) — TxTable
    auto-selects :class:`LocalFsLogStore` for file-scheme roots."""

    def __init__(self, fs, jvm, root: str):
        self._fs = fs
        self._jvm = jvm
        self._root = root

    def try_create(self, name: str, payload: bytes) -> bool:
        tmp = _jpath(
            self._jvm, self._root, LOG_DIR,
            f".claim-{uuid.uuid4().hex}-{name}",
        )
        out = self._fs.create(tmp, True)
        out.write(bytearray(payload))
        out.close()
        claimed = False
        try:
            if _pre_claim_hook is not None:
                _pre_claim_hook()
            final = _jpath(self._jvm, self._root, LOG_DIR, name)
            if self._fs.exists(final):
                return False  # fast path; the rename below is the truth
            claimed = bool(self._fs.rename(tmp, final))
            return claimed
        finally:
            if not claimed and self._fs.exists(tmp):
                self._fs.delete(tmp, False)


class LocalFsLogStore(LogStore):
    """Genuinely-atomic local-FS claim (r7 verdict #3): write the payload
    to an O_CREAT|O_EXCL temp file, fsync, then ``link(2)`` it into place.

    The hardlink is a single atomic namespace operation — it fails with
    EEXIST when the version is already claimed, giving the same
    kernel-level exclusivity as O_CREAT|O_EXCL on the final name, and
    because the payload is fully written and fsynced BEFORE the link, the
    manifest becomes visible all-or-nothing: there is no window where a
    reader can list the version and parse half a manifest (the flaw of
    claim-then-write).  The directory is fsynced after the link so the
    claim survives a machine crash, not just a process crash."""

    def __init__(self, log_dir: str):
        self.log_dir = log_dir

    def try_create(self, name: str, payload: bytes) -> bool:
        final = os.path.join(self.log_dir, name)
        tmp = os.path.join(
            self.log_dir, f".claim-{uuid.uuid4().hex}-{name}"
        )
        fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        try:
            os.write(fd, payload)
            os.fsync(fd)
        finally:
            os.close(fd)
        try:
            if _pre_claim_hook is not None:
                _pre_claim_hook()
            try:
                os.link(tmp, final)  # the atomic claim
            except FileExistsError:
                return False
        finally:
            os.unlink(tmp)
        dfd = os.open(self.log_dir, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
        return True


class ObjectStoreLogStore(LogStore):
    """Conditional-put claim for object stores (the S3 class): the claim
    is ONE service-side conditional write — ``PUT If-None-Match: *`` on
    S3, ``if_generation_match=0`` on GCS, ETag ``If-None-Match`` on
    Azure Blob.  Exactly one racing PUT succeeds (the service
    arbitrates), every loser gets a precondition failure, and object
    stores publish whole objects atomically — so there is no
    torn-manifest window and, unlike the filesystem stores, no temp
    object to clean up on ANY path (success, loss, or crash).

    The adapter is SDK-agnostic: pass any ``client`` exposing
    ``put_if_absent(key: str, payload: bytes) -> bool`` (True = created;
    False = the key already existed — the HTTP 412 case).  Contract
    fine print every client must honor: a 412 seen AFTER the SDK's own
    transport retry can be the client racing ITS OWN successful PUT
    whose 200 was lost — the client must read the key back and return
    True iff the stored bytes equal ``payload`` (see
    :meth:`S3ConditionalPutClient._self_win`); misreporting a self-win
    as a loss makes the commit loop rebase over its own manifest.
    :class:`S3ConditionalPutClient` below is the executable boto3
    mapping (imported lazily, so the SDK stays an optional dependency);
    GCS (``if_generation_match=0``) and Azure (ETag ``If-None-Match``)
    map the same way.  Reads still flow through the table's Hadoop
    filesystem (s3a:// and friends list and read the same keys), so only
    the CLAIM routes through the SDK — the same split the public table
    formats use for S3 multi-writer commits.  ``key_prefix`` is the
    store key of the table's ``_txlog/`` directory (bucket-relative or
    absolute, whatever the client expects)."""

    def __init__(self, client, key_prefix: str = LOG_DIR + "/"):
        self._client = client
        self._key_prefix = key_prefix

    def try_create(self, name: str, payload: bytes) -> bool:
        if _pre_claim_hook is not None:
            _pre_claim_hook()
        return bool(
            self._client.put_if_absent(self._key_prefix + name, payload)
        )


class S3ConditionalPutClient:
    """The ``put_if_absent`` contract over the real AWS SDK — the one
    executable mapping :class:`ObjectStoreLogStore` needs to commit
    against S3 (r8 verdict #4): a single ``PutObject`` with
    ``IfNoneMatch="*"``.  S3 arbitrates server-side — exactly one racing
    PUT returns 200; losers get **412 PreconditionFailed** (the key
    exists → ``False``) or **409 ConditionalRequestConflict** (another
    conditional write on the same key was still in flight, outcome
    undecided → back off and re-attempt; if that writer won, the retry
    sees 412).  Object publication is atomic and whole, so there is no
    torn-manifest window and no temp residue on any path.

    boto3 is an OPTIONAL dependency imported only when no ``client`` is
    injected; tests drive the adapter against moto's S3, which enforces
    the same 412 semantics server-side.

    Claims route here; READS still flow through the table's ``s3a://``
    Hadoop filesystem (the same split the public formats use for S3
    multi-writer commits) — so construct the table as::

        store = ObjectStoreLogStore(
            S3ConditionalPutClient("bucket"), key_prefix="lake/tbl/_txlog/"
        )
        TxTable(spark, "s3a://bucket/lake/tbl", log_store=store)
    """

    def __init__(self, bucket: str, client=None, **client_kwargs):
        if client is None:
            import boto3  # deferred: optional dependency

            client = boto3.client("s3", **client_kwargs)
        self._s3 = client
        self._bucket = bucket

    def put_if_absent(
        self, key: str, payload: bytes, max_retries: int = 8
    ) -> bool:
        from botocore.exceptions import ClientError

        for attempt in range(max_retries):
            try:
                self._s3.put_object(
                    Bucket=self._bucket,
                    Key=key,
                    Body=payload,
                    IfNoneMatch="*",
                )
                return True
            except ClientError as e:
                code = e.response.get("Error", {}).get("Code")
                status = e.response.get("ResponseMetadata", {}).get(
                    "HTTPStatusCode"
                )
                if code == "PreconditionFailed" or status == 412:
                    # 412 does NOT always mean another writer won: if our
                    # own successful PUT's 200 was lost to the network,
                    # the SDK's transport retry re-sends and gets 412
                    # against OUR object.  Misreporting that as a loss
                    # makes the commit loop rebase over its own manifest
                    # (duplicate file refs / spurious conflicts), so read
                    # the key back and claim the win iff the content is
                    # byte-identical to this payload.  Racing payloads
                    # can't collide: manifests differ in ts_ms/action/
                    # segments even for identical file lists.
                    return self._self_win(key, payload)
                if code == "ConditionalRequestConflict" or status == 409:
                    time.sleep(min(0.05 * 2**attempt, 1.0))
                    continue
                raise
        raise RuntimeError(
            f"s3://{self._bucket}/{key}: conditional PUT still conflicted "
            f"after {max_retries} attempts — a writer storm on one "
            "version key; re-read the snapshot and rebase"
        )

    def _self_win(self, key: str, payload: bytes) -> bool:
        """412 disambiguation: True iff the object at ``key`` is OUR
        payload (a lost-200 transport retry racing our own success).
        Staged data-file names are uuid-per-writer, so byte-identical
        content implies the same writer."""
        try:
            got = self._s3.get_object(Bucket=self._bucket, Key=key)[
                "Body"
            ].read()
        except Exception:  # noqa: BLE001 — unreadable ⇒ treat as a loss
            return False
        return got == payload


def _json_safe(v):
    """Stats values must survive a JSON round trip ORDER-INTACT, so only
    ints/floats/strs/bools/None pass through; anything else stringifies
    as a LAST-RESORT representation that :meth:`TxTable.skip_read` will
    never compare against a non-str bound (its type guard treats
    cross-type comparisons as unprunable).  ``_stage`` filters stats
    columns to numeric/string/boolean dtypes up front, so in practice
    this branch never fires for freshly-collected stats."""
    return v if isinstance(v, (int, float, str, bool)) or v is None else str(v)


def _nullable(t):
    """A schema's JSON (``StructType.jsonValue()``) with every field,
    array element and map value nullable — the schema Spark reads back
    from a parquet footer, so recording it at the first append leaves
    every later schema check as it was when the footer decided."""
    if not isinstance(t, dict):
        return t
    if t["type"] == "struct":
        return {**t, "fields": [
            {**f, "nullable": True, "type": _nullable(f["type"])}
            for f in t["fields"]
        ]}
    if t["type"] == "array":
        return {**t, "containsNull": True,
                "elementType": _nullable(t["elementType"])}
    if t["type"] == "map":
        return {**t, "valueContainsNull": True,
                "keyType": _nullable(t["keyType"]),
                "valueType": _nullable(t["valueType"])}
    return t  # udt and other leaf types


def _cache_put(cache: dict, key, value, cap: int = 4096) -> None:
    """Bounded cache insert: full clear at ``cap`` — crude but correct,
    since every cached source here is immutable (uuid-named segments,
    data-file sizes) and re-reads transparently after a clear.  One
    place to change if the eviction policy ever needs to be smarter."""
    if len(cache) >= cap:
        cache.clear()
    cache[key] = value


def _jpath(jvm, *parts):
    p = jvm.org.apache.hadoop.fs.Path(parts[0])
    for more in parts[1:]:
        p = jvm.org.apache.hadoop.fs.Path(p, more)
    return p


def default_log_store(fs, jvm, root: str) -> LogStore:
    """The claim primitive for the log at ``root/_txlog`` on the resolved
    filesystem ``fs``: :class:`LocalFsLogStore` for a local filesystem,
    :class:`HadoopLogStore` for every other.

    Decided on the RESOLVED filesystem, not the path string: a
    scheme-less root resolves through fs.defaultFS, and a string-based
    check would bolt a local-disk log store onto an HDFS-resident log
    (split-brain commits).  For a truly local FS, Hadoop's rename/create
    primitives are check-then-act, so claims go through the atomic-link
    store."""
    if str(fs.getUri().getScheme() or "file") == "file":
        local_root = root
        if local_root.startswith("file:"):
            local_root = "/" + local_root[5:].lstrip("/")
        return LocalFsLogStore(os.path.join(local_root, LOG_DIR))
    return HadoopLogStore(fs, jvm, root)


def log_versions(fs, jvm, root: str) -> list[int]:
    """Sorted numbers N of the ``v{N:012d}.json`` entries claimed in the
    log at ``root/_txlog`` (which must exist)."""
    out = []
    for f in fs.listStatus(_jpath(jvm, root, LOG_DIR)):
        name = f.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                pass
    return sorted(out)


class TxTable:
    """One transaction-logged parquet table rooted at ``root``.

    ``log_store`` overrides the claim primitive (e.g. an object-store
    conditional-put adapter); by default local roots (no scheme, or
    ``file:``) get :class:`LocalFsLogStore` and everything else gets
    :class:`HadoopLogStore`."""

    def __init__(
        self, spark: SparkSession, root: str, log_store: LogStore | None = None
    ):
        self.spark = spark
        self.root = root.rstrip("/")
        self._jvm = spark.sparkContext._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        self._fs = _jpath(self._jvm, self.root).getFileSystem(conf)
        self._fs.mkdirs(_jpath(self._jvm, self.root, LOG_DIR))
        self._fs.mkdirs(_jpath(self._jvm, self.root, DATA_DIR))
        self._log_store = (
            log_store
            if log_store is not None
            else default_log_store(self._fs, self._jvm, self.root)
        )
        # segment membership cache: segments are IMMUTABLE (uuid-named,
        # written once, never rewritten), so a name fully determines its
        # contents — cache hits make changes()/vacuum() manifest walks and
        # rebase reuse O(new segments), not O(versions × segments)
        self._seg_cache: dict[str, tuple[str, ...]] = {}
        # per-segment pruning aggregates awaiting their manifest (same
        # immutability argument; computed once at segment-write time)
        self._seg_meta_cache: dict[str, dict] = {}
        # observability: physical segment-file opens (cache misses) —
        # the segment-level pruning tests pin reads ∝ surviving segments
        self.seg_opens = 0
        # the manifest this writer last rebased against (_snapshot_full),
        # consulted by _try_claim to carry its segments forward
        self._rebase_base: dict | None = None
        # per-file skipping stats collected at stage time, claimed by the
        # next winning commit (keys are staged uuid names — they cannot
        # collide across commits)
        self._pending_stats: dict[str, dict] = {}
        # last claim attempt's freshly written segments, keyed by the
        # exact (leftover files, their stats) they hold: a commit RETRY
        # whose re-plan packs the identical leftover reuses them instead
        # of minting new ones — bounding a contended commit's orphaned
        # segments at O(1) instead of O(retries) (r10 verdict finding #3)
        self._attempt_segs: tuple[str, list[str]] | None = None
        # DV sidecar row counts recorded at delete time (same
        # claimed-by-next-commit protocol); the manifest carries them so
        # the read anti-join's broadcast gate is a row-count decision
        # with zero per-read RPCs
        self._pending_dv_rows: dict[str, int] = {}
        # data files are immutable (uuid-named, written once), so their
        # sizes never change — cache getFileStatus results per process
        # instead of re-issuing serial RPCs on every DV-carrying read
        self._size_cache: dict[str, int] = {}
        # serving state of committed versions, which never change: the
        # raw manifest bodies skip_read/pin resolved, and the parquet
        # relation over each pinned version's files (:meth:`pin`) — a
        # skip_read at a pinned version makes no filesystem call, builds
        # no relation and runs no footer job
        self._bodies: dict[int, dict] = {}
        self._relations: dict[int, DataFrame] = {}

    # ---- log primitives -------------------------------------------------

    def _versions(self) -> list[int]:
        return log_versions(self._fs, self._jvm, self.root)

    def _read_log_json(self, name: str) -> dict | list:
        p = _jpath(self._jvm, self.root, LOG_DIR, name)
        stream = self._fs.open(p)
        try:
            text = self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        return json.loads(text)

    def _read_segment_full(
        self, name: str
    ) -> tuple[tuple[str, ...], dict]:
        """(members, per-file stats) of one immutable manifest segment,
        cached by name.  Two formats: a bare JSON list of file names
        (pre-stats segments) and ``{"files": [...], "stats": {...}}``."""
        hit = self._seg_cache.get(name)
        if hit is not None:
            return hit
        self.seg_opens += 1
        entry = self._parse_segment(self._read_log_json(name))
        # bound ~4096 × target-files × ~50 B names ≈ 200 MB worst case
        _cache_put(self._seg_cache, name, entry)
        return entry

    @staticmethod
    def _parse_segment(raw) -> tuple[tuple[str, ...], dict]:
        if isinstance(raw, dict):
            return tuple(raw["files"]), raw.get("stats") or {}
        return tuple(raw), {}

    def _prefetch_segments(self, names: list[str]) -> None:
        """Cold-open segment fan-in: resolve cache misses CONCURRENTLY.
        A 100k-file table's head manifest references ~100 immutable
        segments; a cold ``snapshot()``/``read()`` on an object store
        would otherwise pay ~100 SERIAL round trips (r10 verdict's one
        caveat on the read path).  py4j serves each Python thread over
        its own gateway connection, so the reads genuinely overlap; any
        per-segment failure is swallowed here and surfaces with the real
        error on the sequential re-read.  Cache mutation stays on the
        calling thread."""
        from concurrent.futures import ThreadPoolExecutor

        def _one(name: str):
            try:
                return name, self._read_log_json(name)
            except Exception:  # noqa: BLE001 — sequential path re-raises
                return name, None

        with ThreadPoolExecutor(max_workers=8) as ex:
            for name, raw in ex.map(_one, names):
                if raw is None or name in self._seg_cache:
                    continue
                self.seg_opens += 1
                _cache_put(self._seg_cache, name, self._parse_segment(raw))

    def _read_segment(self, name: str) -> tuple[str, ...]:
        """Members of one immutable manifest segment, cached by name."""
        return self._read_segment_full(name)[0]

    def _stats_of(self, body: dict) -> dict[str, dict]:
        """Per-file skipping stats a manifest resolves: inline
        ``"stats"`` plus every referenced segment's.  Files with no entry
        are simply never pruned.  Cold misses resolve concurrently."""
        out = dict(body.get("stats") or {})
        segs = body.get("segments", ())
        misses = [s for s in segs if s not in self._seg_cache]
        if len(misses) > 3:
            self._prefetch_segments(misses)
        for s in segs:
            out.update(self._read_segment_full(s)[1])
        return out

    def _read_version_raw(self, v: int) -> dict:
        """The manifest body AS WRITTEN — no segment expansion (the one
        place the version-file name is derived from a version number).
        For timestamp/config walks that only need body-level keys."""
        return self._read_log_json(f"v{v:012d}.json")

    def _body(self, v: int) -> dict:
        """The raw manifest body of committed version ``v``, read once
        per process (a committed version never changes).  Read-only:
        :meth:`_read_version` expands a fresh copy."""
        body = self._bodies.get(v)
        if body is None:
            body = self._read_version_raw(v)
            _cache_put(self._bodies, v, body, cap=64)
        return body

    def _read_version(self, v: int) -> dict:
        body = self._read_version_raw(v)
        if "files" not in body:
            # segmented manifest: expand the segment references so every
            # consumer keeps seeing the flat list; "segments" stays on the
            # body for the writer-side carry-forward
            body["files"] = self._segment_files(body)
        return body

    def _segment_files(self, body: dict) -> list[str]:
        """The flat file list of a segmented manifest body."""
        segs = body.get("segments", ())
        missing = [s for s in segs if s not in self._seg_cache]
        if len(missing) > 3:
            self._prefetch_segments(missing)
        return [f for s in segs for f in self._read_segment(s)]

    def snapshot(self) -> tuple[int, list[str]]:
        """(version, live file names) of the latest committed version;
        (0, []) for an empty table."""
        v, files, _, _, _, _ = self._snapshot_full()
        return v, files

    def _snapshot_full(
        self,
    ) -> tuple[int, list[str], dict, dict | None, dict, dict]:
        """(version, files, txns, schema, constraints, dv) of the latest
        manifest — every commit loop re-reads this ONE manifest and
        carries all five metadata maps forward into its claim."""
        vs = self._versions()
        if not vs:
            self._rebase_base = None
            return 0, [], {}, None, {}, {}
        v = vs[-1]
        body = self._read_version(v)
        self._rebase_base = body
        return (
            v,
            body["files"],
            body.get("txns", {}),
            body.get("schema"),
            body.get("constraints", {}),
            body.get("dv", {}),
        )

    def _try_claim(
        self,
        version: int,
        files: list[str],
        action: str,
        txns: dict | None = None,
        schema: dict | None = None,
        constraints: dict | None = None,
        dv: dict | None = None,
        stats_cols: list[str] | None = None,
        bloom_spec: dict | None = None,
    ) -> bool:
        """Atomically create the version file; False if somebody else
        already holds that version number (the optimistic-concurrency
        point: the :class:`LogStore` claim primitive — namenode-arbitrated
        create on HDFS, atomic link on local FS, conditional put on an
        object store).  The payload is fully serialized BEFORE the claim,
        so a store can publish it all-or-nothing.  ``txns`` is the
        carried-forward {writer_app_id: last_batch_id} watermark map —
        every manifest holds the complete map (like the file list, each
        version is its own checkpoint), so idempotent-writer recovery
        reads ONE manifest, never a log chain.

        Skipping stats carry THEMSELVES: the stats-column config and each
        surviving file's (n, min/max) entries are pulled forward from the
        rebase base, merged with the stats :meth:`_stage` collected for
        this commit's new files — no caller threads them (``stats_cols``
        is passed only by :meth:`set_stats_columns` to change the
        config).  Files nobody collected stats for simply have no entry
        and are never pruned."""
        body = {
            "version": version,
            "action": action,
            # wall-clock commit stamp for AS OF <timestamp> reads and
            # age-based vacuum.  Informational ordering only: versions are
            # the truth, and version_at() tolerates clock skew by scanning
            # ALL manifests instead of binary-searching the stamps.
            "ts_ms": int(time.time() * 1000),
        }
        # set(): a file name is a manifest reference, never a multiset —
        # defense in depth against any rebase that concatenates its own
        # already-committed adds (e.g. a claim misreported as lost)
        files_sorted = sorted(set(files))
        base = self._rebase_base
        if base is not None and base.get("version") != version - 1:
            base = None
        eff_stats_cols = (
            stats_cols
            if stats_cols is not None
            else (base or {}).get("stats_cols")
        )
        if eff_stats_cols:
            body["stats_cols"] = list(eff_stats_cols)
        eff_bloom = (
            bloom_spec
            if bloom_spec is not None
            else {
                "cols": (base or {}).get("bloom_cols"),
                "m": (base or {}).get("bloom_m"),
                "k": (base or {}).get("bloom_k"),
                "seg_m": (base or {}).get("bloom_seg_m"),
            }
        )
        if eff_bloom.get("cols"):
            body["bloom_cols"] = list(eff_bloom["cols"])
            body["bloom_m"] = eff_bloom["m"]
            body["bloom_k"] = eff_bloom["k"]
            if eff_bloom.get("seg_m"):
                body["bloom_seg_m"] = eff_bloom["seg_m"]
        known = dict(self._stats_of(base)) if base else {}
        known.update(self._pending_stats)
        stats = {f: known[f] for f in files_sorted if f in known}
        if len(files_sorted) <= INLINE_MANIFEST_FILES:
            body["files"] = files_sorted
            if stats:
                body["stats"] = stats
        else:
            # O(delta) commit: reference immutable segments, reusing the
            # rebase base's wherever their members all survive.  Segments
            # written by a LOSING claim are unreferenced garbage in
            # _txlog/, reclaimed by vacuum() exactly like staged data
            # files — a reader can only ever resolve a winner's.
            body["segments"] = self._plan_segments(
                files_sorted,
                version,
                stats,
                sort_col=(eff_stats_cols or [None])[0],
            )
            body["n_files"] = len(files_sorted)
            # the manifest-LIST layer: per-segment pruning aggregates so
            # a reader (skip_read) excludes WHOLE segments before opening
            # them — carried forward from the rebase base for reused
            # segments, computed at write time for new ones, recomputed
            # from the (already-cached) segment for legacy references.
            # O(segments) manifest bytes, like the reference list itself.
            base_meta = (base or {}).get("seg_meta") or {}
            seg_meta: dict[str, dict] = {}
            for s in body["segments"]:
                m = base_meta.get(s) or self._seg_meta_cache.get(s)
                if m is None:
                    members, seg_stats = self._read_segment_full(s)
                    m = self._segment_meta(members, seg_stats)
                    _cache_put(self._seg_meta_cache, s, m)
                seg_meta[s] = m
            body["seg_meta"] = seg_meta
        if txns:
            body["txns"] = txns
        if schema is not None:
            body["schema"] = schema
        if constraints:
            body["constraints"] = constraints
        if dv:
            body["dv"] = dv
            # sidecar row counts ride the manifest like the skipping
            # stats: carried forward from the rebase base for surviving
            # sidecars, merged with counts this writer recorded at
            # delete time.  Sidecars nobody counted simply have no entry
            # (the read gate falls back to byte sizing).
            known_rows = dict((base or {}).get("dv_rows") or {})
            known_rows.update(self._pending_dv_rows)
            live_sidecars = {n for lst in dv.values() for n in lst}
            dv_rows = {
                n: known_rows[n]
                for n in sorted(live_sidecars)
                if n in known_rows
            }
            if dv_rows:
                body["dv_rows"] = dv_rows
        ok = self._log_store.try_create(
            f"v{version:012d}.json", json.dumps(body).encode("utf-8")
        )
        if ok and (self._pending_stats or self._pending_dv_rows):
            # claimed into a manifest (directly or via its segments);
            # a LOST claim keeps them for the rebase retry
            self._pending_stats = {}
            self._pending_dv_rows = {}
        return ok

    @staticmethod
    def _segment_meta(
        members: tuple[str, ...] | list[str], seg_stats: dict[str, dict]
    ) -> dict:
        """Segment-level pruning aggregate — the manifest-LIST statistics
        one level above the per-file entries (Iceberg keeps partition
        summaries in its manifest list for exactly this): file count,
        total rows, and per-column [min of mins, max of maxes] ranges,
        valid only for columns EVERY member has an entry for (a file
        with no stats could hold anything, so it poisons the whole
        segment's aggregate).  An all-NULL member ([None, None] range)
        does not widen the aggregate — NULL matches no between/eq, so
        the file is excludable regardless; a segment all-NULL throughout
        records [None, None] itself.  Mixed value types across members
        (a stringified legacy stat next to native numerics) drop the
        column — cross-type pruning can never be trusted.

        Point-lookup tier (r11 verdict next-round #1): a segment-level
        membership bloom per bloom column — the OR-union of the members'
        word maps, preferring the segment-sized ``sb`` tier
        (``set_stats_columns(bloom_seg_m=...)``, the default) and
        falling back to the per-file ``b`` tier when a table predates
        it.  Unioning is sound only under ONE (m, k); a mixed-budget
        segment drops the column.  The union is carried only while it
        stays under :data:`SEG_BLOOM_MAX_WORDS` words and
        :data:`SEG_BLOOM_MAX_LOAD` occupancy — a segment past either
        budget carries no bloom and an eq probe must open it (correct,
        just unhelped; the budget rationale lives on the constants).
        With it, ``skip_read(eq=...)`` excludes whole segments BEFORE
        opening them on ANY layout — the two-level story range boxes
        already had, now for point lookups (the reference's analog is
        the btree's interior nodes, readonly_schema.py:635-637)."""
        meta: dict = {"n_files": len(members)}
        if not members or any(f not in seg_stats for f in members):
            return meta
        ns = [seg_stats[f].get("n") for f in members]
        if all(isinstance(n, int) for n in ns):
            meta["n_rows"] = sum(ns)
        cols = set(seg_stats[members[0]].get("c", {}))
        for f in members[1:]:
            cols &= set(seg_stats[f].get("c", {}))
        agg: dict = {}
        num = (bool, int, float)
        for c in sorted(cols):
            los, his = [], []
            for f in members:
                lo, hi = seg_stats[f]["c"][c]
                if lo is None and hi is None:
                    continue  # all-NULL file: excludable, never widens
                los.append(lo)
                his.append(hi)
            vals = los + his
            if not vals:
                agg[c] = [None, None]  # all-NULL segment: prunable whole
            elif all(isinstance(v, num) for v in vals) or all(
                isinstance(v, str) for v in vals
            ):
                agg[c] = [min(los), max(his)]
        if agg:
            meta["c"] = agg
        blooms: dict = {}
        for tier in ("sb", "b"):
            tier_cols = set(seg_stats[members[0]].get(tier, {}))
            for f in members[1:]:
                tier_cols &= set(seg_stats[f].get(tier, {}))
            for c in sorted(tier_cols - set(blooms)):
                specs = {
                    (
                        seg_stats[f][tier][c][0],
                        seg_stats[f][tier][c][1],
                        # scheme tag (r14): entries predating the tag
                        # (or hashed under a foreign scheme) must not
                        # be unioned into a probeable segment bloom
                        seg_stats[f][tier][c][3]
                        if len(seg_stats[f][tier][c]) > 3
                        else None,
                    )
                    for f in members
                }
                if len(specs) != 1:
                    continue  # mixed budgets cannot be unioned soundly
                m, k, scheme = specs.pop()
                if scheme is None:
                    continue  # untagged words: scheme unknown, no bloom
                words: dict[str, int] = {}
                for f in members:
                    for w, mask in seg_stats[f][tier][c][2].items():
                        w = str(w)
                        words[w] = words.get(w, 0) | mask
                    if len(words) > SEG_BLOOM_MAX_WORDS:
                        break
                if len(words) > SEG_BLOOM_MAX_WORDS:
                    continue  # over the manifest byte budget — dropped
                bits = sum(
                    bin(mask & 0xFFFFFFFFFFFFFFFF).count("1")
                    for mask in words.values()
                )
                if bits > SEG_BLOOM_MAX_LOAD * m:
                    continue  # saturated: admits ~everything, dead weight
                blooms[c] = [m, k, words, scheme]
        if blooms:
            meta["b"] = blooms
        return meta

    def _write_segment(
        self, members: list[str], stats: dict[str, dict] | None = None
    ) -> str:
        """Write one immutable segment file under ``_txlog/``.  No claim
        primitive needed: the uuid name is contention-free and nothing
        references the segment until a manifest that lists it WINS its
        claim — a reader can only ever open a fully-written segment.  A
        crash mid-write leaves an unreferenced file for vacuum()."""
        name = f"seg-{uuid.uuid4().hex}.json"
        p = _jpath(self._jvm, self.root, LOG_DIR, name)
        seg_stats = {
            f: stats[f] for f in members if f in (stats or {})
        } if stats else {}
        payload = (
            {"files": members, "stats": seg_stats} if seg_stats else members
        )
        out = self._fs.create(p, False)
        try:
            out.write(bytearray(json.dumps(payload).encode("utf-8")))
        finally:
            out.close()
        # same bound as _read_segment_full: a per-trigger streaming
        # writer mints one segment per commit for weeks — the write path
        # must not grow the caches past what the read path allows
        _cache_put(self._seg_cache, name, (tuple(members), seg_stats))
        _cache_put(
            self._seg_meta_cache, name,
            self._segment_meta(members, seg_stats),
        )
        return name

    def _plan_segments(
        self,
        files_sorted: list[str],
        version: int,
        stats: dict[str, dict] | None = None,
        sort_col: str | None = None,
    ) -> list[str]:
        """Segment references for a manifest holding ``files_sorted``.

        Reuse: every segment of the rebase base (the manifest this commit
        loop last read — version-1 on the claim that wins) whose members
        ALL survive is referenced as-is; files it doesn't cover (the adds,
        plus survivors of segments broken by removes) pack into new
        segments of :data:`SEGMENT_TARGET_FILES`.  An append therefore
        writes one small segment + the reference list; a remove rewrites
        only the segments it intersected.  When the carried tail of
        under-half-full segments exceeds :data:`SEGMENT_MERGE_FANIN`
        (one tiny segment per append accumulates), they are re-packed —
        the standard LSM-ish amortization, O(delta·log) bytes per commit.

        ``sort_col`` (the table's FIRST configured stats column — its
        declared primary pruning key) orders the fresh packing by each
        file's recorded min for that column instead of by uuid name
        (round 13, r12 verdict next-round #2): file→segment grouping is
        otherwise arbitrary, so even a perfectly key-clustered layout
        (``optimize(key)``) produced segments whose aggregate ranges
        spanned the whole domain and a unique-key point probe opened
        every segment.  With min-ordered packing, contiguous key ranges
        land in the SAME segment, ``seg_meta``'s range aggregate becomes
        tight, and :meth:`skip_read`'s segment-level eq/box check prunes
        segments with ZERO new metadata — the btree-interior-node story
        for unique keys, where the budgeted segment blooms are documented
        to saturate.  Grouping never affects correctness (seg aggregates
        are computed from actual members), so mixed/missing stats just
        fall back to name order.

        Falls back to packing everything fresh when the base is absent or
        not version-1 (first segmented commit, or a rebase that skipped
        versions) — correct, just not incremental."""
        fileset = set(files_sorted)
        reused: list[str] = []
        # members pinned locally: the by-name cache may evict mid-plan
        members_of: dict[str, tuple[str, ...]] = {}
        covered: set[str] = set()
        base = self._rebase_base
        if base and base.get("version") == version - 1:
            for seg in base.get("segments", ()):
                members = self._read_segment(seg)
                mset = set(members)
                if mset <= fileset and not (mset & covered):
                    reused.append(seg)
                    members_of[seg] = members
                    covered |= mset
        small = [
            s for s in reused
            if len(members_of[s]) < SEGMENT_TARGET_FILES // 2
        ]
        if len(small) > SEGMENT_MERGE_FANIN:
            demoted = set(small)
            for s in small:
                covered -= set(members_of[s])
            reused = [s for s in reused if s not in demoted]
        leftover = sorted(fileset - covered)
        if sort_col and stats:
            num = (bool, int, float)
            los = [
                ((stats.get(f) or {}).get("c") or {}).get(sort_col)
                for f in leftover
            ]
            los = [r[0] if r else None for r in los]
            # only when EVERY file carries a uniformly-typed min: a
            # missing or cross-type stat cannot be ordered soundly and
            # keeps the (equally correct) name order
            if los and (
                all(isinstance(v, num) for v in los)
                or all(isinstance(v, str) for v in los)
            ):
                leftover = [
                    f
                    for _, f in sorted(
                        zip(los, leftover), key=lambda t: (t[0], t[1])
                    )
                ]
        # retry-reuse: a lost claim re-plans against the new head, but an
        # append race usually leaves THIS commit's leftover (its staged
        # adds) byte-identical — the segments written for the losing
        # attempt hold exactly the right content, so reference them again
        # instead of orphaning them (segments are content-keyed by
        # (members, member stats); the existence check guards against a
        # concurrent vacuum having aged them out)
        key = json.dumps(
            [[f, stats.get(f) if stats else None] for f in leftover],
            sort_keys=True,
        )
        if self._attempt_segs and self._attempt_segs[0] == key:
            prior = self._attempt_segs[1]
            if all(
                self._fs.exists(_jpath(self._jvm, self.root, LOG_DIR, s))
                for s in prior
            ):
                return reused + prior
        new = [
            self._write_segment(
                leftover[i : i + SEGMENT_TARGET_FILES], stats
            )
            for i in range(0, len(leftover), SEGMENT_TARGET_FILES)
        ]
        self._attempt_segs = (key, new)
        return reused + new

    # ---- staging --------------------------------------------------------

    def _stage(self, df: DataFrame, n_files: int | None = None) -> list[str]:
        """Write ``df`` as immutable UUID-named parquet files under
        ``data/``; the files stay INVISIBLE (referenced by no version)
        until a commit claims them."""
        tag = uuid.uuid4().hex
        tmp = f"{self.root}/data/.stage-{tag}"
        out = df
        if n_files:
            # sized rewrites (compact / compact_small) cluster their
            # output by the table's FIRST stats column when one is
            # configured (round 13): a plain repartition() would destroy
            # the key ordering the serving layout depends on every
            # maintenance pass — same single shuffle either way, and
            # freshly-packed files get tight, disjoint ranges that the
            # manifest stats can actually prune on.  Layout-only: row
            # content and commit semantics are identical.
            key = ((self._rebase_base or {}).get("stats_cols") or [None])[0]
            # exact type match, not startswith: 'interval day to second'
            # startswith 'int' but is no clustering key; the set mirrors
            # the types whose range stats are collected at stage time —
            # clustering a column the manifest can't prune on buys nothing
            orderable = {"int", "bigint", "smallint", "tinyint",
                         "float", "double", "string", "boolean"}
            dt = dict(df.dtypes)
            if key and dt.get(key) in orderable:
                out = df.repartitionByRange(n_files, key)
            else:
                out = df.repartition(n_files)
        out.write.mode("overwrite").parquet(tmp)
        staged = []
        for f in self._fs.listStatus(_jpath(self._jvm, tmp)):
            name = f.getPath().getName()
            if not name.endswith(".parquet"):
                continue
            final = f"{tag}-{name}"
            if not self._fs.rename(
                f.getPath(), _jpath(self._jvm, self.root, DATA_DIR, final)
            ):
                raise RuntimeError(f"staging rename failed for {name}")
            staged.append(final)
        self._fs.delete(_jpath(self._jvm, tmp), True)
        cfg = self._rebase_base or {}
        stats_cols = cfg.get("stats_cols") or []
        bloom_cols = cfg.get("bloom_cols") or []
        if stats_cols or bloom_cols:
            # only types whose Python min/max order survives a JSON round
            # trip get entries: numeric + string.  A timestamp/decimal
            # column would stringify, and LEXICOGRAPHIC order on those
            # strings does not match value order ('99.0' > '130.0') —
            # pruning on it would silently drop matching files.  Skipped
            # columns simply never prune (correct, just unhelped).
            # Bloom columns are gated to int/string: their preimage is
            # CAST(col AS STRING), which must match the Python str() of
            # the probe value bit-for-bit (floats/bools don't round-trip).
            ok_prefix = ("int", "bigint", "smallint", "tinyint",
                         "float", "double", "string", "boolean")
            bloom_ok = ("int", "bigint", "smallint", "tinyint", "string")
            dtypes = dict(df.dtypes)
            cols = [
                c for c in stats_cols
                if c in dtypes and dtypes[c].startswith(ok_prefix)
            ]
            bcols = [
                c for c in bloom_cols
                if c in dtypes and dtypes[c].startswith(bloom_ok)
            ]
            if cols or bcols:
                self._pending_stats.update(
                    self._collect_stats(
                        staged, cols, bcols,
                        cfg.get("bloom_m") or 8192,
                        cfg.get("bloom_k") or 3,
                        bloom_seg_m=cfg.get("bloom_seg_m") or 0,
                    )
                )
        return staged

    def _collect_stats(
        self,
        names: list[str],
        cols: list[str],
        bloom_cols: list[str] | None = None,
        bloom_m: int = 8192,
        bloom_k: int = 3,
        bloom_seg_m: int = 0,
    ) -> dict[str, dict]:
        """Per-file (row count, min/max per stats column, packed Bloom
        words per bloom column) for just-staged files — scans of exactly
        those files (page-warm, O(delta)), collected at write time so the
        manifest's skipping stats are always fresh and no read-side index
        rebuild ever scans the table (the Iceberg column-stats-in-manifest
        shape).

        Bloom entries are self-describing ``[m, k, {word: mask}]`` (the
        config could change over the table's life; a probe must use the
        m/k the words were hashed under) and use the same xxhash64
        mapping as :func:`plans.skipindex._bloom_pos_sql`, so
        :meth:`skip_read`'s driver-side probes line up bit-for-bit with
        SQL-built filters.  Size per file per column
        is capped by construction at min(k·distinct, m/64) words.

        ``bloom_seg_m`` > ``bloom_m`` additionally packs a SECOND set of
        per-file words under the segment-tier budget (entry key ``sb``,
        same self-describing shape): per-file word maps are sparse
        (≈ k·distinct words under EITHER m), so the second tier costs
        ~the same bytes again but lets :meth:`_segment_meta` OR whole
        segments' maps into an unsaturated membership summary — the
        manifest-list bloom that prunes segments before they are opened
        (r11 verdict next-round #1).  Both tiers ride the SAME single
        job: the entries array just carries 2·k positions per column."""
        from pyspark.sql import functions as F

        aggs = [F.count(F.lit(1)).alias("_n")]
        for c in cols:
            aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
        data = self.spark.read.parquet(
            *[f"{self.root}/data/{n}" for n in names]
        )
        fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
        rows = data.groupBy(fname.alias("_file")).agg(*aggs).collect()
        out: dict[str, dict] = {}
        for r in rows:
            d = r.asDict()
            out[d["_file"]] = {"n": d["_n"]}
            if cols:
                out[d["_file"]]["c"] = {
                    c: [_json_safe(d[f"_lo_{c}"]), _json_safe(d[f"_hi_{c}"])]
                    for c in cols
                }
        if bloom_cols:
            from indra_db_spark.plans.skipindex import (
                BLOOM_SCHEME,
                _bloom_pos_sql,
            )

            # tier plan: tag t = tier_offset + column index; the file
            # tier is always collected, the segment tier only when a
            # distinct budget is configured (identical budgets would
            # just duplicate the words)
            tiers = [("b", bloom_m, 0)]
            if bloom_seg_m and bloom_seg_m != bloom_m:
                tiers.append(("sb", bloom_seg_m, len(bloom_cols)))
            # an EMPTY word map is a valid filter proving total absence
            # (e.g. an all-NULL file), distinct from "never collected"
            for st in out.values():
                for key, m, _off in tiers:
                    st[key] = {
                        c: [m, bloom_k, {}, BLOOM_SCHEME]
                        for c in bloom_cols
                    }
            # ONE job for every bloom column AND tier: the k·|cols|·|tiers|
            # positions explode as (tag, position) structs, so N columns
            # cost one scan of the staged delta, not N
            entries = [
                F.struct(
                    F.lit(off + ci).alias("t"),
                    F.expr(
                        _bloom_pos_sql(i, m, f"CAST({c} AS STRING)")
                    ).alias("p"),
                )
                for _key, m, off in tiers
                for ci, c in enumerate(bloom_cols)
                for i in range(bloom_k)
            ]
            words = (
                data.select(
                    fname.alias("_file"),
                    F.explode(F.array(*entries)).alias("e"),
                )
                .select("_file", F.col("e.t").alias("t"), F.col("e.p").alias("p"))
                .where(F.col("p").isNotNull())
                .select(
                    "_file",
                    "t",
                    F.expr("CAST(p div 64 AS INT)").alias("w"),
                    F.expr(
                        "shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))"
                    ).alias("bit"),
                )
                .groupBy("_file", "t", "w")
                .agg(F.expr("bit_or(bit)").alias("mask"))
                .collect()
            )
            n_cols = len(bloom_cols)
            for r in words:
                key = tiers[r["t"] // n_cols][0]
                out[r["_file"]][key][bloom_cols[r["t"] % n_cols]][2][
                    str(r["w"])
                ] = r["mask"]
        return out

    def _read_files(self, names: list[str], schema_json: dict | None):
        """Read data files THROUGH the manifest-recorded union schema when
        one exists — raw spark.read.parquet would infer from an arbitrary
        footer and silently drop evolved columns from files that predate
        them (or crash a later unionByName)."""
        reader = self.spark.read
        if schema_json is not None:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(schema_json))
        return reader.parquet(*[f"{self.root}/data/{n}" for n in names])

    def _dv_broadcast_ok(self, rel: list[str], dv_rows: dict) -> bool:
        """The broadcast-gate decision for a sidecar set: True while the
        decoded anti-join build side is provably small.  Manifest row
        counts decide where known (overlapping deletes over-count — only
        ever conservative); sidecars without a count estimate rows from
        cached on-disk sizes at the COMPRESSED end of the observed 2-4
        B/row band (bytes // 2 ≈ rows; over-estimating rows is the
        conservative direction).  Counted and estimated rows share ONE
        row ceiling — a second independent byte budget would either let
        the build side reach the budgets' sum or, sized tighter, never
        bind at all (r11 ADVICE #3 removed exactly such a dead gate)."""
        counted = sum(dv_rows[n] for n in rel if n in dv_rows)
        if counted > DV_BROADCAST_MAX_ROWS:
            return False
        uncounted = [n for n in rel if n not in dv_rows]
        if not uncounted:
            return True
        if len(uncounted) > 4096:
            return False
        try:
            est_bytes = sum(self._file_size(n) for n in uncounted)
        except Exception:  # noqa: BLE001 — sizing is advisory only
            return False
        return counted + est_bytes // 2 <= DV_BROADCAST_MAX_ROWS

    def _file_size(self, name: str) -> int:
        """On-disk bytes of one immutable data file, cached per process —
        a DV-carrying read must not pay serial getFileStatus RPCs per
        sidecar per read (r10 ADVICE #1)."""
        hit = self._size_cache.get(name)
        if hit is None:
            hit = self._fs.getFileStatus(
                _jpath(self._jvm, self.root, DATA_DIR, name)
            ).getLen()
            _cache_put(self._size_cache, name, hit, cap=65536)
        return hit

    def _read_files_dv(
        self,
        names: list[str],
        schema_json: dict | None,
        dv: dict,
        dv_rows: dict[str, int] | None = None,
    ):
        """The DATA-correct view of a file set: :meth:`_read_files` with
        the files' deletion vectors applied — one left-anti join of
        (physical file name, parquet row index) against the union of the
        relevant DV sidecars.  Every row-reading path (read, merge
        rewrite, delete rewrite, compact) MUST come through here: a raw
        read of a DV-carrying file resurrects its deleted rows.

        The sidecar side is explicitly broadcast while it is provably
        small: Catalyst's size estimate for a multi-file parquet union
        exceeds autoBroadcastJoinThreshold (10 MB default) well before
        the sidecars are actually big, demoting the anti-join to a
        sort-merge that SHUFFLES THE WHOLE FACT SIDE.  On local[32] the
        two shapes are within run noise (shuffle is in-memory), but on a
        cluster a full exchange of the fact table vs shipping tens of MB
        of sidecars is the difference that matters at 100 TB — the
        broadcast keeps the fact side exchange-free by construction
        (plan-pinned in tests).

        The gate is a ROW-COUNT decision, not a byte one: (file, pos)
        sidecar parquet compresses 10-50× (dictionary file names,
        delta-packed longs), so on-disk bytes under-estimate the decoded
        hash relation Spark must build — a byte-only gate could force a
        broadcast past the executor/driver 8 GB hard limit and turn a
        read that would have succeeded as a sort-merge join into a job
        failure (r10 ADVICE #1).  Deleted-row counts are recorded in the
        manifest at delete time (``dv_rows``, passed by callers that
        hold the manifest body; falls back to the last-snapshotted one),
        so the common case needs ZERO per-read RPCs; sidecars without a
        count (pre-r11 tables) gate on cached file sizes with a
        deliberately low byte ceiling.  Past the gate the planner's
        choice stands."""
        return self._with_dv(
            self._read_files(names, schema_json), names, dv, dv_rows
        )

    def _with_dv(
        self,
        df: DataFrame,
        names: list[str],
        dv: dict,
        dv_rows: dict[str, int] | None,
    ) -> DataFrame:
        """``df`` (rows of the files ``names``) with those files'
        deletion vectors applied — see :meth:`_read_files_dv`."""
        rel = sorted({n for f in names for n in dv.get(f, [])})
        if not rel:
            return df
        from pyspark.sql import functions as F

        dvdf = self.spark.read.parquet(
            *[f"{self.root}/data/{n}" for n in rel]
        ).select(
            F.col("file").alias("_txdv_file"),
            F.col("pos").alias("_txdv_pos"),
        )
        if dv_rows is None:
            dv_rows = (self._rebase_base or {}).get("dv_rows") or {}
        if self._dv_broadcast_ok(rel, dv_rows):
            dvdf = F.broadcast(dvdf)
        return (
            df.withColumn("_txdv_f", F.col("_metadata.file_name"))
            .withColumn("_txdv_p", F.col("_metadata.row_index"))
            .join(
                dvdf,
                (F.col("_txdv_f") == F.col("_txdv_file"))
                & (F.col("_txdv_p") == F.col("_txdv_pos")),
                "left_anti",
            )
            .drop("_txdv_f", "_txdv_p")
        )

    @staticmethod
    def _union_schema_json(a: dict | None, b: dict | None) -> dict | None:
        """Order-preserving field union of two recorded schemas — the
        rebase rule when two evolving appends race: the loser must carry
        the winner's new columns forward, not overwrite them.

        Overlapping field names must agree on their TYPE (r7 ADVICE):
        append() validates the incoming schema once against the
        pre-stage snapshot, so two racing appends that each add the same
        NEW column with different types would both pass that check — a
        name-only union here would let the loser's files be projected
        through the winner's type forever after, silently corrupting
        reads.  The rebase re-checks on the freshly snapshotted schema
        and raises :class:`CommitConflict` on a type mismatch, the same
        clean abort path as a compaction race (staged files stay
        invisible vacuum garbage)."""
        if a is None or b is None:
            return a if b is None else b
        a_by_name = {f["name"]: f for f in a["fields"]}
        for f in b["fields"]:
            prior = a_by_name.get(f["name"])
            if prior is not None and prior["type"] != f["type"]:
                raise CommitConflict(
                    f"schema-evolution race on column {f['name']!r}: a "
                    f"concurrent commit recorded type {prior['type']!r}, "
                    f"this commit staged {f['type']!r}; staged files "
                    "abandoned (vacuum reclaims them)"
                )
        out = dict(a)
        out["fields"] = list(a["fields"]) + [
            f for f in b["fields"] if f["name"] not in a_by_name
        ]
        return out

    # ---- schema enforcement / evolution ---------------------------------

    def table_schema(self):
        """The table's current StructType: the manifest-recorded schema
        when one exists (set by an evolving append), else the latest
        snapshot's parquet schema; None for an empty table."""
        from pyspark.sql.types import StructType

        v, files, _, schema, _, _ = self._snapshot_full()
        if schema is not None:
            return StructType.fromJson(schema)
        if not files:
            return None
        return self.spark.read.parquet(
            f"{self.root}/data/{files[0]}"
        ).schema

    def _check_schema(self, df: DataFrame, merge_schema: bool):
        """Enforce write-time schema compatibility (the table formats'
        contract — a raw parquet directory would let a drifted producer
        silently fork the schema and corrupt every later read).  Returns
        the schema dict to record in the manifest: the table's own at
        the first write, the evolved one after (None = no evolution
        needed).  ``merge_schema=False``: the incoming fields
        must be exactly the table's (order-insensitive, nullability
        ignored).  ``merge_schema=True``: overlapping fields must keep
        their types; NEW columns append to the recorded union schema,
        and :meth:`read` projects every file through it, so old files
        surface the new columns as nulls."""
        cur = self.table_schema()
        if cur is None:
            # the first write records the schema, so readers open the
            # table through it instead of inferring it from a footer
            return _nullable(df.schema.jsonValue())
        cur_by_name = {f.name: f for f in cur.fields}
        new_by_name = {f.name: f for f in df.schema.fields}
        for name, f in new_by_name.items():
            if name in cur_by_name and (
                f.dataType != cur_by_name[name].dataType
            ):
                raise ValueError(
                    f"schema mismatch on column {name!r}: table has "
                    f"{cur_by_name[name].dataType.simpleString()}, "
                    f"incoming has {f.dataType.simpleString()}"
                )
        added = [n for n in new_by_name if n not in cur_by_name]
        missing = [n for n in cur_by_name if n not in new_by_name]
        if not merge_schema and (added or missing):
            raise ValueError(
                f"schema mismatch: incoming adds {added or '[]'} and "
                f"omits {missing or '[]'}; pass merge_schema=True to "
                "evolve (new columns) — omitted columns read as null"
            )
        if not added and not missing:
            return None
        from pyspark.sql.types import StructType

        union = StructType(
            list(cur.fields)
            + [new_by_name[n] for n in df.schema.names if n in added]
        )
        return union.jsonValue()

    # ---- CHECK constraints ----------------------------------------------

    def constraints(self) -> dict[str, str]:
        """The table's current CHECK constraints: {name: SQL expression}."""
        return dict(self._snapshot_full()[4])

    def _check_constraints(self, df: DataFrame, cons: dict, what: str):
        """Enforce every CHECK constraint on ``df`` in ONE distributed
        pass (a single select of conditional sums — no per-constraint
        scan).  Standard SQL three-valued CHECK semantics: a row violates
        only when the expression is FALSE; NULL (unknown) passes — so
        ``x > 0`` admits null x, and rejecting nulls is spelled
        ``x IS NOT NULL`` explicitly."""
        if not cons:
            return
        from pyspark.sql import functions as F

        counts = df.select(
            *[
                F.sum(
                    F.when(~F.expr(expr), F.lit(1)).otherwise(F.lit(0))
                ).alias(name)
                for name, expr in cons.items()
            ]
        ).first()
        bad = {
            name: int(counts[name] or 0)
            for name in cons
            if (counts[name] or 0) > 0
        }
        if bad:
            raise ConstraintViolation(
                f"{what} violates CHECK constraint(s) "
                + ", ".join(
                    f"{n!r} ({cons[n]}): {c} row(s)" for n, c in bad.items()
                )
                + "; nothing committed"
            )

    def add_check_constraint(
        self, name: str, expr: str, max_retries: int = 20
    ) -> int:
        """Add a CHECK constraint (Delta ``ALTER TABLE ADD CONSTRAINT``
        analog): a metadata-only commit whose manifest carries
        {name: SQL expr}; every later append/merge batch is validated
        against it in one distributed pass BEFORE any file is staged.
        The EXISTING rows are validated first — a constraint the table
        already violates is refused (re-validated on every rebase, since
        a racing append may have landed violating rows in the window).
        Enforcement composes with the race rules the same way schema
        evolution does: a violating batch racing the constraint commit
        is caught on ITS rebase (append re-validates constraints that
        appeared after its pre-stage check)."""
        for _ in range(max_retries):
            base, files, txns, schema, cons, dv = self._snapshot_full()
            if cons.get(name) == expr:
                return base  # idempotent re-add
            if name in cons:
                raise ValueError(
                    f"constraint {name!r} already exists with a different "
                    f"expression ({cons[name]!r}); drop it first"
                )
            if files:
                self._check_constraints(
                    self._read_files_dv(files, schema, dv),
                    {name: expr},
                    "existing table",
                )
            new_cons = dict(cons)
            new_cons[name] = expr
            if self._try_claim(
                base + 1, files, "set_constraint", txns, schema, new_cons,
                dv,
            ):
                return base + 1
        raise RuntimeError(
            f"add_check_constraint lost {max_retries} commit races"
        )

    def drop_check_constraint(
        self, name: str, max_retries: int = 20
    ) -> int:
        """Remove a CHECK constraint (metadata-only commit)."""
        for _ in range(max_retries):
            base, files, txns, schema, cons, dv = self._snapshot_full()
            if name not in cons:
                return base  # idempotent
            new_cons = {k: v for k, v in cons.items() if k != name}
            if self._try_claim(
                base + 1, files, "drop_constraint", txns, schema, new_cons,
                dv,
            ):
                return base + 1
        raise RuntimeError(
            f"drop_check_constraint lost {max_retries} commit races"
        )

    # ---- transactions ---------------------------------------------------

    def append(
        self,
        df: DataFrame,
        max_retries: int = 20,
        merge_schema: bool = False,
    ) -> int:
        """Commit ``df``'s rows as new files; returns the new version.
        Appends never conflict — on a lost race the rebase is simply the
        winner's file list plus this append's staged files.  Incoming
        schema is ENFORCED against the table's (see
        :meth:`_check_schema`); ``merge_schema=True`` lets new columns
        evolve the recorded union schema instead of failing."""
        evolved = self._check_schema(df, merge_schema)
        checked_cons = self._snapshot_full()[4]
        # validate BEFORE staging: a violating batch costs one scan of
        # ITSELF and leaves zero garbage
        self._check_constraints(df, checked_cons, "append")
        staged = self._stage(df)
        if _pre_commit_hook is not None:
            _pre_commit_hook(self)
        for _ in range(max_retries):
            base, files, txns, schema, cons, dv = self._snapshot_full()
            # a constraint that appeared AFTER the pre-stage check (a
            # racing add_check_constraint) must be enforced on this batch
            # before the claim, or the race would admit violating rows
            fresh = {
                n: e for n, e in cons.items() if checked_cons.get(n) != e
            }
            if fresh:
                self._check_constraints(df, fresh, "append (rebase)")
                checked_cons = {**checked_cons, **fresh}
            # rebase rule for racing evolutions: claim the UNION of this
            # append's evolved schema and whatever the current snapshot
            # recorded — claiming `evolved` verbatim would erase a column
            # a concurrent evolving append just committed
            claim = (
                self._union_schema_json(schema, evolved)
                if evolved is not None
                else schema
            )
            if self._try_claim(
                base + 1, files + staged, "append", txns, claim, cons, dv
            ):
                return base + 1
        raise RuntimeError(f"append lost {max_retries} commit races")

    def append_at(self, df: DataFrame, version: int) -> bool:
        """Commit ``df``'s rows as exactly ``version``; False, committing
        nothing, unless ``version`` is the table's next one and this
        writer claims it first.  For a writer
        whose rows depend on the version they commit over (an id drawn
        from the log): :meth:`append` rebases the same staged files onto
        whatever version is next, so such a writer re-stages instead.  A
        refused commit's staged files stay invisible garbage for
        :func:`vacuum`."""
        evolved = self._check_schema(df, merge_schema=False)
        staged = self._stage(df)
        if _pre_commit_hook is not None:
            _pre_commit_hook(self)
        base, files, txns, schema, cons, dv = self._snapshot_full()
        if base != version - 1:
            return False
        self._check_constraints(df, cons, "append_at")
        return self._try_claim(
            version, files + staged, "append", txns,
            self._union_schema_json(schema, evolved), cons, dv,
        )

    def append_batch(
        self,
        df: DataFrame,
        app_id: str,
        batch_id: int,
        max_retries: int = 20,
    ) -> int | None:
        """Idempotent append for an EXACTLY-ONCE writer (a Structured
        Streaming ``foreachBatch`` sink): the manifest carries the
        highest committed ``batch_id`` per ``app_id``, so a batch
        replayed after a crash-between-commit-and-checkpoint is
        recognized and skipped instead of duplicated — at-least-once
        delivery + idempotent commit = exactly-once table contents (the
        public table formats' txn/SetTransaction pattern).  Returns the
        new version, or None if this (app_id, batch_id) was already
        committed.  The idempotency check re-runs inside the retry loop:
        losing a race to ONESELF (a zombie retry of the same writer) is
        detected on the rebase."""
        base, files, txns, schema, checked_cons, _ = self._snapshot_full()
        if txns.get(app_id, -1) >= batch_id:
            return None
        # streaming writers stay STRICT: a drifted producer must fail the
        # batch, not silently evolve the table mid-stream (only a first
        # write gets a schema back: the one it records)
        first = self._check_schema(df, merge_schema=False)
        self._check_constraints(df, checked_cons, "append_batch")
        staged = self._stage(df)
        if _pre_commit_hook is not None:
            _pre_commit_hook(self)
        for _ in range(max_retries):
            base, files, txns, schema, cons, dv = self._snapshot_full()
            if txns.get(app_id, -1) >= batch_id:
                return None  # a concurrent replay committed this batch
            fresh = {
                n: e for n, e in cons.items() if checked_cons.get(n) != e
            }
            if fresh:
                self._check_constraints(df, fresh, "append_batch (rebase)")
                checked_cons = {**checked_cons, **fresh}
            merged = dict(txns)
            merged[app_id] = batch_id
            if self._try_claim(
                base + 1, files + staged, "append", merged,
                self._union_schema_json(schema, first), cons, dv,
            ):
                return base + 1
        raise RuntimeError(f"append_batch lost {max_retries} commit races")

    def compact(
        self, target_file_mb: int = 128, max_retries: int = 20
    ) -> int | None:
        """Rewrite the current snapshot into ~``target_file_mb`` files and
        commit the swap; concurrent APPENDS are rebased over (their files
        survive untouched), a concurrent commit that already removed one
        of the rewritten files raises :class:`CommitConflict` and leaves
        the staged rewrite as invisible garbage for :func:`vacuum`.
        Returns the new version, or None for an empty table."""
        base, files, _, schema, _, dv0 = self._snapshot_full()
        if not files:
            return None
        # DV-applied read: compaction MATERIALIZES the deletion vectors —
        # the rewrite carries only surviving rows, and the swap drops the
        # rewritten files' dv entries (a new DV racing in conflicts, see
        # _swap_commit)
        df = self._read_files_dv(files, schema, dv0)
        rows = df.count()
        total = sum(
            self._fs.getFileStatus(
                _jpath(self._jvm, self.root, DATA_DIR, n)
            ).getLen()
            for n in files
        )
        n_out = max(1, -(-int(total) // (target_file_mb * 1024 * 1024)))
        staged = self._stage(df, n_files=n_out)
        return self._swap_commit(
            set(files), staged, rows, "compaction", max_retries, dv0
        )

    def compact_small(
        self,
        max_file_mb: float = 16,
        target_file_mb: int = 128,
        min_files: int = 2,
        max_retries: int = 20,
    ) -> int | None:
        """Bin-packing compaction (the Delta ``OPTIMIZE`` default, no
        Z-order): rewrite ONLY the files under ``max_file_mb`` into
        ~``target_file_mb`` outputs, leaving every right-sized file — the
        overwhelming majority of a 100 TB table — untouched.
        :meth:`compact` rewrites the whole snapshot, which is a release
        operation, not maintenance: per-append small files are the thing
        that accumulates, and rewriting 100 TB to fix 100 MB of them
        cannot scale.  DVs on the rewritten files are materialized by the
        swap (same rules as compact); DVs on untouched files carry
        forward.  Returns the new version, or None when fewer than
        ``min_files`` files qualify (one small file gains nothing)."""
        base, files, _, schema, _, dv0 = self._snapshot_full()
        gate = int(max_file_mb * 1024 * 1024)
        # ONE listing RPC for the whole data dir, intersected with the
        # live set — a per-file getFileStatus loop would be O(n_files)
        # serial namenode/S3 HEADs per maintenance pass, i.e. cost
        # proportional to the TABLE, exactly what this op exists to avoid
        live = set(files)
        sizes = {
            f.getPath().getName(): f.getLen()
            for f in self._fs.listStatus(
                _jpath(self._jvm, self.root, DATA_DIR)
            )
            if f.getPath().getName() in live
        }
        small = [n for n in files if sizes.get(n, gate) < gate]
        if len(small) < min_files:
            return None
        hot_dv = {f: dv0[f] for f in small if f in dv0}
        df = self._read_files_dv(small, schema, hot_dv)
        rows = df.count()
        total = sum(sizes[n] for n in small)
        n_out = max(1, -(-int(total) // (target_file_mb * 1024 * 1024)))
        staged = self._stage(df, n_files=n_out)
        return self._swap_commit(
            set(small), staged, rows, "small-file compaction",
            max_retries, hot_dv,
        )

    def maintain(
        self,
        dv_sidecar_threshold: int = 8,
        max_file_mb: float = 16,
        target_file_mb: int = 128,
        small_min_files: int = 17,
    ) -> dict[str, int]:
        """One maintenance pass wiring the measured policies together:
        materialize deletion vectors where a file reached
        ``dv_sidecar_threshold`` sidecars (the probe-measured read-tax
        plateau, :meth:`materialize_dv`), then bin-pack once at least
        ``small_min_files`` under-``max_file_mb`` files accumulated
        (:meth:`compact_small` — at one small file per streaming batch
        this fires about once per ``small_min_files`` triggers).  Returns
        {action: committed version} for whatever actually ran — a no-op
        pass commits nothing.  Run it per maintenance window; both steps
        are targeted, so the cost scales with the CHURN since the last
        pass, never the table."""
        out: dict[str, int] = {}
        v = self.materialize_dv(dv_sidecar_threshold)
        if v is not None:
            out["materialize_dv"] = v
        v = self.compact_small(
            max_file_mb, target_file_mb, min_files=small_min_files
        )
        if v is not None:
            out["compact_small"] = v
        return out

    def optimize(
        self,
        x_col: str,
        y_col: str | None = None,
        *more_cols: str,
        n_files: int = 16,
        max_retries: int = 20,
    ) -> int | None:
        """Z-ordered compaction (Delta ``OPTIMIZE ... ZORDER BY`` /
        Iceberg sort-order rewrite): rewrite the current snapshot
        clustered by the Morton interleave of (x_col, y_col,
        *more_cols) — any number of dimensions, one
        ``repartitionByRange`` shuffle on the z-value + within-partition
        sort, so every output file covers a tight axis-aligned box and a
        later :meth:`skip_read` over the manifest's stats prunes almost
        every file for a box predicate.
        Per-dimension resolution defaults to the 63-bit interleave
        budget split across the dimensions
        (:func:`plans.skipindex.zorder_arrange_n`).  Transactionally it IS a compaction: same
        rebase-over-concurrent-appends / conflict-on-removed-file rules,
        committed as action "compact" so the change feed stays silent
        (layout changes no rows).  At 100 TB this runs per maintenance
        window; every read between windows inherits the clustering free.

        ONE column is the degenerate (and common) serving case — a plain
        key-ordered rewrite (Iceberg sort-order, Delta ``OPTIMIZE``
        without interleave), no z-value needed: files then cover
        disjoint key ranges, and because :meth:`_plan_segments` packs
        fresh files in key-min order when the key is the table's first
        stats column, ``seg_meta``'s per-segment ranges become disjoint
        too — a UNIQUE-key point probe (mk_hash, where the budgeted
        segment blooms saturate by design) then opens ~one segment and
        ~one file cold (round 13, r12 verdict next-round #2).

        DV-materialization threshold (measured, SCALE_PROBE.json
        ``txlog_dv_s*`` / SCALING.md round 10): snapshot reads pay a
        ~2.7-2.8× tax once a file carries 8 accumulated DV sidecars and
        the tax PLATEAUS ≈3× beyond (the anti-join build dominates;
        extra sidecar opens are metadata noise) — so run
        :meth:`materialize_dv` (targeted: rewrites ONLY files at
        **≥8 sidecars**, its default) between maintenance windows; this
        and :meth:`compact` also materialize every DV as a side effect.
        One rewrite of the hot files repays itself by the second
        subsequent snapshot read.
        """
        from indra_db_spark.plans.skipindex import zorder_arrange_n

        if y_col is None and more_cols:
            # a programmatically-built column list with a None second
            # dimension must not silently drop the rest
            raise TypeError(
                "optimize() got extra columns after y_col=None: "
                f"{more_cols!r}"
            )
        cluster_cols = (x_col,) if y_col is None else (x_col, y_col, *more_cols)
        bad = [c for c in cluster_cols if not isinstance(c, str)]
        if bad:
            # the pre-r11 signature took n_files as the third POSITIONAL
            # arg; catch that migration mistake with a clear message
            # instead of a deep AnalysisException from F.min(8)
            raise TypeError(
                f"optimize() takes Z-order column NAMES, got {bad!r}; "
                "pass n_files / max_retries as keywords"
            )
        base, files, _, schema, _, dv0 = self._snapshot_full()
        if not files:
            return None
        df = self._read_files_dv(files, schema, dv0)
        rows = df.count()
        if len(cluster_cols) == 1:
            # sort-order rewrite: one range shuffle on the key itself
            arranged = df.repartitionByRange(
                n_files, cluster_cols[0]
            ).sortWithinPartitions(cluster_cols[0])
        else:
            arranged, _ = zorder_arrange_n(df, cluster_cols, n_files)
        # no n_files to _stage: its repartition would destroy the
        # clustering being bought here
        staged = self._stage(arranged)
        return self._swap_commit(
            set(files), staged, rows, "optimize", max_retries, dv0
        )

    def materialize_dv(
        self,
        min_sidecars: int = 8,
        max_retries: int = 20,
    ) -> int | None:
        """Targeted deletion-vector materialization: rewrite ONLY the
        data files carrying at least ``min_sidecars`` accumulated DV
        sidecars, folding their deletes into fresh files and dropping
        those DV entries from the manifest.  Files below the threshold —
        and their DVs — are untouched, so on a 100 TB table this rewrites
        the handful of delete-hot files, never the table (compact/optimize
        materialize everything as a side effect; this is the maintenance
        op you run BETWEEN those windows).

        The default threshold is the measured one (SCALE_PROBE.json
        ``txlog_dv_s*``, SCALING.md round 10): snapshot-read tax plateaus
        ≈3× by 8 sidecars per file, and one rewrite of the hot files
        repays itself by the second subsequent read.  Returns the new
        version, or None when no file meets the threshold.  Commits as a
        layout action (feed-silent — no live row changes); the conflict
        rules are :meth:`_swap_commit`'s, so a DV landing on a hot file
        after its read aborts instead of resurrecting rows."""
        base, files, _, schema, _, dv0 = self._snapshot_full()
        hot = {f: dv0[f] for f in files if len(dv0.get(f, ())) >= min_sidecars}
        if not hot:
            return None
        df = self._read_files_dv(list(hot), schema, hot)
        rows = df.count()
        staged = self._stage(df)
        return self._swap_commit(
            set(hot), staged, rows, "dv materialization", max_retries, hot
        )

    def set_stats_columns(
        self,
        *cols: str,
        bloom: tuple[str, ...] = (),
        bloom_m: int = 8192,
        bloom_k: int = 3,
        bloom_seg_m: int | None = None,
        max_retries: int = 20,
    ) -> int:
        """Record the skipping-stats columns in the manifest (like CHECK
        constraints, the config rides the log so EVERY writer obeys it):
        from the next commit on, :meth:`_stage` collects per-file
        (row count, min/max) for these columns in one O(delta) scan of
        the just-staged files, the manifest carries the entries (inline
        or inside segments), and :meth:`skip_read` prunes files
        manifest-side with zero table scans — the Iceberg
        column-stats-in-manifest shape.

        Files committed BEFORE this call (and segments reused from then)
        have no entries and are never pruned; a :meth:`compact` /
        :meth:`optimize` rewrites them and collects stats as a side
        effect.  Only numeric/string/boolean columns collect entries —
        types whose order would not survive the JSON round trip
        (timestamps, decimals) are skipped at stage time and never prune
        (store a long epoch / scaled integer twin column to prune on
        time).

        ``bloom=(col, ...)`` additionally packs a per-file Bloom filter
        of ``bloom_m`` bits / ``bloom_k`` hashes for each listed
        int/string column into the stats entries — the POINT-LOOKUP
        complement to min/max (which only prunes under a sympathetic
        layout): :meth:`skip_read`'s ``eq`` probes then prove absence
        per file with zero table scans (r10 verdict next-round #2).  Size rides the manifest segments: ≈ min(k·distinct, m/64)
        words × ~25 B per file per column — budget ``bloom_m`` for the
        expected distinct-per-file (8192 bits ≈ 1 % FPR at ~850
        distinct).  The call records the WHOLE config: stats columns and
        bloom columns are both set to exactly what is passed.

        ``bloom_seg_m`` sizes the SEGMENT-tier budget: a second set of
        per-file words hashed under this larger m, whose per-segment
        OR-union (:meth:`_segment_meta`) stays unsaturated across a full
        segment's members and lets :meth:`skip_read` exclude whole
        segments for eq probes before opening them.  Defaults to
        bloom_m × :data:`SEGMENT_TARGET_FILES` capped at
        :data:`SEG_BLOOM_MAX_M` — per-file word maps are sparse, so the
        bigger m costs only key digits; pass ``0`` to disable the second
        tier (the per-segment union then falls back to the saturable
        file-tier words)."""
        if not cols and not bloom:
            raise ValueError("set_stats_columns needs at least one column")
        if bloom:
            if bloom_m < 64 or bloom_m > (1 << 20):
                raise ValueError(
                    "bloom_m must be in [64, 2^20] bits: the words ride "
                    "the manifest segments as JSON — size per file per "
                    "column ≈ min(k·distinct, m/64) words × ~25 B, so a "
                    "filter past ~1 Mbit belongs in a real index file, "
                    "not the log"
                )
            if bloom_k < 1 or bloom_k > 16:
                raise ValueError("bloom_k must be in [1, 16]")
            if bloom_seg_m is None:
                bloom_seg_m = min(
                    bloom_m * SEGMENT_TARGET_FILES, SEG_BLOOM_MAX_M
                )
            elif bloom_seg_m and not (
                bloom_m <= bloom_seg_m <= SEG_BLOOM_MAX_M
            ):
                raise ValueError(
                    "bloom_seg_m must be 0 (disabled) or in "
                    f"[bloom_m, 2^26]; got {bloom_seg_m}"
                )
        spec = {
            "cols": list(bloom),
            "m": bloom_m,
            "k": bloom_k,
            "seg_m": (bloom_seg_m or 0) if bloom else 0,
        }
        for _ in range(max_retries):
            base, files, txns, schema, cons, dv = self._snapshot_full()
            if self._try_claim(
                base + 1, files, "set_stats_cols", txns, schema, cons, dv,
                stats_cols=list(cols),
                bloom_spec=spec,
            ):
                return base + 1
        raise RuntimeError(
            f"set_stats_columns lost {max_retries} commit races"
        )

    def skip_read(
        self,
        predicates: dict[str, tuple] | None = None,
        eq: dict[str, object] | None = None,
        version: int | None = None,
    ) -> tuple[DataFrame, int, int]:
        """Snapshot read that opens ONLY the files the manifest stats
        cannot rule out — min/max box intersection per ``predicates``
        entry ``col: (lo, hi)``, point lookups via ``eq`` (a single
        value or an IN-list per column; a file survives when ANY listed
        value could be present), with manifest-carried bloom words
        (``set_stats_columns(..., bloom=...)``) proving absence for eq
        probes under any layout — then re-applies the exact predicate to
        the survivors, THROUGH their deletion vectors.  Returns
        (result, files_read, files_total).  At a version :meth:`pin`
        built, the survivors narrow the pinned relation and the manifest
        comes from memory: no filesystem call, no relation build.

        Correctness never depends on the stats: a file is skipped only
        when its recorded [min, max] provably excludes the box, a file
        with no entry is always read, and the residual filter is exact —
        the stats only save I/O.  The pruning runs driver-side over the
        manifest (one dict pass, no Spark job), which is exactly where
        Delta's log replay prunes — and on a SEGMENTED manifest it runs
        in two levels: the manifest's per-segment aggregates
        (``seg_meta`` — the Iceberg manifest-list summaries: range boxes
        AND, r12, budgeted membership blooms) exclude whole segments
        BEFORE they are opened, then the surviving segments' per-file
        entries prune individual files.  A cold query on a 100k-file
        table therefore opens the manifest plus the handful of segments
        the box intersects (r10 verdict next-round #1) — and, with the
        segment blooms, an eq probe on an UNCLUSTERED hash-distributed
        key opens only the segments whose union filter admits it, not
        every segment on the way to the per-file words (r11 verdict
        next-round #1)."""
        boxes = dict(predicates or {})
        # a file/segment survives when ANY listed eq value could be
        # present
        eqs = eq_lists(eq)
        for c, vals in eqs.items():
            if not vals:
                raise ValueError(f"skip_read eq[{c!r}] is an empty list")
        if not boxes and not eqs:
            raise ValueError("skip_read needs predicates and/or eq")
        if version is None or version not in self._bodies:
            vs = self._versions()
            if not vs:
                # same contract as read(): an empty table is a clean
                # error, never a made-up schema
                raise NoCommittedData(f"{self.root} has no committed data")
            if version is None:
                version = vs[-1]
        # the RAW manifest, segments unresolved: segment-level pruning
        # must run BEFORE any segment is opened or the cold read path
        # stays O(all segments) driver RPCs no matter what it prunes
        body = self._body(version)

        def _excludes(rng_edge, bound, flip: bool) -> bool:
            """True iff the comparison PROVES emptiness.  Cross-type
            comparisons (a str-encoded legacy stat vs a native bound)
            must degrade to unprunable, never crash or lexicographically
            mis-prune — correctness may not depend on the stats."""
            if rng_edge is None or bound is None:
                return False
            num = (int, float)
            same = (
                (isinstance(rng_edge, num) and isinstance(bound, num))
                or (isinstance(rng_edge, str) and isinstance(bound, str))
            )
            if not same:
                return False
            return rng_edge > bound if flip else rng_edge < bound

        def _eq_vals_admit(vals: list, rng) -> bool:
            """True iff SOME listed value can fall inside [rng0, rng1].
            ``vals`` is pre-sorted (skip_read's entry normalization), so
            the uniform-type case is ONE bisect instead of an O(values)
            scan — at a 2000-value page against a 100k-file key-ordered
            manifest that is the difference between 2×10^5 and 4×10^8
            driver-side comparisons (r12 verdict next-round #4).  A
            null-carrying list or a cross-type legacy stat falls back to
            the exact per-value scan (same admit-on-doubt semantics)."""
            lo, hi = rng[0], rng[1]
            v0 = vals[0]
            num = (int, float)
            ok_lo = lo is None or (
                (isinstance(lo, num) and isinstance(v0, num))
                or (isinstance(lo, str) and isinstance(v0, str))
            )
            ok_hi = hi is None or (
                (isinstance(hi, num) and isinstance(v0, num))
                or (isinstance(hi, str) and isinstance(v0, str))
            )
            if v0 is None or not (ok_lo and ok_hi):
                return any(
                    not _excludes(rng[0], v, True)
                    and not _excludes(rng[1], v, False)
                    for v in vals
                )
            i = bisect.bisect_left(vals, lo) if lo is not None else 0
            return i < len(vals) and (hi is None or vals[i] <= hi)

        def _ranges_admit(crange: dict) -> bool:
            """False iff ``crange`` ({col: [lo, hi]}) PROVES no row can
            satisfy every box — shared by the per-file and per-segment
            levels (a segment's aggregate range is shaped exactly like a
            file's).  An all-NULL range ([None, None]) against a bounded
            box excludes: NULL satisfies no comparison."""
            for c, (lo, hi) in boxes.items():
                rng = crange.get(c)
                if not rng:
                    continue
                if (
                    rng[0] is None
                    and rng[1] is None
                    and (lo is not None or hi is not None)
                ):
                    return False
                if _excludes(rng[0], hi, True) or _excludes(rng[1], lo, False):
                    return False
            for c, vals in eqs.items():
                rng = crange.get(c)
                if not rng:
                    continue
                if rng[0] is None and rng[1] is None:
                    if any(v is not None for v in vals):
                        return False
                    continue
                if not _eq_vals_admit(vals, rng):
                    return False
            return True

        from indra_db_spark.plans.skipindex import (
            BLOOM_SCHEME,
            bloom_positions,
        )

        # bloom probe positions depend only on (value, m, k) — NEVER the
        # file or segment — so they are memoized across both pruning
        # levels: the flagship path (a 1000-hash IN list over a
        # 100k-file table) costs O(values × distinct budgets) string
        # hashes, not O(files × values × k).  The bit math lives in ONE
        # place (skipindex.bloom_positions, the SQL builder's Python
        # twin); word keys are probed as the JSON strings the manifest
        # stores, tolerating int-keyed maps too.
        pos_memo: dict[tuple, list] = {}
        # mutable cell: ONE budget drains across segment- and file-level
        # probing alike (see SKIP_READ_PROBE_BUDGET)
        probe_budget = [SKIP_READ_PROBE_BUDGET]
        # adaptive probe duty-cycle (r12 verdict next-round #4, measured
        # in SCALE_PROBE's prune_cost rows): a long IN list defeats
        # blooms wholesale — at production load (~0.27, k=3) each value
        # has a ~1-2% per-file FPR, so past a few hundred values
        # essentially EVERY entry is admitted by some false positive and
        # the probing is pure wasted driver time (~90 µs/file × 100k
        # files ≈ 9 s to prune nothing).  Track admissions per level;
        # once ≥64 entries were probed and ≥90% admitted, drop to
        # probing every 64th entry (admitting the rest unprobed — always
        # sound).  The residual 1/64 sampling guards against INGEST-
        # ORDER CORRELATION: if the probed keys cluster in early files
        # (time-correlated ingest, recent-key pages), the first-64
        # estimate would wrongly write off a tail that prunes — any
        # sampled prune therefore RE-ARMS full probing with fresh
        # counters, bounding the correlated worst case at ~64 extra
        # admitted files per boundary while keeping the saturating case
        # at ~1/64 of the probe cost.  State per level:
        # [probed, admitted, skipped_since_last_sample].
        _abandon: dict[str, list] = {"seg": [0, 0, 0], "file": [0, 0, 0]}

        def _positions(m: int, k: int, v) -> list:
            key = (m, k, v)
            hit = pos_memo.get(key)
            if hit is None:
                hit = bloom_positions(v, m, k)
                pos_memo[key] = hit
            return hit

        def _bloom_admits(bmap: dict | None, lvl: str = "file") -> bool:
            """False iff some eq column's filter PROVES every listed
            value absent — shared by the per-segment summaries
            (``seg_meta[s]["b"]``) and the per-file entries
            (``stats[f]["b"]``), which carry the same self-describing
            [m, k, words] shape."""
            if not bmap:
                return True
            state = _abandon[lvl]
            probed, admitted, skipped = state
            saturated = probed >= 64 and admitted * 10 >= probed * 9
            if saturated and skipped < 63:
                state[2] = skipped + 1
                return True  # duty-cycle skip: admit unprobed
            hit_all = False
            for c, vals in eqs.items():
                b = bmap.get(c)
                if b is None:
                    continue  # no filter recorded → unpruned, never wrong
                if len(b) < 4 or b[3] != BLOOM_SCHEME:
                    # words hashed under an older/unknown position
                    # scheme (pre-r14 manifests are untagged, and the
                    # hash changed md5→xxhash64 in r13): probing them
                    # with THIS scheme could "prove" absence of present
                    # keys and mis-prune — admit unpruned instead (the
                    # exact residual still filters; r13 verdict #1)
                    continue
                if probe_budget[0] <= 0:
                    continue  # budget spent → admit unprobed (exact
                    # residual still filters; only I/O is left on the
                    # table — see SKIP_READ_PROBE_BUDGET)
                probe_budget[0] -= len(vals)
                hit_all = True
                m, k, words = b[0], b[1], b[2]
                if not any(
                    v is None
                    or all(
                        words.get(str(w), words.get(w, 0)) & bit
                        for w, bit in _positions(m, k, v)
                    )
                    for v in vals
                ):
                    if saturated:
                        # a sampled prune after saturation: the estimate
                        # was correlation, not a truly saturating list —
                        # re-arm full probing with fresh counters
                        _abandon[lvl] = [0, 0, 0]
                    else:
                        state[0] = probed + 1
                        state[2] = 0
                    return False  # bloom misses are PROOF of absence
            if hit_all:
                _abandon[lvl] = [probed + 1, admitted + 1, 0]
            return True

        if "files" in body:
            files = body["files"]
            if not files:
                raise NoCommittedData(f"{self.root} has no committed data")
            stats = self._stats_of(body)
            files_total = len(files)
        else:
            # segmented manifest (never empty — segmentation starts past
            # INLINE_MANIFEST_FILES live files): exclude whole segments
            # on their manifest-carried aggregates, resolve ONLY the
            # survivors — segment opens scale with what the predicate
            # touches, not with table history (the Iceberg manifest-list
            # prune, one level above r10's per-file stats)
            seg_meta = body.get("seg_meta") or {}
            files_total = body["n_files"]
            admitted = []
            for s in body["segments"]:
                m = seg_meta.get(s)
                if m and (
                    not _ranges_admit(m.get("c", {}))
                    or not _bloom_admits(m.get("b"), "seg")
                ):
                    continue
                admitted.append(s)
            # the survivors resolve CONCURRENTLY like a cold snapshot()
            # — without this the flagship pruned read (lake.pruned →
            # HasHash/HasAgent) would pay one serial round trip per
            # surviving segment on an object store
            misses = [s for s in admitted if s not in self._seg_cache]
            if len(misses) > 3:
                self._prefetch_segments(misses)
            files = []
            stats = {}
            for s in admitted:
                members, seg_stats = self._read_segment_full(s)
                files.extend(members)
                stats.update(seg_stats)
            if not files:
                # every segment pruned: open ONE so the result carries
                # the table schema; the residual filter empties it
                members, seg_stats = self._read_segment_full(
                    body["segments"][0]
                )
                files = list(members)
                stats.update(seg_stats)

        def _maybe(f: str) -> bool:
            st = stats.get(f)
            if not st:
                return True
            return _ranges_admit(st.get("c", {})) and _bloom_admits(
                st.get("b")
            )

        survivors = [f for f in files if _maybe(f)]
        if not survivors and files:
            # keep one file so the result carries the table schema; the
            # exact residual filter empties it (files_read stays honest)
            survivors = files[:1]
        dv = body.get("dv", {})
        dv = {f: dv[f] for f in survivors if f in dv}
        base = self._relations.get(version)
        if base is None:
            # an unpinned version: a relation over the survivors alone,
            # so a cold probe opens only the segments it admitted
            df = self._read_files_dv(
                survivors, body.get("schema"), dv, body.get("dv_rows")
            )
        else:
            # the pinned relation, narrowed to the survivors: Spark
            # prunes files on _metadata.file_name while planning
            if len(survivors) < files_total:
                base = base.filter(isin("_metadata.file_name", survivors))
            df = self._with_dv(base, survivors, dv, body.get("dv_rows"))
        return (
            df.filter(residual_filter(boxes, eqs)),
            len(survivors),
            files_total,
        )

    def _swap_commit(
        self,
        rewritten: set[str],
        staged: list[str],
        expected_rows: int,
        what: str,
        max_retries: int,
        dv_at_read: dict | None = None,
    ) -> int:
        """The shared tail of every whole-snapshot rewrite (compact,
        optimize): verify the staged row count BEFORE any commit attempt,
        then swap rewritten→staged under the compaction conflict rules —
        concurrent appends rebase, a racing commit that removed a
        rewritten file aborts with :class:`CommitConflict`.  Deletion
        vectors: the rewrite read the rewritten files through
        ``dv_at_read``, so those entries are MATERIALIZED by the swap and
        dropped from the claim; a dv entry that appeared on a rewritten
        file AFTER the read conflicts (the staged rows still contain what
        it deleted — committing would resurrect them); dv entries on
        files this rewrite never touched (concurrent appends + their
        deletes) are carried forward untouched."""
        # a rewrite whose sources are fully deleted (every row of every
        # rewritten file masked by DVs) legitimately stages nothing
        got = (
            self.spark.read.parquet(
                *[f"{self.root}/data/{n}" for n in staged]
            ).count()
            if staged
            else 0
        )
        if got != expected_rows:
            raise RuntimeError(
                f"{what} row mismatch ({expected_rows} -> {got}); "
                "staged files left unreferenced"
            )
        if _pre_commit_hook is not None:
            _pre_commit_hook(self)
        dv_at_read = dv_at_read or {}
        for _ in range(max_retries):
            cur, cur_files, txns, schema, cons, dv = self._snapshot_full()
            cur_set = set(cur_files)
            if not rewritten <= cur_set:
                raise CommitConflict(
                    f"a concurrent commit removed files this {what} "
                    "rewrote; staged rewrite abandoned (vacuum reclaims it)"
                )
            for f in rewritten:
                if set(dv.get(f, [])) - set(dv_at_read.get(f, [])):
                    raise CommitConflict(
                        f"a deletion vector landed on a file this {what} "
                        "rewrote after it was read; committing would "
                        "resurrect the deleted rows — staged rewrite "
                        "abandoned (vacuum reclaims it)"
                    )
            claim_dv = {
                f: lst for f, lst in dv.items() if f not in rewritten
            }
            merged = sorted((cur_set - rewritten) | set(staged))
            if self._try_claim(
                cur + 1, merged, "compact", txns, schema, cons, claim_dv
            ):
                return cur + 1
        raise RuntimeError(f"{what} lost {max_retries} commit races")

    def merge(
        self,
        updates: DataFrame,
        key_cols: list[str],
        max_retries: int = 20,
        _txn: tuple[str, int] | None = None,
    ) -> int | None:
        """Row-level UPSERT by key (Delta/Iceberg ``MERGE INTO``, reduced
        to whole-row replace-or-insert): rows of ``updates`` whose key
        matches an existing row REPLACE it; the rest are inserts.

        Copy-on-write at FILE granularity — the only mutation unit an
        immutable lake has:

        1. locate affected files: scan the snapshot with
           ``input_file_name()`` semi-joined against the update keys —
           only files actually holding a matched key are rewritten;
        2. rewrite = (affected rows anti-joined on key) ∪ updates, staged
           invisibly; every UNAFFECTED file survives untouched — merge
           cost scales with files-touched, not table size;
        3. commit swaps the affected names for the staged names.

        Concurrency is write-serializable the way the public formats do
        it: a concurrent commit that removed an affected file raises
        :class:`CommitConflict`; concurrent APPENDS rebase — but only
        after checking their files for the merge keys (an appended row
        with a matched key would make rebase-and-commit silently drop the
        concurrent write, the lost-update anomaly) — overlap raises
        :class:`CommitConflict` instead.  ``updates`` must be key-unique
        (raises ValueError otherwise: which duplicate wins would be
        partition-order nondeterminism).  Returns the new version (a pure
        insert into an empty table included); None when ``updates`` is
        empty.
        """
        # updates feeds 4+ consumers (row count, key-uniqueness, the file
        # probe, the staged union) — compute its lineage ONCE; a streaming
        # upsert's updates DAG re-reads the view and runs windows/joins,
        # so recomputation would multiply every micro-batch's cost
        updates = updates.localCheckpoint(eager=False)
        n_up = updates.count()
        if n_up == 0:
            return None
        if updates.select(*key_cols).distinct().count() != n_up:
            raise ValueError("merge updates must be unique on the key columns")
        # same write-time enforcement as append: an unmatched-key drifted
        # batch would otherwise stage mixed-schema files with no
        # unionByName to catch it
        self._check_schema(updates, merge_schema=False)
        from pyspark.sql import functions as F

        base, files, _, schema, checked_cons, dv0 = self._snapshot_full()
        # validate the incoming rows BEFORE any staging work; survivors of
        # rewritten files were already in the table and stay unvalidated
        # (re-checking them would make merge cost scale with table bytes)
        self._check_constraints(updates, checked_cons, "merge")
        keys = updates.select(*key_cols).distinct()
        # broadcast only when the key set is provably small (r7 ADVICE):
        # n_up is already computed, so the gate is free.  A large upsert
        # batch force-broadcast past AQE's threshold risks driver OOM —
        # beyond the gate, leave the hint off and let AQE pick the
        # strategy from the measured key-set size at runtime.
        if n_up <= 1_000_000:
            keys = F.broadcast(keys)
        basename = F.element_at(F.split(F.input_file_name(), "/"), -1)

        def _files_with_keys(names: list[str]) -> list[str]:
            if not names:
                return []
            df = self._read_files(names, schema)
            hits = (
                df.withColumn("_f", basename)
                .join(keys, key_cols, "left_semi")
                .select("_f")
                .distinct()
            )
            return [r["_f"] for r in hits.collect()]

        affected = _files_with_keys(files)
        if affected:
            # DV-applied read: a raw rewrite of a DV-carrying file would
            # resurrect its deleted rows as merge "survivors"
            aff_df = self._read_files_dv(affected, schema, dv0)
            survivors = aff_df.join(keys, key_cols, "left_anti")
            rewritten_rows = survivors.unionByName(updates)
        else:
            rewritten_rows = updates
        staged = self._stage(rewritten_rows)
        removed = set(affected)
        if _pre_commit_hook is not None:
            _pre_commit_hook(self)
        for _ in range(max_retries):
            cur, cur_files, txns, schema, cons, dv = self._snapshot_full()
            cur_set = set(cur_files)
            if _txn is not None and txns.get(_txn[0], -1) >= _txn[1]:
                return None  # a concurrent replay committed this batch
            fresh = {
                n: e for n, e in cons.items() if checked_cons.get(n) != e
            }
            if fresh:
                self._check_constraints(updates, fresh, "merge (rebase)")
                checked_cons = {**checked_cons, **fresh}
            for f in removed:
                if set(dv.get(f, [])) - set(dv0.get(f, [])):
                    raise CommitConflict(
                        "a deletion vector landed on a file this merge "
                        "rewrote after it was read; committing would "
                        "resurrect the deleted rows — retry the merge on "
                        "the new snapshot"
                    )
            if not removed <= cur_set:
                raise CommitConflict(
                    "a concurrent commit removed files this merge rewrote; "
                    "staged rewrite abandoned (vacuum reclaims it)"
                )
            # rebase-over-append safety: concurrently appended files must
            # not carry any merge key, or committing would drop their rows
            concurrent = sorted(cur_set - set(files) - set(staged))
            if _files_with_keys(concurrent):
                raise CommitConflict(
                    "a concurrent append added rows matching this merge's "
                    "keys; rebase would lose that update — retry the merge "
                    "on the new snapshot"
                )
            merged = sorted((cur_set - removed) | set(staged))
            claim_dv = {f: lst for f, lst in dv.items() if f not in removed}
            if _txn is not None:
                txns = dict(txns)
                txns[_txn[0]] = _txn[1]
            if self._try_claim(
                cur + 1, merged, "merge", txns, schema, cons, claim_dv
            ):
                return cur + 1
        raise RuntimeError(f"merge lost {max_retries} commit races")

    def merge_batch(
        self,
        updates: DataFrame,
        key_cols: list[str],
        app_id: str,
        batch_id: int,
        max_retries: int = 20,
    ) -> int | None:
        """Idempotent :meth:`merge` for an EXACTLY-ONCE streaming upsert
        writer (``foreachBatch``): same (app_id, batch_id) watermark
        protocol as :meth:`append_batch` — a replayed batch whose id is
        already recorded in the manifest is skipped, so at-least-once
        delivery composes to exactly-once UPSERT contents.  The replay
        check matters MORE for merge than append: a replayed append only
        duplicates rows, a replayed merge could resurrect a row that a
        later batch updated (the watermark makes both impossible).
        Returns the new version; None when skipped as a replay or when
        ``updates`` is empty."""
        base, files, txns, schema, _, _ = self._snapshot_full()
        if txns.get(app_id, -1) >= batch_id:
            return None
        return self.merge(
            updates, key_cols, max_retries=max_retries,
            _txn=(app_id, batch_id),
        )

    def delete_where(
        self, predicate, max_retries: int = 20, mode: str = "copy"
    ) -> int | None:
        """Row-level DELETE: copy-on-write rewrite of exactly the files
        holding matching rows (located via ``input_file_name()``).
        Files with no match
        survive untouched, so deleting a needle from a 100 TB table
        rewrites one file.  Returns the new version, or None when nothing
        matches.  Conflict rule = compaction's: a concurrent commit that
        removed an affected file aborts with :class:`CommitConflict`;
        concurrent appends rebase freely (their rows were never visible
        to this predicate's snapshot — standard snapshot-isolation
        delete semantics).

        ``mode="dv"`` is the MERGE-ON-READ path (Delta/Iceberg deletion
        vectors): instead of rewriting any data file, the matching
        (physical file, parquet row index) pairs are staged as one tiny
        sidecar parquet and the manifest maps each touched data file to
        its DV sidecars.  Readers apply DVs with one anti-join
        (:meth:`_read_files_dv`); compaction/OPTIMIZE materialize them
        away.  Deleting a needle then costs one sidecar write regardless
        of data file sizes — the at-scale small-delete shape.  Conflict
        rule: positions are physical, so a concurrent commit that
        REWROTE a touched file (compact/merge/delete) invalidates the
        vector — abort; concurrent appends and other DV deletes compose
        (the anti-join dedups overlapping positions).  DV commits use
        action "dv_delete": file-level :meth:`changes` refuses ranges
        crossing them (like merge/delete) — :meth:`row_changes` sees
        the deletes exactly, because both ends read DV-applied."""
        from pyspark.sql import functions as F

        if mode not in ("copy", "dv"):
            raise ValueError(f"delete_where mode must be copy|dv, got {mode!r}")
        base, files, _, schema, _, dv0 = self._snapshot_full()
        if not files:
            return None
        # physical attribution (_metadata) does not survive a join —
        # alias it to REAL columns first, then apply the snapshot's
        # existing DVs so already-deleted rows neither re-match nor
        # resurrect in a rewrite
        ann = self._read_files(files, schema).select(
            "*",
            F.col("_metadata.file_name").alias("_txf"),
            F.col("_metadata.row_index").alias("_txp"),
        )
        rel = sorted({n for f in files for n in dv0.get(f, [])})
        if rel:
            dvdf = self.spark.read.parquet(
                *[f"{self.root}/data/{n}" for n in rel]
            ).select(
                F.col("file").alias("_txdv_file"),
                F.col("pos").alias("_txdv_pos"),
            )
            ann = ann.join(
                dvdf,
                (F.col("_txf") == F.col("_txdv_file"))
                & (F.col("_txp") == F.col("_txdv_pos")),
                "left_anti",
            )
        matched = ann.filter(predicate)
        affected = [
            r["_txf"] for r in matched.select("_txf").distinct().collect()
        ]
        if not affected:
            return None
        if mode == "dv":
            dv_staged = self._stage(
                matched.select(
                    F.col("_txf").alias("file"), F.col("_txp").alias("pos")
                ),
                n_files=1,
            )
            # record each sidecar's row count for the manifest (footer
            # metadata only — parquet count() reads no data pages): the
            # read path's broadcast gate is then a zero-RPC row-count
            # decision instead of a misleading compressed-bytes one
            for n in dv_staged:
                self._pending_dv_rows[n] = self.spark.read.parquet(
                    f"{self.root}/data/{n}"
                ).count()
            removed = set(affected)
            if _pre_commit_hook is not None:
                _pre_commit_hook(self)
            for _ in range(max_retries):
                cur, cur_files, txns, schema, cons, dv = self._snapshot_full()
                cur_set = set(cur_files)
                if not removed <= cur_set:
                    raise CommitConflict(
                        "a concurrent commit rewrote a file this DV delete "
                        "targets; its row positions are stale — retry the "
                        "delete on the new snapshot (sidecar becomes "
                        "vacuum garbage)"
                    )
                claim_dv = {f: list(lst) for f, lst in dv.items()}
                for f in affected:
                    claim_dv[f] = claim_dv.get(f, []) + dv_staged
                if self._try_claim(
                    cur + 1, cur_files, "dv_delete", txns, schema, cons,
                    claim_dv,
                ):
                    return cur + 1
            raise RuntimeError(f"dv delete lost {max_retries} commit races")
        # SQL DELETE three-valued logic: only predicate=TRUE rows go; a
        # NULL-predicate row sharing a file with a match must SURVIVE the
        # rewrite (plain ~predicate would silently drop it)
        survivors = (
            ann.filter(F.col("_txf").isin(affected))
            .filter(~F.coalesce(predicate, F.lit(False)))
            .drop("_txf", "_txp")
        )
        staged = self._stage(survivors) if survivors.limit(1).count() else []
        removed = set(affected)
        if _pre_commit_hook is not None:
            _pre_commit_hook(self)
        for _ in range(max_retries):
            cur, cur_files, txns, schema, cons, dv = self._snapshot_full()
            cur_set = set(cur_files)
            if not removed <= cur_set:
                raise CommitConflict(
                    "a concurrent commit removed files this delete rewrote; "
                    "staged rewrite abandoned (vacuum reclaims it)"
                )
            for f in removed:
                if set(dv.get(f, [])) - set(dv0.get(f, [])):
                    raise CommitConflict(
                        "a deletion vector landed on a file this delete "
                        "rewrote after it was read; committing would "
                        "resurrect the deleted rows — retry on the new "
                        "snapshot"
                    )
            merged = sorted((cur_set - removed) | set(staged))
            claim_dv = {f: lst for f, lst in dv.items() if f not in removed}
            if self._try_claim(
                cur + 1, merged, "delete", txns, schema, cons, claim_dv
            ):
                return cur + 1
        raise RuntimeError(f"delete lost {max_retries} commit races")

    # ---- reads ----------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """Scan exactly one committed snapshot (latest by default) —
        concurrent commits after the version resolution are invisible.
        Deletion vectors recorded by that version are applied
        (:meth:`_read_files_dv`); a version with none reads the plain
        parquet union."""
        if version is None:
            version, files = self.snapshot()
            if version == 0 or not files:
                # raise BEFORE touching any manifest: an empty table has
                # no v0 manifest to open, and callers (the streaming
                # sinks' first micro-batch) catch exactly this ValueError
                raise NoCommittedData(f"{self.root} has no committed data")
        body = self._read_version(version)
        files = body["files"]
        if not files:
            raise NoCommittedData(f"{self.root} has no committed data")
        return self._read_files_dv(
            files, body.get("schema"), body.get("dv", {}),
            dv_rows=body.get("dv_rows"),
        )

    def pin(self, version: int) -> DataFrame:
        """:meth:`read` of committed ``version`` for serving: its parquet
        relation is built ONCE per process (the manifest-recorded schema
        spares the footer job) and every later :meth:`skip_read` at the
        version narrows that same relation instead of building one over
        its survivors — the per-request metadata cost of a pruned scan
        is then the driver-side prune alone."""
        body = self._body(version)
        files = (
            body["files"] if "files" in body else self._segment_files(body)
        )
        if not files:
            raise NoCommittedData(f"{self.root} has no committed data")
        base = self._relations.get(version)
        if base is None:
            base = self._read_files(files, body.get("schema"))
            _cache_put(self._relations, version, base, cap=64)
        return self._with_dv(
            base, files, body.get("dv", {}), body.get("dv_rows")
        )

    def version_at(self, ts_ms: int) -> int:
        """The latest version committed at-or-before ``ts_ms`` (epoch
        millis) — the resolution step of ``AS OF <timestamp>`` reads
        (``read(version_at(t))``).  Scans every retained manifest rather
        than binary-searching the stamps: commit wall-clocks come from
        racing writers' machines and need not be monotone in version
        order, so the answer is the LARGEST version with stamp ≤ t — the
        same tolerance the public formats apply to their commit
        timestamps.  Raises when nothing was committed by then (vacuum
        may also have pruned history past its retention horizon)."""
        best = None
        for v in self._versions():
            # raw manifest read: resolving a timestamp must not expand
            # every version's SEGMENTS (O(versions × segments) driver
            # reads on a cold open) — ts_ms lives on the body itself
            if self._read_version_raw(v).get("ts_ms", 0) <= ts_ms:
                best = v if best is None else max(best, v)
        if best is None:
            raise ValueError(
                f"{self.root}: no version committed at or before {ts_ms}"
            )
        return best

    def changes(self, since_version: int, to_version: int | None = None) -> DataFrame:
        """Change feed: the rows APPENDED after ``since_version`` (up to
        ``to_version``, default latest) — the incremental-consumer read
        that turns the log into a CDC source.  File-level diff of the two
        manifests, restricted to files introduced by *append* commits:
        compaction rewrites data into new file names but changes no rows,
        so its files are excluded by walking the intervening versions'
        ``action`` records rather than trusting name set differences.
        A downstream job that checkpoints its last-consumed version gets
        exactly-once incremental processing on top of the sink's
        exactly-once ingestion.  Retention caveat (the standard CDC one):
        the feed resolves the ORIGINAL appended files, so consume changes
        before :func:`vacuum`'s horizon passes the appends — after that
        the rows only survive inside compacted files, which carry no
        per-version attribution."""
        hi = to_version if to_version is not None else self.snapshot()[0]
        if hi < since_version:
            raise ValueError(f"to_version {hi} < since_version {since_version}")
        seen = set(
            self._read_version(since_version)["files"] if since_version else []
        )
        appended: list[str] = []
        for v in range(since_version + 1, hi + 1):
            body = self._read_version(v)
            action = body.get("action")
            if action in ("merge", "delete", "dv_delete", "restore"):
                # a row-mutating commit breaks file-level attribution: its
                # rewritten files mix surviving old rows with new ones, so
                # an append-only feed over this range would be silently
                # wrong (missed updates / resurrected deletes).  Refuse —
                # row-level CDC needs per-row change files (the formats'
                # CDF), which this minimal log deliberately omits.
                raise ValueError(
                    f"version {v} is a row-mutating '{action}' commit; the "
                    "append-only change feed cannot represent it — consume "
                    "from a snapshot diff instead"
                )
            if action == "append":
                appended.extend(n for n in body["files"] if n not in seen)
            seen.update(body["files"])
        if not appended:
            # empty delta WITH the table's schema, so consumers compose
            return self.read(hi).limit(0) if seen else self.spark.range(0)
        return self.spark.read.parquet(
            *[f"{self.root}/data/{n}" for n in appended]
        )

    def row_changes(
        self,
        key_cols: list[str],
        since_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Row-level change-data feed between two snapshots — the diff
        :meth:`changes` points consumers at when the range crosses a
        row-mutating (merge/delete) commit.  Returns the table's columns
        plus ``_change_type`` ∈ {insert, delete, update_preimage,
        update_postimage} (the public formats' CDF row types): keys only
        in the new snapshot are inserts, keys only in the old are
        deletes, keys in both whose non-key columns differ (null-safely)
        emit both images.  Unchanged rows are absent, so a downstream
        consumer applies the feed with one keyed upsert.

        Scale shape: one full-outer shuffle of BOTH snapshots on the key
        — inherent to a snapshot diff and the reason :meth:`changes`'s
        O(delta) file-level feed stays the fast path for append-only
        ranges; on a key-bucketed layout the join is exchange-free.
        Snapshots must be key-unique (the invariant :meth:`merge`
        maintains); duplicate keys would cross-multiply in the join.
        ``since_version=0`` diffs against the empty table, turning the
        feed into a full-table insert bootstrap."""
        from pyspark.sql import functions as F

        hi = to_version if to_version is not None else self.snapshot()[0]
        if hi < since_version:
            raise ValueError(
                f"to_version {hi} < since_version {since_version}"
            )
        new = self.read(hi)
        if since_version:
            old = self.read(since_version)
        else:
            old = new.limit(0)
        data_cols = [c for c in new.columns if c not in key_cols]
        # a range crossing a schema evolution: columns the old snapshot
        # predates read as NULL pre-images instead of failing to resolve
        old_cols = set(old.columns)
        o = old.select(
            *key_cols,
            *[
                (
                    F.col(c)
                    if c in old_cols
                    else F.lit(None).cast(new.schema[c].dataType)
                ).alias(f"__o_{c}")
                for c in data_cols
            ],
            F.lit(True).alias("__o_present"),
        )
        n = new.select(
            *key_cols,
            *[F.col(c).alias(f"__n_{c}") for c in data_cols],
            F.lit(True).alias("__n_present"),
        )
        j = o.join(n, key_cols, "full_outer")
        differs = F.lit(False)
        for c in data_cols:
            differs = differs | ~F.col(f"__o_{c}").eqNullSafe(
                F.col(f"__n_{c}")
            )

        def _emit(rows: DataFrame, side: str, kind: str) -> DataFrame:
            return rows.select(
                *key_cols,
                *[
                    F.col(f"__{side}_{c}").alias(c) for c in data_cols
                ],
                F.lit(kind).alias("_change_type"),
            )

        inserts = _emit(j.filter(F.col("__o_present").isNull()), "n", "insert")
        deletes = _emit(j.filter(F.col("__n_present").isNull()), "o", "delete")
        both = j.filter(
            F.col("__o_present").isNotNull()
            & F.col("__n_present").isNotNull()
            & differs
        )
        return (
            inserts.unionByName(deletes)
            .unionByName(_emit(both, "o", "update_preimage"))
            .unionByName(_emit(both, "n", "update_postimage"))
        )

    def history(self) -> list[dict]:
        """The audit/debug view of the log (DESCRIBE HISTORY analog):
        one dict per retained version — version, action, commit stamp,
        file count, and which files the commit added/removed relative to
        its predecessor.  Driver-side over the manifests only (no data
        reads); the retention horizon is vacuum's."""
        out: list[dict] = []
        prev: set[str] = set()
        prev_schema = None
        for v in self._versions():
            body = self._read_version(v)
            files = set(body["files"])
            out.append(
                {
                    "version": v,
                    "action": body.get("action"),
                    "ts_ms": body.get("ts_ms"),
                    "n_files": len(files),
                    "n_added": len(files - prev),
                    "n_removed": len(prev - files),
                    # the first write records the schema; a later
                    # version evolved it when its recorded one differs
                    "schema_evolved": bool(out)
                    and body.get("schema") != prev_schema,
                    "n_dv_files": sum(
                        len(v) for v in body.get("dv", {}).values()
                    ),
                }
            )
            prev, prev_schema = files, body.get("schema")
        return out

    # ---- maintenance ----------------------------------------------------

    def restore(self, version: int, max_retries: int = 20) -> int:
        """Roll the table back to ``version``'s contents (Delta
        ``RESTORE TABLE ... TO VERSION AS OF`` analog) as a NEW commit:
        the old version's file list is re-claimed at the head of the
        log, so history is preserved (the rolled-back versions remain
        time-travelable until vacuum's retention drops them) and
        concurrent readers never see a version disappear.  Metadata-only
        — no data file is read, written, or moved; the restored files
        must still exist, i.e. the target must be within vacuum's
        retained window (checked).  Schema and constraints also roll
        back to the target's (restoring past a tightening constraint
        would otherwise wedge the table: its own rows would violate it);
        the idempotent-writer watermark map ``txns`` does NOT roll back
        — replay protection must survive a restore or every already-
        committed streaming batch would re-apply.  Appends landing
        during the restore's optimistic window win: the restore rebases
        and re-claims ONLY when the head still equals the snapshot it
        read, else it aborts with :class:`CommitConflict` (restoring
        over an unseen commit would silently drop it)."""
        body = self._read_version(version)  # raises if pruned/unknown
        needed = list(body["files"]) + [
            n for lst in body.get("dv", {}).values() for n in lst
        ]
        missing = [
            n
            for n in needed
            if not self._fs.exists(
                _jpath(self._jvm, self.root, DATA_DIR, n)
            )
        ]
        if missing:
            raise ValueError(
                f"restore target v{version} references {len(missing)} "
                "vacuumed file(s); only versions inside the retention "
                "window can be restored"
            )
        entry_head = self.snapshot()[0]
        if entry_head == version:
            return entry_head  # restoring to the head is a no-op
        # the target's skipping stats roll back WITH its files: the head
        # manifest only covers its own file set, so without this, files
        # re-entering via restore would lose their entries and every
        # skip_read would degrade to a full scan until the next rewrite
        self._pending_stats.update(self._stats_of(body))
        # same for DV sidecar row counts: sidecars re-entering via the
        # restore keep their broadcast-gate entries
        self._pending_dv_rows.update(body.get("dv_rows") or {})
        if _pre_commit_hook is not None:
            _pre_commit_hook(self)
        for _ in range(max_retries):
            cur, _, txns, _, _, _ = self._snapshot_full()
            if cur != entry_head:
                raise CommitConflict(
                    f"a concurrent commit moved the head past "
                    f"v{entry_head} during restore; re-examine the table "
                    "and retry (blind re-claim would drop that commit)"
                )
            if self._try_claim(
                cur + 1,
                body["files"],
                "restore",
                txns,
                body.get("schema"),
                body.get("constraints", {}),
                body.get("dv", {}),
            ):
                return cur + 1
        raise RuntimeError(f"restore lost {max_retries} commit races")

    def vacuum(
        self,
        keep_versions: int = 2,
        keep_since_ms: int | None = None,
        min_age_ms: int = VACUUM_MIN_AGE_MS,
    ) -> list[str]:
        """Delete data files referenced by NO retained version (the last
        ``keep_versions`` snapshots stay readable) plus pruned log
        entries; returns the deleted file names.  Never touches a file a
        retained reader could resolve, so it is safe to run concurrently
        with readers pinned to retained versions.

        ``keep_since_ms`` adds time-based retention ON TOP of the version
        count: every version committed at-or-after that stamp also
        survives, so ``AS OF <timestamp>`` reads within the retention
        window keep resolving after maintenance (the public formats'
        retention-hours contract).

        ``min_age_ms`` is the orphan-file retention window (Delta's
        VACUUM retention / Iceberg's orphan-file ``older_than``): staged
        data files and manifest segments younger than this survive even
        when unreferenced, because an IN-FLIGHT commit's files are
        unreferenced by definition until its claim wins — ungated GC
        racing such a commit would delete segments its winning manifest
        then references, corrupting the log itself (r10 ADVICE #2).
        Pass 0 only when no writer can possibly be in flight."""
        vs = self._versions()
        keep = set(vs[-keep_versions:] if vs else [])
        if keep_since_ms is not None:
            keep |= {
                v
                for v in vs
                # raw read — time retention needs only the commit stamp,
                # never the expanded file list
                if self._read_version_raw(v).get("ts_ms", 0) >= keep_since_ms
            }
        keep = sorted(keep)
        live: set[str] = set()
        live_segs: set[str] = set()
        for v in keep:
            body = self._read_version(v)
            live |= set(body["files"])
            # DV sidecars referenced by a retained version are as live as
            # the data files they mask — deleting one would resurrect rows
            live |= {n for lst in body.get("dv", {}).values() for n in lst}
            live_segs |= set(body.get("segments", ()))
        horizon = int(time.time() * 1000) - min_age_ms
        deleted = []
        for f in self._fs.listStatus(_jpath(self._jvm, self.root, DATA_DIR)):
            name = f.getPath().getName()
            if f.isDirectory() or name in live:
                continue
            if f.getModificationTime() > horizon:
                continue  # possibly an in-flight commit's staged file
            self._fs.delete(f.getPath(), False)
            deleted.append(name)
        for v in vs:
            if v in keep:
                continue
            self._fs.delete(
                _jpath(self._jvm, self.root, LOG_DIR, f"v{v:012d}.json"),
                False,
            )
        # segments referenced by NO retained manifest: pruned versions'
        # exclusive segments plus losing claims' orphans.  Deleted last —
        # every manifest that could resolve them is already gone — and
        # only past the age horizon: a racing commit's freshly written
        # segments are unreferenced until its claim WINS, and deleting
        # them here would let a winning manifest reference dead segments
        for f in self._fs.listStatus(_jpath(self._jvm, self.root, LOG_DIR)):
            name = f.getPath().getName()
            if (
                name.startswith("seg-")
                and name.endswith(".json")
                and name not in live_segs
                and f.getModificationTime() <= horizon
            ):
                self._fs.delete(f.getPath(), False)
                self._seg_cache.pop(name, None)
        return sorted(deleted)
