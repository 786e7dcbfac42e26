"""Persisted BM25 serving index — term-bucket-partitioned postings with
partition-pruned top-k and mergeable per-batch statistics partials.

The batch pipeline answers "rank the corpus for this query" by deriving
TF/DF/dlen from the raw text (one tokenize + one shuffle per session,
amortized by the plan cache).  A SERVING deployment must not pay a
corpus scan per query: this module freezes the statistics into an
on-disk index laid out so a query opens only the files its terms can
live in — the sparse twin of ``similarity.ivf_save`` /
``ivf_topk_from_disk``.  Reference parity: this layout is what the
reference's MongoDB ``tf5``/``idf`` collections exist to provide
(``MongoTFSink.java:43-58``, ``util/MongoUtil.java:117-187`` — per-term
point lookups against a materialized store), re-expressed as
partition-pruned parquet so the SAME cluster that built the index can
serve it with no extra system.

Layout (all under one root directory; every batch owns its
``_batch_id=<i>`` partition so a re-delivered batch REPLACES itself —
dynamic partition overwrite — instead of double-counting):

- ``postings/_batch_id=<i>/bucket=<b>/`` — ``(word, doc_id, tf, dl)``,
  the fact relation, ``bucket = h60(word) % n_buckets``.
- ``df/_batch_id=<i>/bucket=<b>/`` — ``(word, df)`` per-batch partials.
- ``stats/_batch_id=<i>/`` — ``(n_docs, n_dlen_docs, total_dl,
  n_buckets)`` per-batch one-row partials.

Section directories live at the root until the first compaction;
every compaction after that writes a complete NEW tree ``v<N>/`` and
flips one pointer file ``_manifest_v<N>`` — reader-atomic version
swaps with a one-compaction-cycle grace period for in-flight readers
(see :class:`_Layout`).

``h60`` is the engine's portable md5-derived hash
(`functions/hashing.py`), so the driver computes a query's buckets with
``hashlib`` — no Spark job on the query path — and an external engine
can replicate the assignment bit-for-bit.

Incremental maintenance writes each batch's own partition only (the
KMV/HLL merge-law philosophy): the serving query folds partials at
read time (sum df per word, sum the one-row stats).  Folding ≤
batches × |query terms| df rows per query is free; in exchange
:func:`bm25_index_add` never reads or rewrites the archive's data — no
read-modify-write hazard, no compaction stall on the write path, any
batch arrival order yields the same scores as a full rebuild, and a
redelivered batch id is a no-op (all pinned by test).  doc_ids must be
disjoint across batches (the incremental-tier contract shared with the
minhash / embedding / line screens).

At 100 TB: the index build is the corpus's one TF shuffle plus a
doc_id-keyed join — paid once; each query then reads
``|query buckets| / n_buckets`` of the postings files (directory-level
partition pruning), and the ``word IN (...)`` predicate pushes into
parquet row-group skipping within them.
"""

from __future__ import annotations

import hashlib
import os
import threading
from contextlib import contextmanager
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_bm25_spark.config import BM25_B, BM25_K1
from flink_bm25_spark.functions.hashing import h60
from flink_bm25_spark.operators.bm25 import bm25_topk
from flink_bm25_spark.operators.df_idf import document_frequencies
from flink_bm25_spark.operators.pipeline import build_corpus_stats
from flink_bm25_spark.operators.sinks import overwrite_mode
from flink_bm25_spark.operators.tf import doc_lengths
from flink_bm25_spark.operators.tokenize import tokenize


# Stream-maintained batches live at STREAM_BATCH_BASE + micro-batch id;
# manual adds allocate strictly below it, so the two id spaces can never
# collide (a manual add landing on a stream id would let the stream's
# next dynamic overwrite partially wipe it — postings replaced per
# (batch, bucket) partition but the stats row replaced wholesale).
STREAM_BATCH_BASE = 1_000_000_000


def _fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the Hadoop FileSystem API — resolves the
    SAME filesystem the reads/writes use (HDFS/S3A/ABFS/local), unlike
    ``os.path``, which only ever sees the driver's local disk and would
    silently report a remote index's sections as absent."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def _fs_delete(spark: SparkSession, path: str) -> None:
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(jpath, True)


def _fs_rename(spark: SparkSession, src: str, dst: str) -> None:
    jvm = spark._jvm
    jsrc = jvm.org.apache.hadoop.fs.Path(src)
    jdst = jvm.org.apache.hadoop.fs.Path(dst)
    fs = jsrc.getFileSystem(spark._jsc.hadoopConfiguration())
    parent = jdst.getParent()
    if parent is not None and not fs.exists(parent):
        fs.mkdirs(parent)
    if not fs.rename(jsrc, jdst):
        raise IOError(f"rename failed: {src} -> {dst}")


# Marker file recording which streaming checkpoint owns an index's
# stream-id space.  Written at a stream's first micro-batch, checked on
# every later first-micro-batch (a DIFFERENT checkpoint starting at
# batch 0 would silently overwrite the owner's partitions — including
# the one case batch ids alone cannot distinguish, an index whose only
# stream batch is id 0), cleared by a FULL compaction (after the fold
# no stream partitions remain to collide with).
STREAM_OWNER_FILE = "_stream_owner"

# Root-level write stamp — a monotonically increasing counter bumped by
# EVERY mutating operation (save/add/delete/upsert/compact/forward), so
# a cached reader (``Bm25Index.warm()``) can detect an external writer
# (another session, the CLI) with ONE tiny filesystem read instead of a
# Spark job per query.
WRITE_STAMP_FILE = "_last_write"

# Manifest pointer files — ``_manifest_v<N>`` names the CURRENT section
# tree ``<path>/v<N>/``; see `_Layout` for the protocol.
MANIFEST_PREFIX = "_manifest_v"

# Snapshot pins — ``_pin_v<N>`` marks a version tree GC must NEVER
# reclaim, making the manifest protocol's retained trees first-class
# snapshots: pin a version, keep querying it (``version=`` on every
# read entry point) while maintenance rolls the current tree forward —
# reproducible evals against a frozen corpus state, blue/green index
# rollout, post-incident forensics.  A pinned tree is immutable once
# SUPERSEDED (mutations only ever write into the current tree);
# `bm25_index_snapshot` = pin-then-fold produces exactly that.
PIN_PREFIX = "_pin_v"

# Writer lease — one atomically-created file serializes every MUTATING
# op (add/delete/upsert/compact/gc, both tiers) across sessions; see
# `_writer_lock`.  Readers never touch it (reader atomicity is the
# manifest's job).
WRITER_LOCK_FILE = "_writer_lock"
WRITER_LOCK_TIMEOUT_S = 120.0
WRITER_LOCK_TTL_S = 600.0

# Partition column naming the batch that wrote a row.
BATCH_COL = "_batch_id"

# Every section a compaction may produce (also the GC scope for stale
# version trees and the bare pre-manifest layout).
SECTIONS = ("postings", "df", "stats", "forward", "hot", "deleted")


def _tombstone_schema(key: str) -> str:
    """The ``deleted/`` section's schema, keyed by the tier's id column
    (``doc_id`` here, ``vec_id`` for the IVF index)."""
    return f"{key} bigint, below bigint, {BATCH_COL} int"


# Declared schema of every section — data then partition columns, exactly
# as parquet inference types what the writers produce — pinned by every
# read (`_read_section`), so no read pays a schema-inference job; tests
# hold every writer to it.  Batch ids stay int: manual ids are below
# STREAM_BATCH_BASE, stream ids near it plus twice the micro-batch count.
SECTION_SCHEMAS = {
    "postings": "word string, doc_id bigint, tf bigint, dl bigint,"
    " _batch_id int, bucket int",
    "df": "word string, df bigint, _batch_id int, bucket int",
    "stats": "n_docs bigint, n_dlen_docs bigint, total_dl bigint,"
    " n_buckets int, _batch_id int",
    "forward": "doc_id bigint, dl bigint,"
    " terms array<struct<word:string,tf:bigint>>, _batch_id int, fbucket int",
    "hot": "word string, n_salts int, _batch_id int",
    "deleted": _tombstone_schema("doc_id"),
}


def _fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)
    out.write(bytearray(text.encode("utf-8")))
    out.close()


def _fs_read_text(spark: SparkSession, path: str) -> str | None:
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        lines = []
        line = reader.readLine()
        while line is not None:
            lines.append(line)
            line = reader.readLine()
        return "\n".join(lines)
    finally:
        stream.close()


def _fs_list_names(spark: SparkSession, path: str) -> list[str]:
    """Child names of a directory through the Hadoop FileSystem API
    (same-filesystem discipline as the other ``_fs_*`` helpers)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(jpath)]


def _numbered(spark: SparkSession, path: str, prefix: str) -> set[int]:
    """The ``<n>`` of every ``<prefix><n>`` child of a directory —
    manifests, pins, version trees, batch partitions; no Spark job."""
    return {
        int(n[len(prefix):])
        for n in _fs_list_names(spark, path)
        if n.startswith(prefix) and n[len(prefix):].isdigit()
    }


def _list_manifest_versions(spark: SparkSession, path: str) -> list[int]:
    return sorted(_numbered(spark, path, MANIFEST_PREFIX))


def _list_pins(spark: SparkSession, path: str) -> set[int]:
    return _numbered(spark, path, PIN_PREFIX)


def _next_version(spark: SparkSession, path: str, current: int) -> int:
    """The version number the next fold writes: one past EVERY version
    still on disk — manifest-current, surviving tree directories, and
    pins — not just ``current + 1``.  A ``*_save`` reset drops the
    manifest back to bare v0 while pinned snapshot trees survive;
    counting from the manifest alone would eventually collide with (and
    clobber) a pinned tree."""
    taken = {int(current)} | _list_pins(spark, path) | _numbered(spark, path, "v")
    return max(taken) + 1


class _Layout:
    """Resolved view of an index's CURRENT version — the reader-atomicity
    mechanism for compaction.

    Protocol: section directories live either at the index root (the
    bare pre-compaction layout, version 0) or under ``<path>/v<N>/``; a
    zero-byte-sufficient pointer file ``_manifest_v<N>`` (its NAME is
    the pointer — readers never parse the content, so a partially
    written file is already a valid flip) names the current tree.
    Compaction writes a COMPLETE new tree ``v<N+1>/`` first, then
    creates ``_manifest_v<N+1>`` — one atomic file-create is the whole
    swap, so a query that resolved its layout either sees all-old or
    all-new sections, never a mix (the mid-swap window of the r7
    staged-rename design).  Superseded trees are reclaimed by a later
    compaction only after a time-based read grace (`_gc_versions`).

    Every public read/write entry point resolves the layout ONCE and
    uses it for all its section paths; mutating ops (add/delete/upsert)
    write into the current tree — their new partition directories
    appear atomically to readers exactly as before.

    ``version=`` pins the resolution to a SPECIFIC tree instead of the
    current one (time-travel read): a superseded tree is immutable, so
    the read is a consistent snapshot as of the fold that superseded
    it.  Pin the version (`bm25_index_pin`) or GC reclaims the tree
    after its read grace.  Pinning the CURRENT version does not freeze
    it — mutations keep landing in the current tree until the next fold
    supersedes it (that pin-then-fold pair IS `bm25_index_snapshot`)."""

    def __init__(
        self, spark: SparkSession, path: str, version: int | None = None
    ):
        self.spark = spark
        self.path = path
        versions = _list_manifest_versions(spark, path)
        current = versions[-1] if versions else 0
        if version is None or int(version) == current:
            self.version = current
        else:
            v = int(version)
            tree = path if v == 0 else os.path.join(path, f"v{v}")
            # Pinned resolution goes by TREE DIRECTORY, not manifest —
            # a pinned tree outlives its manifest pointer (and even a
            # full ``*_save`` reset to bare v0).  Early, readable
            # failure for a reclaimed/never-existing tree (v0's root
            # always exists, so its absence surfaces at the parquet
            # read instead — same outcome, later).
            if v > 0 and not _fs_exists(spark, tree):
                raise FileNotFoundError(
                    f"index version v{v} is not readable at {path!r}"
                    f" (current v{current}; on-disk manifests"
                    f" {versions or [0]}). Superseded trees survive only"
                    " their read grace unless pinned (bm25_index_pin /"
                    " ivf_pin)."
                )
            self.version = v
        self.root = (
            path if self.version == 0 else os.path.join(path, f"v{self.version}")
        )

    def sec(self, name: str) -> str:
        return os.path.join(self.root, name)

    def has(self, name: str) -> bool:
        return _fs_exists(self.spark, self.sec(name))


def _read_section(
    spark: SparkSession, lay: _Layout, name: str, schema: str | None = None
) -> DataFrame:
    """One section of the resolved tree, read with its declared schema
    (`SECTION_SCHEMAS` unless given) — the engine wrote it, so nothing
    is inferred."""
    return spark.read.schema(schema or SECTION_SCHEMAS[name]).parquet(
        lay.sec(name)
    )


def _section_batch_ids(spark: SparkSession, lay: _Layout, name: str) -> set[int]:
    """The ``_batch_id=<n>`` partition directories of one section of the
    resolved tree — a directory listing, no Spark job."""
    return _numbered(spark, lay.sec(name), f"{BATCH_COL}=")


def _fs_mtime_ms(spark: SparkSession, path: str) -> int:
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return int(fs.getFileStatus(jpath).getModificationTime())


class IndexWriteConflict(RuntimeError):
    """A mutating op found the manifest version moved under it — a
    NON-LOCKING concurrent compaction flipped the tree mid-write, so the
    sections just written sit in a superseded tree a later GC would
    reclaim.  Retryable: re-running the op (same batch id) re-resolves
    the current tree and its dynamic partition overwrite converges."""


def _fs_create_atomic(spark: SparkSession, path: str, text: str) -> bool:
    """Create ``path`` with ``text`` ONLY if it does not exist — the
    mutual-exclusion primitive under `_writer_lock`.  On ``file://`` this
    is ``java.io.File.createNewFile`` (POSIX ``O_CREAT|O_EXCL``, truly
    atomic — Hadoop's RawLocalFileSystem create(overwrite=false) is a
    non-atomic exists-then-create); elsewhere it is the filesystem's own
    ``create(path, overwrite=false)`` (atomic on HDFS; object stores
    without atomic create should run maintenance single-writer —
    DEPLOY.md)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.getScheme() == "file":
        f = jvm.java.io.File(jpath.toUri().getPath())
        parent = f.getParentFile()
        if parent is not None:
            parent.mkdirs()
        if not f.createNewFile():
            return False
        _fs_write_text(spark, path, text)
        return True
    try:
        out = fs.create(jpath, False)
        out.write(bytearray(text.encode("utf-8")))
        out.close()
        return True
    except Exception as e:  # noqa: BLE001 — py4j wraps the Java class
        if "AlreadyExists" in str(e) or "already exists" in str(e).lower():
            return False
        raise


_WRITER_LOCKS_HELD = threading.local()


@contextmanager
def _writer_lock(
    spark: SparkSession,
    path: str,
    timeout_s: float | None = None,
    ttl_s: float | None = None,
):
    """Serialize MUTATING ops on an index across sessions — the writer
    fence the manifest protocol needs: without it, an add/delete/upsert
    racing a compaction in ANOTHER process can land its sections in the
    tree the fold is about to supersede, and a later GC silently
    reclaims the write.  One lease file (`WRITER_LOCK_FILE`), taken by
    every mutator and compaction via atomic create-no-overwrite;
    re-entrant within a thread (upsert calls save_forward under the same
    lease).  Readers never take it.

    Crash recovery: a lease older than ``ttl_s`` is presumed abandoned
    and broken (delete + re-acquire) — best-effort by nature, backed by
    a read-back token verification after every acquire; the TTL is far
    above any single op's wall time, so a live writer is never broken.
    Waiting writers poll with jitter until ``timeout_s``."""
    held = _WRITER_LOCKS_HELD.__dict__.setdefault("paths", {})
    if held.get(path):
        held[path] += 1
        try:
            yield
        finally:
            held[path] -= 1
        return
    import random  # noqa: PLC0415
    import time  # noqa: PLC0415
    import uuid  # noqa: PLC0415

    timeout_s = WRITER_LOCK_TIMEOUT_S if timeout_s is None else timeout_s
    ttl_s = WRITER_LOCK_TTL_S if ttl_s is None else ttl_s
    lock = os.path.join(path, WRITER_LOCK_FILE)
    token = f"{os.getpid()}:{uuid.uuid4().hex}"
    deadline = time.monotonic() + float(timeout_s)
    while True:
        if _fs_create_atomic(spark, lock, token):
            # read-back: a TTL-breaker racing this create could have
            # replaced the file — only our own token means we hold it
            if _fs_read_text(spark, lock) == token:
                break
        else:
            try:
                m1 = _fs_mtime_ms(spark, lock)
                age_s = (time.time() * 1000 - m1) / 1e3
                if age_s >= float(ttl_s):
                    # Abandoned lease: break it by ATOMIC RENAME (one
                    # breaker wins; the loser's rename raises and it
                    # re-loops) — a plain delete lets two breakers
                    # interleave delete/create/delete and BOTH hold.
                    # The mtime re-check just before the rename ties the
                    # break to the file observed stale: a fresh lock
                    # that replaced it since the first stat has a new
                    # mtime and is never broken.  The residual
                    # microsecond stat-to-rename window is why the
                    # holder ALSO read-back-verifies after create and
                    # the TTL sits far above any op's wall time.
                    if _fs_mtime_ms(spark, lock) != m1:
                        continue  # replaced since the stat: not stale
                    grave = f"{lock}.broken.{uuid.uuid4().hex[:8]}"
                    _fs_rename(spark, lock, grave)
                    _fs_delete(spark, grave)
                    continue
            except Exception:  # noqa: BLE001 — lost the break race or the
                continue  # lock was released between list and stat: re-loop
        if time.monotonic() >= deadline:
            raise TimeoutError(
                f"could not acquire the writer lease {lock!r} within"
                f" {timeout_s}s — another session is mutating this index"
                " (or crashed less than ttl_s ago); retry, or raise"
                " timeout_s for long compactions"
            )
        time.sleep(random.uniform(0.02, 0.1))
    held[path] = 1
    try:
        yield
    finally:
        held.pop(path, None)
        if _fs_read_text(spark, lock) == token:
            _fs_delete(spark, lock)


def _locked_writer(get_ctx):
    """Decorator running a mutating op under the index's writer lease —
    ``get_ctx`` maps the op's args to ``(spark, path)``."""
    import functools  # noqa: PLC0415

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            spark, path = get_ctx(*args, **kwargs)
            with _writer_lock(spark, path):
                return fn(*args, **kwargs)

        return wrapper

    return deco


def _verify_tree_current(
    spark: SparkSession, path: str, version: int
) -> None:
    """Belt-and-braces behind `_writer_lock`: after its section writes, a
    mutator re-lists the manifest — a version moved mid-write means a
    NON-LOCKING writer (legacy client) folded concurrently and the write
    landed in a superseded tree.  Raise the retryable conflict INSTEAD of
    stamping success; the caller re-runs into the current tree (same
    batch id ⇒ idempotent)."""
    versions = _list_manifest_versions(spark, path)
    current = versions[-1] if versions else 0
    if current != version:
        raise IndexWriteConflict(
            f"manifest moved v{version} -> v{current} during the write:"
            " a concurrent compaction superseded the tree this mutation"
            " landed in. The write did NOT commit — retry the operation"
            " (idempotent under the same batch id). Upgrade all writers"
            " to lease-taking clients to avoid this race."
        )


def _gc_versions(
    spark: SparkSession,
    path: str,
    keep: int,
    sections: tuple[str, ...] = SECTIONS,
    grace_seconds: float = 0.0,
) -> None:
    """Reclaim section trees no reader can (or may any longer) hold —
    run at the START of a compaction.

    Two tiers, because readers resolve the layout through the manifest:

    - ORPHAN trees (``v<M>`` with ``M > keep`` — a compaction crashed
      before its manifest flip, so no reader ever resolved them) are
      reaped unconditionally.
    - SUPERSEDED trees (versions below ``keep``, including the bare v0
      sections) are reaped only once the CURRENT manifest is at least
      ``grace_seconds`` old: every reader of an older version resolved
      its layout BEFORE that manifest appeared, so it has had the full
      grace window to finish — time-based snapshot retention, the same
      discipline table formats use, which stays correct under
      back-to-back folds where a fixed keep-one-previous rule would
      delete a tree mid-read (caught by the concurrent-hammer test).

    ``keep=0`` (no manifest / an explicit reset) reclaims everything
    versioned immediately — with no manifest there is nothing a reader
    could have resolved.  ``sections`` names the bare (v0) dirs this
    index type owns — the BM25 set by default, ``IVF_SECTIONS`` for IVF.

    PINNED versions (``_pin_v<N>``) keep their section TREE through
    every tier until unpinned — that is the snapshot contract
    (`bm25_index_pin`).  Their superseded MANIFEST file is still
    reclaimed normally: manifests are current-version pointers, and a
    stale one surviving a full reset (``*_save`` rebuilds to bare v0)
    would hijack the current resolution back to the pinned tree.
    Pinned reads resolve by tree directory, not manifest."""
    expired = True
    if keep != 0 and grace_seconds > 0:
        import time  # noqa: PLC0415

        cur = os.path.join(path, f"{MANIFEST_PREFIX}{keep}")
        age_s = (time.time() * 1000 - _fs_mtime_ms(spark, cur)) / 1000.0
        expired = age_s >= grace_seconds
    pins = _list_pins(spark, path)
    for v in _list_manifest_versions(spark, path):
        if v != keep and (v > keep or expired):
            _fs_delete(spark, os.path.join(path, f"{MANIFEST_PREFIX}{v}"))
    for v in _numbered(spark, path, "v"):
        if v != keep and v not in pins and (v > keep or expired):
            _fs_delete(spark, os.path.join(path, f"v{v}"))
    if keep != 0 and expired and 0 not in pins:
        for name in sections:
            bare = os.path.join(path, name)
            if _fs_exists(spark, bare):
                _fs_delete(spark, bare)


def _next_stamp(old: str | None) -> str:
    """The stamp value the next write records, given the current one —
    ``<counter>-<nonce>``: the counter keeps stamps human-orderable, the
    per-write random nonce makes every write's value UNIQUE even when
    two writers interleave their read-modify-write on the same counter
    base (a plain counter could collide on the same value, letting a
    warm reader holding the pre-race stamp miss one of the writes)."""
    import uuid  # noqa: PLC0415

    head = old.split("-", 1)[0].strip() if old else ""
    cnt = int(head) + 1 if head.isdigit() else 1
    return f"{cnt}-{uuid.uuid4().hex[:12]}"


def _touch_stamp(spark: SparkSession, path: str) -> None:
    old = _fs_read_text(spark, os.path.join(path, WRITE_STAMP_FILE))
    _fs_write_text(
        spark, os.path.join(path, WRITE_STAMP_FILE), _next_stamp(old)
    )


def read_write_stamp(spark: SparkSession, path: str) -> str | None:
    """The index's current write stamp (None for an index written before
    stamps existed) — compare across time to detect external writers."""
    return _fs_read_text(spark, os.path.join(path, WRITE_STAMP_FILE))


class Bm25IndexBatch(NamedTuple):
    """One batch's contribution to the index: the postings fact relation
    plus the two mergeable statistics partials."""

    postings: DataFrame  # (bucket, word, doc_id, tf, dl)
    df_parts: DataFrame  # (bucket, word, df)
    stats_parts: DataFrame  # (n_docs, n_dlen_docs, total_dl, n_buckets)


def _bucket(word_col, n_buckets: int):
    return F.pmod(h60(word_col), F.lit(n_buckets)).cast("int")


def query_buckets(terms: tuple[str, ...], n_buckets: int) -> list[int]:
    """Driver-side bucket assignment for a query's terms — the python
    twin of the in-plan ``pmod(h60(word), n_buckets)`` (same md5 recipe,
    pinned equal by test), so the query path needs no Spark job to learn
    which partitions to open."""
    return _open_buckets(terms, n_buckets, {})


def _h_driver(term: str) -> int:
    """Driver-side twin of the in-plan ``h60`` (same md5 recipe)."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:15], 16)


def _open_buckets(
    terms: tuple[str, ...], n_buckets: int, hot: dict[str, int]
) -> list[int]:
    """The buckets a query must open against a PERSISTED index: the
    base bucket per term, plus — for terms the index salted as hot —
    every salted sub-bucket ``(h60(word) + salt) % n_buckets``."""
    buckets = set()
    for t in terms:
        h = _h_driver(t)
        buckets.update((h + s) % n_buckets for s in range(hot.get(t, 1)))
    return sorted(buckets)


# The whole-index hot-salt map is held on the driver only while it is
# genuinely small; past this many hot words a warm index probes the
# query's own terms instead.
HOT_CACHE_CAP = 10_000


def _hot_fold(
    spark: SparkSession, lay: _Layout, terms: tuple[str, ...] | None = None
) -> DataFrame | None:
    """``(word, n_salts)`` from the tiny ``hot/`` relation — pruned to
    ``terms`` when given — or None when the index has no hot section;
    at most `HOT_CACHE_CAP` + 1 rows.  Folding with MAX is
    safe-by-superset: if batches disagree on a word's salt count,
    opening the widest salt range covers every bucket any batch wrote
    (the word equality inside keeps scores exact).  ``coalesce(1)``
    satisfies the fold's clustering, so it plans no shuffle."""
    if not lay.has("hot"):
        return None
    hot = _read_section(spark, lay, "hot")
    if terms is not None:
        hot = hot.where(F.col("word").isin(*terms))
    return (
        hot.coalesce(1)
        .groupBy("word")
        .agg(F.max("n_salts").alias("n_salts"))
        .limit(HOT_CACHE_CAP + 1)
    )


def _index_batch_with_tf(
    documents: DataFrame,
    n_buckets: int = 64,
    tokenizer=tokenize,
) -> tuple[Bm25IndexBatch, DataFrame]:
    """One batch's index relations PLUS the pinned TF relation they all
    derive from.  The TF relation is eagerly localCheckpointed
    (disk-backed): the postings/df/stats section writes are three
    separate Spark actions — without the pin each one re-runs the whole
    tokenize + TF-shuffle lineage, and the forward section (when
    maintained) would re-tokenize a fourth time.  One tokenize per
    batch, full stop."""
    stats = build_corpus_stats(documents, tokenizer=tokenizer)
    tf = stats.tf.localCheckpoint(eager=True)
    dlen = doc_lengths(tf)
    postings = (
        tf.join(dlen, "doc_id")
        .select(
            _bucket(F.col("word"), n_buckets).alias("bucket"),
            "word",
            F.col("doc_id").cast("long").alias("doc_id"),
            "tf",
            "dl",
        )
    )
    df_parts = document_frequencies(tf).select(
        _bucket(F.col("word"), n_buckets).alias("bucket"), "word", "df"
    )
    stats_parts = (
        documents.agg(F.count("*").cast("long").alias("n_docs"))
        .crossJoin(
            dlen.agg(
                F.count("*").cast("long").alias("n_dlen_docs"),
                F.sum("dl").cast("long").alias("total_dl"),
            )
        )
        .withColumn("n_buckets", F.lit(n_buckets))
    )
    return Bm25IndexBatch(postings, df_parts, stats_parts), tf


def bm25_index_batch(
    documents: DataFrame,
    n_buckets: int = 64,
    tokenizer=tokenize,
) -> Bm25IndexBatch:
    """Derive one batch's index relations from raw documents.

    One tokenize + the TF shuffle (pinned by `_index_batch_with_tf`, so
    the three section writes share it), then a doc_id-keyed join
    denormalizes ``dl`` into the postings so the query path never joins
    doc lengths.  ``n_docs`` counts ALL batch documents (the ``idf =
    ln(N/(df+1))`` population, matching ``df_idf.idf``);
    ``n_dlen_docs``/``total_dl`` count only docs with surviving tokens
    (the ``avgdl`` population, matching ``bm25_rank``'s
    ``dlen.agg(avg)``)."""
    return _index_batch_with_tf(documents, n_buckets, tokenizer)[0]


def merge_index_batches(batches: list[Bm25IndexBatch]) -> Bm25IndexBatch:
    """Union per-batch relations — partials stay UNFOLDED (the fold
    happens inside the scoring query), so merge is pure concatenation:
    any grouping of batches yields the same folded statistics."""
    p, d, s = batches[0]
    for b in batches[1:]:
        p = p.unionByName(b.postings)
        d = d.unionByName(b.df_parts)
        s = s.unionByName(b.stats_parts)
    return Bm25IndexBatch(p, d, s)


def bm25_topk_from_partials(
    index: Bm25IndexBatch,
    query_terms: tuple[str, ...],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k ``(doc_id, score, rk)`` for a bag-of-words query against
    IN-MEMORY index relations — the relational form of the served
    scoring path, through the same core (`bm25.bm25_topk`) as the
    on-disk paths and the batch rankers.

    Plan shape: postings pruned to the query's terms FIRST; corpus
    scalars folded from the batches-row stats relation and broadcast as
    one row, so no scalar round-trips through Python (``bm25_rank``'s
    posture).  Scores are identical to ``bm25_rank`` over the
    concatenated corpus because both folds are exact sums.

    An EMPTY term tuple (a stopword-only query after tokenization)
    needs no short-circuit: the zero-arg ``word IN ()`` filter is
    constant false, the optimizer empties the whole plan, and the
    result is 0 rows with no read."""
    word = F.col("word").isin(*query_terms)
    scalars = index.stats_parts.agg(
        F.sum("n_docs").cast("double").alias("n_docs"),
        (
            F.sum("total_dl").cast("double")
            / F.sum("n_dlen_docs").cast("double")
        ).alias("avgdl"),
    )
    return _served_topk(
        index.postings.where(word).crossJoin(F.broadcast(scalars)),
        _fold_df(index.df_parts.where(word)),
        F.col("n_docs"),
        F.col("avgdl"),
        k, k1, b,
    )


def _fold_df(df_parts: DataFrame) -> DataFrame:
    """``(word, df)``: the per-batch df partials summed per word."""
    return df_parts.groupBy("word").agg(F.sum("df").cast("long").alias("df"))


def _served_topk(
    matches: DataFrame,
    df: DataFrame,
    n_docs,
    avgdl,
    k: int,
    k1: float,
    b: float,
    **kw,
) -> DataFrame:
    """The served join in front of the scoring core (`bm25.bm25_topk`):
    postings ``matches`` ⋈ the broadcast per-word ``df`` fold, idf =
    ``ln(n_docs/(df+1))``.  ``n_docs`` / ``avgdl`` are Columns:
    literals on the on-disk paths, the broadcast scalar row's columns
    on the in-memory partials path."""
    idf = F.log(n_docs / (F.col("df") + F.lit(1)))
    joined = matches.join(F.broadcast(df), "word")
    return bm25_topk(joined, idf, avgdl, k, k1, b, **kw)


# Above this many distinct query terms, batch serving stops pushing a
# word IN (...) literal into the scans (plan-size blowup, driver-side
# term materialization) and relies on the broadcast hash join alone.
ISIN_TERM_CAP = 64


def _hot_words(df_parts: DataFrame, hot_df_cap: int, n_buckets: int) -> DataFrame:
    """``(word, n_salts)`` for the batch's terms whose df exceeds the
    cap — the stopword-grade keys that would otherwise concentrate one
    bucket directory.  ``n_salts = ceil(df / cap)`` capped at
    ``n_buckets``: postings volume per salted sub-bucket stays ≤ cap."""
    return df_parts.where(F.col("df") > hot_df_cap).select(
        "word",
        F.least(
            F.ceil(F.col("df") / F.lit(float(hot_df_cap))), F.lit(n_buckets)
        ).cast("int").alias("n_salts"),
    )


def _salt_postings(
    postings: DataFrame, hot: DataFrame, n_buckets: int
) -> DataFrame:
    """Re-bucket hot words' postings across their salted sub-buckets:
    ``bucket = (h60(word) + doc_id % n_salts) % n_buckets``.  The salt
    is doc-keyed and deterministic, so a redelivered batch lands on the
    same buckets; non-hot words keep salt 0 — their bucket is unchanged.
    One broadcast join over the (tiny) hot relation; no extra shuffle
    (the write repartitions by partition columns regardless)."""
    return (
        postings.join(F.broadcast(hot), "word", "left")
        .withColumn(
            "bucket",
            F.pmod(
                h60(F.col("word"))
                + F.coalesce(
                    F.pmod(F.col("doc_id"), F.col("n_salts")), F.lit(0)
                ),
                F.lit(n_buckets),
            ).cast("int"),
        )
        .drop("n_salts")
        .select(*postings.columns)
    )


def _write_index_batch(
    batch: Bm25IndexBatch,
    root: str,
    batch_id: int,
    create: bool,
    n_buckets: int | None = None,
    hot_df_cap: int | None = None,
) -> None:
    """Persist one batch under its own ``_batch_id`` partition, into the
    section tree at ``root`` (the index path for the bare layout, the
    current ``v<N>`` tree once a compaction has versioned it).

    ``create=False`` uses DYNAMIC partition overwrite (not blind
    append): a re-delivered batch REPLACES its own ``_batch_id``
    partitions instead of double-counting, so at-least-once delivery
    (foreachBatch, retried jobs) becomes effectively-once in the index
    — the same sink discipline as ``streaming/curation.py``.  Postings
    and df stay bucket-partitioned WITHIN the batch partition; Catalyst
    prunes on ``bucket`` at any directory level, so the query path is
    unchanged.

    With ``hot_df_cap`` set, terms whose batch-local df exceeds the cap
    are SALTED across sub-buckets (``_salt_postings``) and recorded in
    the ``hot/`` section so the read side knows which extra buckets to
    open — the serving twin of ``operators/skew.py``'s salted
    aggregation (the reference hit the same hot-key wall on its ``idf``
    ``$inc`` upserts, ``BMStream.java:136-152``).  df partials keep the
    BASE bucket (one row per word — never skewed)."""
    spark = batch.postings.sparkSession
    tag = F.lit(batch_id).cast("long").alias(BATCH_COL)
    mode = "overwrite"
    postings = batch.postings
    hot = None
    if hot_df_cap is not None:
        hot = _hot_words(batch.df_parts, hot_df_cap, n_buckets or 64)
        if hot.isEmpty():
            hot = None  # no hot section: empty parquet dirs are unreadable
        else:
            postings = _salt_postings(postings, hot, n_buckets or 64)
    # set-and-restore, not set: leaking dynamic mode into the session
    # would silently turn every later static overwrite (e.g. compaction)
    # into a partial one
    with overwrite_mode(spark, "dynamic" if not create else "static"):
        postings.select(tag, "*").write.mode(mode).partitionBy(
            BATCH_COL, "bucket"
        ).parquet(os.path.join(root, "postings"))
        batch.df_parts.select(tag, "*").write.mode(mode).partitionBy(
            BATCH_COL, "bucket"
        ).parquet(os.path.join(root, "df"))
        batch.stats_parts.select(tag, "*").coalesce(1).write.mode(
            mode
        ).partitionBy(BATCH_COL).parquet(os.path.join(root, "stats"))
        if hot is not None:
            hot.select(tag, "*").coalesce(1).write.mode(mode).partitionBy(
                BATCH_COL
            ).parquet(os.path.join(root, "hot"))


def _reset_to_bare(spark: SparkSession, path: str, aux: tuple[str, ...]) -> None:
    """The full-rebuild preamble of both tiers' ``*_save``: drop every
    manifest and unpinned version tree, the auxiliary sections the
    rebuild does not rewrite, and the stream-owner marker."""
    _gc_versions(spark, path, keep=0)
    for name in (*aux, STREAM_OWNER_FILE):
        if _fs_exists(spark, os.path.join(path, name)):
            _fs_delete(spark, os.path.join(path, name))


@_locked_writer(lambda documents, path, *a, **k: (documents.sparkSession, path))
def bm25_index_save(
    documents: DataFrame,
    path: str,
    n_buckets: int = 64,
    tokenizer=tokenize,
    hot_df_cap: int | None = None,
    forward: bool = False,
) -> None:
    """Build and persist the index from an initial corpus batch
    (mode=overwrite — this CREATES the index as batch 0; grow it with
    :func:`bm25_index_add`).

    Creating OVER an existing index RESETS it to the bare version-0
    layout: auxiliary sections (``forward/``, ``hot/``, ``deleted/``),
    any manifest-versioned trees from past compactions, and the
    streaming-ownership marker are all cleared — the static overwrite
    only rewrites postings/df/stats, and a surviving forward section
    would keep serving term vectors for documents that are not in the
    rebuilt index, while a surviving ``_stream_owner`` would refuse the
    rebuilt index its first legitimate streaming checkpoint (and bless
    the stale one re-attaching over the new corpus)."""
    spark = documents.sparkSession
    _reset_to_bare(spark, path, ("forward", "hot", "deleted"))
    batch, tf = _index_batch_with_tf(documents, n_buckets, tokenizer)
    _write_index_batch(
        batch,
        path,
        0,
        create=True,
        n_buckets=n_buckets,
        hot_df_cap=hot_df_cap,
    )
    if forward:
        # share the pinned TF relation — building the forward section
        # with the index costs zero extra tokenize passes
        _write_forward(
            documents, os.path.join(path, "forward"), n_buckets, 0,
            create=True, tokenizer=tokenizer, tf=tf,
        )
    _touch_stamp(spark, path)


class _StatsFold(NamedTuple):
    """The stats partials folded: corpus scalars, the next free manual
    batch id and, when a hot fold rode the same collect, the salt map."""

    n_buckets: int
    n_docs: float
    avgdl: float
    next_batch_id: int
    # word -> n_salts; {} without a hot fold; None past HOT_CACHE_CAP
    salts: dict[str, int] | None


def _fold_stats(
    spark: SparkSession, lay: _Layout, hot: DataFrame | None = None
) -> _StatsFold:
    """ONE collect of the raw stats partials (a row per batch: no shuffle)
    plus ``hot`` (a `_hot_fold`), folded on the driver with exact integer
    sums — the doubles the in-plan ``sum().cast("double")`` fold gives.
    ``next_batch_id`` is one past the highest MANUAL id: a manual write
    never lands in the stream id space (:data:`STREAM_BATCH_BASE`)."""
    rel = _read_section(spark, lay, "stats")
    if hot is not None:
        rel = rel.unionByName(hot, allowMissingColumns=True)
    rows = rel.collect()
    salts = [r for r in rows if r["n_buckets"] is None]  # the hot rows
    rows = [r for r in rows if r["n_buckets"] is not None]

    def total(col: str) -> int:  # SQL sum: an empty batch's nulls add 0
        return sum(r[col] or 0 for r in rows)

    n_dlen = total("n_dlen_docs")
    return _StatsFold(
        n_buckets=int(rows[0]["n_buckets"]),
        n_docs=float(total("n_docs")),
        avgdl=float(total("total_dl")) / float(n_dlen) if n_dlen else 0.0,
        next_batch_id=_next_manual_id(r[BATCH_COL] for r in rows),
        salts=None
        if len(salts) > HOT_CACHE_CAP
        else {r["word"]: int(r["n_salts"]) for r in salts},
    )


def _next_manual_id(batch_ids) -> int:
    """One past the highest MANUAL id among ``batch_ids`` — stream ids
    (:data:`STREAM_BATCH_BASE` and above) never count."""
    return max((i for i in batch_ids if i < STREAM_BATCH_BASE), default=0) + 1


def _batch_id_or_next(next_id: int, batch_id: int | None) -> int:
    """An explicit batch id as given; else the next manual id."""
    if batch_id is not None:
        return batch_id
    if next_id >= STREAM_BATCH_BASE:
        raise ValueError(
            "manual batch-id space exhausted; compact the index"
            " (bm25_index_compact / ivf_compact) to fold batches back to 0"
        )
    return next_id


@_locked_writer(lambda documents, path, *a, **k: (documents.sparkSession, path))
def bm25_index_add(
    documents: DataFrame,
    path: str,
    tokenizer=tokenize,
    batch_id: int | None = None,
    hot_df_cap: int | None = None,
) -> None:
    """Fold a NEW document batch into a persisted index — O(batch) work:
    the archive's postings are never read, rewritten or re-tokenized.
    The batch's df/stats arrive as additional partials that the
    query-time fold sums.

    ``batch_id`` defaults to ``max(existing manual id) + 1`` (one tiny
    stats read) — allocated strictly BELOW :data:`STREAM_BATCH_BASE`, so
    a manual add after a stream has delivered batches can never land in
    the stream's id space (where the stream's next micro-batch would
    partially overwrite it).  Passing an EXPLICIT id makes the add
    idempotent for that id — a redelivery replaces its own partitions
    via dynamic partition overwrite — which is what the streaming
    maintenance loop relies on.  doc_ids must be disjoint from the
    archive (the incremental-tier caller contract).

    If the index carries a FORWARD section, the batch's doc-major rows
    land in it under the same batch id — both sections stay in lockstep
    with no extra caller step (the batch's tokenization is shared by
    lineage; adds remain O(batch))."""
    spark = documents.sparkSession
    lay = _Layout(spark, path)
    st = _fold_stats(spark, lay)
    batch_id = _batch_id_or_next(st.next_batch_id, batch_id)
    batch, tf = _index_batch_with_tf(documents, st.n_buckets, tokenizer)
    _write_index_batch(
        batch,
        lay.root,
        batch_id,
        create=False,
        n_buckets=st.n_buckets,
        hot_df_cap=hot_df_cap,
    )
    if lay.has("forward"):
        _write_forward(
            documents, lay.sec("forward"), st.n_buckets, batch_id,
            create=False, tokenizer=tokenizer, tf=tf,
        )
    _verify_tree_current(spark, path, lay.version)
    _touch_stamp(spark, path)


# "Delete every version" sentinel for a tombstone's `below` cutoff —
# far above any real batch id (stream ids top out near
# STREAM_BATCH_BASE + micro-batch count).
DELETE_ALL = 1 << 62


def _latest_tombstones(raw: DataFrame, key: str = "doc_id") -> DataFrame:
    """Fold raw tombstone rows to ``(key, below)``: per id, the LATEST
    tombstone wins (``max_by(below, _batch_id)``)."""
    return raw.groupBy(key).agg(
        F.max_by("below", F.col(BATCH_COL)).alias("below")
    )


def _read_deleted(
    spark: SparkSession,
    path: str,
    lay: "_Layout | None" = None,
    key: str = "doc_id",
) -> DataFrame | None:
    """The folded tombstone relation ``(key, below)`` if the index has
    pending deletes/upserts, else None — ``key`` is the tier's id column
    (``doc_id``; ``vec_id`` for the IVF index).

    Tombstones are VERSIONED: a row hides rows of its id with
    ``_batch_id < below`` (a plain delete writes ``below =
    DELETE_ALL``; an upsert writes ``below = its own batch id`` so the
    replacement version survives its own tombstone).  Per id, the
    LATEST tombstone wins — so an upsert after a delete resurrects the
    id, and a delete after an upsert removes every version.  Small by
    contract (compaction applies and clears it), so read paths
    broadcast it."""
    lay = lay or _Layout(spark, path)
    if not lay.has("deleted"):
        return None
    return _latest_tombstones(
        _read_section(spark, lay, "deleted", _tombstone_schema(key)), key
    )


def _drop_deleted(
    df: DataFrame, deleted: DataFrame | None, key: str = "doc_id"
) -> DataFrame:
    """Filter out tombstoned VERSIONS: rows whose ``_batch_id`` is below
    their id's tombstone cutoff.  ``df`` must still carry the
    ``_batch_id`` column (every on-disk read does — it is a partition
    column).

    No forced broadcast hint: tombstones are tiny in steady state (AQE
    broadcasts them at runtime), but between a corpus-shaped upsert and
    its compaction the relation is batch-sized — a forced broadcast
    would OOM the driver exactly when the tombstone-threshold auto-fold
    is about to fire."""
    if deleted is None:
        return df
    return (
        df.join(deleted, key, "left")
        .where(F.col("below").isNull() | (F.col(BATCH_COL) >= F.col("below")))
        .select(*df.columns)  # the join moved the key first
    )


def _write_tombstones(
    ids_rel: DataFrame, deleted_path: str, batch_id: int, below: int
) -> None:
    """Commit one batch's tombstone partition (dynamic overwrite): every
    id of ``ids_rel`` with cutoff ``below``.  No coalesce(1): a
    corpus-shaped batch's tombstones must not funnel through one task
    (tiny batches still write few files — parquet skips empty
    partitions)."""
    tag = F.lit(int(batch_id)).cast("long").alias(BATCH_COL)
    with overwrite_mode(ids_rel.sparkSession, "dynamic"):
        ids_rel.withColumn("below", F.lit(int(below)).cast("long")).select(
            tag, "*"
        ).coalesce(8).write.mode("overwrite").partitionBy(BATCH_COL).parquet(
            deleted_path
        )


@_locked_writer(lambda spark, path, *a, **k: (spark, path))
def bm25_index_delete(
    spark: SparkSession,
    path: str,
    doc_ids,
    batch_id: int | None = None,
) -> None:
    """Delete documents from a persisted index WITHOUT rewriting the
    postings — the missing CRUD leg (the reference's Mongo store gets
    this from ``remove``/``$pull``; here it rides the same mergeable
    partial algebra as adds).

    Mechanics (requires the FORWARD section — the doc-major layout
    exists precisely so doc-keyed reads never scan the term-major
    postings):

    - the deleted docs' vectors come from ≤ |ids| fbucket point reads;
    - their statistics land as one NEGATIVE partial batch — df rows
      with ``-count`` per word, a stats row with negative
      ``n_docs``/``n_dlen_docs``/``total_dl`` — and the existing
      query-time fold (plain sums) nets them out exactly;
    - the physical postings stay until compaction; reads drop them via
      a broadcast anti-join on the tiny ``deleted/`` tombstone relation
      (a FULL ``bm25_index_compact`` applies tombstones physically and
      clears the section).

    Idempotent per ``batch_id`` like adds (dynamic partition
    overwrite); ids already tombstoned or absent from the index are
    no-ops (the partials derive only from forward rows actually found,
    minus existing tombstones).  Caveats, both documented contracts:
    a tombstoned id stays invisible even if RE-ADDED until a full
    compaction clears the tombstone (re-ingesting a deleted id is
    outside the disjoint-doc_ids contract anyway); and a document that
    had NO surviving tokens has no forward row, so deleting it leaves
    ``n_docs`` unchanged — it carried no postings or dl, so rankings
    only see a marginally conservative idf denominator.

    ``doc_ids`` may be a DataFrame with a ``doc_id`` column (the CDC
    micro-batch shape) — the id set then stays in-plan end to end
    (``_forward_scan_rel``'s capped recipe), never materializing on the
    driver."""
    lay = _Layout(spark, path)
    if not lay.has("forward"):
        raise ValueError(
            "bm25_index_delete requires the forward section"
            " (bm25_index_save_forward) — doc-keyed reads against the"
            " term-major postings would be a corpus scan"
        )
    st = _fold_stats(spark, lay)
    n_buckets = st.n_buckets
    batch_id = _batch_id_or_next(st.next_batch_id, batch_id)
    # The raw forward scan anti-joined with existing tombstones — so
    # re-deleting an id is a no-op by construction.
    if isinstance(doc_ids, DataFrame):
        raw = _forward_scan_rel(
            lay, doc_ids.select("doc_id").distinct(), n_buckets
        )
    else:
        ids = sorted({int(d) for d in doc_ids})
        if not ids:
            return
        raw = _forward_scan(lay, ids, n_buckets)
    victims = _drop_deleted(
        raw, _read_deleted(spark, path, lay=lay)
    ).localCheckpoint(eager=True)
    if victims.isEmpty():
        # nothing new to delete — return BEFORE any write: a redelivered
        # batch must leave its original partials intact (the one-row
        # zero aggregate would otherwise replace the stats partial while
        # the empty df relation leaves the df negatives — inconsistent)
        return

    tag = F.lit(batch_id).cast("long").alias(BATCH_COL)
    neg_df, neg_stats, tombstones = _write_negative_partials(
        victims, path, batch_id, n_buckets, below=DELETE_ALL
    )
    with overwrite_mode(spark, "dynamic"):
        neg_df.select(tag, "*").write.mode("overwrite").partitionBy(
            BATCH_COL, "bucket"
        ).parquet(lay.sec("df"))
        neg_stats.select(tag, "*").coalesce(1).write.mode(
            "overwrite"
        ).partitionBy(BATCH_COL).parquet(lay.sec("stats"))
        tombstones.select(tag, "*").coalesce(1).write.mode(
            "overwrite"
        ).partitionBy(BATCH_COL).parquet(lay.sec("deleted"))
    _verify_tree_current(spark, path, lay.version)
    _touch_stamp(spark, path)


def _forward_scan(lay: _Layout, ids: list[int], n_buckets: int) -> DataFrame:
    """RAW pruned forward scan for a DRIVER-SIDE id list (tombstones NOT
    applied; ``_batch_id`` retained) — ≤ min(len(ids), n_buckets)
    fbucket directories opened; past the In-list cap the id pruning
    rides a broadcast semi-join instead (plan size stays constant)."""
    spark = lay.spark
    fbuckets = sorted({d % n_buckets for d in ids})
    scan = _read_section(spark, lay, "forward").where(
        F.col("fbucket").isin(fbuckets)
    )
    if len(ids) <= ISIN_TERM_CAP:
        return scan.where(F.col("doc_id").isin(ids))
    ids_df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    return scan.join(F.broadcast(ids_df), "doc_id", "leftsemi")


def _forward_scan_rel(
    lay: _Layout, ids_rel: DataFrame, n_buckets: int
) -> DataFrame:
    """RAW forward scan for an IN-PLAN id relation — the batch-shaped
    twin of :func:`_forward_scan` for callers whose id set must never
    materialize on the driver (a corpus-shaped upsert/CDC batch).

    The driver collects at most ``ISIN_TERM_CAP + 1`` sample ids plus
    ≤ n_buckets fbucket rows (an in-plan distinct aggregate), mirroring
    ``bm25_batch_topk_from_index``'s capped-path recipe: below the cap
    the scan gets the ``doc_id IN (...)`` literal (row-group skipping);
    above it, pruning is the fbucket partition filter plus a PLAIN
    semi-join against ``ids_rel`` — no broadcast hint, so AQE picks
    broadcast for small batches and shuffle for corpus-shaped ones."""
    spark = lay.spark
    ids_rel = ids_rel.select(F.col("doc_id").cast("long").alias("doc_id"))
    sample = ids_rel.limit(ISIN_TERM_CAP + 1).collect()
    if not sample:
        return _read_section(spark, lay, "forward").where(F.lit(False))
    if len(sample) <= ISIN_TERM_CAP:
        ids = sorted({int(r["doc_id"]) for r in sample})
        return _forward_scan(lay, ids, n_buckets)
    fb_rows = (
        ids_rel.select(
            F.pmod("doc_id", F.lit(n_buckets)).cast("int").alias("fb")
        )
        .distinct()
        .collect()
    )
    fbuckets = sorted(int(r["fb"]) for r in fb_rows)
    scan = _read_section(spark, lay, "forward").where(
        F.col("fbucket").isin(fbuckets)
    )
    return scan.join(ids_rel, "doc_id", "leftsemi")


def _write_negative_partials(
    victims: DataFrame,
    path: str,
    batch_id: int,
    n_buckets: int,
    below: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Relations debiting a victim set: negative df partials, a negative
    stats row, and the versioned tombstones — NOT yet written (the
    caller composes them with any positive partials sharing the batch
    partition, so one dynamic overwrite stays atomic per section)."""
    neg_df = (
        victims.select("doc_id", F.explode("terms").alias("t"))
        .groupBy(F.col("t.word").alias("word"))
        .agg((-F.count("*")).cast("long").alias("df"))
        .select(
            _bucket(F.col("word"), n_buckets).alias("bucket"), "word", "df"
        )
    )
    neg_stats = victims.agg(
        (-F.count("*")).cast("long").alias("n_docs"),
        (-F.count("*")).cast("long").alias("n_dlen_docs"),
        (-F.coalesce(F.sum("dl"), F.lit(0))).cast("long").alias("total_dl"),
    ).withColumn("n_buckets", F.lit(n_buckets))
    tombstones = victims.select(
        "doc_id", F.lit(int(below)).cast("long").alias("below")
    )
    return neg_df, neg_stats, tombstones


@_locked_writer(lambda documents, path, *a, **k: (documents.sparkSession, path))
def bm25_index_upsert(
    documents: DataFrame,
    path: str,
    tokenizer=tokenize,
    batch_id: int | None = None,
    hot_df_cap: int | None = None,
) -> None:
    """REPLACE documents in the served index (insert if absent) — the
    reference sink's actual semantics (``MongoTFSink.java:43-58``
    upserts each doc's TF vector by ``_id``), which plain
    :func:`bm25_index_add` forbids (disjoint-ids contract).

    Mechanics — delete-the-visible-old + add-the-new fused into ONE
    batch partition per section:

    - the batch's PREVIOUSLY-VISIBLE versions (forward rows with
      ``_batch_id < this batch`` that survive all EARLIER tombstones)
      become negative df/stats partials, exactly like
      :func:`bm25_index_delete`;
    - tombstones carry ``below = this batch id``, so they hide every
      older version while the replacement — written under this very
      id — survives its own tombstone (and an upsert AFTER a delete
      resurrects the doc: per doc the latest tombstone wins);
    - the new versions' postings/df/stats/forward land under the same
      batch id, with the negative partials UNIONED into the same
      df/stats partitions — one dynamic overwrite per section, so an
      at-least-once redelivery recomputes the identical victim set
      (its visibility predicate ignores this batch's own tombstone and
      forward rows) and rewrites the identical partitions.

    Requires the forward section (old-version statistics come from
    doc-keyed point reads, never a postings scan).  O(batch + |ids|
    fbucket point reads).

    SCALE: upsert's stated purpose is re-crawl refresh — the one
    maintenance op whose batch is corpus-shaped (the reference sink
    replaced EVERY doc every run, ``MongoTFSink.java:43-58``) — so the
    batch's id set never materializes on the driver: the victim scan is
    :func:`_forward_scan_rel` (≤ ``ISIN_TERM_CAP + 1`` sample ids and
    ≤ n_buckets fbucket rows collected, the rest in-plan), and the
    tombstone relation derives from ``documents`` by lineage.

    WRITE ORDER: the tombstone partition commits FIRST — a crash
    mid-upsert then leaves a clean hide-old state (the doc temporarily
    absent, conservatively) instead of both versions visible and
    double-scoring; either way the redelivery converges (its visibility
    predicate ignores this batch's own tombstones)."""
    spark = documents.sparkSession
    lay = _Layout(spark, path)
    if not lay.has("forward"):
        raise ValueError(
            "bm25_index_upsert requires the forward section"
            " (bm25_index_save_forward) — replacing a document needs its"
            " old version's statistics, which only the doc-major layout"
            " can read without a corpus scan"
        )
    st = _fold_stats(spark, lay)
    n_buckets = st.n_buckets
    batch_id = _batch_id_or_next(st.next_batch_id, batch_id)
    # one distinct shuffle, pinned (disk-backed): the id relation feeds
    # the victim semi-join, the fbucket aggregate AND the tombstone
    # write — recomputing it would re-scan a corpus-shaped batch thrice
    ids_rel = (
        documents.select(F.col("doc_id").cast("long").alias("doc_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # visibility BEFORE this upsert, recomputable on redelivery: only
    # versions older than this batch, under only OLDER tombstones
    prior_tombs = None
    if lay.has("deleted"):
        prior_tombs = _latest_tombstones(
            _read_section(spark, lay, "deleted").where(
                F.col(BATCH_COL) != int(batch_id)
            )
        )
    victims = _drop_deleted(
        _forward_scan_rel(lay, ids_rel, n_buckets).where(
            F.col(BATCH_COL) < int(batch_id)
        ),
        prior_tombs,
    ).localCheckpoint(eager=True)

    # tombstones for EVERY upserted id, not just the visible victims:
    # an id resurrected after a delete needs this batch's tombstone to
    # supersede the DELETE_ALL one (latest-wins), and for never-present
    # ids the cutoff hides nothing.  Recomputed identically on
    # redelivery (pure function of ids + batch_id) — and committed
    # BEFORE the positive sections (see WRITE ORDER above).
    _write_tombstones(ids_rel, lay.sec("deleted"), batch_id, below=batch_id)

    batch, tf = _index_batch_with_tf(documents, n_buckets, tokenizer)
    if victims.isEmpty():
        combined = batch
    else:
        neg_df, neg_stats, _ = _write_negative_partials(
            victims, path, batch_id, n_buckets, below=batch_id
        )
        combined = Bm25IndexBatch(
            batch.postings,
            batch.df_parts.unionByName(neg_df),
            batch.stats_parts.unionByName(neg_stats),
        )
    _write_index_batch(
        combined, lay.root, batch_id, create=False,
        n_buckets=n_buckets, hot_df_cap=hot_df_cap,
    )
    _write_forward(
        documents, lay.sec("forward"), n_buckets, batch_id,
        create=False, tokenizer=tokenizer, tf=tf,
    )
    _verify_tree_current(spark, path, lay.version)
    _touch_stamp(spark, path)


class _ReadState(NamedTuple):
    """Everything a served query reads besides the postings themselves,
    resolved from ONE layout by `_read_state`."""

    lay: _Layout
    stats: _StatsFold  # salts: None means probe per query
    buckets: list[int] | None  # opened by the pruned forms; None: whole index
    df: DataFrame  # (word, df) folded per word
    deleted: DataFrame | None  # folded tombstones (doc_id, below)


def _read_state(
    spark: SparkSession,
    lay: _Layout,
    terms: tuple[str, ...] | None = None,
    words: DataFrame | None = None,
) -> _ReadState:
    """The read state of ONE layout: scalars and hot-salt map from one
    collect, the df partials folded per word, the tombstones.

    - ``terms`` (a cold query, a batch's small term set): hot map and df
      fold pruned to the terms and the buckets they open — ≤ batches ×
      |terms| df rows, folded in ONE partition, so no shuffle;
    - ``words`` (a batch term relation above `ISIN_TERM_CAP`): buckets
      from a tiny in-plan aggregate, df pruned by bucket and semi-join;
    - neither (`Bm25Index.warm`): the whole index, persisted once."""
    hot = None if words is not None else _hot_fold(spark, lay, terms)
    st = _fold_stats(spark, lay, hot)
    df = _read_section(spark, lay, "df")
    buckets = None
    if terms is not None:
        buckets = _open_buckets(terms, st.n_buckets, st.salts)
        df = df.where(
            F.col("bucket").isin(buckets) & F.col("word").isin(*terms)
        ).coalesce(1)
    elif words is not None:
        buckets = _word_buckets(spark, lay, words, st.n_buckets)
        df = df.where(F.col("bucket").isin(buckets)).join(
            F.broadcast(words), "word", "leftsemi"
        )
    deleted = _read_deleted(spark, lay.path, lay=lay)
    return _ReadState(lay, st, buckets, _fold_df(df), deleted)


def _word_buckets(
    spark: SparkSession, lay: _Layout, words: DataFrame, n_buckets: int
) -> list[int]:
    """The buckets a term RELATION opens, via a tiny in-plan distinct
    aggregate (≤ n_buckets rows collected); hot terms expand to their
    salted sub-buckets."""
    base = words.select(_bucket(F.col("word"), n_buckets).alias("b"))
    if lay.has("hot"):
        hot_fold = (
            _read_section(spark, lay, "hot")
            .groupBy("word")
            .agg(F.max("n_salts").alias("n_salts"))
        )
        salted = (
            words.join(hot_fold, "word")
            .select(
                h60(F.col("word")).alias("h"),
                F.explode(F.sequence(F.lit(0), F.col("n_salts") - 1)).alias(
                    "s"
                ),
            )
            .select(
                F.pmod(F.col("h") + F.col("s"), F.lit(n_buckets))
                .cast("int")
                .alias("b")
            )
        )
        base = base.unionByName(salted)
    return sorted({int(r["b"]) for r in base.distinct().collect()})


def _state_postings(
    rs: _ReadState, terms: tuple[str, ...] | None, buckets: list[int]
) -> DataFrame:
    """The state's postings pruned to ``buckets`` (partition pruning)
    and, when given, ``terms`` (row-group skipping), tombstones
    applied."""
    pred = F.col("bucket").isin(buckets)
    if terms is not None:
        pred = pred & F.col("word").isin(*terms)
    postings = _read_section(rs.lay.spark, rs.lay, "postings").where(pred)
    return _drop_deleted(postings, rs.deleted)


def _topk_from_state(
    rs: _ReadState,
    terms: tuple[str, ...],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """One query's top-k from a resolved read state — the scoring path
    of both the cold (`bm25_topk_from_index`) and the warm
    (`Bm25Index.search`) serve; both reject an empty term tuple first."""
    buckets = rs.buckets
    if buckets is None:
        salts = rs.stats.salts
        if salts is None:  # too many hot words to hold: probe the terms
            hot = _hot_fold(rs.lay.spark, rs.lay, terms)
            salts = _fold_stats(rs.lay.spark, rs.lay, hot).salts
        buckets = _open_buckets(terms, rs.stats.n_buckets, salts)
    return _served_topk(
        _state_postings(rs, terms, buckets),
        rs.df.where(F.col("word").isin(*terms)),
        F.lit(rs.stats.n_docs),
        F.lit(rs.stats.avgdl),
        k, k1, b,
    )


def bm25_topk_from_index(
    spark: SparkSession,
    path: str,
    query_terms: tuple[str, ...],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    version: int | None = None,
) -> DataFrame:
    """Serve a query from the persisted index: the driver hashes the
    terms to their buckets (``hashlib`` — no Spark job), the postings
    and df scans carry ``bucket IN (...)`` which Catalyst turns into
    PARTITION pruning (only ~|terms|/n_buckets of the files open —
    asserted by ``test_bm25_index_query_prunes_partitions``), and the
    ``word IN (...)`` predicate pushes into parquet row-group skipping
    within them.  Scoring is the shared core (`bm25.bm25_topk`) — identical
    scores to ``bm25_rank`` over the same corpus (pinned by test).
    ``version=`` serves from a pinned snapshot tree instead of the
    current one (`bm25_index_pin` / `bm25_index_snapshot`)."""
    terms = tuple(query_terms)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double, rk int")
    # resolved ONCE: all-old or all-new sections
    lay = _Layout(spark, path, version=version)
    return _topk_from_state(_read_state(spark, lay, terms=terms), terms, k, k1, b)


def _fold_batch_col(df: DataFrame, exclude: tuple[int, ...]):
    """Re-tag every non-excluded row to batch 0; excluded batches keep
    their original id (and their partials stay UNFOLDED, so a later
    dynamic overwrite of that id still replaces them cleanly)."""
    if not exclude:
        return df.drop(BATCH_COL).withColumn(
            BATCH_COL, F.lit(0).cast("long")
        )
    keep = F.col(BATCH_COL).isin([int(i) for i in exclude])
    return df.withColumn(
        BATCH_COL, F.when(keep, F.col(BATCH_COL)).otherwise(F.lit(0)).cast("long")
    )


def _split_excluded(
    df: DataFrame, excl: tuple[int, ...]
) -> tuple[DataFrame, DataFrame | None]:
    """``(folded, kept)``: the rows a fold folds, and the excluded
    (in-flight) batches' rows it carries into the new tree unfolded —
    ``kept`` is None when nothing is excluded."""
    if not excl:
        return df, None
    kept = F.col(BATCH_COL).isin(list(excl))
    return df.where(~kept), df.where(kept)


def _with_kept(out: DataFrame, kept: DataFrame | None) -> DataFrame:
    """A folded section plus its excluded batches' rows, unfolded."""
    return out if kept is None else out.unionByName(kept.select(*out.columns))


def _compact_begin(
    spark: SparkSession,
    path: str,
    sections: tuple[str, ...],
    gc_grace_seconds: float,
) -> tuple[_Layout, int]:
    """A fold's first step, both tiers: recover, reclaim, pick the new
    tree's version.  Returns the live layout and that version.

    Legacy migration (pre-manifest r7 layout): an interrupted
    staged-rename swap is rolled back IN FULL — every section present
    in ``_compact_old`` is restored over its live counterpart, so
    versioned tombstone cutoffs are only ever applied against ORIGINAL
    batch ids (restoring only the missing sections could pair a live
    re-tagged postings tree with a restored ``deleted/``, silently
    dropping upsert survivors); a leftover ``_compact_staging`` is
    discarded.  Then GC: superseded trees whose read grace has expired,
    plus orphan trees of a fold that crashed before its flip."""
    old = os.path.join(path, "_compact_old")
    if _fs_exists(spark, old):
        for name in sections:
            live_sec = os.path.join(path, name)
            old_sec = os.path.join(old, name)
            if _fs_exists(spark, old_sec):
                if _fs_exists(spark, live_sec):
                    _fs_delete(spark, live_sec)
                _fs_rename(spark, old_sec, live_sec)
        _fs_delete(spark, old)
    staging = os.path.join(path, "_compact_staging")
    if _fs_exists(spark, staging):
        _fs_delete(spark, staging)
    lay = _Layout(spark, path)
    _gc_versions(
        spark, path, keep=lay.version, sections=sections,
        grace_seconds=gc_grace_seconds,
    )
    return lay, _next_version(spark, path, lay.version)


def _compact_tombstones(
    spark: SparkSession, lay: _Layout, excl: tuple[int, ...], key: str = "doc_id"
) -> tuple[DataFrame | None, DataFrame | None]:
    """``(apply, keep)`` for a fold.  COMMITTED tombstones (``apply``,
    folded per id) are applied physically — versioned cutoffs compare
    against ORIGINAL batch ids, so the drop must happen BEFORE the fold
    re-tags rows to batch 0.  Excluded (in-flight) batches' raw
    tombstones (``keep``, None when there are none) are withheld and
    carried into the new tree: an in-flight CDC upsert's negative
    partials live in its own (also preserved) partition, so applying its
    cutoff while a redelivery later rewrites that partition would
    double-count the replaced ids' old versions."""
    if not lay.has("deleted"):
        return None, None
    folded, kept = _split_excluded(
        _read_section(spark, lay, "deleted", _tombstone_schema(key)), excl
    )
    if kept is not None and kept.isEmpty():
        kept = None
    return _latest_tombstones(folded, key), kept


def _compact_commit(
    spark: SparkSession,
    path: str,
    lay: _Layout,
    new_version: int,
    written: list[str],
    excl: tuple[int, ...],
    tombs_keep: DataFrame | None,
) -> None:
    """A fold's last step, both tiers: write the carried tombstones into
    the new tree, then FLIP — one atomic file-create moves every reader
    to the new tree at the same instant (the manifest's NAME is the
    pointer; its content is informational).  Sections absent from the
    new tree (applied tombstones, a re-salt that found nothing hot)
    simply don't exist there — no per-section delete window.  A FULL
    fold (nothing excluded) folded every stream partition to batch 0, so
    it releases the stream ownership: a NEW checkpoint may attach."""
    import json  # noqa: PLC0415

    if tombs_keep is not None:
        with overwrite_mode(spark, "static"):
            tombs_keep.write.mode("overwrite").partitionBy(BATCH_COL).parquet(
                os.path.join(path, f"v{new_version}", "deleted")
            )
        written = [*written, "deleted"]
    # fence (belt-and-braces behind the writer lease): a NON-LOCKING
    # concurrent fold that flipped first would make this flip supersede
    # a tree it never read — refuse and leave v<new> an orphan to reap
    _verify_tree_current(spark, path, lay.version)
    _fs_write_text(
        spark,
        os.path.join(path, f"{MANIFEST_PREFIX}{new_version}"),
        json.dumps({"version": new_version, "sections": written}),
    )
    if not excl:
        _fs_delete(spark, os.path.join(path, STREAM_OWNER_FILE))


@_locked_writer(lambda spark, path, *a, **k: (spark, path))
def bm25_index_compact(
    spark: SparkSession,
    path: str,
    files_per_bucket: int = 1,
    exclude_batch_ids: tuple[int, ...] = (),
    hot_df_cap: int | None = None,
    gc_grace_seconds: float = 300.0,
) -> None:
    """Fold the per-batch partition layout into ONE batch-0 partition —
    the small-files maintenance a long-lived index needs (every add /
    micro-batch leaves its own `_batch_id=<i>/bucket=<b>` files; after
    thousands of batches each query pays per-file open cost across all
    of them).  df partials collapse to one row per word and the stats
    relation to one row; served scores are unchanged (the fold the
    query ran at read time is simply materialized — pinned by test).

    ``exclude_batch_ids`` keeps the named batches UNFOLDED (rows keep
    their own ``_batch_id`` partitions): the streaming maintenance loop
    compacts mid-stream by excluding the micro-batch it is about to
    (re-)add, so a redelivered uncommitted batch still replaces itself
    instead of double-counting a folded copy.

    ``hot_df_cap`` re-evaluates hot-term salting GLOBALLY during the
    fold (per-batch adds can only see batch-local df): the folded df
    decides the hot set, postings are re-bucketed from scratch, and the
    ``hot/`` section is rewritten — per-batch salt decisions are
    superseded, excluded batches' hot partials are preserved.  Because
    the whole new tree flips at once, re-salting no longer needs a
    maintenance window: postings and ``hot/`` change TOGETHER.

    READER ATOMICITY + CRASH SAFETY (the manifest protocol, `_Layout`):
    the fold writes a COMPLETE new section tree ``v<N+1>/`` while the
    live tree stays untouched, then creates the pointer file
    ``_manifest_v<N+1>`` — one atomic file-create is the entire swap,
    so a concurrent query sees all-old or all-new sections, never a
    mix, and a crash at ANY instant leaves either the intact live index
    (an orphan ``v<N+1>`` reaped on the next run) or the fully
    committed new version.  Superseded trees survive until a LATER
    compaction finds the then-current manifest at least
    ``gc_grace_seconds`` old (time-based snapshot retention — a fixed
    keep-one-previous rule would delete a tree mid-read under
    back-to-back folds); ``gc_grace_seconds=0`` reclaims immediately
    for single-writer-single-reader maintenance windows.

    Tombstones of EXCLUDED (in-flight) batches are NOT applied
    physically and their ``deleted/`` partitions are preserved
    (`_compact_tombstones`).  Committed batches' tombstones fold in
    exactly as before."""
    excl = tuple(int(i) for i in exclude_batch_ids)
    lay, new_version = _compact_begin(spark, path, SECTIONS, gc_grace_seconds)
    new_root = os.path.join(path, f"v{new_version}")

    df_all = _read_section(spark, lay, "df")
    df_folded, df_kept = _split_excluded(df_all, excl)
    df_fold = _with_kept(
        df_folded.groupBy("bucket", "word")
        .agg(F.sum("df").cast("long").alias("df"))
        # fully-deleted words net to df=0 once the negative partials
        # fold in — drop the dead rows at the fold
        .where(F.col("df") != 0)
        .withColumn(BATCH_COL, F.lit(0).cast("long")),
        df_kept,
    )

    # The df/stats sums already net the delete/upsert negative partials.
    deleted, deleted_keep = _compact_tombstones(spark, lay, excl)
    postings = _fold_batch_col(
        _drop_deleted(_read_section(spark, lay, "postings"), deleted), excl
    )
    n_buckets = _fold_stats(spark, lay).n_buckets
    hot_out = None
    has_hot = lay.has("hot")
    if hot_df_cap is not None:
        # global hotness from the FOLDED df (exclusions included in the
        # measurement — their postings keep old buckets, covered by the
        # max-fold read contract)
        hot_new = _hot_words(_fold_df(df_all), hot_df_cap, n_buckets)
        folded, kept = _split_excluded(postings, excl)
        # _salt_postings recomputes bucket for EVERY row (salt 0 for
        # non-hot words = the base bucket), so this IS the global
        # re-bucketing — per-batch salt decisions are superseded
        postings = _with_kept(_salt_postings(folded, hot_new, n_buckets), kept)
        hot_out = hot_new.withColumn(BATCH_COL, F.lit(0).cast("long"))
        if has_hot:
            hot_out = _with_kept(
                hot_out, _split_excluded(_read_section(spark, lay, "hot"), excl)[1]
            )
    elif has_hot:
        # preserve salting: fold hot partials with MAX (superset-safe)
        hot_folded, hot_kept = _split_excluded(
            _read_section(spark, lay, "hot"), excl
        )
        hot_out = _with_kept(
            hot_folded.groupBy("word")
            .agg(F.max("n_salts").alias("n_salts"))
            .withColumn(BATCH_COL, F.lit(0).cast("long")),
            hot_kept,
        )
    if hot_out is not None and hot_out.isEmpty():
        hot_out = None  # re-salt found nothing hot: the section goes away

    postings = postings.repartition(files_per_bucket * 8, "bucket")
    stats_folded, stats_kept = _split_excluded(
        _read_section(spark, lay, "stats"), excl
    )
    stats_fold = _with_kept(
        stats_folded.groupBy("n_buckets")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_dlen_docs").cast("long").alias("n_dlen_docs"),
            F.sum("total_dl").cast("long").alias("total_dl"),
        )
        .select(
            "n_docs",
            "n_dlen_docs",
            "total_dl",
            "n_buckets",
            F.lit(0).cast("long").alias(BATCH_COL),
        ),
        stats_kept,
    )
    fwd = None
    if lay.has("forward"):
        fwd = _fold_batch_col(
            _drop_deleted(_read_section(spark, lay, "forward"), deleted), excl
        ).repartition(files_per_bucket * 8, "fbucket")

    # write the COMPLETE new tree (reads come from the live tree; nothing
    # is deleted or renamed, so a failure anywhere here leaves the index
    # untouched and an orphan v<N+1> reaped on the next run)
    written = ["postings", "df", "stats"]
    with overwrite_mode(spark, "static"):
        postings.write.mode("overwrite").partitionBy(
            BATCH_COL, "bucket"
        ).parquet(os.path.join(new_root, "postings"))
        df_fold.write.mode("overwrite").partitionBy(
            BATCH_COL, "bucket"
        ).parquet(os.path.join(new_root, "df"))
        stats_fold.coalesce(1).write.mode("overwrite").partitionBy(
            BATCH_COL
        ).parquet(os.path.join(new_root, "stats"))
        if fwd is not None:
            fwd.write.mode("overwrite").partitionBy(
                BATCH_COL, "fbucket"
            ).parquet(os.path.join(new_root, "forward"))
            written.append("forward")
        if hot_out is not None:
            hot_out.coalesce(1).write.mode("overwrite").partitionBy(
                BATCH_COL
            ).parquet(os.path.join(new_root, "hot"))
            written.append("hot")
    _compact_commit(spark, path, lay, new_version, written, excl, deleted_keep)
    _touch_stamp(spark, path)


@_locked_writer(lambda spark, path, *a, **k: (spark, path))
def bm25_index_gc(
    spark: SparkSession,
    path: str,
    grace_seconds: float = 300.0,
    sections: tuple[str, ...] = SECTIONS,
) -> int:
    """Reclaim superseded/orphan version trees WITHOUT folding — the
    fold-once-serve-forever case: `_gc_versions` otherwise runs only at
    the start of the NEXT compaction, so an index that compacted once
    and then only serves carries a full extra on-disk copy of itself
    indefinitely.  Returns the number of superseded/orphan trees (incl.
    the bare v0 sections counted as one) reclaimed; respects the same
    time-based read grace as compaction (readers that resolved an older
    tree get ``grace_seconds`` from the current manifest's creation to
    finish).  Runs under the writer lease — a concurrent fold's
    half-written v<N+1> must not be reaped as an orphan mid-write.
    Does NOT bump the write stamp: the current tree's content is
    untouched, warm readers stay valid.  ``sections`` names the bare v0
    dirs this tier owns (the BM25 set by default, ``IVF_SECTIONS`` for
    the IVF index)."""
    lay = _Layout(spark, path)

    def on_disk() -> tuple[set[int], bool]:
        """Versions with a manifest or tree, and whether bare v0 remains."""
        bare = lay.version > 0 and any(
            _fs_exists(spark, os.path.join(path, s)) for s in sections
        )
        return _numbered(spark, path, MANIFEST_PREFIX) | _numbered(
            spark, path, "v"
        ), bare

    before, had_bare = on_disk()
    _gc_versions(
        spark, path, keep=lay.version, sections=sections,
        grace_seconds=grace_seconds,
    )
    after, bare_now = on_disk()
    return len(before - after) + int(had_bare and not bare_now)


def bm25_index_versions(
    spark: SparkSession, path: str, sections: tuple[str, ...] = SECTIONS
) -> DataFrame:
    """Inventory of the index's on-disk version trees — one row per
    version: ``(version, current, pinned, readable, manifest_mtime_ms)``
    (``manifest_mtime_ms`` is null for the bare pre-compaction v0; it is
    the snapshot's creation instant otherwise).  Driver-side directory
    listing only, no Spark job.  ``sections`` names the bare v0 dirs
    this tier owns (the BM25 set by default, ``IVF_SECTIONS`` for IVF)."""
    manifests = set(_list_manifest_versions(spark, path))
    pins = _list_pins(spark, path)
    trees = _numbered(spark, path, "v")
    current = max(manifests) if manifests else 0
    have_bare = any(
        _fs_exists(spark, os.path.join(path, s)) for s in sections
    )
    known = manifests | pins | trees | ({0} if have_bare else set())
    rows = []
    for v in sorted(known):
        readable = have_bare if v == 0 else v in trees
        mpath = os.path.join(path, f"{MANIFEST_PREFIX}{v}")
        mtime = _fs_mtime_ms(spark, mpath) if v in manifests and v > 0 else None
        rows.append((v, v == current, v in pins, readable, mtime))
    return spark.createDataFrame(
        rows,
        "version long, current boolean, pinned boolean,"
        " readable boolean, manifest_mtime_ms long",
    )


@_locked_writer(lambda spark, path, *a, **k: (spark, path))
def bm25_index_pin(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    sections: tuple[str, ...] = SECTIONS,
) -> int:
    """Pin a version tree against GC — the snapshot primitive.  Default
    pins the CURRENT version; returns the pinned version number.

    A pinned SUPERSEDED tree is an immutable snapshot readable forever
    via ``version=`` on the read entry points (mutations only ever
    write into the current tree).  Pinning the current version does not
    freeze it by itself — it guarantees the tree survives the NEXT fold
    and becomes immutable then; that pair is `bm25_index_snapshot`.
    Runs under the writer lease so a pin cannot race the GC that would
    have reclaimed the tree.  Idempotent.

    Caveat on pinning the bare v0: pins protect against GC, not
    against an in-place full rebuild (``*_save`` / ``ivf_retrain``)
    overwriting the root section dirs themselves — use
    `bm25_index_snapshot`, which always produces a pinned VERSIONED
    tree, when the snapshot must survive arbitrary maintenance."""
    lay = _Layout(spark, path, version=version)
    if lay.version > 0 and not _fs_exists(spark, lay.root):
        raise FileNotFoundError(
            f"cannot pin v{lay.version}: tree {lay.root!r} is gone"
        )
    if lay.version == 0 and not any(
        _fs_exists(spark, os.path.join(path, s)) for s in sections
    ):
        raise FileNotFoundError(
            f"cannot pin v0: no bare sections exist at {path!r}"
        )
    _fs_create_atomic(
        spark, os.path.join(path, f"{PIN_PREFIX}{lay.version}"), ""
    )
    return lay.version


def bm25_index_unpin(spark: SparkSession, path: str, version: int) -> None:
    """Release a pin — the tree becomes reclaimable by the next GC/fold
    once the normal read grace allows.  Idempotent."""
    _fs_delete(spark, os.path.join(path, f"{PIN_PREFIX}{int(version)}"))


def bm25_index_snapshot(spark: SparkSession, path: str, **compact_kwargs) -> int:
    """Freeze the index's current state as a pinned immutable snapshot
    and return its version number: pin the current tree, then fold —
    the fold writes the new current ``v<N+1>`` and the pinned ``v<N>``
    is superseded, hence immutable from that instant on.  Query it with
    ``version=N`` on any read entry point; release with
    `bm25_index_unpin` when done.

    A bare pre-compaction index (v0) is PROMOTED into a versioned tree
    by an extra fold first: a pinned v0 lives in the root section dirs,
    which an in-place full rebuild (``*_save`` / ``ivf_retrain``)
    overwrites regardless of pins — snapshots must never sit where
    routine maintenance writes.  Costs one full compaction (two from
    bare); every step runs under ONE writer lease hold, so no
    concurrent mutation lands between the pin and the fold."""
    return _snapshot(
        spark, path, bm25_index_pin,
        lambda: bm25_index_compact(spark, path, **compact_kwargs),
    )


def _snapshot(spark: SparkSession, path: str, pin, fold) -> int:
    """The snapshot body of both tiers: under one lease hold, promote a
    bare v0 by a fold, ``pin(spark, path)`` the current tree, fold."""
    with _writer_lock(spark, path):
        if _Layout(spark, path).version == 0:
            fold()
        v = pin(spark, path)
        fold()
    return v


def bm25_batch_topk_from_index(
    spark: SparkSession,
    path: str,
    queries,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    version: int | None = None,
) -> DataFrame:
    """Top-k per query for a RELATION of bag-of-words queries against
    the persisted index — ``(query_id, doc_id, score, rk)``, the served
    twin of ``bm25.bm25_batch_rank`` (eval-set retrieval / hard-negative
    mining without re-deriving corpus statistics).

    ``queries`` is ``(query_id int, terms array<string>)`` — as a
    DataFrame, or a list of ``(query_id, [terms])`` tuples built
    driver-side.  The postings/df scans carry the UNION of all queries'
    buckets (one partition-pruned pass regardless of query count); the
    exploded (query, term) relation broadcasts into the postings join,
    and the per-query k-cut is WindowGroupLimit — never a global sort.
    Scores equal ``bm25_topk_from_partials`` of each query alone
    (pinned by test).

    DRIVER cost is constant in the query count: at most
    ``ISIN_TERM_CAP + 1`` term rows and ``n_buckets`` bucket rows are
    ever collected.  Small term sets (eval probes) additionally push a
    ``word IN (...)`` literal into parquet row-group skipping; above
    the cap the word pruning happens ONLY through the broadcast
    (query, term) hash join — same result, no plan-size blowup at
    100k-query hard-negative-mining scale."""
    if not isinstance(queries, DataFrame):
        queries = spark.createDataFrame(
            [(int(q), list(t)) for q, t in queries],
            "query_id int, terms array<string>",
        )
    words = queries.select(F.explode("terms").alias("word")).distinct()
    sample = words.limit(ISIN_TERM_CAP + 1).collect()
    if not sample:
        return spark.createDataFrame(
            [], "query_id int, doc_id long, score double, rk int"
        )
    lay = _Layout(spark, path, version=version)
    terms = None
    if len(sample) <= ISIN_TERM_CAP:
        terms = tuple(r["word"] for r in sample)
        rs = _read_state(spark, lay, terms=terms)
    else:
        rs = _read_state(spark, lay, words=words)
    q_terms = queries.select(
        "query_id", F.explode("terms").alias("word")
    ).distinct()
    return _served_topk(
        _state_postings(rs, terms, rs.buckets).join(
            F.broadcast(q_terms), "word"
        ),
        rs.df,
        F.lit(rs.stats.n_docs),
        F.lit(rs.stats.avgdl),
        k, k1, b,
        by=("query_id",),
    )


def bm25_index_stats(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Operational profile of a persisted index — one row per bucket:
    ``(bucket, n_batches, n_files, n_postings, n_terms, n_hot_terms,
    n_tombstoned)``.  The dedup_stats of the serving tier: watch for
    bucket skew (a hot term concentrating postings — mitigate with
    ``hot_df_cap``), for file-count growth that says it is time for
    :func:`bm25_index_compact`, and for tombstone volume that says the
    next compaction should be a FULL one (pending deletes cost every
    read an anti-join).  One aggregation over the postings relation;
    batch/file counts ride the same pass via ``input_file_name``; the
    hot/deleted gauges are tiny side reads."""
    lay = _Layout(spark, path, version=version)
    p = _read_section(spark, lay, "postings")
    out = (
        p.select(
            "bucket",
            F.col(BATCH_COL).alias("_b"),
            F.input_file_name().alias("_f"),
            "word",
        )
        .groupBy("bucket")
        .agg(
            F.count_distinct("_b").cast("long").alias("n_batches"),
            F.count_distinct("_f").cast("long").alias("n_files"),
            F.count(F.lit(1)).cast("long").alias("n_postings"),
            F.count_distinct("word").cast("long").alias("n_terms"),
        )
    )
    if lay.has("hot"):
        # hot terms are counted at their BASE bucket (where the df row lives)
        n_buckets = _fold_stats(spark, lay).n_buckets
        hot_counts = (
            _read_section(spark, lay, "hot")
            .select("word")
            .distinct()
            .select(_bucket(F.col("word"), n_buckets).alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hot_terms"))
        )
        out = out.join(hot_counts, "bucket", "left")
    else:
        out = out.withColumn("n_hot_terms", F.lit(None).cast("long"))
    deleted = _read_deleted(spark, path, lay=lay)
    n_tomb = (
        F.lit(int(deleted.count())).cast("long")
        if deleted is not None
        else F.lit(0).cast("long")
    )
    return (
        out.withColumn(
            "n_hot_terms", F.coalesce(F.col("n_hot_terms"), F.lit(0)).cast("long")
        )
        .withColumn("n_tombstoned", n_tomb)
        .orderBy("bucket")
    )


def bm25_forward_batch(
    documents: DataFrame,
    n_buckets: int = 64,
    tokenizer=tokenize,
    tf: DataFrame | None = None,
) -> DataFrame:
    """The doc-major (FORWARD) index relation for one batch —
    ``(fbucket, doc_id, dl, terms: array<struct<word, tf>>)``, one row
    per document, ``fbucket = pmod(doc_id, n_buckets)``.

    This is the reference's MongoDB ``tf5`` collection re-expressed
    (``MongoTFSink.java:43-58`` stores exactly this nested shape;
    ``BatchBM25PreMain.java:78-105`` ``getByPid`` point-reads it): the
    doc-keyed layout that serves "fetch THIS document's term vector"
    without touching the term-major postings.  The bucket function is
    plain modulo on the numeric key, so a point lookup prunes to one
    directory with no hashing at all.

    ``tf`` lets a caller that already tokenized the batch (an add /
    upsert maintaining both sections) share the pinned TF relation
    instead of paying a second tokenize pass."""
    if tf is None:
        tf = build_corpus_stats(documents, tokenizer=tokenizer).tf
    return (
        tf.groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("dl"),
            F.sort_array(
                F.collect_list(F.struct("word", "tf"))
            ).alias("terms"),
        )
        .select(
            F.pmod(F.col("doc_id"), F.lit(n_buckets)).cast("int").alias(
                "fbucket"
            ),
            F.col("doc_id").cast("long").alias("doc_id"),
            "dl",
            "terms",
        )
    )


def _write_forward(
    documents: DataFrame,
    sec_path: str,
    n_buckets: int,
    batch_id: int,
    create: bool,
    tokenizer=tokenize,
    tf: DataFrame | None = None,
) -> None:
    """Write one batch's forward rows under its own ``_batch_id``
    partition of the forward section at ``sec_path`` (static overwrite
    on ``create``, else dynamic — the postings' batch discipline)."""
    fwd = bm25_forward_batch(documents, n_buckets, tokenizer, tf=tf)
    tag = F.lit(batch_id).cast("long").alias(BATCH_COL)
    with overwrite_mode(
        documents.sparkSession, "static" if create else "dynamic"
    ):
        fwd.select(tag, "*").write.mode("overwrite").partitionBy(
            BATCH_COL, "fbucket"
        ).parquet(sec_path)


@_locked_writer(lambda documents, path, *a, **k: (documents.sparkSession, path))
def bm25_index_save_forward(
    documents: DataFrame,
    path: str,
    tokenizer=tokenize,
    batch_id: int = 0,
    create: bool = True,
    tf: DataFrame | None = None,
) -> None:
    """Persist the forward section alongside an EXISTING index (same
    root, ``forward/_batch_id=<i>/fbucket=<b>/``; same idempotent batch
    discipline as the postings).  n_buckets is read from the index's
    stats partials so both sections always agree.  ``tf`` forwards a
    caller's already-pinned TF relation (one tokenize per batch)."""
    spark = documents.sparkSession
    lay = _Layout(spark, path)
    _write_forward(
        documents, lay.sec("forward"), _fold_stats(spark, lay).n_buckets,
        batch_id, create, tokenizer, tf,
    )
    _verify_tree_current(spark, path, lay.version)
    _touch_stamp(spark, path)


def doc_vector_from_index(
    spark: SparkSession, path: str, doc_id: int, version: int | None = None
) -> DataFrame:
    """Point lookup — ``(doc_id, dl, terms)`` for ONE document: the
    serving twin of the reference's ``getByPid`` (S2,
    ``BatchBM25PreMain.java:78-105``).  The ``fbucket = doc_id %
    n_buckets`` predicate is computed driver-side (integer modulo, no
    job) and prunes the scan to one directory; the ``doc_id`` equality
    then hits parquet row-group stats inside it."""
    return doc_vectors_from_index(spark, path, [doc_id], version=version)


def more_like_this_from_index(
    spark: SparkSession,
    path: str,
    source_doc_id: int,
    k: int = 10,
    max_terms: int = 64,
    version: int | None = None,
) -> DataFrame:
    """Served "more like this" — ``(doc_id, sim, rk)``: the source
    document's term vector becomes a WEIGHTED BM25 query (weight = the
    source's tf for the term; idf enters once, inside the BM25
    contribution), reading ONE forward bucket (the source vector) plus
    the source terms' postings buckets.  Every read is bounded by
    the source doc's vocabulary — never a corpus scan.

    BM25 scoring gives candidate length normalization for free (``dl``
    rides in every posting), which a raw tf-idf dot product lacks —
    without it long documents sharing common terms crowd out true
    near-duplicates (measured on the fixture: the planted twin of the
    source ranked below 5 long docs under dot product, first under
    this form).  Exact tf-idf COSINE would instead need every
    candidate's full norm, which lives across ALL its terms' buckets —
    the in-memory :func:`~flink_bm25_spark.operators.bm25.
    more_like_this` is that form; this is the bounded-read serving
    form.

    ``max_terms`` caps the query at the source's highest-tf terms
    (ties toward the lexically smaller word — deterministic), the
    Lucene-MLT ``maxQueryTerms`` discipline: a pathological megadoc
    must not expand into a hundred-thousand-term filter."""
    lay = _Layout(spark, path, version=version)
    src = (
        _visible_vectors(lay, [source_doc_id])
        .select(F.explode("terms").alias("t"))
        .select(F.col("t.word").alias("word"), F.col("t.tf").alias("tf_src"))
        .orderBy(F.desc("tf_src"), F.asc("word"))
        .limit(max_terms)
        .localCheckpoint(eager=True)  # one read, reused twice
    )
    src_terms = tuple(
        r["word"] for r in src.select("word").distinct().collect()
    )
    if not src_terms:
        return spark.createDataFrame(
            [], "doc_id long, sim double, rk int"
        )
    rs = _read_state(spark, lay, terms=src_terms)
    postings = _state_postings(rs, src_terms, rs.buckets).where(
        F.col("doc_id") != int(source_doc_id)
    )
    weighted = src.join(rs.df, "word").select(
        "word", "df", F.col("tf_src").cast("double").alias("tf_src")
    )
    # weight = source tf (how much the source emphasizes the term); the
    # idf lives once, inside the BM25 contribution
    return _served_topk(
        postings,
        weighted,
        F.lit(rs.stats.n_docs),
        F.lit(rs.stats.avgdl),
        k, BM25_K1, BM25_B,
        weight=F.col("tf_src"),
        score="sim",
    )


def doc_vectors_from_index(
    spark: SparkSession,
    path: str,
    doc_ids: list[int],
    version: int | None = None,
) -> DataFrame:
    """Multi-get point lookup — ``(doc_id, dl, terms)`` for a SET of
    documents: one scan pruned to the union of the ids' fbucket
    directories (≤ min(len(ids), n_buckets) of them), the id equality
    pushed to row-group stats inside.  The batched getByPid."""
    ids = sorted({int(d) for d in doc_ids})
    if not ids:
        return spark.createDataFrame(
            [], "doc_id long, dl long, terms array<struct<word:string,tf:bigint>>"
        )
    return _visible_vectors(_Layout(spark, path, version=version), ids)


def _visible_vectors(lay: _Layout, ids: list[int]) -> DataFrame:
    """``(doc_id, dl, terms)`` of the ids' visible forward rows."""
    n_buckets = _fold_stats(lay.spark, lay).n_buckets
    return _drop_deleted(
        _forward_scan(lay, ids, n_buckets),
        _read_deleted(lay.spark, lay.path, lay=lay),
    ).select("doc_id", "dl", "terms")
