"""Parquet-backed upsert state store (S7) and append-only diff log.

The reference upserts the per-session document via JPA find-or-create +
saveAndFlush (repository/CdcAgentsDataStreamRepository.java:16-29). The
lake-native equivalent is MERGE INTO keyed on ``session_id``; on plain
parquet (no Delta in this container) the merge is implemented with a
miniature table-format commit protocol, hash-bucketed so a MERGE costs
O(touched buckets), not O(total store):

- rows live in ``N_BUCKETS`` hash buckets of the merge key; each bucket's
  current data is one parquet directory;
- a JSON **manifest** maps bucket id -> data directory. A MERGE writes
  ONLY the buckets it touches into a new uniquely-named data directory,
  then commits a new manifest that repoints just those buckets. The
  distributed MERGE is ``merge_buckets``: ONE bucket-aligned Spark job
  whose tasks each hold whole buckets (the rows are repartitioned by
  bucket and sorted by key), read a bucket's current file from the
  manifest snapshot the driver ships, merge it with a per-bucket function
  (``_replace_by_key`` for ``upsert``; the CDC transition for
  ``plans/backfill.py``), write the merged bucket, and append their side
  rows (diffs) to the log — one bucket in memory at a time, no state
  shuffle, no join;
- **commit is optimistic multi-writer AND crash-safe**: version ``nv`` is
  claimed by atomically ``os.link``-ing a fully-written manifest into
  ``_manifest_v{nv}.json`` — a claimed manifest is complete by
  construction, so a writer killed at ANY instruction leaves either no
  claim or a valid one, never a torn file. Exactly one concurrent writer
  wins, then advances the ``_VERSION`` pointer (lock-guarded, monotonic).
  A loser discards its (never-referenced, uniquely named) data directory
  and the log files of its attempt, ROLLS the winner's claim FORWARD if
  the winner died before advancing the pointer (no deadlock on a
  SIGKILLed writer; its committed data survives), re-reads the new
  snapshot, RE-MERGES its rows, and retries — so two live streams (the
  reference runs the cdc and ide subscribers concurrently) can MERGE into
  one store with no lost rows;
- recent manifests are retained so concurrent readers that already
  resolved an old pointer finish cleanly; a data directory is vacuumed
  only when it is referenced by an EXPIRED manifest and by no retained
  one — an in-flight writer's not-yet-committed directory is never
  touched. A writer that crashes between writing data and claiming its
  version leaves an orphan directory (bounded by one batch); real table
  formats handle the same case with retention-based orphan GC.

The diff log (``ParquetAppendLog``) is the other half of a commit. Any
number of writers append to it, each holding its shared lock from the
diff write until its state claim is decided; after the commit, the
committing writer runs ``merge_tiers``, which merges the log's small
files in fixed fan-in size tiers into files sorted by (session, seq,
source) and publishes them as a new generation directory. A merge takes
only files whose batch is decided, keeps every row (a replayed batch's
replica diffs collapse at read time under ``read(dedup=True)``), and
leaves the previous generations readable for ``KEEP_GENERATIONS`` rounds.

Every pyarrow-written store and log file goes through ``_write_parquet``
(zstd, statistics only on key and stamp columns); the Spark-side writes
use zstd too. Files written with other codecs keep reading.

The bucket hash is md5-based so it is computable identically from a Spark
expression AND plain Python — the streaming pipeline's small-batch fast
path reads/writes buckets driver-side with pyarrow (zero Spark jobs),
while large batches run the bucket job; both address the same bucket
layout.

At 100 TB this is the shape that survives: a batch touching 0.1% of
sessions rewrites ~0.1% of buckets, never the full store. On a real
deployment this class is replaced by a Delta/Iceberg table and ``upsert``
becomes one ``MERGE INTO`` — call sites do not change.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import CHECKPOINT_DIFFS_SCHEMA, DATA_STREAM_STATE_SCHEMA

_BUCKET_COL = "__bucket"

# pyarrow twins of the sink schemas (Spark IntegerType == int32), so the
# driver fast path and the distributed path produce byte-compatible files.
_STATE_PA_SCHEMA = pa.schema(
    [
        ("session_id", pa.string()),
        ("sequence_number", pa.int32()),
        ("cdc_content", pa.string()),
        ("ide_content", pa.string()),
        ("metadata", pa.string()),
        ("ctx", pa.string()),
        ("updated_ts_millis", pa.int64()),
    ]
)
_DIFFS_PA_SCHEMA = pa.schema(
    [
        ("session_id", pa.string()),
        ("sequence_number", pa.int32()),
        ("source", pa.string()),
        ("diff_data", pa.string()),
        ("ts_millis", pa.int64()),
    ]
)


# the only columns that carry min/max statistics: keys and stamps. The
# document columns are large JSON strings no reader prunes on (Spark's own
# parquet writer keeps no statistics for them either), and they are
# written without a dictionary: their values are nearly all distinct.
_STATS_COLS = ("session_id", "sequence_number", "updated_ts_millis", "source", "ts_millis")
_DOC_COLS = ("cdc_content", "ide_content", "diff_data")
# the diff log's natural key: the replay-dedup key and the merged files' order
_LOG_KEY = ("session_id", "sequence_number", "source")
# zstd level of the bucket job's files. Measured on one backfill_bulk run's
# store (64 bucket files, 3900 rows) and log (48 files, 7200 rows): level 6
# writes 13% fewer bytes than the default level 1 (1268 vs 1458 KB) for
# ~35 ms more CPU per 64 buckets, spread over the job's tasks. The diff
# log's merged files use it too (a live run's state was 0.112 MB with them
# at level 1, 0.107 at 6, 0.104 at 12). The driver path's per-tick writes
# keep the default level: they sit on the live tick.
_JOB_ZSTD_LEVEL = 6


def _write_parquet(table: pa.Table, path: str, key: str = "session_id", level: int | None = None) -> None:
    """The one pyarrow writer of store and log files: zstd (at ``level``,
    default the library's), no embedded Arrow schema, statistics only on
    ``_STATS_COLS`` and ``key``, no dictionary on ``_DOC_COLS``. The file
    is written under a hidden tmp name (readers skip names starting with
    ``.``) and renamed into place, so a retried writer replaces its file
    instead of adding a second copy."""
    names = table.column_names
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.{uuid.uuid4().hex[:8]}.tmp")
    pq.write_table(
        table,
        tmp,
        compression="zstd",
        compression_level=level,
        store_schema=False,
        use_dictionary=[c for c in names if c not in _DOC_COLS],
        write_statistics=[c for c in names if c in _STATS_COLS or c == key],
    )
    os.replace(tmp, path)


def _replace_by_key(key: str):
    """``merge_buckets`` function of a plain MERGE: update rows replace the
    bucket's rows with the same key, other rows are kept. Columns the two
    sides do not share read back null (schema evolution)."""

    def merge(old: pa.Table | None, rows: pa.Table):
        if old is None:
            return rows, rows.num_rows, None
        kept = old.filter(pc.invert(pc.is_in(old[key], value_set=rows[key])))
        return pa.concat_tables([kept, rows], promote_options="permissive"), rows.num_rows, None

    return merge


_BUCKET_TASK_OUTPUT = "bucket int, path string, n_updated long, log_file string, schema string"
_BUCKET_TASK_PA_SCHEMA = pa.schema(
    [
        ("bucket", pa.int32()),
        ("path", pa.string()),
        ("n_updated", pa.int64()),
        ("log_file", pa.string()),
        ("schema", pa.string()),
    ]
)


def _bucket_task(snapshot: dict[int, str], ddir: str, key: str, merge_fn, log_dir: str | None):
    """``mapInArrow`` body of ``merge_buckets``. The partition arrives
    sorted by bucket, so buckets are merged one at a time: read the
    bucket's file from the driver's manifest ``snapshot``, call
    ``merge_fn``, write the merged bucket into the attempt's data dir
    ``ddir``. The side rows ``merge_fn`` returns (diff rows) go to ONE log
    file per task, named by the attempt and the partition. Emits one row
    per bucket."""
    attempt = os.path.basename(ddir)

    def run(batches):
        import numpy as np
        from pyspark import TaskContext
        from pyspark.sql.pandas.types import from_arrow_schema

        done: list[tuple[int, str, int, str]] = []
        side: list[dict] = []

        def merge_bucket(b: int, pieces: list[pa.RecordBatch]) -> None:
            rows = pa.Table.from_batches(pieces).drop_columns([_BUCKET_COL])
            old = pq.read_table(snapshot[b]) if b in snapshot else None
            merged, n, side_rows = merge_fn(old, rows)
            bdir = os.path.join(ddir, f"{_BUCKET_COL}={b}")
            os.makedirs(bdir, exist_ok=True)
            _write_parquet(merged, os.path.join(bdir, "part-00000.parquet"), key, _JOB_ZSTD_LEVEL)
            if log_dir is not None:
                side.extend(side_rows or ())
            done.append((b, f"{attempt}/{_BUCKET_COL}={b}", n, from_arrow_schema(merged.schema).json()))

        cur, pieces = None, []
        for batch in batches:
            ids = batch.column(_BUCKET_COL).to_numpy()
            cuts = [0, *(np.flatnonzero(ids[1:] != ids[:-1]) + 1).tolist(), len(ids)]
            for lo, hi in zip(cuts, cuts[1:]):
                if hi > lo:
                    if pieces and ids[lo] != cur:
                        merge_bucket(cur, pieces)
                        pieces = []
                    cur = int(ids[lo])
                    pieces.append(batch.slice(lo, hi - lo))
        if pieces:
            merge_bucket(cur, pieces)
        log_file = None
        if side:
            pid = TaskContext.get().partitionId()
            log_file = os.path.join(log_dir, f"part-{attempt}-{pid:05d}.parquet")
            _write_parquet(pa.Table.from_pylist(side, schema=_DIFFS_PA_SCHEMA), log_file, level=_JOB_ZSTD_LEVEL)
        if done:
            yield pa.RecordBatch.from_pylist(
                [
                    {"bucket": b, "path": rel, "n_updated": n, "log_file": log_file, "schema": sj}
                    for b, rel, n, sj in done
                ],
                schema=_BUCKET_TASK_PA_SCHEMA,
            )

    return run


def bucket_of(key: str, n_buckets: int) -> int:
    """Python twin of ``ParquetStateStore._bucket_expr`` — first 8 hex chars
    of md5, mod n_buckets."""
    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % n_buckets


class CommitTimeout(RuntimeError):
    """A concurrent writer claimed a version but its pointer never
    advanced (torn commit by a crashed process)."""


class ParquetStateStore:
    KEEP_VERSIONS = 3
    N_BUCKETS = 64
    COMMIT_WAIT_SECONDS = 30.0

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_buckets: int | None = None,
        schema=None,
    ):
        # ``schema`` is only consulted for the empty (version-0) read; any
        # keyed row shape works — the CDC state table is just the default
        # client (the IVM rollup store passes its own aggregate schema).
        self.spark = spark
        self.path = path
        self.n_buckets = n_buckets or self.N_BUCKETS
        self.schema = schema or DATA_STREAM_STATE_SCHEMA
        os.makedirs(self.path, exist_ok=True)

    # -- commit protocol -------------------------------------------------------

    def _pointer_file(self) -> str:
        return os.path.join(self.path, "_VERSION")

    def current_version(self) -> int:
        try:
            with open(self._pointer_file()) as fh:
                return int(fh.read().strip())
        except (FileNotFoundError, ValueError):
            return 0

    def _new_data_dir(self, v: int) -> str:
        """Uniquely-named data directory for one writer's attempt at
        version ``v`` — two racing writers never write into the same
        directory, so the loser's files can simply be discarded."""
        return os.path.join(self.path, f"v{v:08d}_{uuid.uuid4().hex[:8]}")

    def _manifest_file(self, v: int) -> str:
        return os.path.join(self.path, f"_manifest_v{v:08d}.json")

    def _manifest(self, v: int) -> dict[str, str]:
        """bucket id (str) -> data dir path relative to ``self.path``."""
        if v == 0:
            return {}
        with open(self._manifest_file(v)) as fh:
            return json.load(fh)["buckets"]

    def _dir_schemas(self, v: int) -> dict[str, str]:
        """data-dir name -> Spark ``StructType`` JSON of the columns its
        writer produced (``{}`` for version 0 and for pre-upgrade
        manifests, which never recorded schemas). Written at commit time
        so readers can PIN the read schema instead of paying a
        mergeSchema footer job over every referenced bucket dir."""
        if v == 0:
            return {}
        with open(self._manifest_file(v)) as fh:
            return json.load(fh).get("dir_schemas", {})

    @staticmethod
    def _schema_json(schema) -> str:
        """Canonical all-nullable JSON for a StructType — nullability is
        forced TRUE so the recorded schema matches what a merged /
        null-filled read produces (a dir missing an evolved column reads
        back null there)."""
        return T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in schema.fields]
        ).json()

    def _carry_dir_schemas(
        self, prev: dict[str, str], buckets: dict[str, str], vname: str, schema_json: str | None
    ) -> dict[str, str]:
        """dir_schemas for a new manifest: the new data dir's schema plus
        the recorded schema of every dir the new bucket map still
        references (dropping entries for dirs no manifest points at keeps
        the manifest O(live dirs))."""
        live = {rel.split("/", 1)[0] for rel in buckets.values() if rel}
        out = {d: s for d, s in prev.items() if d in live}
        if schema_json is not None:  # None: unknown, readers merge footers
            out[vname] = schema_json
        return out

    def _read_parquet(self, v: int, paths: list[str]) -> DataFrame:
        """Read bucket dirs with a PINNED schema when the manifest
        recorded every referenced dir's columns: one driver-side schema
        union instead of a mergeSchema job that opens every footer
        (measured ~0.25 s per 64-dir read at bench scale). Parquet reads
        with an explicit schema null-fill missing columns, so evolved
        stores read identically; any unknown dir (pre-upgrade manifest)
        or same-name type conflict falls back to mergeSchema."""
        dir_schemas = self._dir_schemas(v)
        # sorted => deterministic union column order (data dirs are named
        # v{version:08d}_..., so sorted order is commit order)
        dirnames = sorted(
            {os.path.relpath(p, self.path).split(os.sep, 1)[0] for p in paths}
        )
        jsons = [dir_schemas.get(d) for d in dirnames]
        pinned = self._union_schema(jsons) if all(jsons) else None
        if pinned is not None:
            return self.spark.read.schema(pinned).parquet(*paths)
        return self.spark.read.option("mergeSchema", "true").parquet(*paths)

    @staticmethod
    def _union_schema(jsons) -> T.StructType | None:
        """Union of recorded StructType JSONs by column name, in first-seen
        order; None when one name carries two types."""
        fields: dict[str, T.StructField] = {}
        for j in dict.fromkeys(jsons):  # distinct, first-seen order
            for f in T.StructType.fromJson(json.loads(j)).fields:
                prev = fields.setdefault(f.name, f)
                if prev.dataType != f.dataType:
                    return None
        return T.StructType(list(fields.values()))

    def _try_commit(
        self, v: int, buckets: dict[str, str], dir_schemas: dict[str, str]
    ) -> bool:
        """Claim version ``v`` by atomically linking a fully-written
        manifest into place — ``os.link`` of a complete tmp file, so a
        claimed manifest is COMPLETE BY CONSTRUCTION (a writer killed at
        any instruction leaves either no manifest or a valid one, never a
        torn JSON; the pre-round-4 ``open(..., 'x')`` + ``json.dump``
        claim had a kill window that left a truncated claim no process
        could ever repair). Exactly one concurrent writer wins the link;
        the winner then advances the pointer. Returns False when another
        writer already claimed ``v``."""
        mtmp = f"{self._manifest_file(v)}.{uuid.uuid4().hex[:8]}.tmp"
        with open(mtmp, "w") as fh:
            json.dump(
                {"version": v, "buckets": buckets, "dir_schemas": dir_schemas}, fh
            )
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(mtmp, self._manifest_file(v))
        except FileExistsError:
            return False
        finally:
            os.unlink(mtmp)
        self._advance_pointer(v)
        return True

    def _advance_pointer(self, v: int) -> None:
        """Monotonic, lock-guarded pointer advance. Both the committing
        winner and any roll-forward helper (see ``_wait_for_version``)
        call this; the flock + ``>=`` guard makes a stale helper unable
        to regress the pointer past a newer commit. flock is correct for
        multi-process same-host (this container); a shared-filesystem
        deployment swaps this class for Delta/Iceberg whose commit
        service owns the pointer (module docstring)."""
        import fcntl

        with open(os.path.join(self.path, "_ptr.lock"), "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            if self.current_version() >= v:
                return
            ptmp = f"{self._pointer_file()}.{uuid.uuid4().hex[:8]}.tmp"
            with open(ptmp, "w") as fh:
                fh.write(str(v))
            os.replace(ptmp, self._pointer_file())  # atomic on POSIX

    def _wait_for_version(self, v: int) -> int:
        """After losing a claim on ``v``: the claimed manifest is complete
        by construction, so a dead winner's commit is simply ROLLED
        FORWARD (advance the pointer for it) instead of waited on — the
        crash-recovery path: a writer SIGKILLed between claiming its
        manifest and advancing the pointer blocks nobody, and its
        committed data survives. Returns the (possibly newer) current
        version. The timeout now only guards pathological states (e.g.
        an unreadable manifest on a dying disk)."""
        deadline = time.monotonic() + self.COMMIT_WAIT_SECONDS
        while True:
            cur = self.current_version()
            if cur >= v:
                return cur
            if os.path.exists(self._manifest_file(v)):
                self._advance_pointer(v)
                continue
            if time.monotonic() > deadline:
                raise CommitTimeout(
                    f"version {v} was claimed but its pointer never advanced "
                    f"(current={cur}) — torn commit by a crashed writer?"
                )
            time.sleep(0.005)

    def _vacuum(self, current: int) -> None:
        """Drop data dirs referenced ONLY by manifests older than the
        retention window, then those manifests. Deleting strictly from
        expired-manifest references (instead of 'anything unreferenced')
        means an in-flight concurrent writer's not-yet-committed data dir
        is never touched; dirs orphaned by a crash before commit are left
        for offline GC."""
        lo = max(1, current - self.KEEP_VERSIONS + 1)
        retained: set[str] = set()
        for v in range(lo, current + 1):
            try:
                for rel in self._manifest(v).values():
                    if rel:  # "" = emptied bucket, references no dir
                        retained.add(rel.split("/", 1)[0])
            except FileNotFoundError:
                continue
        expired_manifests: list[str] = []
        expired_refs: set[str] = set()
        for name in os.listdir(self.path):
            if name.startswith("_manifest_v") and name.endswith(".json"):
                mv = int(name[len("_manifest_v") : -len(".json")])
                if mv < lo:
                    expired_manifests.append(name)
                    try:
                        for rel in self._manifest(mv).values():
                            if rel:
                                expired_refs.add(rel.split("/", 1)[0])
                    except (FileNotFoundError, ValueError):
                        continue
        for dirname in expired_refs - retained:
            shutil.rmtree(os.path.join(self.path, dirname), ignore_errors=True)
        for name in expired_manifests:
            try:
                os.unlink(os.path.join(self.path, name))
            except FileNotFoundError:
                pass  # a concurrent vacuum got there first
        # crash debris: a writer killed between writing its manifest tmp
        # and linking it leaves a stray .tmp — safe to sweep once stale
        # (an in-flight writer links within milliseconds of the write)
        now = time.time()
        for name in os.listdir(self.path):
            if name.endswith(".tmp"):
                full = os.path.join(self.path, name)
                try:
                    if now - os.path.getmtime(full) > self.COMMIT_WAIT_SECONDS:
                        os.unlink(full)
                except OSError:
                    pass

    # -- distributed (Spark) API -----------------------------------------------

    def _bucket_expr(self, key: str):
        # md5 prefix → bigint, mod n_buckets: identical to ``bucket_of``
        return F.pmod(
            F.conv(F.substring(F.md5(F.col(key)), 1, 8), 16, 10).cast("bigint"),
            F.lit(self.n_buckets),
        ).cast("int")

    def exists(self) -> bool:
        return self.current_version() > 0

    def _bucket_paths(self, v: int, buckets: set[int] | None = None) -> list[str]:
        man = self._manifest(v)
        items = man.items() if buckets is None else ((b, p) for b, p in man.items() if int(b) in buckets)
        # "" marks a bucket DELETE emptied (a partitioned write produces no
        # directory for an empty bucket, so the manifest points it at
        # nothing rather than leaving it on stale data)
        return [os.path.join(self.path, rel) for _, rel in items if rel]

    def read(
        self,
        keys: DataFrame | None = None,
        key: str = "session_id",
        version: int | None = None,
    ) -> DataFrame:
        """Current snapshot — or, with ``version``, a TIME-TRAVEL read of
        any retained committed version (manifests inside the
        ``KEEP_VERSIONS`` window stay on disk precisely so readers and
        debuggers can replay them). With ``keys`` (a DataFrame holding
        ``key``), only the buckets those keys hash to are scanned — the
        point-lookup / per-batch shape: state I/O proportional to the
        batch, not the store."""
        v = self.current_version() if version is None else version
        if version is not None and version > self.current_version():
            raise ValueError(
                f"version {version} not committed (current={self.current_version()})"
            )
        if v == 0:
            return self.spark.createDataFrame([], self.schema)
        if version is not None and not os.path.exists(self._manifest_file(v)):
            raise ValueError(
                f"version {version} is outside the retention window "
                f"(KEEP_VERSIONS={self.KEEP_VERSIONS}, current={self.current_version()})"
            )
        wanted = None
        if keys is not None:
            # bounded: distinct bucket ids ≤ n_buckets (64)
            wanted = {
                r[0] for r in keys.select(self._bucket_expr(key)).distinct().collect()
            }
        paths = self._bucket_paths(v, wanted)
        if not paths:
            return self.spark.createDataFrame([], self.schema)
        # bucket dirs written before a schema-evolving upsert lack its new
        # columns; the pinned-schema (or fallback mergeSchema) read nulls
        # them in
        return self._read_parquet(v, paths)

    def changes_between(
        self, v_from: int, v_to: int, key: str = "session_id"
    ) -> DataFrame:
        """Change data feed between two retained versions (the Delta CDF
        read surface): one row per key whose content changed, tagged
        ``insert`` / ``update_postimage`` / ``delete``, with the
        POSTIMAGE payload (nulls for deletes). Change detection is an
        md5 over the non-key columns in sorted-name order — stable under
        column reordering and schema evolution (missing columns hash as
        an explicit null sentinel).

        Scale shape: both snapshots share the bucket layout (same key
        hash, same bucket count), so the full-outer compare co-locates
        per bucket instead of a global shuffle. Honest caveat: this is a
        SNAPSHOT diff — a production CDF retains the per-commit upsert
        batches and serves deltas without touching either snapshot; this
        method is the recovery/audit path that works from retained
        versions alone."""
        old = (
            self.read(version=v_from)
            if v_from > 0
            else self.spark.createDataFrame([], self.schema)
        )
        new = self.read(version=v_to)
        cols = sorted(set(new.columns) | set(old.columns) - {key})
        cols = [c for c in cols if c != key]

        def _h(df):
            return F.md5(
                F.concat_ws(
                    "\u001f",
                    *[
                        F.coalesce(
                            F.col(c).cast("string") if c in df.columns else F.lit(None),
                            F.lit("\u0000"),
                        )
                        for c in cols
                    ],
                )
            )

        o2 = old.select(F.col(key), _h(old).alias("_h_old"))
        n2 = new.select(
            F.col(key),
            _h(new).alias("_h_new"),
            *[
                (F.col(c) if c in new.columns else F.lit(None)).alias(c)
                for c in cols
            ],
        )
        j = n2.join(o2, key, "full_outer")
        change = (
            F.when(F.col("_h_old").isNull(), F.lit("insert"))
            .when(F.col("_h_new").isNull(), F.lit("delete"))
            .when(F.col("_h_old") != F.col("_h_new"), F.lit("update_postimage"))
        )
        return j.select(
            change.alias("_change_type"), F.col(key), *[F.col(c) for c in cols]
        ).filter(F.col("_change_type").isNotNull())

    def upsert(self, updates: DataFrame, key: str = "session_id") -> None:
        """MERGE: rows in ``updates`` replace same-key rows, others kept —
        ``merge_buckets`` with ``_replace_by_key``. Updates may add columns
        (old rows read back null there) or omit columns (replaced rows
        carry null: last-write-wins replaces the whole row)."""
        self.merge_buckets(updates, _replace_by_key(key), key)

    def merge_buckets(
        self, updates: DataFrame, merge_fn, key: str = "session_id", log: ParquetAppendLog | None = None
    ) -> int:
        """One bucket-aligned Spark job per MERGE. ``updates`` is tagged
        with its bucket, repartitioned by it and sorted by (bucket, key), so
        every task holds whole buckets and merges them one at a time (see
        ``_bucket_task``): read the bucket's file from this snapshot, call
        ``merge_fn(old: pa.Table | None, rows: pa.Table) -> (merged
        table, n_updated, side rows | None)``, write the merged bucket into
        a new uniquely named data dir. Side rows (diff rows) are appended
        to ``log`` by the same task, before the claim. The driver then
        commits one manifest repointing the touched buckets and runs the
        log's ``merge_tiers``; returns the summed ``n_updated``.

        A lost claim deletes the attempt's data dir and log files and
        re-runs the job against the winner's snapshot, so no row merged
        against a stale snapshot is ever committed. A task retried by Spark
        rewrites the same file names (tmp + rename), never a second copy."""
        keyed = (
            updates.withColumn(_BUCKET_COL, self._bucket_expr(key))
            .repartition(_BUCKET_COL)
            .sortWithinPartitions(_BUCKET_COL, key)
        )
        # the log's writer lock is held until the claim is won or the lost
        # attempt's log files are deleted: no merge round takes them before
        with log.writing() if log is not None else contextlib.nullcontext() as log_dir:
            n = self._commit_bucket_job(keyed, merge_fn, key, log_dir)
        if log is not None:
            log.merge_tiers()
        return n

    def _commit_bucket_job(self, keyed: DataFrame, merge_fn, key: str, log_dir: str | None) -> int:
        v = self.current_version()
        while True:
            nv = v + 1
            ddir = self._new_data_dir(nv)
            buckets = dict(self._manifest(v))
            snapshot = {int(b): os.path.join(self.path, rel) for b, rel in buckets.items() if rel}
            task = _bucket_task(snapshot, ddir, key, merge_fn, log_dir)
            # bounded: one row per touched bucket, ≤ n_buckets (64)
            done = keyed.mapInArrow(task, _BUCKET_TASK_OUTPUT).collect()
            if not done:
                return 0
            for r in done:
                buckets[str(r.bucket)] = r.path
            schema = self._union_schema(sorted({r.schema for r in done}))
            dir_schemas = self._carry_dir_schemas(
                self._dir_schemas(v),
                buckets,
                os.path.basename(ddir),
                schema and self._schema_json(schema),
            )
            if self._try_commit(nv, buckets, dir_schemas):
                self._vacuum(nv)
                return sum(r.n_updated for r in done)
            # lost the claim: every row was merged against a stale snapshot
            shutil.rmtree(ddir, ignore_errors=True)
            for f in {r.log_file for r in done if r.log_file}:
                try:
                    os.unlink(f)
                except FileNotFoundError:
                    pass
            v = self._wait_for_version(nv)

    def delete(self, keys: DataFrame, key: str = "session_id") -> None:
        """CDC DELETE: drop every row whose key appears in ``keys`` — the
        third MERGE verb. Same touched-bucket discipline and optimistic
        commit as ``upsert``; a bucket the delete empties is
        manifest-marked ``""`` (no data) rather than left pointing at its
        stale pre-delete directory."""
        key_df = keys.select(key).distinct()
        keys_b = key_df.withColumn(_BUCKET_COL, self._bucket_expr(key))
        # bounded: distinct bucket ids ≤ n_buckets (64)
        touched = {r[0] for r in keys_b.select(_BUCKET_COL).distinct().collect()}
        if not touched:
            return
        v = self.current_version()
        while True:
            old_paths = self._bucket_paths(v, touched) if v else []
            if not old_paths:
                return  # nothing stored under these keys
            old = self._read_parquet(v, old_paths).withColumn(
                _BUCKET_COL, self._bucket_expr(key)
            )
            remaining = old.join(F.broadcast(key_df), key, "left_anti")
            nv = v + 1
            ddir = self._new_data_dir(nv)
            remaining.repartition(F.col(_BUCKET_COL)).write.mode("overwrite").option(
                "compression", "zstd"
            ).partitionBy(_BUCKET_COL).parquet(ddir)
            buckets = dict(self._manifest(v))
            vname = os.path.basename(ddir)
            for b in touched:
                rel = f"{vname}/{_BUCKET_COL}={b}"
                buckets[str(b)] = (
                    rel if os.path.isdir(os.path.join(self.path, rel)) else ""
                )
            written = T.StructType(
                [f for f in remaining.schema.fields if f.name != _BUCKET_COL]
            )
            dir_schemas = self._carry_dir_schemas(
                self._dir_schemas(v), buckets, vname, self._schema_json(written)
            )
            if self._try_commit(nv, buckets, dir_schemas):
                self._vacuum(nv)
                return
            shutil.rmtree(ddir, ignore_errors=True)
            v = self._wait_for_version(nv)

    # -- driver-side (pyarrow) API — the small-batch fast path -----------------

    def read_docs(self, session_ids: list[str]) -> dict[str, dict]:
        """Point-lookup of state rows by key, driver-side, zero Spark jobs.
        Reads only the buckets the keys hash to."""
        v = self.current_version()
        if v == 0 or not session_ids:
            return {}
        wanted = {bucket_of(s, self.n_buckets) for s in session_ids}
        ids = set(session_ids)
        out: dict[str, dict] = {}
        for p in self._bucket_paths(v, wanted):
            try:
                t = pq.read_table(p)
            except (OSError, ValueError):
                continue
            for row in t.to_pylist():
                if row["session_id"] in ids:
                    out[row["session_id"]] = row
        return out

    def upsert_rows(self, rows: list[dict]) -> None:
        """MERGE of a small row set, driver-side, zero Spark jobs. Same
        manifest commit as the distributed path — Spark readers see one
        consistent table regardless of which path wrote each version, and
        the same optimistic retry re-merges after a lost claim."""
        if not rows:
            return
        by_bucket: dict[int, list[dict]] = {}
        for r in rows:
            by_bucket.setdefault(bucket_of(r["session_id"], self.n_buckets), []).append(r)
        cols = [f.name for f in _STATE_PA_SCHEMA]
        v = self.current_version()
        while True:
            nv = v + 1
            ddir = self._new_data_dir(nv)
            vname = os.path.basename(ddir)
            man = dict(self._manifest(v))
            for b, new_rows in by_bucket.items():
                keep: list[dict] = []
                old_rel = man.get(str(b))
                if old_rel is not None:
                    new_keys = {r["session_id"] for r in new_rows}
                    try:
                        old_rows = pq.read_table(os.path.join(self.path, old_rel)).to_pylist()
                        keep = [r for r in old_rows if r["session_id"] not in new_keys]
                    except (OSError, ValueError):
                        pass
                merged = keep + [{c: r.get(c) for c in cols} for r in new_rows]
                bdir = os.path.join(ddir, f"{_BUCKET_COL}={b}")
                os.makedirs(bdir, exist_ok=True)
                table = pa.Table.from_pylist(
                    [{c: row[c] for c in cols} for row in merged], schema=_STATE_PA_SCHEMA
                )
                _write_parquet(table, os.path.join(bdir, "part-00000.parquet"))
                man[str(b)] = f"{vname}/{_BUCKET_COL}={b}"
            # the fast path always writes _STATE_PA_SCHEMA, whose Spark
            # twin is DATA_STREAM_STATE_SCHEMA (module docstring)
            dir_schemas = self._carry_dir_schemas(
                self._dir_schemas(v),
                man,
                vname,
                self._schema_json(DATA_STREAM_STATE_SCHEMA),
            )
            if self._try_commit(nv, man, dir_schemas):
                self._vacuum(nv)
                return
            shutil.rmtree(ddir, ignore_errors=True)  # lost the claim: discard, re-merge
            v = self._wait_for_version(nv)

    def max_sequence_number(self) -> int:
        """Driver-side poll helper (pyarrow, no Spark jobs) — used by bench
        wait loops so polling never competes with the micro-batches."""
        v = self.current_version()
        if v == 0:
            return 0
        best = 0
        for p in self._bucket_paths(v):
            try:
                t = pq.read_table(p, columns=["sequence_number"])
                vals = t.column(0).to_pylist()
                if vals:
                    best = max(best, max(vals))
            except (OSError, ValueError):
                continue
        return best


class ParquetAppendLog:
    """Append-only sink for diff documents (checkpoint_diffs table), kept
    in size tiers so its file count grows logarithmically, not one file
    per batch.

    Layout: ``_LOGDIR`` names the current generation directory
    ``d{gen:08d}``; its visible ``*.parquet`` files are the log. An append
    (``append``, ``append_rows``, the bucket job's tasks) adds a tier-0
    file; a merged file is named ``t{tier}-*.parquet``. After each batch's
    state commit the committing writer calls ``merge_tiers``: once
    ``FAN_IN`` files of one tier accumulate, they become one file of the
    next tier (cascading when that tier fills too), so after N appended
    files each tier holds fewer than ``FAN_IN`` files and there are about
    log_FAN_IN(N) tiers. Merged files are sorted by (session_id,
    sequence_number, source), which is where the bytes go: a live
    session's successive diffs repeat its growing message lists and
    compress against each other only inside one file.

    Multi-writer appends: every writer holds the SHARED lock ``_log.lock``
    (``writing``) from resolving the data dir through its first diff write
    until its state claim is won, or until its lost attempt's files are
    deleted. A merge round takes the EXCLUSIVE lock without waiting and
    skips the round when any writer holds it, so a merge only ever takes
    files whose batch is decided, and no append can land in a generation
    after the merge listed it. The lock is a single-host ``flock``, like
    the store's ``_ptr.lock``.

    Reader retention: a merge never touches a live path. It publishes a
    NEW generation — the merged file plus hard links to the files it left
    alone — and then repoints ``_LOGDIR``. A reader that resolved an
    older generation (a ``read()`` DataFrame built before the round) keeps
    reading it; generations older than the last ``KEEP_GENERATIONS`` are
    deleted by the round that publishes a new one, the way the store keeps
    ``KEEP_VERSIONS`` manifests. A round killed before its repoint leaves
    a never-published generation, which the next round deletes.

    Replay dedup: the pipelines append diffs BEFORE committing state, so a
    crash between the two replays the batch and appends the same diff
    again. A merge keeps every row (replicas included); ``read(dedup=True)``
    collapses replays on the natural key (session_id, sequence_number,
    source).
    """

    # files of one tier merged into one file of the next; a constant, so
    # every writer of one log agrees on the layout
    FAN_IN = 16
    KEEP_GENERATIONS = 3

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(self.path, exist_ok=True)

    def _pointer_file(self) -> str:
        return os.path.join(self.path, "_LOGDIR")

    def _data_dir(self) -> str:
        try:
            with open(self._pointer_file()) as fh:
                return os.path.join(self.path, fh.read().strip())
        except FileNotFoundError:
            return os.path.join(self.path, "d00000001")

    def _repoint(self, name: str) -> None:
        tmp = self._pointer_file() + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(name)
        os.replace(tmp, self._pointer_file())

    def _lock_file(self):
        return open(os.path.join(self.path, "_log.lock"), "a")

    @contextlib.contextmanager
    def writing(self):
        """Hold the shared writer lock; yields the data dir, resolved under
        it. Writers keep it from their first diff write until their batch
        is decided (class docstring). Holders never wait on each other."""
        import fcntl

        with self._lock_file() as lk:
            fcntl.flock(lk, fcntl.LOCK_SH)
            d = self._data_dir()
            os.makedirs(d, exist_ok=True)
            yield d

    def append(self, df: DataFrame) -> None:
        """Spark-side append of diff rows: the five log columns, cast to the
        log's types (``CHECKPOINT_DIFFS_SCHEMA``, the types every other
        writer writes), so ``read`` can pin its schema."""
        missing = [f.name for f in CHECKPOINT_DIFFS_SCHEMA if f.name not in df.columns]
        if missing:
            raise ValueError(f"diff rows lack the log columns {missing}")
        df = df.select(*[F.col(f.name).cast(f.dataType) for f in CHECKPOINT_DIFFS_SCHEMA])
        with self.writing() as d:
            df.write.mode("append").option("compression", "zstd").parquet(d)

    def append_rows(self, rows: list[dict]) -> None:
        """Driver-side append, zero Spark jobs (small-batch fast path)."""
        if not rows:
            return
        cols = [f.name for f in _DIFFS_PA_SCHEMA]
        table = pa.Table.from_pylist(
            [{c: r.get(c) for c in cols} for r in rows], schema=_DIFFS_PA_SCHEMA
        )
        with self.writing() as d:
            _write_parquet(table, os.path.join(d, f"part-{uuid.uuid4().hex}.parquet"))

    def read(self, schema=None, dedup: bool = False) -> DataFrame:
        """The log's rows, read with ``schema`` or the log's own schema —
        every writer writes those five columns — so no footer-inference job
        runs (it cost 33-40 ms per read on a 4-core host)."""
        schema = schema or CHECKPOINT_DIFFS_SCHEMA
        d = self._data_dir()
        if not os.path.isdir(d):
            return self.spark.createDataFrame([], schema)
        df = self.spark.read.schema(schema).parquet(d)
        if dedup:
            df = df.dropDuplicates(list(_LOG_KEY))
        return df

    @staticmethod
    def _files(d: str) -> list[str]:
        """The log files of generation dir ``d``, sorted by name (hidden
        tmp files, ``_SUCCESS`` and checksums are not log files)."""
        try:
            names = os.listdir(d)
        except FileNotFoundError:
            return []
        return sorted(n for n in names if n.endswith(".parquet") and not n.startswith((".", "_")))

    def file_count(self) -> int:
        return len(self._files(self._data_dir()))

    def _tier_plan(self, names: list[str]):
        """The files one ``merge_tiers`` round merges and the tier of the
        merged file, or None: the lowest tier holding ``FAN_IN`` files,
        cascading up while the merged file would fill the next tier."""
        by_tier: dict[int, list[str]] = {}
        for n in names:
            by_tier.setdefault(_tier(n), []).append(n)
        take: list[str] = []
        out = None
        for t in range(max(by_tier, default=-1) + 1):
            files = by_tier.get(t, [])
            if len(files) + (out is not None) >= self.FAN_IN:
                take += files
                out = t + 1
            elif out is not None:
                break
        return None if out is None else (take, out, 1)

    def merge_tiers(self) -> bool:
        """The per-commit compaction step, called by the writer that just
        committed a batch once it has released ``writing``. Costs one
        pointer read and one listdir when no tier is full; otherwise runs
        one merge round, skipped when a writer holds the lock. Returns True
        when a round published a generation."""
        if self._tier_plan(self._files(self._data_dir())) is None:
            return False
        return self._merge_round(self._tier_plan)

    def compact(self, target_files: int = 4, min_files: int = 32) -> bool:
        """Full compaction: once ``min_files`` files accumulate, merge ALL
        of them into ``target_files`` files holding contiguous ranges of
        the (session_id, sequence_number, source) order, published as a new
        generation (class docstring), so readers of the previous one are
        unaffected. Skipped when a writer holds the lock. Returns True when
        a compaction happened."""

        def plan(names):
            if len(names) < min_files:
                return None
            return names, max(map(_tier, names)) + 1, target_files

        return self._merge_round(plan)

    def _merge_round(self, plan) -> bool:
        """Under the exclusive lock (not waited for): ``plan(files)`` picks
        ``(inputs, tier, n_out)`` from the current generation's files; the
        inputs' rows are sorted and written as ``n_out`` files of ``tier``
        into the next generation dir next to hard links of the other
        files, then ``_LOGDIR`` is repointed and expired or unpublished
        generations are deleted."""
        import fcntl

        with self._lock_file() as lk:
            try:
                fcntl.flock(lk, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                return False  # a writer's batch is undecided: next commit retries
            old = self._data_dir()
            names = self._files(old)
            picked = plan(names)
            if picked is None:
                return False
            inputs, tier, n_out = picked
            gen = _generation(os.path.basename(old)) + 1
            new = os.path.join(self.path, f"d{gen:08d}")
            shutil.rmtree(new, ignore_errors=True)  # a round killed before its repoint
            os.makedirs(new)
            # schema metadata dropped: a Spark-written input's row-schema JSON
            # would not describe a union of inputs
            table = pa.concat_tables(
                [pq.read_table(os.path.join(old, n)) for n in inputs], promote_options="permissive"
            ).replace_schema_metadata(None)
            table = table.sort_by([(c, "ascending") for c in _LOG_KEY if c in table.column_names])
            step = -(-table.num_rows // n_out) or 1
            for lo in range(0, table.num_rows or 1, step):
                _write_parquet(
                    table.slice(lo, step),
                    os.path.join(new, f"t{tier}-{uuid.uuid4().hex[:12]}.parquet"),
                    level=_JOB_ZSTD_LEVEL,
                )
            for n in set(names) - set(inputs):
                os.link(os.path.join(old, n), os.path.join(new, n))
            self._repoint(os.path.basename(new))
            for name in os.listdir(self.path):
                g = _generation(name)
                if g is not None and not gen - self.KEEP_GENERATIONS < g <= gen:
                    shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
        return True


def _tier(name: str) -> int:
    """Tier of a log file: ``t{k}-*`` is a merged file of tier k; any other
    name is an append (tier 0)."""
    head = name.split("-", 1)[0]
    return int(head[1:]) if head[:1] == "t" and head[1:].isdigit() else 0


def _generation(name: str) -> int | None:
    """Generation number of a log data dir ``d{gen:08d}``; None for any
    other name."""
    return int(name[1:]) if name[:1] == "d" and name[1:].isdigit() else None
