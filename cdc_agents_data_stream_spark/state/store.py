"""Parquet-backed upsert state store (S7) and append-only diff log.

The reference upserts the per-session document via JPA find-or-create +
saveAndFlush (repository/CdcAgentsDataStreamRepository.java:16-29). The
lake-native equivalent is MERGE INTO keyed on ``session_id``; on plain
parquet (no Delta in this container) the merge is implemented with a
miniature table-format commit protocol, hash-bucketed so a MERGE costs
O(touched buckets), not O(total store):

- rows live in ``N_BUCKETS`` hash buckets of the merge key; each bucket's
  current data is one parquet directory;
- a JSON **manifest** maps bucket id -> data directory; ``upsert`` writes
  ONLY the buckets the update touches (old bucket rows anti-joined against
  the update's keys, plus the update rows) into a new uniquely-named data
  directory in a single partitioned write job, then commits a new manifest
  that repoints just those buckets;
- **commit is optimistic multi-writer AND crash-safe**: version ``nv`` is
  claimed by atomically ``os.link``-ing a fully-written manifest into
  ``_manifest_v{nv}.json`` — a claimed manifest is complete by
  construction, so a writer killed at ANY instruction leaves either no
  claim or a valid one, never a torn file. Exactly one concurrent writer
  wins, then advances the ``_VERSION`` pointer (lock-guarded, monotonic).
  A loser discards its (never-referenced, uniquely named) data directory,
  ROLLS the winner's claim FORWARD if the winner died before advancing
  the pointer (no deadlock on a SIGKILLed writer; its committed data
  survives), re-reads the new snapshot, RE-MERGES its rows, and retries —
  so two live streams (the reference runs the cdc and ide subscribers
  concurrently) can MERGE into one store with no lost rows;
- recent manifests are retained so concurrent readers that already
  resolved an old pointer finish cleanly; a data directory is vacuumed
  only when it is referenced by an EXPIRED manifest and by no retained
  one — an in-flight writer's not-yet-committed directory is never
  touched. A writer that crashes between writing data and claiming its
  version leaves an orphan directory (bounded by one batch); real table
  formats handle the same case with retention-based orphan GC.

The bucket hash is md5-based so it is computable identically from a Spark
expression AND plain Python — the streaming pipeline's small-batch fast
path reads/writes buckets driver-side with pyarrow (zero Spark jobs),
while large batches run the distributed MERGE; both address the same
bucket layout.

At 100 TB this is the shape that survives: a batch touching 0.1% of
sessions rewrites ~0.1% of buckets, never the full store. On a real
deployment this class is replaced by a Delta/Iceberg table and ``upsert``
becomes one ``MERGE INTO`` — call sites do not change.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid

import pyarrow as pa
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
        self, prev: dict[str, str], buckets: dict[str, str], vname: str, schema_json: str
    ) -> dict[str, str]:
        """dir_schemas for a new manifest: the new data dir's schema plus
        the recorded schema of every dir the new bucket map still
        references (dropping entries for dirs no manifest points at keeps
        the manifest O(live dirs))."""
        live = {rel.split("/", 1)[0] for rel in buckets.values() if rel}
        out = {d: s for d, s in prev.items() if d in live}
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
        if all(jsons):
            fields: dict[str, T.StructField] = {}
            conflict = False
            for j in dict.fromkeys(jsons):  # distinct, first-seen order
                for f in T.StructType.fromJson(json.loads(j)).fields:
                    prev = fields.get(f.name)
                    if prev is None:
                        fields[f.name] = f
                    elif prev.dataType != f.dataType:
                        conflict = True
                        break
                if conflict:
                    break
            if not conflict:
                pinned = T.StructType(list(fields.values()))
                return self.spark.read.schema(pinned).parquet(*paths)
        return self.spark.read.option("mergeSchema", "true").parquet(*paths)

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
        """MERGE: rows in ``updates`` replace same-key rows, others kept.
        Only the touched buckets are read and rewritten (one partitioned
        write job); the update keyset is broadcast into the anti-join —
        the same shape Delta's MERGE uses for a small source.

        Losing the version claim to a concurrent writer re-merges against
        the winner's snapshot and retries — no lost rows (the retry re-runs
        only the touched-bucket read + write, the update side is the same
        DataFrame)."""
        updates_b = updates.withColumn(_BUCKET_COL, self._bucket_expr(key))
        # bounded: distinct bucket ids ≤ n_buckets (64)
        touched = {r[0] for r in updates_b.select(_BUCKET_COL).distinct().collect()}
        if not touched:
            return
        v = self.current_version()
        while True:
            old_paths = self._bucket_paths(v, touched) if v else []
            if old_paths:
                old = self._read_parquet(v, old_paths).withColumn(
                    _BUCKET_COL, self._bucket_expr(key)
                )
                # allowMissingColumns = schema evolution on MERGE: updates
                # may add columns (old rows read back null there) or omit
                # columns (replaced rows carry null -- LWW replaces the
                # whole row, not a partial patch)
                merged = old.join(
                    F.broadcast(updates.select(key)), key, "left_anti"
                ).unionByName(updates_b, allowMissingColumns=True)
            else:
                merged = updates_b
            nv = v + 1
            ddir = self._new_data_dir(nv)
            # cluster rows by bucket before the dynamic-partition write: one
            # file per bucket instead of (tasks × buckets) fragments — the same
            # pre-write repartition Delta's MERGE does; AQE coalesces the tiny
            # shuffle at test scale
            merged.repartition(F.col(_BUCKET_COL)).write.mode("overwrite").partitionBy(
                _BUCKET_COL
            ).parquet(ddir)
            buckets = dict(self._manifest(v))
            vname = os.path.basename(ddir)
            for b in touched:
                buckets[str(b)] = f"{vname}/{_BUCKET_COL}={b}"
            # the partition column becomes a directory, not a file column
            written = T.StructType(
                [f for f in merged.schema.fields if f.name != _BUCKET_COL]
            )
            dir_schemas = self._carry_dir_schemas(
                self._dir_schemas(v), buckets, vname, self._schema_json(written)
            )
            if self._try_commit(nv, buckets, dir_schemas):
                self._vacuum(nv)
                return
            shutil.rmtree(ddir, ignore_errors=True)  # lost the claim: discard, re-merge
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
            remaining.repartition(F.col(_BUCKET_COL)).write.mode(
                "overwrite"
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
                pq.write_table(table, os.path.join(bdir, "part-00000.parquet"))
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
    """Append-only sink for diff documents (checkpoint_diffs table).

    Concurrency: ``append``/``append_rows`` are multi-writer safe — every
    writer produces uniquely-named part files (Spark task UUIDs / uuid4),
    so two live streams can append to one log. ``compact`` alone is
    SINGLE-WRITER (it swaps the data-dir pointer; an append racing the
    swap could land in the just-retired dir) — run it from one maintenance
    thread, with appends quiesced. Readers are safe at any time —
    compaction swaps a pointer, never a live path.

    Replay safety: the streaming pipeline appends diffs BEFORE committing
    state, so a crash between the two replays the batch and appends the
    same diff again. ``read(dedup=True)`` collapses those replays on the
    natural key (session_id, sequence_number, source).
    """

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

    def append(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self._data_dir())

    def append_rows(self, rows: list[dict]) -> None:
        """Driver-side append, zero Spark jobs (small-batch fast path)."""
        if not rows:
            return
        d = self._data_dir()
        os.makedirs(d, exist_ok=True)
        cols = [f.name for f in _DIFFS_PA_SCHEMA]
        table = pa.Table.from_pylist(
            [{c: r.get(c) for c in cols} for r in rows], schema=_DIFFS_PA_SCHEMA
        )
        pq.write_table(table, os.path.join(d, f"part-{uuid.uuid4().hex}.parquet"))

    def read(self, schema=None, dedup: bool = False) -> DataFrame:
        d = self._data_dir()
        if not os.path.isdir(d):
            return self.spark.createDataFrame([], schema or CHECKPOINT_DIFFS_SCHEMA)
        df = self.spark.read.parquet(d)
        if dedup:
            df = df.dropDuplicates(["session_id", "sequence_number", "source"])
        return df

    def file_count(self) -> int:
        d = self._data_dir()
        if not os.path.isdir(d):
            return 0
        return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))

    def compact(self, target_files: int = 4, min_files: int = 32) -> bool:
        """Small-file compaction: each micro-batch appends a few tiny
        parquet files; once ``min_files`` accumulate, rewrite the log into
        ``target_files`` files (sorted by (session, seq) so range scans
        prune) under a NEW data dir, then atomically repoint — readers that
        resolved the old pointer finish on the old dir, which is removed
        only after the swap. Single-writer (see class docstring): no append
        may run concurrently. Returns True when a compaction happened."""
        if self.file_count() < min_files:
            return False
        old = self._data_dir()
        df = self.read().sortWithinPartitions("session_id", "sequence_number")
        nxt = os.path.join(self.path, f"d{int(os.path.basename(old)[1:]) + 1:08d}")
        df.coalesce(target_files).write.mode("overwrite").parquet(nxt)
        self._repoint(os.path.basename(nxt))
        shutil.rmtree(old, ignore_errors=True)
        return True
