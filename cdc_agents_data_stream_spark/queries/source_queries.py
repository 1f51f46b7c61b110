"""Oracle-checked query for the checkpoint-source scan chain (S3).

``writes_checkpoints_scan`` drives the production source composition
end-to-end on constructed inputs: checkpoint-write rows and checkpoint
pointer rows are built deterministically from ``events``, then flow through
the exact operators the pipeline uses — the F1/F5 write filter
(``message_writes``), the F3/C8/C9 jsonb ``$.ts`` extraction + cast
(``with_event_time``), the J1 equi-join, the A1 grouped argmax, and the C1
UTF-8 blob decode (``latest_blobs_per_task``) — so the oracle pins the whole
scan → join → reduce → decode chain, not just one operator
(reference: dao/CdcCheckpointDao.java:60-152, service/DiffService.java:99).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.latest import latest_blobs_per_task
from .base import Q, load


def _synthetic_write_tables(ev):
    """Construct (writes, checkpoints) rows deterministically from events —
    shared by the scan-chain and backfill gate queries. Each event yields
    one write row and one pointer row:

    - ``thread_id = th-(user_id % 50)``, ``task_path = task-(event_id % 5)``,
      ``checkpoint_id = cp-<event_id zero-padded>`` (zero-padding makes the
      lexicographic argmax tie-break equal the numeric one);
    - every 11th event carries a non-message channel (F1 must drop it) and
      every 13th an empty blob (F5 must drop it);
    - the pointer row stores event time INSIDE the jsonb as ``$.ts`` text at
      second precision, the C8/C9 extract-and-cast path.
    """
    sec = F.unix_millis(F.col("ts")) / F.lit(1000)
    sec = F.floor(sec).cast("long")
    cp_id = F.concat(F.lit("cp-"), F.lpad(F.col("event_id").cast("string"), 8, "0"))
    writes = ev.select(
        F.concat(F.lit("th-"), (F.col("user_id") % 50).cast("string")).alias("thread_id"),
        cp_id.alias("checkpoint_id"),
        F.concat(F.lit("task-"), (F.col("event_id") % 5).cast("string")).alias("task_id"),
        F.concat(F.lit("task-"), (F.col("event_id") % 5).cast("string")).alias("task_path"),
        F.when(F.col("event_id") % 11 == 0, F.lit("values"))
        .otherwise(F.lit("messages"))
        .alias("channel"),
        F.lit("list").alias("type"),
        F.when(F.col("event_id") % 13 == 0, F.lit(""))
        .otherwise(F.concat(F.lit("content-"), F.col("event_id").cast("string")))
        .cast("binary")
        .alias("blob"),
    )
    checkpoints = ev.select(
        cp_id.alias("checkpoint_id"),
        F.format_string(
            '{"ts": "%s"}',
            F.date_format(F.timestamp_seconds(sec), "yyyy-MM-dd HH:mm:ss"),
        ).alias("checkpoint"),
    )
    return writes, checkpoints


def writes_checkpoints_scan(spark, sf_dir):
    """S3 scan chain over the constructed tables (see
    ``_synthetic_write_tables``): F1/F5 write filter, F3/C8/C9 jsonb ts
    extraction, J1 equi-join, A1 grouped argmax, C1 blob decode."""
    ev = load(spark, sf_dir, "events")
    writes, checkpoints = _synthetic_write_tables(ev)
    return latest_blobs_per_task(writes, checkpoints).select(
        "thread_id", "task_id", "checkpoint_id", "ts_millis", "content"
    )


def backfill_state_build(spark, sf_dir):
    """X7 end-to-end under the gate: the SAME composition the backfill
    plan runs (plans/backfill.py; reference
    config/CdcSubscriberConfig.java:117-175) — scan → F1/F5 filter → J1
    join → A1 latest-per-(thread,task) → the bucket-aligned
    ``apply_transition_batch`` into an empty temp-dir store and diff log —
    then the resulting state documents are cracked back open for the
    oracle: one row per (session, task) with the absorbed content, the
    session's sequence number (must be 1: first absorbing batch, X6) and
    its diff-doc count in the log (must be 1: one diff doc per absorbing
    batch, X5).

    ``updated_ts_millis`` is dropped — the wall-clock stamp is the one
    non-deterministic state field (a replay passes the batch's ``now_ms``;
    see ``streaming.pipeline.absorb``). The store lives in a
    TemporaryDirectory, so the result is collected and re-wrapped before
    the directory vanishes."""
    import os
    import tempfile

    from ..plans.backfill import apply_transition_batch
    from ..state.store import ParquetAppendLog, ParquetStateStore

    ev = load(spark, sf_dir, "events")
    writes, checkpoints = _synthetic_write_tables(ev)
    latest = latest_blobs_per_task(writes, checkpoints)
    content = F.from_json(
        "cdc_content", "map<string, array<struct<content:string>>>"
    )
    with tempfile.TemporaryDirectory() as d:
        store = ParquetStateStore(spark, os.path.join(d, "state"))
        log = ParquetAppendLog(spark, os.path.join(d, "diffs"))
        apply_transition_batch(latest, store, log, "cdc")
        n_diffs = log.read(dedup=True).groupBy("session_id").agg(F.count("*").alias("n_diffs"))
        out = (
            store.read()
            .join(n_diffs, "session_id", "left")
            .select(
                "session_id",
                F.col("sequence_number").cast("long").alias("seq"),
                F.coalesce("n_diffs", F.lit(0)).cast("long").alias("n_diffs"),
                F.explode(content).alias("task_id", "items"),
            )
            .select(
                "session_id",
                "seq",
                "n_diffs",
                "task_id",
                # LWW keys hold exactly the newest item (operators/merge.py:44)
                F.col("items")[0]["content"].alias("content"),
            )
        )
        rows = out.collect()
        return spark.createDataFrame(
            rows, "session_id string, seq long, n_diffs long, task_id string, content string"
        )


WRITES_CHECKPOINTS_SCAN_SQL = """
WITH rows_kept AS (
  SELECT 'th-' || CAST(user_id % 50 AS VARCHAR) AS thread_id,
         'cp-' || lpad(CAST(event_id AS VARCHAR), 8, '0') AS checkpoint_id,
         'task-' || CAST(event_id % 5 AS VARCHAR) AS task_id,
         (epoch_ms(ts) // 1000) * 1000 AS ts_millis,
         'content-' || CAST(event_id AS VARCHAR) AS content
  FROM events
  WHERE event_id % 11 <> 0 AND event_id % 13 <> 0
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY thread_id, task_id
           ORDER BY ts_millis DESC, checkpoint_id DESC) AS rn
  FROM rows_kept
)
SELECT thread_id, task_id, checkpoint_id, CAST(ts_millis AS BIGINT) AS ts_millis, content
FROM ranked WHERE rn = 1
"""


def backfill_dual_stream(spark, sf_dir):
    """X10 under the gate: the production ``backfill`` entry point
    (plans/backfill.py::backfill) fanning in BOTH streams against a real
    (temp-dir) versioned state store — the CDC pass absorbs message blobs,
    then the IDE pass (dao/IdeCheckpointDao.java:58-80) merges into the
    same session documents, writing its disjoint column (``ide_content``;
    its diffs go to the log tagged ``source='ide'``) and advancing the shared
    sequence number. The final store snapshot is cracked open to one row
    per (session, stream, task) with the absorbed content; the session's
    seq must equal the number of streams that absorbed a batch.

    The store lives in a TemporaryDirectory, so the result is collected
    and re-wrapped before the directory vanishes — the returned DataFrame
    is replay-safe."""
    import os
    import tempfile

    from ..plans.backfill import backfill
    from ..state.store import ParquetStateStore

    ev = load(spark, sf_dir, "events")
    writes, checkpoints = _synthetic_write_tables(ev)
    sec = F.floor(F.unix_millis(F.col("ts")) / F.lit(1000)).cast("long")
    ide = ev.select(
        F.concat(F.lit("th-"), (F.col("user_id") % 50).cast("string")).alias("thread_id"),
        F.concat(F.lit("cp-"), F.lpad(F.col("event_id").cast("string"), 8, "0")).alias(
            "checkpoint_id"
        ),
        F.concat(F.lit("idetask-"), (F.col("event_id") % 3).cast("string")).alias(
            "task_path"
        ),
        F.date_format(F.timestamp_seconds(sec), "yyyy-MM-dd HH:mm:ss").alias(
            "checkpoint_ts"
        ),
        F.concat(F.lit("ide-"), F.col("event_id").cast("string")).cast("binary").alias(
            "blob"
        ),
    )
    content_t = "map<string, array<struct<content:string>>>"
    with tempfile.TemporaryDirectory() as d:
        store = ParquetStateStore(spark, os.path.join(d, "state"))
        backfill(spark, writes, checkpoints, store, ide_checkpoints=ide)
        state = store.read()
        seq = F.col("sequence_number").cast("long").alias("seq")
        per_stream = [
            state.select(
                "session_id",
                seq,
                F.lit(stream).alias("stream"),
                F.explode(F.from_json(f"{stream}_content", content_t)).alias(
                    "task_id", "items"
                ),
            ).select(
                "session_id",
                "seq",
                "stream",
                "task_id",
                F.col("items")[0]["content"].alias("content"),
            )
            for stream in ("cdc", "ide")
        ]
        out = per_stream[0].unionByName(per_stream[1])
        rows = out.collect()
        return spark.createDataFrame(
            rows, "session_id string, seq long, stream string, task_id string, content string"
        )


BACKFILL_DUAL_STREAM_SQL = """
WITH cdc_kept AS (
  SELECT 'th-' || CAST(user_id % 50 AS VARCHAR) AS session_id,
         'cp-' || lpad(CAST(event_id AS VARCHAR), 8, '0') AS checkpoint_id,
         'task-' || CAST(event_id % 5 AS VARCHAR) AS task_id,
         (epoch_ms(ts) // 1000) * 1000 AS ts_millis,
         'content-' || CAST(event_id AS VARCHAR) AS content
  FROM events
  WHERE event_id % 11 <> 0 AND event_id % 13 <> 0
), ide_kept AS (
  SELECT 'th-' || CAST(user_id % 50 AS VARCHAR) AS session_id,
         'cp-' || lpad(CAST(event_id AS VARCHAR), 8, '0') AS checkpoint_id,
         'idetask-' || CAST(event_id % 3 AS VARCHAR) AS task_id,
         (epoch_ms(ts) // 1000) * 1000 AS ts_millis,
         'ide-' || CAST(event_id AS VARCHAR) AS content
  FROM events
), seqs AS (
  SELECT session_id,
         CAST((CASE WHEN EXISTS (SELECT 1 FROM cdc_kept c WHERE c.session_id = s.session_id)
                    THEN 1 ELSE 0 END)
            + (CASE WHEN EXISTS (SELECT 1 FROM ide_kept i WHERE i.session_id = s.session_id)
                    THEN 1 ELSE 0 END) AS BIGINT) AS seq
  FROM (SELECT session_id FROM cdc_kept UNION SELECT session_id FROM ide_kept) s
), latest AS (
  SELECT session_id, 'cdc' AS stream, task_id, content,
         ROW_NUMBER() OVER (PARTITION BY session_id, task_id
                            ORDER BY ts_millis DESC, checkpoint_id DESC) AS rn
  FROM cdc_kept
  UNION ALL
  SELECT session_id, 'ide' AS stream, task_id, content,
         ROW_NUMBER() OVER (PARTITION BY session_id, task_id
                            ORDER BY ts_millis DESC, checkpoint_id DESC) AS rn
  FROM ide_kept
)
SELECT l.session_id, q.seq, l.stream, l.task_id, l.content
FROM latest l JOIN seqs q ON q.session_id = l.session_id
WHERE l.rn = 1
"""


def schema_bootstrap_ddl(spark, sf_dir):
    """S8 under the gate: run the idempotent schema bootstrap
    (sources/bootstrap.py::bootstrap_tables; reference
    config/CdcSubscriberConfig.java:177-203 running
    cdc-agents-schema.sql / ide-schema.sql with CREATE TABLE IF NOT
    EXISTS) twice against a temp location, and emit the catalog-observable
    result: one row per registered table with its column count and proof
    the second boot was a no-op (same table set, no error). The column
    counts pin the DDL to the reference schemas
    (cdc-agents-schema.sql:10-57, ide-schema.sql:1-16)."""
    import shutil
    import tempfile

    from ..sources.bootstrap import bootstrap_tables

    db = "cdc_agents_gate"
    base = tempfile.mkdtemp(prefix="bootstrap-gate-")
    try:
        first = bootstrap_tables(spark, base, database=db)
        second = bootstrap_tables(spark, base, database=db)  # must be a no-op
        rows = []
        for tbl in sorted(first):
            cols = spark.sql(f"DESCRIBE TABLE {tbl}").collect()
            n_cols = sum(1 for c in cols if c.col_name and not c.col_name.startswith("#"))
            rows.append((tbl.split(".", 1)[1], n_cols, int(sorted(second) == sorted(first))))
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, "table_name string, n_cols int, idempotent int")


SCHEMA_BOOTSTRAP_DDL_SQL = """
SELECT * FROM (VALUES
  ('checkpoint_blobs', 6, 1),
  ('checkpoint_writes', 9, 1),
  ('checkpoints', 7, 1),
  ('ide_checkpoints', 7, 1)
) AS t(table_name, n_cols, idempotent)
"""


def git_repo_scan(spark, sf_dir):
    """S6/T5 under the gate: build a throwaway git repository whose history
    is derived from the data — one commit per distinct ``event_type``, in
    sorted order, with pinned author/committer/date so the repo is
    bit-identical across runs — then run the production scanner
    (ctx/providers.py::scan_git_repositories; reference
    util/GitRepositoryScanner.java:43-260) with ``commit_limit=5`` (the
    ``git log -n`` bound, T5) against a root directory containing it plus
    a non-repo subdirectory the walk must skip. An untracked file makes
    the worktree dirty. Output: scanner-observable invariants (repo count,
    branch, bounded commit-list length, dirty flag, head well-formedness)."""
    import os
    import re
    import subprocess
    import tempfile

    from ..ctx.providers import scan_git_repositories

    types = sorted(
        r["event_type"]
        for r in load(spark, sf_dir, "events").select("event_type").distinct().collect()
    )
    env = dict(
        os.environ,
        GIT_AUTHOR_NAME="t",
        GIT_AUTHOR_EMAIL="t@t",
        GIT_AUTHOR_DATE="2020-01-01T00:00:00 +0000",
        GIT_COMMITTER_NAME="t",
        GIT_COMMITTER_EMAIL="t@t",
        GIT_COMMITTER_DATE="2020-01-01T00:00:00 +0000",
    )
    with tempfile.TemporaryDirectory() as root:
        repo = os.path.join(root, "repo")
        os.makedirs(os.path.join(root, "not-a-repo"))
        os.makedirs(repo)

        def git(*args):
            subprocess.run(
                ["git", "-C", repo, *args], env=env, check=True, capture_output=True
            )

        git("init", "-q", "-b", "main")
        for t in types:
            with open(os.path.join(repo, "log.txt"), "a") as fh:
                fh.write(t + "\n")
            git("add", "log.txt")
            git("commit", "-q", "-m", t)
        with open(os.path.join(repo, "untracked.tmp"), "w") as fh:
            fh.write("x")
        repos = scan_git_repositories(root, max_depth=3, commit_limit=5)
    assert len(repos) == 1
    r = repos[0]
    return spark.createDataFrame(
        [
            (
                len(repos),
                r["branch"],
                len(r["recent_commits"]),
                int(bool(r["dirty"])),
                int(bool(re.fullmatch(r"[0-9a-f]{40}", r["head"] or ""))),
                int(r["recent_commits"][0] == r["head"]),
            )
        ],
        "n_repos int, branch string, n_recent int, dirty int, head_ok int, head_is_first int",
    )


GIT_REPO_SCAN_SQL = """
SELECT CAST(1 AS INT) AS n_repos,
       'main' AS branch,
       CAST(LEAST(COUNT(DISTINCT event_type), 5) AS INT) AS n_recent,
       CAST(1 AS INT) AS dirty,
       CAST(1 AS INT) AS head_ok,
       CAST(1 AS INT) AS head_is_first
FROM events
"""


def incremental_poll_rounds(spark, sf_dir):
    """S1 under the gate: the offset-tracked poller
    (sources/incremental.py::IncrementalReader; reference LISTEN/NOTIFY
    subscriber, subscriber/AgentsPostgresSubscriber.java:28-49) driven
    through three rounds against a growing table:

    - round 1: table = even events only → absorbs all of them;
    - round 2: table = ALL events → absorbs exactly the rows beyond the
      committed lexicographic (ts, id) offset (odd events newer than the
      newest even row — late odd rows behind the offset are the
      at-least-once boundary the poller deliberately skips);
    - round 3: no new rows → absorbs 0.

    The polls run eagerly here (each is a count + offset commit, exactly
    the production cadence) and the per-round tallies are returned as a
    materialized DataFrame, so replaying the result is side-effect-free."""
    import os
    import tempfile

    from ..sources.incremental import IncrementalReader

    ev = load(spark, sf_dir, "events")
    tbl = ev.select(
        F.unix_millis("ts").alias("ts_millis"),
        F.lpad(F.col("event_id").cast("string"), 10, "0").alias("cp_id"),
        (F.col("event_id") % 2).alias("odd"),
    )
    t1 = tbl.filter(F.col("odd") == 0)
    with tempfile.TemporaryDirectory() as d:
        rdr = IncrementalReader(os.path.join(d, "offset.json"), "ts_millis", "cp_id")
        counts = []
        for table in (t1, tbl, tbl):
            batch = rdr.poll(table)
            counts.append(batch.count())
            rdr.commit()
    return spark.createDataFrame(
        [(i + 1, int(n)) for i, n in enumerate(counts)], "round int, n_rows long"
    )


INCREMENTAL_POLL_ROUNDS_SQL = """
WITH t AS (
  SELECT epoch_ms(ts) AS ts_millis,
         lpad(CAST(event_id AS VARCHAR), 10, '0') AS cp_id,
         event_id % 2 AS odd
  FROM events
), o AS (
  SELECT ts_millis AS mts, cp_id AS mid
  FROM t WHERE odd = 0 ORDER BY ts_millis DESC, cp_id DESC LIMIT 1
)
SELECT CAST(1 AS INT) AS round,
       (SELECT COUNT(*) FROM t WHERE odd = 0) AS n_rows
UNION ALL
SELECT 2, (SELECT COUNT(*) FROM t, o
           WHERE ts_millis > mts OR (ts_millis = mts AND cp_id > mid))
UNION ALL
SELECT 3, 0
"""


def report_consume_once(spark, sf_dir):
    """S5 under the gate: the consume-once test-report file provider
    (ctx/providers.py::make_test_report_provider; reference
    TestReportContextProvider.java:29-139). Users hash into 50 session
    buckets; each bucket's group — running distributed inside the grouped
    kernel — materializes its own report directory, then runs the state
    transition twice with the provider attached. The first transition must
    pick up the file keyed ``<session>:<name>`` and delete it; the second
    must see an empty report map (consume-once). The fixture lives inside
    the task, so stage re-execution rebuilds it — the result is
    deterministic under replay."""
    import os

    import pandas as pd

    from ..ctx.providers import make_test_report_provider
    from ..operators.merge import transition

    ev = load(spark, sf_dir, "events").select(
        (F.col("user_id") % 50).alias("bucket")
    ).distinct()

    def per_partition(batches):
        import shutil
        import tempfile

        for pdf in batches:
            for b in pdf["bucket"]:
                bucket = int(b)
                sid = str(bucket)
                base = tempfile.mkdtemp(prefix="reports-")
                try:
                    sdir = os.path.join(base, sid)
                    os.makedirs(sdir)
                    with open(os.path.join(sdir, "run.log"), "w") as fh:
                        fh.write(f"rep-{bucket}")
                    provider = make_test_report_provider([base])
                    item = {
                        "task_id": "t",
                        "content": "a",
                        "timestamp": 1,
                        "thread_id": sid,
                        "checkpoint_id": "c1",
                    }
                    s1, _ = transition(None, sid, [item], ctx_providers=[provider])
                    item2 = dict(item, content="b", timestamp=2, checkpoint_id="c2")
                    s2, _ = transition(s1, sid, [item2], ctx_providers=[provider])
                    r1 = s1["ctx"][0]["testReports"]
                    r2 = s2["ctx"][1]["testReports"]
                    yield pd.DataFrame(
                        [
                            {
                                "bucket": bucket,
                                "n_first": len(r1),
                                "n_second": len(r2),
                                "content_ok": int(
                                    r1.get(f"{sid}:run.log") == f"rep-{bucket}"
                                ),
                            }
                        ]
                    )
                finally:
                    shutil.rmtree(base, ignore_errors=True)

    return ev.repartition(8, "bucket").mapInPandas(
        per_partition,
        schema="bucket long, n_first long, n_second long, content_ok int",
    )


REPORT_CONSUME_ONCE_SQL = """
SELECT DISTINCT user_id % 50 AS bucket,
       CAST(1 AS BIGINT) AS n_first,
       CAST(0 AS BIGINT) AS n_second,
       CAST(1 AS INT) AS content_ok
FROM events
"""


BACKFILL_STATE_BUILD_SQL = """
WITH rows_kept AS (
  SELECT 'th-' || CAST(user_id % 50 AS VARCHAR) AS session_id,
         'cp-' || lpad(CAST(event_id AS VARCHAR), 8, '0') AS checkpoint_id,
         'task-' || CAST(event_id % 5 AS VARCHAR) AS task_id,
         (epoch_ms(ts) // 1000) * 1000 AS ts_millis,
         'content-' || CAST(event_id AS VARCHAR) AS content
  FROM events
  WHERE event_id % 11 <> 0 AND event_id % 13 <> 0
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY session_id, task_id
           ORDER BY ts_millis DESC, checkpoint_id DESC) AS rn
  FROM rows_kept
)
SELECT session_id,
       CAST(1 AS BIGINT) AS seq,
       CAST(1 AS BIGINT) AS n_diffs,
       task_id,
       content
FROM ranked WHERE rn = 1
"""


QUERIES = {
    "writes_checkpoints_scan": Q(
        writes_checkpoints_scan,
        WRITES_CHECKPOINTS_SCAN_SQL,
        "S3 scan→filter→join→argmax→decode chain",
    ),
    "backfill_state_build": Q(
        backfill_state_build,
        BACKFILL_STATE_BUILD_SQL,
        "X7 backfill: scan→latest→state transition end-to-end",
    ),
    "backfill_dual_stream": Q(
        backfill_dual_stream,
        BACKFILL_DUAL_STREAM_SQL,
        "X10 dual-stream fan-in through the real store",
    ),
    "git_repo_scan": Q(
        git_repo_scan, GIT_REPO_SCAN_SQL, "S6/T5 git metadata scan"
    ),
    "schema_bootstrap_ddl": Q(
        schema_bootstrap_ddl, SCHEMA_BOOTSTRAP_DDL_SQL, "S8 idempotent schema bootstrap"
    ),
    "incremental_poll_rounds": Q(
        incremental_poll_rounds,
        INCREMENTAL_POLL_ROUNDS_SQL,
        "S1 offset-tracked incremental polling",
    ),
    "report_consume_once": Q(
        report_consume_once,
        REPORT_CONSUME_ONCE_SQL,
        "S5 consume-once test-report provider",
    ),
}


def cdc_apply_envelope(spark, sf_dir):
    """Generic c/u/d envelope apply (sources/envelope.py): events become a
    change log ('error' rows are deletes, everything else upserts), split
    into two TIME-ordered batches applied sequentially through the real
    store (upsert + the new delete verb). Because batches are time-ordered
    and resolution is last-wins, the final state must equal replaying the
    whole log at once — which is the oracle."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ..sources.envelope import apply_cdc_envelope as apply_env
    from ..state.store import ParquetStateStore
    from .base import ms

    env = load(spark, sf_dir, "events").select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("session_id"),
        ms("ts").alias("seq"),
        F.when(F.col("event_type") == "error", F.lit("d"))
        .otherwise(F.lit("u"))
        .alias("op"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        "event_id",
    )
    split_ms = 1705363200000  # 2024-01-16T00:00:00Z, mid-range of the data
    base = tempfile.mkdtemp(prefix="cdc-env-")
    try:
        store = ParquetStateStore(
            spark,
            base + "/state",
            n_buckets=16,
            schema="session_id string, seq long, event_type string, "
            "value_cents long, event_id long",
        )
        apply_env(store, env.filter(F.col("seq") < split_ms), tiebreak_col="event_id")
        apply_env(store, env.filter(F.col("seq") >= split_ms), tiebreak_col="event_id")
        collected = store.read().collect()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(
        collected,
        "session_id string, seq long, event_type string, value_cents long, event_id long",
    )


CDC_APPLY_ENVELOPE_SQL = """
WITH env AS (
  SELECT 'u' || CAST(user_id AS VARCHAR) AS session_id,
         epoch_ms(ts) AS seq,
         CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
         event_type,
         CAST(ROUND(value * 100) AS BIGINT) AS value_cents,
         event_id
  FROM events
),
last AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY session_id ORDER BY seq DESC, event_id DESC) AS rn
    FROM env
  ) WHERE rn = 1
)
SELECT session_id, seq, event_type, value_cents, event_id
FROM last WHERE op <> 'd'
"""

QUERIES["cdc_apply_envelope"] = Q(
    cdc_apply_envelope,
    CDC_APPLY_ENVELOPE_SQL,
    "generic c/u/d CDC envelope apply with store deletes",
)


def applog_write_roundtrip(spark, sf_dir):
    """The Python DataSource WRITE path under the hard gate: project
    events into applog records, write through the two-phase-commit
    writer, read back with the applog READER, and aggregate — the
    round-trip must be invisible (the oracle aggregates the same
    projection straight from the source table). Exercises
    executor-parallel staging, driver-side publish, and the reader's
    partition-per-shard scan in one query."""
    import shutil
    import tempfile

    from ..sources.pylog import register
    from .base import ms

    register(spark)
    base = tempfile.mkdtemp(prefix="applog-rt-")
    try:
        src = load(spark, sf_dir, "events").filter(F.col("event_id") % 9 == 0).select(
            F.concat(F.lit("u"), (F.col("user_id") % 16).cast("string")).alias("key"),
            ms("ts").alias("ts_ms"),
            F.col("event_type").alias("kind"),
            F.md5(F.col("event_id").cast("string")).alias("payload"),
        )
        src.repartition(4).write.format("applog").option("path", base).mode(
            "append"
        ).save()
        back = spark.read.format("applog").option("path", base).load()
        collected = (
            back.groupBy("kind")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.count_distinct("key").cast("long").alias("n_keys"),
                F.sum("ts_ms").cast("long").alias("ts_sum"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(
        collected, "kind string, n long, n_keys long, ts_sum long"
    )


APPLOG_WRITE_ROUNDTRIP_SQL = """
SELECT event_type AS kind, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT 'u' || CAST(user_id % 16 AS VARCHAR)) AS BIGINT) AS n_keys,
       CAST(SUM(epoch_ms(ts)) AS BIGINT) AS ts_sum
FROM events WHERE event_id % 9 = 0
GROUP BY event_type
"""

QUERIES["applog_write_roundtrip"] = Q(
    applog_write_roundtrip,
    APPLOG_WRITE_ROUNDTRIP_SQL,
    "Python DataSource write->read round-trip must be invisible to the aggregate",
)


def difflog_replay_equivalence(spark, sf_dir):
    """Event-sourcing invariant, machine-checked per session: replaying
    the diff docs the two absorbing batches appended to the diff log (X5)
    from an empty map must reconstruct EXACTLY the final absorbed content
    — i.e. the diff log alone is sufficient to rebuild state (the property
    the reference's DiffServiceTest replay helper pins per kernel call,
    here end-to-end through TWO absorbing batches of the real bucket-
    aligned transition into a temp-dir store). Batch 1 = even events,
    batch 2 = odd, so every session absorbs twice and every second diff is
    a real before→after Myers diff, not a first-insert. Output per
    session: sequence number, diff-doc count, and the replay verdict the
    oracle pins to TRUE for every session."""
    import json as _json
    import os
    import tempfile

    from ..functions.diffkernel import _concat_sorted, apply_ops
    from ..functions.jsoncanon import canonicalize_lines
    from ..plans.backfill import apply_transition_batch
    from ..state.store import ParquetAppendLog, ParquetStateStore

    ev = load(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory() as d:
        store = ParquetStateStore(spark, os.path.join(d, "state"))
        log = ParquetAppendLog(spark, os.path.join(d, "diffs"))
        for half in (0, 1):
            w, c = _synthetic_write_tables(ev.filter(F.col("event_id") % 2 == half))
            apply_transition_batch(latest_blobs_per_task(w, c), store, log, "cdc")
        # bounded: ≤ 50 sessions (user_id % 50) and two diffs each
        state = store.read().select("session_id", "sequence_number", "cdc_content").collect()
        diffs: dict[str, list] = {}
        for r in sorted(
            log.read(dedup=True).select("session_id", "sequence_number", "diff_data").collect(),
            key=lambda r: (r["session_id"], r["sequence_number"]),  # replay in sequence order
        ):
            diffs.setdefault(r["session_id"], []).append(_json.loads(r["diff_data"]))
    out = []
    for r in state:
        task_lines: dict = {}
        for diff_data in diffs.get(r["session_id"], []):
            for task, td in diff_data.items():
                ops = [c["change"] for c in td["changes"]]
                task_lines[task] = apply_ops(task_lines.get(task, []), ops)
        final = _json.loads(r["cdc_content"] or "{}")
        ok = all(
            task_lines.get(task, []) == canonicalize_lines(_concat_sorted(items))
            for task, items in final.items()
        ) and all(lines == [] for t, lines in task_lines.items() if t not in final)
        out.append(
            (r["session_id"], int(r["sequence_number"]), len(diffs.get(r["session_id"], [])), bool(ok))
        )
    return spark.createDataFrame(
        out, "session_id string, seq long, n_diffs long, replay_ok boolean"
    ).orderBy("session_id")


# seq = 1 (every session absorbs batch 1) + 1 IF batch 2 changes anything:
# a task changes unless X3 drops it as stale — i.e. unless batch 1's
# absorbed latest for that task is STRICTLY newer (merge.py
# skip_parsing_checkpoint). A task absent from batch 1 is an insert.
DIFFLOG_REPLAY_EQUIVALENCE_SQL = """
WITH kept AS (
  SELECT user_id % 50 AS s, event_id % 5 AS t, event_id % 2 AS half,
         (epoch_ms(ts) // 1000) * 1000 AS tsm,
         lpad(CAST(event_id AS VARCHAR), 8, '0') AS cp
  FROM events WHERE event_id % 11 <> 0 AND event_id % 13 <> 0
),
arg AS (
  SELECT s, t, half, tsm FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY s, t, half
                                 ORDER BY tsm DESC, cp DESC) AS rn
    FROM kept
  ) WHERE rn = 1
),
change2 AS (
  SELECT DISTINCT b2.s
  FROM arg b2
  LEFT JOIN arg b1 ON b1.s = b2.s AND b1.t = b2.t AND b1.half = 0
  WHERE b2.half = 1 AND (b1.s IS NULL OR NOT (b1.tsm > b2.tsm))
)
SELECT 'th-' || CAST(s AS VARCHAR) AS session_id,
       CAST(1 + CASE WHEN s IN (SELECT s FROM change2) THEN 1 ELSE 0 END AS BIGINT) AS seq,
       CAST(1 + CASE WHEN s IN (SELECT s FROM change2) THEN 1 ELSE 0 END AS BIGINT) AS n_diffs,
       TRUE AS replay_ok
FROM (SELECT DISTINCT s FROM kept WHERE half = 0)
ORDER BY session_id
"""

QUERIES["difflog_replay_equivalence"] = Q(
    difflog_replay_equivalence,
    DIFFLOG_REPLAY_EQUIVALENCE_SQL,
    "event-sourcing invariant: diff-doc replay reconstructs absorbed state per session",
)
