"""Oracle-checked queries exercising the diff/merge/state kernel and the
checkpoint-blob message path — the heart of the reference
(service/DiffService.java:47-126, service/DataStreamService.java:61-93,
dao/CdcCheckpointDao.java:72) — via the construct-then-process pattern:
deterministic inputs are built from ``events`` rows, the kernel under test
runs distributed (mapInPandas / applyInPandas), and the oracle computes
the analytically-known outcome, so a kernel regression breaks the hash.

Coverage: UD1/UD2 (Myers line diff op shapes), X2 (LWW + ``__start__``
accumulate), X3 (staleness drop), X6 (monotone sequence numbers), F1 +
UD4 + message-list explode (blob → typed messages end-to-end), C11 (UUID
assignment for id-less messages, model/BaseMessage.java:169).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from ..functions.diffkernel import REMOVE, REPLACE, diff_lines
from ..functions.jsoncanon import canonicalize_lines
from ..functions.messages import (
    MESSAGE_TYPES,
    message_list,
    parse_messages,
    with_message_id,
)
from ..operators.merge import transition
from ..sources.checkpoints import message_writes
from .base import Q, load


# --- UD1/UD2: line-diff op shapes --------------------------------------------

def line_diff_ops(spark, sf_dir):
    """Each event constructs a before/after pair whose single diff op is
    analytically known: case ``event_id % 3`` selects insert / remove /
    replace, ``event_id % 4 + 1`` sets the hunk size. The kernel
    (functions/diffkernel.py::diff_lines, service/DiffService.java:194-220)
    must emit exactly that op with those coordinates."""
    ev = load(spark, sf_dir, "events").select("event_id")

    def gen(batches):
        for pdf in batches:
            out = []
            for eid in pdf["event_id"]:
                eid = int(eid)
                k = eid % 4 + 1
                case = eid % 3
                if case == 0:
                    before = ["l1", "l2"]
                    after = ["l1", "l2"] + [f"x{eid}-{i}" for i in range(k)]
                elif case == 1:
                    before = ["l1"] + [f"m{eid}-{i}" for i in range(k)] + ["l9"]
                    after = ["l1", "l9"]
                else:
                    before = ["l1"] + [f"a{eid}-{i}" for i in range(k)] + ["l9"]
                    after = ["l1"] + [f"b{eid}-{i}" for i in range(k)] + ["l9"]
                ops = diff_lines(before, after)
                op = ops[0]
                if op["type"] == REPLACE:
                    start = op["toRemove"]["linesRemoved"]["start"]
                    cnt = op["toAddContent"]["linesToAdd"]["end"]
                elif op["type"] == REMOVE:
                    start = op["linesRemoved"]["start"]
                    cnt = op["linesRemoved"]["end"]
                else:
                    start = op["linesToAdd"]["start"]
                    cnt = op["linesToAdd"]["end"]
                out.append((eid, len(ops), op["type"], start, cnt))
            yield pd.DataFrame(
                out, columns=["event_id", "n_ops", "op_type", "start_pos", "cnt"]
            )

    return ev.mapInPandas(
        gen,
        schema="event_id long, n_ops long, op_type string, start_pos long, cnt long",
    )


LINE_DIFF_OPS_SQL = """
SELECT event_id,
       CAST(1 AS BIGINT) AS n_ops,
       CASE event_id % 3 WHEN 0 THEN 'insert_content'
                         WHEN 1 THEN 'remove_content'
                         ELSE 'replace_content' END AS op_type,
       CAST(CASE WHEN event_id % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS start_pos,
       CAST(event_id % 4 + 1 AS BIGINT) AS cnt
FROM events
"""


# --- X2/X3/X6: two-batch merge-policy scenario -------------------------------

def merge_transition_seq(spark, sf_dir):
    """Per user (= session), run the state transition twice over a
    constructed two-batch task stream and expose the policy outcomes:

    - batch 1: task ``t`` (ts 2), ``s__start__`` (ts 2)          → seq 1
    - batch 2: task ``t`` ts 1 (STALE → dropped, X3), task ``u`` ts 3,
      ``s__start__`` ts 4 (accumulates, X2)                      → seq 2

    Expected: seq 2 (X6 monotone), ``t`` kept batch-1 content (LWW +
    staleness), ``u`` absorbed, ``__start__`` history length 2, one diff
    doc per absorbing batch. Contents embed max(event_id) per user so the
    oracle is tied to real data."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_id")

    def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        uid = int(key[0])
        sid = str(uid)
        max_ev = int(pdf["event_id"].max())

        def item(task, content, ts, cp):
            return {
                "task_id": task,
                "content": content,
                "timestamp": ts,
                "thread_id": sid,
                "checkpoint_id": cp,
            }

        s1, d1 = transition(
            None,
            sid,
            [item("t", f"a-{max_ev}", 2, "b1-t"), item("s__start__", "s1", 2, "b1-s")],
        )
        s2, d2 = transition(
            s1,
            sid,
            [
                item("t", "STALE", 1, "b2-t"),
                item("u", f"c-{max_ev}", 3, "b2-u"),
                item("s__start__", "s2", 4, "b2-s"),
            ],
        )
        c = s2["cdc_content"]
        return pd.DataFrame(
            [
                {
                    "user_id": uid,
                    "seq": s2["sequence_number"],
                    "t_content": c["t"][0]["content"],
                    "u_content": c["u"][0]["content"],
                    "n_start": len(c["s__start__"]),
                    "n_diffs": sum(d is not None for d in (d1, d2)),
                }
            ]
        )

    def per_partition(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        for uid, g in pd.concat(pdfs, ignore_index=True).groupby("user_id", sort=False):
            yield fn((uid,), g)

    # partition-batched grouping (see plans/backfill.py::_run_transition):
    # one pandas groupby per partition instead of one Arrow round trip per
    # of the ~15k tiny per-user groups
    par = ev.sparkSession.sparkContext.defaultParallelism
    return ev.repartition(par, "user_id").mapInPandas(
        per_partition,
        schema=(
            "user_id long, seq long, t_content string, u_content string, "
            "n_start long, n_diffs long"
        ),
    )


MERGE_TRANSITION_SEQ_SQL = """
SELECT user_id,
       CAST(2 AS BIGINT) AS seq,
       'a-' || CAST(max(event_id) AS VARCHAR) AS t_content,
       'c-' || CAST(max(event_id) AS VARCHAR) AS u_content,
       CAST(2 AS BIGINT) AS n_start,
       CAST(2 AS BIGINT) AS n_diffs
FROM events
GROUP BY user_id
"""


# --- UD3/C6: JSON canonicalization --------------------------------------------

def json_canonicalize(spark, sf_dir):
    """The diff kernel's canonicalizer (functions/jsoncanon.py::
    canonicalize_lines; reference service/DiffService.java:227-240): JSON
    content re-prints in Jackson's default pretty style — one object entry
    per line, two-space indent, ``"key" : value``, single-line arrays —
    and non-JSON content falls back to the Java ``String.split`` line
    split (trailing empties dropped). ``event_id % 3`` selects a flat
    object / nested object / non-JSON case whose canonical form the
    oracle spells out verbatim."""
    ev = load(spark, sf_dir, "events").select("event_id")

    def gen(batches):
        for pdf in batches:
            out = []
            for eid in pdf["event_id"]:
                eid = int(eid)
                case = eid % 3
                if case == 0:
                    content = f'{{"z": {eid}, "a": [1, 2], "m": "s-{eid}"}}'
                elif case == 1:
                    content = f'{{"n": {{"k": "v-{eid}"}}}}'
                else:
                    content = f"line1-{eid}\nline2\n\n\n"
                lines = canonicalize_lines(content)
                out.append((eid, len(lines), "\n".join(lines)))
            yield pd.DataFrame(out, columns=["event_id", "n_lines", "canon"])

    return ev.mapInPandas(gen, schema="event_id long, n_lines long, canon string")


JSON_CANONICALIZE_SQL = """
SELECT event_id,
       CAST(CASE event_id % 3 WHEN 0 THEN 5 WHEN 1 THEN 5 ELSE 2 END AS BIGINT) AS n_lines,
       CASE event_id % 3
         WHEN 0 THEN '{' || chr(10)
              || '  "z" : ' || CAST(event_id AS VARCHAR) || ',' || chr(10)
              || '  "a" : [ 1, 2 ],' || chr(10)
              || '  "m" : "s-' || CAST(event_id AS VARCHAR) || '"' || chr(10)
              || '}'
         WHEN 1 THEN '{' || chr(10)
              || '  "n" : {' || chr(10)
              || '    "k" : "v-' || CAST(event_id AS VARCHAR) || '"' || chr(10)
              || '  }' || chr(10)
              || '}'
         ELSE 'line1-' || CAST(event_id AS VARCHAR) || chr(10) || 'line2'
       END AS canon
FROM events
"""


# --- F6/X5: empty-diff suppression across incremental transitions -------------

def merge_empty_diff_suppress(spark, sf_dir):
    """Three-transition replay per user: absorb content, replay the SAME
    content at a newer timestamp (LWW replaces the item but the canonical
    diff is empty → NO diff doc, seq does NOT advance —
    functions/diffkernel.py empty-diff suppression; the reference persists
    state but appends no diff, service/DiffService.java:108-126), then a
    real change (diff + seq advance). Expected per user: seq 2, 2 diff
    docs, final content from batch 3."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_id")

    def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        uid = int(key[0])
        sid = str(uid)
        max_ev = int(pdf["event_id"].max())

        def item(content, ts, cp):
            return {
                "task_id": "t",
                "content": content,
                "timestamp": ts,
                "thread_id": sid,
                "checkpoint_id": cp,
            }

        s1, d1 = transition(None, sid, [item(f"A-{max_ev}", 1, "c1")])
        s2, d2 = transition(s1, sid, [item(f"A-{max_ev}", 2, "c2")])  # no-op replay
        s3, d3 = transition(s2, sid, [item(f"B-{max_ev}", 3, "c3")])
        return pd.DataFrame(
            [
                {
                    "user_id": uid,
                    "seq": s3["sequence_number"],
                    "n_diffs": sum(d is not None for d in (d1, d2, d3)),
                    "replay_suppressed": int(d2 is None and s2["sequence_number"] == 1),
                    "t_content": s3["cdc_content"]["t"][0]["content"],
                }
            ]
        )

    def per_partition(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        for uid, g in pd.concat(pdfs, ignore_index=True).groupby("user_id", sort=False):
            yield fn((uid,), g)

    par = ev.sparkSession.sparkContext.defaultParallelism
    return ev.repartition(par, "user_id").mapInPandas(
        per_partition,
        schema="user_id long, seq long, n_diffs long, replay_suppressed int, t_content string",
    )


MERGE_EMPTY_DIFF_SUPPRESS_SQL = """
SELECT user_id,
       CAST(2 AS BIGINT) AS seq,
       CAST(2 AS BIGINT) AS n_diffs,
       CAST(1 AS INT) AS replay_suppressed,
       'B-' || CAST(max(event_id) AS VARCHAR) AS t_content
FROM events
GROUP BY user_id
"""


# --- F1 + UD4 + message_list: checkpoint blob → typed messages ---------------

def checkpoint_blob_messages(spark, sf_dir):
    """End-to-end blob path: construct checkpoint-write rows whose binary
    blob is a JSON *list* of agent messages (``event_id % 3 + 1`` messages,
    types cycling over the five sealed subtypes; every 7th event carries a
    non-message channel the F1 filter must drop), then run the production
    chain: channel/type filter → UTF-8 decode → ``message_list`` explode →
    polymorphic parse → per-type aggregate
    (dao/CdcCheckpointDao.java:72,138; model/BaseMessage.java:28-91)."""
    ev = load(spark, sf_dir, "events")
    n = (F.col("event_id") % 3 + 1).cast("int")
    type_of = lambda i: F.element_at(  # noqa: E731
        F.array(*[F.lit(t) for t in MESSAGE_TYPES]),
        ((F.col("event_id") + i) % 5 + 1).cast("int"),
    )
    msgs = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.format_string(
            '{"type": "%s", "content": "m-%d-%d"}', type_of(i), F.col("event_id"), i
        ),
    )
    blob = F.concat(F.lit("["), F.array_join(msgs, ","), F.lit("]"))
    channel = F.when(F.col("event_id") % 7 == 0, F.lit("values")).otherwise(
        F.lit("messages")
    )
    writes = ev.select(
        "event_id",
        channel.alias("channel"),
        F.lit("list").alias("type"),
        blob.cast("binary").alias("blob"),
    )
    exploded = message_writes(writes).select(
        "event_id",
        F.explode(message_list(F.decode(F.col("blob"), "UTF-8"))).alias("msg_json"),
    )
    parsed = parse_messages(exploded, "msg_json")
    return parsed.groupBy(F.col("message.type").alias("msg_type")).agg(
        F.count("*").cast("bigint").alias("n_msgs"),
        F.sum(F.size("message.content")).cast("bigint").alias("n_content"),
    )


CHECKPOINT_BLOB_MESSAGES_SQL = """
WITH m AS (
  SELECT e.event_id, g.i
  FROM events e, UNNEST(range(0, e.event_id % 3 + 1)) AS g(i)
  WHERE e.event_id % 7 <> 0
)
SELECT CASE (event_id + i) % 5 WHEN 0 THEN 'ai' WHEN 1 THEN 'human'
                               WHEN 2 THEN 'system' WHEN 3 THEN 'function'
                               ELSE 'tool' END AS msg_type,
       COUNT(*) AS n_msgs,
       COUNT(*) AS n_content
FROM m
GROUP BY 1
"""


# --- UD5/X9: ctx-provider fan-out + sequence stamping -------------------------

def ctx_enrich_fanout(spark, sf_dir):
    """Provider fan-out under the gate (subscriber/ctx/ContextService.java:
    30-51): two transitions per user run with a provider list — an
    ``environment`` provider that always emits and a ``test-report``
    provider that emits only for even users (the fan-out's skip path,
    ``Optional.empty()``). Each emitted item must be stamped with the SAME
    next-sequence number the batch's diff gets
    (DataStreamContextItem.java:12-17). Expected per user: 2 env items,
    0-or-2 report items, ctx seq stamps summing to 1+2 per emitting
    provider."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_id")

    def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        uid = int(key[0])
        sid = str(uid)

        def item(content, ts, cp):
            return {
                "task_id": "t",
                "content": content,
                "timestamp": ts,
                "thread_id": sid,
                "checkpoint_id": cp,
            }

        env = lambda doc: {"type": "environment", "host": f"h-{doc['session_id']}"}  # noqa: E731
        rep = lambda doc: (  # noqa: E731
            {"type": "test-report", "reports": {}} if uid % 2 == 0 else None
        )
        providers = [env, rep]
        s1, _ = transition(None, sid, [item("a", 1, "c1")], ctx_providers=providers)
        s2, _ = transition(s1, sid, [item("b", 2, "c2")], ctx_providers=providers)
        ctx = s2["ctx"]
        return pd.DataFrame(
            [
                {
                    "user_id": uid,
                    "n_ctx": len(ctx),
                    "n_env": sum(1 for c in ctx if c["type"] == "environment"),
                    "n_report": sum(1 for c in ctx if c["type"] == "test-report"),
                    "seq_sum": sum(c["sequenceNumber"] for c in ctx),
                    "last_seq": s2["sequence_number"],
                }
            ]
        )

    def per_partition(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        for uid, g in pd.concat(pdfs, ignore_index=True).groupby("user_id", sort=False):
            yield fn((uid,), g)

    par = ev.sparkSession.sparkContext.defaultParallelism
    return ev.repartition(par, "user_id").mapInPandas(
        per_partition,
        schema=(
            "user_id long, n_ctx long, n_env long, n_report long, "
            "seq_sum long, last_seq long"
        ),
    )


CTX_ENRICH_FANOUT_SQL = """
SELECT DISTINCT user_id,
       CAST(CASE WHEN user_id % 2 = 0 THEN 4 ELSE 2 END AS BIGINT) AS n_ctx,
       CAST(2 AS BIGINT) AS n_env,
       CAST(CASE WHEN user_id % 2 = 0 THEN 2 ELSE 0 END AS BIGINT) AS n_report,
       CAST(CASE WHEN user_id % 2 = 0 THEN 6 ELSE 3 END AS BIGINT) AS seq_sum,
       CAST(2 AS BIGINT) AS last_seq
FROM events
"""


# --- C11: UUID assignment for id-less messages -------------------------------

def message_uuid_assign(spark, sf_dir):
    """C11 (model/BaseMessage.java:169): messages missing an ``id`` get a
    generated UUID. Even events carry a fixed id that must be preserved;
    odd events get ``uuid()``. UUIDs are non-deterministic, so the oracle
    checks the invariants: every row has an id, fixed ids survive, all ids
    are distinct, generated ids are well-formed UUIDs."""
    ev = load(spark, sf_dir, "events")
    msg_json = F.when(
        F.col("event_id") % 2 == 0,
        F.format_string('{"type": "ai", "id": "fixed-%d", "content": "x"}', F.col("event_id")),
    ).otherwise(F.lit('{"type": "ai", "content": "x"}'))
    parsed = parse_messages(ev.select("event_id", msg_json.alias("mj")), "mj")
    with_ids = with_message_id(parsed)
    return with_ids.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.col("msg_id").isNotNull().cast("int")).cast("bigint").alias("n_with_id"),
        F.countDistinct("msg_id").cast("bigint").alias("n_distinct"),
        F.sum(F.col("msg_id").startswith("fixed-").cast("int")).cast("bigint").alias("n_fixed"),
        F.sum(
            F.col("msg_id")
            .rlike("^([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}|fixed-[0-9]+)$")
            .cast("int")
        )
        .cast("bigint")
        .alias("n_wellformed"),
    )


MESSAGE_UUID_ASSIGN_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_with_id,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_fixed,
       CAST(COUNT(*) AS BIGINT) AS n_wellformed
FROM events
"""


# --- W1 reference-parity: rank-then-min-rn selection -------------------------

def latest_event_rank_parity(spark, sf_dir):
    """The reference's exact ``queryLatestCheckpoints`` selection
    (dao/CdcCheckpointDao.java:93-124; operator twin
    operators/latest.py::latest_checkpoints_reference_rank) mapped onto
    events: user_id as thread, event_type as task_path. Rows rank by
    recency within their user; each event_type keeps its min-rank row."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy(us.desc(), F.col("event_id").desc())
    ranked = ev.withColumn("rn", F.row_number().over(w)).withColumn("ts_us", us)
    pick = F.struct(-F.col("rn"), F.col("ts_us"), F.col("event_id"))
    return ranked.groupBy("event_type").agg(
        F.max_by(F.col("user_id"), pick).alias("user_id"),
        F.max_by(F.col("event_id"), pick).alias("event_id"),
        F.max_by(F.col("ts_us"), pick).alias("ts_us"),
        F.min("rn").cast("long").alias("rn"),
    )


LATEST_EVENT_RANK_PARITY_SQL = """
WITH ranked AS (
  SELECT event_type, user_id, event_id, epoch_us(ts) AS ts_us,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
  FROM events
), sel AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY rn ASC, ts_us DESC, event_id DESC) AS sel_rn
  FROM ranked
)
SELECT event_type, user_id, event_id, ts_us, CAST(rn AS BIGINT) AS rn
FROM sel WHERE sel_rn = 1
"""


# --- C14: creationTime stamping (clock-injected, deterministic) --------------

def ctx_timestamp_stamp(spark, sf_dir):
    """C14 gate — ``current_timestamp`` enrichment made oracle-checkable by
    clock injection: the REAL providers (``make_environment_provider`` /
    ``make_test_report_provider``, reference
    subscriber/ctx/TestReportContextProvider.java:68 and
    GitEnvironmentContextProvider.java:57-76 — both stamp ``creationTime``
    with the instant at item creation) run inside two transitions per user
    with a deterministic counter clock (base ``user_id*1000``, +1 per
    call). Checks: one stamp per provider call in list order (4 items →
    stamps base..base+3, strictly monotone), stamps preserved verbatim
    next to the ``sequenceNumber`` the transition adds, seq semantics
    unchanged (1,1,2,2)."""
    from ..ctx.providers import make_environment_provider, make_test_report_provider
    from ..operators.merge import transition

    ev = load(spark, sf_dir, "events").select("user_id", "event_id")

    def fn(uid: int) -> dict:
        base = uid * 1000
        calls = {"n": 0}

        def clock() -> int:
            v = base + calls["n"]
            calls["n"] += 1
            return v

        providers = [
            make_environment_provider(clock=clock),
            make_test_report_provider([], clock=clock),
        ]
        sid = str(uid)

        def item(content, ts, cp):
            return {
                "task_id": "t",
                "content": content,
                "timestamp": ts,
                "thread_id": sid,
                "checkpoint_id": cp,
            }

        s1, _ = transition(None, sid, [item("a", 1, "c1")], ctx_providers=providers)
        s2, _ = transition(s1, sid, [item("b", 2, "c2")], ctx_providers=providers)
        cts = [c["creationTime"] for c in s2["ctx"]]
        return {
            "user_id": uid,
            "n_ctx": len(cts),
            "min_ct": min(cts),
            "max_ct": max(cts),
            "sum_ct": sum(cts),
            "seq_sum": sum(c["sequenceNumber"] for c in s2["ctx"]),
            "monotone": int(all(a < b for a, b in zip(cts, cts[1:]))),
        }

    def per_partition(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        uids = sorted(pd.concat(pdfs, ignore_index=True)["user_id"].unique())
        yield pd.DataFrame([fn(int(u)) for u in uids])

    par = ev.sparkSession.sparkContext.defaultParallelism
    return ev.repartition(par, "user_id").mapInPandas(
        per_partition,
        schema=(
            "user_id long, n_ctx long, min_ct long, max_ct long, "
            "sum_ct long, seq_sum long, monotone long"
        ),
    )


CTX_TIMESTAMP_STAMP_SQL = """
SELECT DISTINCT user_id,
       CAST(4 AS BIGINT) AS n_ctx,
       CAST(user_id * 1000 AS BIGINT) AS min_ct,
       CAST(user_id * 1000 + 3 AS BIGINT) AS max_ct,
       CAST(4 * user_id * 1000 + 6 AS BIGINT) AS sum_ct,
       CAST(6 AS BIGINT) AS seq_sum,
       CAST(1 AS BIGINT) AS monotone
FROM events
"""


QUERIES = {
    "line_diff_ops": Q(line_diff_ops, LINE_DIFF_OPS_SQL, "UD1/UD2 diff op shapes"),
    "json_canonicalize": Q(
        json_canonicalize, JSON_CANONICALIZE_SQL, "UD3/C6 Jackson-style canonicalization"
    ),
    "merge_empty_diff_suppress": Q(
        merge_empty_diff_suppress,
        MERGE_EMPTY_DIFF_SUPPRESS_SQL,
        "F6/X5 empty-diff suppression",
    ),
    "latest_event_rank_parity": Q(
        latest_event_rank_parity,
        LATEST_EVENT_RANK_PARITY_SQL,
        "W1 reference rank-then-min-rn parity",
    ),
    "merge_transition_seq": Q(
        merge_transition_seq, MERGE_TRANSITION_SEQ_SQL, "X2/X3/X6 merge policy"
    ),
    "checkpoint_blob_messages": Q(
        checkpoint_blob_messages,
        CHECKPOINT_BLOB_MESSAGES_SQL,
        "F1+UD4 blob → typed messages",
    ),
    "message_uuid_assign": Q(
        message_uuid_assign, MESSAGE_UUID_ASSIGN_SQL, "C11 UUID assignment"
    ),
    "ctx_enrich_fanout": Q(
        ctx_enrich_fanout, CTX_ENRICH_FANOUT_SQL, "UD5/X9 ctx provider fan-out"
    ),
    "ctx_timestamp_stamp": Q(
        ctx_timestamp_stamp,
        CTX_TIMESTAMP_STAMP_SQL,
        "C14 creationTime stamping under an injected clock",
    ),
}


def market_basket_pairs(spark, sf_dir):
    """Market-basket association mining (the A-Priori support/confidence/
    lift first pass): per-order brand itemsets reduce map-side to sorted
    distinct arrays in ONE shuffle (``collect_set`` dedups AND
    partial-aggregates in the mappers), candidate pairs are generated
    INSIDE the array by an indexed comprehension (≤ C(|basket|,2) pairs
    per order, bounded by basket width — never a self-join of the
    line-item table, whose shuffle would square at 100 TB).

    Two scale moves on top of that shape (A/B at the measured sf10
    decade, 60M line items):

    - **dictionary-encode the brand dimension** (dense 1-based ids off a
      ~25-row distinct) so the basket shuffle, array sort, and pair
      fan-out move 4-byte ints instead of brand strings; ids are
      assigned in brand order, so sorted-id arrays yield exactly the
      oracle's ``a < b`` string-compare pairs;
    - **fuse the three basket consumers into ONE explode** by encoding
      pair/item/order rows in a single int column (pair = a·4096+b,
      item = −id, order sentinel = 0) and aggregating once — the counts
      land map-side into ≤ |brands|²/2 + |brands| + 1 keys, and the
      basket table has a single consumer, so the previous 15M-row
      ``localCheckpoint`` materialization (and its two re-read passes)
      disappears; only the ≤~330-row code table is pinned.

    The tiny decoded joins (supports, order count, brand strings) are
    all broadcast. Top 20 by support with a total pair order."""
    from pyspark.sql import Window

    from .base import load as _load

    li = _load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    # Dense brand dictionary (dimension-bounded, ~25 rows; eager
    # localCheckpoint pins it so the encode + two decode consumers don't
    # each re-scan part, and keeps the bounded row_number window out of
    # downstream plans).
    brand_dict = (
        part.select("p_brand")
        .distinct()
        .withColumn("bid", F.row_number().over(Window.orderBy("p_brand")))
        # the bitmask basket encode below requires bid <= 62; fail loudly
        # (dimension-bounded check on the ~25-row dict, no extra action)
        .withColumn(
            "bid",
            F.when(F.col("bid") <= 62, F.col("bid")).otherwise(
                F.expr("raise_error('brand cardinality exceeds the 62-bit basket mask')")
            ),
        )
        .localCheckpoint()
    )
    part_enc = part.join(F.broadcast(brand_dict), "p_brand").select("l_partkey", "bid")
    BASE = 4096  # > max brand id; pair code a*BASE+b stays well inside int
    codes = (
        li.join(F.broadcast(part_enc), "l_partkey")
        # Basket = a 62-bit brand bitmask, not a sorted array: bit_or
        # partial-aggregates map-side like collect_set but moves ONE
        # 8-byte long per order through the shuffle (vs an int array +
        # header), dedups for free, and needs no per-order array_sort.
        # The dense dictionary guarantees bid <= |brands| (~25 for this
        # corpus); the encode raise_errors past 62 bits rather than
        # silently wrapping (guard lives on the 25-row dict projection).
        .groupBy("l_orderkey")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bid))").alias("mask"))
        # Collapse identical baskets BEFORE the fan-out: over a ~25-item
        # alphabet only ~tens-of-thousands of distinct itemsets exist
        # regardless of order count, so the pair explode runs over
        # weighted distinct baskets (20k rows at sf10) instead of every
        # order (15M) — A/B at sf10 cut the fan-out stage ~400× while
        # the groupBy(mask) exchange partial-aggregates map-side to the
        # same bounded key set.
        .groupBy("mask")
        .agg(F.count("*").alias("w"))
        # decode mask -> ascending bid array (== array_sort(collect_set))
        # only on the ~20k weighted distinct baskets, then fan out pairs
        .withColumn(
            "arr",
            F.expr(
                "filter(sequence(1, 62),"
                " b -> (mask & shiftleft(CAST(1 AS BIGINT), b)) != 0)"
            ),
        )
        .select(
            F.explode(
                F.concat(
                    F.flatten(
                        F.transform(
                            "arr",
                            lambda x, i: F.transform(
                                F.slice(F.col("arr"), i + 2, F.size("arr")),
                                lambda y: x * BASE + y,
                            ),
                        )
                    ),
                    F.transform("arr", lambda x: -x),
                    F.array(F.lit(0)),
                )
            ).alias("code"),
            "w",
        )
    )
    # ≤ ~330 distinct codes: pin once, fan out to pair/item/order views.
    agg = codes.groupBy("code").agg(F.sum("w").alias("n")).localCheckpoint()
    pairs = agg.filter(F.col("code") >= BASE).select(
        F.expr(f"code DIV {BASE}").cast("int").alias("a_id"),
        (F.col("code") % BASE).cast("int").alias("b_id"),
        F.col("n").alias("n_ab"),
    )
    items = agg.filter(F.col("code") < 0).select(
        (-F.col("code")).cast("int").alias("bid"), F.col("n").alias("n_item")
    )
    n_orders = agg.filter(F.col("code") == 0).select(F.col("n").alias("n_orders"))
    return (
        pairs.join(
            F.broadcast(
                items.select(F.col("bid").alias("a_id"), F.col("n_item").alias("n_a"))
            ),
            "a_id",
        )
        .join(
            F.broadcast(
                items.select(F.col("bid").alias("b_id"), F.col("n_item").alias("n_b"))
            ),
            "b_id",
        )
        .crossJoin(F.broadcast(n_orders))
        .join(
            F.broadcast(
                brand_dict.select(F.col("bid").alias("a_id"), F.col("p_brand").alias("a"))
            ),
            "a_id",
        )
        .join(
            F.broadcast(
                brand_dict.select(F.col("bid").alias("b_id"), F.col("p_brand").alias("b"))
            ),
            "b_id",
        )
        .select(
            "a",
            "b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.expr("n_ab * 1000000 DIV n_a").cast("bigint").alias("conf_ppm"),
            F.expr("n_ab * n_orders * 1000000 DIV (n_a * n_b)")
            .cast("bigint")
            .alias("lift_ppm"),
        )
        .orderBy(F.col("n_ab").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(20)
    )


MARKET_BASKET_PAIRS_SQL = """
WITH ob AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
pairs AS (
  SELECT x.l_orderkey, x.p_brand AS a, y.p_brand AS b
  FROM ob x JOIN ob y
    ON x.l_orderkey = y.l_orderkey AND x.p_brand < y.p_brand
),
n_ab AS (SELECT a, b, COUNT(*) AS n_ab FROM pairs GROUP BY a, b),
item AS (SELECT p_brand, COUNT(*) AS n_item FROM ob GROUP BY p_brand),
n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM ob)
SELECT c.a, c.b, CAST(c.n_ab AS BIGINT) AS n_ab,
       CAST(c.n_ab * 1000000 // ia.n_item AS BIGINT) AS conf_ppm,
       CAST(c.n_ab * o.n_orders * 1000000 // (ia.n_item * ib.n_item) AS BIGINT) AS lift_ppm
FROM n_ab c
JOIN item ia ON ia.p_brand = c.a
JOIN item ib ON ib.p_brand = c.b
CROSS JOIN n_orders o
ORDER BY n_ab DESC, a ASC, b ASC
LIMIT 20
"""

QUERIES["market_basket_pairs"] = Q(
    market_basket_pairs,
    MARKET_BASKET_PAIRS_SQL,
    "A-Priori pair mining: map-side basket pair fan-out, exact ppm confidence/lift",
)
