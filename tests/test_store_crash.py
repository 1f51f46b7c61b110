"""Crash-recovery property test for the state store's commit protocol.

A writer process is SIGKILLed at randomized filesystem-operation points
inside a driver-side MERGE (``upsert_rows`` — manifest write, link
claim, pointer advance, parquet data write all happen in-process with
no Spark). After each kill the store must satisfy:

1. every manifest on disk parses as complete JSON (the link-claim makes
   a torn claim impossible by construction);
2. a reader sees a consistent committed version — the pre-kill snapshot,
   or the dead writer's commit iff its claim completed;
3. a fresh writer commits cleanly: a claim the dead writer never
   advanced the pointer for is ROLLED FORWARD, not deadlocked on
   (pre-round-4 this raised CommitTimeout after 30 s and the claimed
   version was permanently wedged);
4. no committed row is ever lost.

Reference semantics being protected: the reference's JPA saveAndFlush
runs inside Postgres transactions (repository/
CdcAgentsDataStreamRepository.java:16-29) — a killed writer there can't
wedge the table either; this is the lake-layout equivalent.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from cdc_agents_data_stream_spark.state.store import ParquetStateStore

# The kill script counts open/link/replace/fsync calls and SIGKILLs
# itself when the counter reaches the requested operation index — so the
# kill lands mid-manifest-write, between claim and pointer advance,
# mid-parquet-write, etc., depending on the index.
KILL_SCRIPT = r"""
import builtins, os, signal, sys
sys.path.insert(0, {repo!r})
path, kill_after = sys.argv[1], int(sys.argv[2])
count = {{"n": 0}}
def arm(mod, name):
    real = getattr(mod, name)
    def wrapped(*a, **k):
        count["n"] += 1
        if 0 < kill_after <= count["n"]:
            os.kill(os.getpid(), signal.SIGKILL)
        return real(*a, **k)
    setattr(mod, name, wrapped)
for fn in ("link", "replace", "fsync"):
    arm(os, fn)
arm(builtins, "open")
from cdc_agents_data_stream_spark.state.store import ParquetStateStore
store = ParquetStateStore(None, path)
store.upsert_rows([{{"session_id": "s-crash", "sequence_number": 7}}])
print("COMPLETED", count["n"])
"""

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _store(path: str) -> ParquetStateStore:
    s = ParquetStateStore(None, path)  # driver-side paths never touch spark
    return s


def _all_rows(store: ParquetStateStore) -> dict[str, int]:
    v = store.current_version()
    if v == 0:
        return {}
    rows: dict[str, int] = {}
    for rel in store._manifest(v).values():
        if rel:
            for r in pq.read_table(os.path.join(store.path, rel)).to_pylist():
                rows[r["session_id"]] = r["sequence_number"]
    return rows


def _assert_manifests_complete(path: str) -> None:
    for name in os.listdir(path):
        if name.startswith("_manifest_v") and name.endswith(".json"):
            with open(os.path.join(path, name)) as fh:
                doc = json.load(fh)  # raises on a torn file
            assert set(doc) == {"version", "buckets", "dir_schemas"}


def _run_killed_writer(path: str, kill_after: int) -> bool:
    """Returns True when the writer completed (kill point past the end)."""
    proc = subprocess.run(
        [sys.executable, "-c", KILL_SCRIPT.format(repo=REPO), path, str(kill_after)],
        capture_output=True,
        text=True,
        timeout=120,
    )
    if proc.returncode == 0:
        assert "COMPLETED" in proc.stdout
        return True
    assert proc.returncode == -signal.SIGKILL, proc.stderr
    return False


@pytest.mark.parametrize("kill_after", list(range(1, 21)))
def test_sigkill_mid_commit_never_corrupts_or_wedges(tmp_path, kill_after):
    path = str(tmp_path / "store")
    seed = _store(path)
    seed.upsert_rows([{"session_id": "s-seed", "sequence_number": 1}])
    assert seed.current_version() == 1
    seed_manifest = seed._manifest(1)

    completed = _run_killed_writer(path, kill_after)

    post = _store(path)
    _assert_manifests_complete(path)
    v = post.current_version()
    if completed:
        assert v == 2
    else:
        assert v in (1, 2)
    if v == 1:
        # reader sees the prior committed snapshot, bit-identical manifest
        assert post._manifest(1) == seed_manifest
        assert _all_rows(post) == {"s-seed": 1}

    # a fresh writer must commit cleanly — rolling forward a dead
    # writer's claimed-but-unpointed version instead of timing out
    post.upsert_rows([{"session_id": "s-recover", "sequence_number": 2}])
    final = _all_rows(post)
    assert final["s-seed"] == 1
    assert final["s-recover"] == 2
    crash_claimed = os.path.exists(post._manifest_file(2)) and v >= 2
    if crash_claimed and "s-crash" in final:
        assert final["s-crash"] == 7
    _assert_manifests_complete(path)
    assert post.current_version() > v


def test_roll_forward_of_claimed_unpointed_version(tmp_path):
    """Surgical torn state (claim exists, pointer lags): the next writer
    adopts the orphan commit rather than raising CommitTimeout."""
    path = str(tmp_path / "store")
    s = _store(path)
    s.upsert_rows([{"session_id": "a", "sequence_number": 1}])
    # fabricate the dead-winner state: claim v2 manually, leave pointer at 1
    man = dict(s._manifest(1))
    with open(s._manifest_file(2), "w") as fh:
        json.dump({"version": 2, "buckets": man}, fh)
    assert s.current_version() == 1

    s.COMMIT_WAIT_SECONDS = 5.0  # a regression would fail fast, not in 30 s
    s.upsert_rows([{"session_id": "b", "sequence_number": 2}])
    assert s.current_version() == 3  # rolled v2 forward, committed v3
    rows = _all_rows(s)
    assert rows == {"a": 1, "b": 2}


# Kills the driver once the bucket job's tasks have written their buckets
# and diff files, before the manifest claim.
JOB_KILL_SCRIPT = r"""
import os, signal, sys
sys.path.insert(0, {repo!r})
from cdc_agents_data_stream_spark.session import get_spark
from cdc_agents_data_stream_spark.plans.backfill import backfill
from cdc_agents_data_stream_spark.state.store import ParquetAppendLog, ParquetStateStore
base, now_ms = sys.argv[1], int(sys.argv[2])
def killed(self, *a, **k):
    print("KILLED", flush=True)
    os.kill(os.getpid(), signal.SIGKILL)
ParquetStateStore._try_commit = killed
spark = get_spark("crash", master="local[1]")
backfill(
    spark,
    spark.read.parquet(os.path.join(base, "writes-1.parquet")),
    spark.read.parquet(os.path.join(base, "cps-1.parquet")),
    ParquetStateStore(spark, os.path.join(base, "state")),
    ParquetAppendLog(spark, os.path.join(base, "diffs")),
    now_ms=now_ms,
)
"""


def test_sigkill_between_bucket_job_and_claim_replays_identically(spark, tmp_path):
    """A driver SIGKILLed after the bucket job's tasks wrote their buckets
    and diff files, but before it claimed the version, leaves the store
    unchanged (same version, manifest and rows). Replaying the batch then
    gives state and dedup'd diffs identical to a run that never crashed:
    the orphan data dir is never referenced and the replica diffs collapse
    on (session, seq, source)."""
    from cdc_agents_data_stream_spark.plans.backfill import backfill
    from cdc_agents_data_stream_spark.state.store import ParquetAppendLog
    from tests.checkpointgen import gen_checkpoint_tables

    for batch in range(2):
        cps, writes = gen_checkpoint_tables(n_threads=6, n_ticks=2 + batch, repeat_tick=None)
        cps.to_parquet(tmp_path / f"cps-{batch}.parquet")
        writes.to_parquet(tmp_path / f"writes-{batch}.parquet")

    def run(name, batch, now_ms):
        backfill(
            spark,
            spark.read.parquet(str(tmp_path / f"writes-{batch}.parquet")),
            spark.read.parquet(str(tmp_path / f"cps-{batch}.parquet")),
            ParquetStateStore(spark, str(tmp_path / name)),
            ParquetAppendLog(spark, str(tmp_path / name.replace("state", "diffs"))),
            now_ms=now_ms,
        )

    def snapshot(name):
        store = ParquetStateStore(spark, str(tmp_path / name))
        log = ParquetAppendLog(spark, str(tmp_path / name.replace("state", "diffs")))
        return (
            sorted(tuple(r) for r in store.read().collect()),
            sorted(tuple(r) for r in log.read(dedup=True).select(
                "session_id", "sequence_number", "source", "diff_data", "ts_millis").collect()),
        )

    run("state", 0, 1_000)
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    version, manifest, rows = store.current_version(), store._manifest(1), snapshot("state")[0]

    proc = subprocess.run(
        [sys.executable, "-c", JOB_KILL_SCRIPT.format(repo=REPO), str(tmp_path), "2000"],
        capture_output=True,
        text=True,
        timeout=300,
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"},
    )
    assert proc.returncode == -signal.SIGKILL and "KILLED" in proc.stdout, proc.stderr[-2000:]
    assert (store.current_version(), store._manifest(1)) == (version, manifest)
    assert snapshot("state")[0] == rows
    # the tasks did write: an orphan data dir for v2 and diff files in the log
    assert any(n.startswith("v00000002_") for n in os.listdir(tmp_path / "state"))
    assert any(n.startswith("part-v00000002_") for n in os.listdir(tmp_path / "diffs" / "d00000001"))

    run("state", 1, 2_000)  # replay
    run("ref-state", 0, 1_000)
    run("ref-state", 1, 2_000)
    assert snapshot("state") == snapshot("ref-state")


# Kills a diff-log merge round after it wrote the merged file and linked the
# files it left alone into the next generation, before the repoint.
MERGE_KILL_SCRIPT = r"""
import os, signal, sys
sys.path.insert(0, {repo!r})
from cdc_agents_data_stream_spark.state.store import ParquetAppendLog
def killed(self, name):
    print("KILLED", sorted(os.listdir(os.path.join(self.path, name))), flush=True)
    os.kill(os.getpid(), signal.SIGKILL)
ParquetAppendLog._repoint = killed
ParquetAppendLog(None, sys.argv[1]).merge_tiers()
"""


def _diff_row(i: int) -> dict:
    return {
        "session_id": f"s{i % 3}",
        "sequence_number": i,
        "source": "cdc",
        "diff_data": f'[{{"line": {i}}}]',
        "ts_millis": 1000 + i,
    }


def test_sigkill_between_merged_file_and_repoint(spark, tmp_path):
    """A merge round SIGKILLed after writing its merged file but before
    repointing ``_LOGDIR`` leaves the log's reads unchanged: the new
    generation was never published. The next round deletes it and
    publishes its own, with every row exactly once."""
    from cdc_agents_data_stream_spark.state.store import ParquetAppendLog

    path = tmp_path / "diffs"
    log = ParquetAppendLog(spark, str(path))
    for i in range(ParquetAppendLog.FAN_IN):
        log.append_rows([_diff_row(i)])

    def rows(dedup):
        return sorted(tuple(r) for r in log.read(dedup=dedup).collect())

    before = rows(True)
    proc = subprocess.run(
        [sys.executable, "-c", MERGE_KILL_SCRIPT.format(repo=REPO), str(path)],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == -signal.SIGKILL and "KILLED" in proc.stdout, proc.stderr
    assert "t1-" in proc.stdout  # the merged file was written
    assert log._data_dir() == str(path / "d00000001")
    assert os.path.isdir(path / "d00000002")  # the unpublished generation
    assert rows(True) == before

    log.append_rows([_diff_row(ParquetAppendLog.FAN_IN)])
    assert log.merge_tiers()
    assert log._data_dir() == str(path / "d00000002")
    # one merged file holding each row once: nothing of the killed round's
    # generation survived into the published one
    assert [n.split("-")[0] for n in log._files(log._data_dir())] == ["t1"]
    assert rows(False) == rows(True) == sorted(before + [tuple(_diff_row(ParquetAppendLog.FAN_IN).values())])
    assert not [n for n in os.listdir(path / "d00000002") if n.endswith(".tmp")]
