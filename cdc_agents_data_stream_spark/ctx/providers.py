"""Context-enrichment providers (UD5 fan-out; S5 file source; S6 git scan).

The reference enriches each per-session state update with context items
from a pluggable provider list
(subscriber/ctx/ContextService.java:30-51): every provider maps the
session document to zero-or-one tagged item (``environment`` |
``test-report``, subscriber/ctx/DataStreamContextItem.java:12-17), and
each item is stamped with the *next* sequence number — the same number
the concurrently-produced diff gets.

Here a provider is a plain callable ``state_doc -> ctx_item | None``
passed into the state transition (operators/merge.py ``transition``); it
executes inside ``streaming.pipeline.absorb``, once per session per
batch: in the keyed ``mapInArrow`` / ``applyInPandasWithState`` group,
or in the driver fast path for small batches. The
reference's advisory lock around file consumption
(TestReportContextProvider.java:45-61) is unnecessary: a session key is
owned by exactly one task per micro-batch (X8), so reads are already
serialized per key. A report a publisher drops in while the provider runs
is not lost either: the provider deletes only the files it read, so a
later arrival waits for the next call.

At 100 TB scale the report side-input stays cheap because a provider only
touches ``<runner_path>/<session_id>`` — one directory per *updated*
session per batch, not a scan of the whole report tree.
"""

from __future__ import annotations

import os
import subprocess
import time
from typing import Any, Callable

Provider = Callable[[dict[str, Any]], "dict[str, Any] | None"]

# A clock is any ``() -> epoch millis``. Production uses the wall clock
# (reference parity: TestReportContextProvider.java:68 stamps
# ``creationTime`` with the current instant); tests and the C14
# correctness gate inject a deterministic clock so the stamped value is
# oracle-checkable.
Clock = Callable[[], int]


def _now_millis() -> int:
    return int(time.time() * 1000)


def make_test_report_provider(
    runner_paths: list[str], clock: Clock = _now_millis
) -> Provider:
    """S5: consume-once test-report file source.

    Mirrors TestReportContextProvider.java:29-139: for each configured
    runner path, read every file under ``<runner_path>/<session_id>``
    recursively into ``{f"{session_id}:{file_name}": content}``, then
    delete what was read so reports are never re-processed. Always emits
    an item (possibly with an empty report map), exactly like the
    reference's ``Optional.of(...)``.
    """

    def provider(state_doc: dict[str, Any]) -> dict[str, Any]:
        session_id = state_doc["session_id"]
        reports: dict[str, str] = {}
        for runner_path in runner_paths:
            session_dir = os.path.join(runner_path, session_id)
            if not os.path.isdir(session_dir):
                continue
            read = _read_reports(session_id, session_dir, reports)
            _consume(session_dir, read)
        return {
            "type": "test-report",
            "sessionId": session_id,
            "creationTime": clock(),
            "testReports": reports,
        }

    return provider


def _read_reports(
    session_id: str, session_dir: str, reports: dict[str, str]
) -> list[tuple[str, int]]:
    """Read every file under ``session_dir`` into ``reports``; returns the
    (path, inode) of each file read."""
    read: list[tuple[str, int]] = []
    for dirpath, _dirnames, filenames in os.walk(session_dir):
        for file_name in filenames:
            full = os.path.join(dirpath, file_name)
            try:
                with open(full, "r", errors="replace") as fh:
                    # key = registrationId:fileName (TestReportContextProvider.java:105)
                    reports[f"{session_id}:{file_name}"] = fh.read()
                    read.append((full, os.fstat(fh.fileno()).st_ino))
            except OSError:
                continue
    return read


def _consume(session_dir: str, read: list[tuple[str, int]]) -> None:
    """Consume-once (TestReportContextProvider.java:122-139): unlink exactly
    the files that were read, then remove subdirectories left empty. A
    report that arrived after the read (a new file, or a rename over a read
    one) stays for the next call; the session directory itself is kept."""
    for path, ino in read:
        try:
            if os.stat(path).st_ino == ino:
                os.unlink(path)
        except OSError:
            continue
    for dirpath, _dirnames, _filenames in os.walk(session_dir, topdown=False):
        if dirpath != session_dir:
            try:
                os.rmdir(dirpath)
            except OSError:
                continue  # not empty: holds a report that arrived after the read


def environment_provider(
    state_doc: dict[str, Any], clock: Clock = _now_millis
) -> dict[str, Any]:
    """Environment ctx item carrying only the session id — reference parity:
    the git-scan call sites are commented out, so the emitted item holds
    just ``sessionId`` (ctx/GitEnvironmentContextProvider.java:57-76)."""
    return {
        "type": "environment",
        "sessionId": state_doc["session_id"],
        "creationTime": clock(),
    }


def make_environment_provider(
    scan_root: str | None = None,
    max_depth: int = 3,
    commit_limit: int = 10,
    clock: Clock = _now_millis,
) -> Provider:
    """Environment provider with the git scan *enabled* (what the reference
    intends once it uncomments GitEnvironmentContextProvider.java:62-67)."""

    def provider(state_doc: dict[str, Any]) -> dict[str, Any]:
        item = environment_provider(state_doc, clock=clock)
        if scan_root:
            item["repositories"] = scan_git_repositories(scan_root, max_depth, commit_limit)
        return item

    return provider


def scan_git_repositories(root: str, max_depth: int = 3, commit_limit: int = 10) -> list[dict[str, Any]]:
    """S6: find ``.git`` directories up to ``max_depth`` below ``root`` and
    collect repo metadata (util/GitRepositoryScanner.java:43-260): recent
    commit hashes (git log -n), current branch, dirty flag, remotes.

    Driver-side/provider-side helper over a *small* repo list — environment
    metadata, not data-plane work. Failures degrade to partial metadata
    (the reference logs and continues the same way)."""
    repos: list[dict[str, Any]] = []
    root = os.path.abspath(root)
    for dirpath, dirnames, _files in os.walk(root):
        depth = dirpath[len(root) :].count(os.sep)
        if depth >= max_depth:
            dirnames[:] = []
            continue
        if ".git" in dirnames:
            dirnames.remove(".git")
            repos.append(_repo_details(dirpath, commit_limit))
    return repos


def _git(path: str, *args: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", path, *args],
            capture_output=True,
            text=True,
            timeout=10,
        )
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def _repo_details(path: str, commit_limit: int) -> dict[str, Any]:
    commits = _git(path, "log", f"-{commit_limit}", "--pretty=format:%H")
    status = _git(path, "status", "--porcelain")
    remotes = _git(path, "remote", "-v")
    return {
        "path": path,
        "branch": _git(path, "rev-parse", "--abbrev-ref", "HEAD"),
        "head": _git(path, "rev-parse", "HEAD"),
        "dirty": bool(status) if status is not None else None,
        "recent_commits": commits.split("\n") if commits else [],
        "remotes": sorted({line.split()[0] for line in remotes.splitlines()}) if remotes else [],
    }
