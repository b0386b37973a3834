"""Reading what the stream queries committed, from their checkpoints and
progress reports, and turning it into per-file commit times.

A file stream source keeps its own log of the files it admitted
(``sources/0/<n>`` and the compacted ``<n>.compact``; one JSON entry per
file with the log ``batchId``). A query batch covers the source log range
``(startOffset, endOffset]`` of its progress report, and commits at the
report's ``timestamp`` plus its ``triggerExecution`` duration.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time


def _log_offset(offset) -> int:
    """logOffset of a file-source offset as progress or the offset log
    shows it (JSON text or parsed); -1 before the first batch."""
    if offset is None:
        return -1
    if isinstance(offset, str):
        offset = json.loads(offset)
    return int(offset["logOffset"])


class SourceLog:
    """Incremental reader of one query's file-source log: file name ->
    source log batch id. Files already parsed are not read again."""

    def __init__(self, checkpoint: str):
        self.dir = os.path.join(checkpoint, "sources", "0")
        self.files: dict[str, int] = {}
        self._seen: set[str] = set()

    def refresh(self) -> dict[str, int]:
        try:
            names = os.listdir(self.dir)
        except FileNotFoundError:
            return self.files
        for name in sorted(set(names) - self._seen):
            if name.startswith(".") or not name.split(".")[0].isdigit():
                continue
            try:
                with open(os.path.join(self.dir, name)) as f:
                    lines = f.read().splitlines()
            except FileNotFoundError:  # compacted away between list and read
                continue
            for line in lines[1:]:
                if line:
                    entry = json.loads(line)
                    self.files.setdefault(os.path.basename(entry["path"]), int(entry["batchId"]))
            self._seen.add(name)
        return self.files


def committed_log_offset(checkpoint: str) -> int:
    """Source log offset up to which the query has committed, -1 if none."""
    try:
        commits = [int(n) for n in os.listdir(os.path.join(checkpoint, "commits")) if n.isdigit()]
    except FileNotFoundError:
        return -1
    if not commits:
        return -1
    with open(os.path.join(checkpoint, "offsets", str(max(commits)))) as f:
        lines = f.read().splitlines()
    return _log_offset(lines[2]) if len(lines) > 2 else -1


def wall_to_mono() -> float:
    """Offset to add to a wall-clock epoch second to get monotonic time."""
    return time.monotonic() - time.time()


def executed_batches(progress: list[dict], offset: float) -> list[dict]:
    """The batches a query executed, in order, each with its commit time on
    the monotonic clock and the source log range it covered."""
    out = []
    for p in progress:
        dur = p.get("durationMs") or {}
        if "addBatch" not in dur:
            continue  # an idle trigger, not an executed batch
        start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        src = p["sources"][0]
        out.append(
            {
                "batch": p["batchId"],
                "start": start + offset,
                "commit": start + offset + dur.get("triggerExecution", 0) / 1000.0,
                "lo": _log_offset(src.get("startOffset")),
                "hi": _log_offset(src.get("endOffset")),
                "progress": p,
            }
        )
    out.sort(key=lambda b: b["batch"])
    return out


def file_batches(files: dict[str, int], batches: list[dict]) -> dict[str, dict]:
    """Map each admitted file to the executed batch whose source range
    contains its log batch id."""
    out = {}
    for name, log_id in files.items():
        for b in batches:
            if b["lo"] < log_id <= b["hi"]:
                out[name] = b
                break
    return out


def batches_carrying(file_batches: dict[str, dict], names) -> list[dict]:
    """The distinct batches, in order, that carried any of ``names``."""
    by_id = {}
    for name in names:
        b = file_batches.get(name)
        if b is not None:
            by_id[b["batch"]] = b
    return [by_id[k] for k in sorted(by_id)]


def file_latencies(
    created: dict[str, float], per_query: list[dict[str, dict]]
) -> dict[str, float | None]:
    """Seconds from each file's creation until the last query committed a
    batch containing it; None when some query never committed it."""
    out = {}
    for name, t0 in created.items():
        commits = [fb[name]["commit"] for fb in per_query if name in fb]
        out[name] = max(commits) - t0 if len(commits) == len(per_query) else None
    return out
