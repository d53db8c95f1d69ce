"""Map stream input files to the micro-batch that consumed them.

The file source's checkpoint log (``<checkpoint>/sources/0/<batchId>``,
compacted every few batches into ``<batchId>.compact``) lists, per
batch, the files it read: a ``v1`` header line, then one JSON entry
``{"path", "timestamp", "batchId"}`` per file. Query progress gives each
batch's trigger start and duration, so a file's latency is the end of
its batch minus the time the file was due to be dropped.
"""

from __future__ import annotations

import datetime as dt
import json
import os


def file_batches(source_log_dir: str) -> dict[str, int]:
    """{file basename: batchId} from a file-source checkpoint log."""
    out: dict[str, int] = {}
    for name in os.listdir(source_log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(source_log_dir, name)) as fh:
            lines = fh.read().splitlines()
        if not lines or lines[0] != "v1":
            raise ValueError(f"unknown file-source log format in {name}")
        for line in lines[1:]:
            if line.strip():
                entry = json.loads(line)
                base = os.path.basename(entry["path"])
                out[base] = min(out.get(base, entry["batchId"]), entry["batchId"])
    return out


def epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def batch_ends(progresses: list[dict]) -> dict[int, float]:
    """{batchId: epoch seconds the batch finished}, from query progress
    (trigger start + triggerExecution). Idle progress reports repeat a
    batchId with no input rows; the one that read rows wins."""
    best: dict[int, tuple[int, float]] = {}
    for p in progresses:
        end = epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0
        rows = p.get("numInputRows") or 0
        b = p["batchId"]
        if b not in best or rows > best[b][0]:
            best[b] = (rows, end)
    return {b: end for b, (_, end) in best.items()}


def file_latencies(
    source_log_dir: str, progresses: list[dict], due: dict[str, float]
) -> dict[str, float]:
    """{file basename: seconds from its due time to its batch's end} for
    every file in ``due`` that a finished batch consumed."""
    batches = file_batches(source_log_dir)
    ends = batch_ends(progresses)
    return {
        name: ends[batches[name]] - t
        for name, t in due.items()
        if name in batches and batches[name] in ends
    }

