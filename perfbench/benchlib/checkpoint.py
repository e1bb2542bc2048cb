"""Drop -> micro-batch attribution through the checkpoint's file-source log.

A streaming file source records, per source batch, the files it took in
`<checkpoint>/sources/0/<batchId>`: a version line, then one JSON object
per file with its `path` and `batchId`. Every `compactInterval` batches
the log writes `<batchId>.compact` instead, which folds in every earlier
batch, and may later delete the plain files it replaced. Each micro-batch
reports the source log batch it read up to as `endOffset.logOffset`.
"""
import json
import os
from datetime import datetime, timezone


def read_source_log(checkpoint, source=0):
    """{file basename: source log batch id} from plain and compacted files."""
    d = os.path.join(checkpoint, "sources", str(source))
    out = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith(".") or not name.removesuffix(".compact").isdigit():
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                base = entry["path"].rstrip("/").rsplit("/", 1)[-1]
                out[base] = int(entry["batchId"])
    return out


def progress_time_ms(ts):
    """Epoch milliseconds of a progress `timestamp` such as
    2026-01-02T03:04:05.678Z."""
    dt = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return dt.timestamp() * 1000.0


def log_offset(offset):
    """The `logOffset` of a file-source offset, given as a dict or JSON text."""
    if offset is None:
        return None
    if isinstance(offset, str):
        offset = json.loads(offset)
    return offset.get("logOffset") if isinstance(offset, dict) else None


def batches_by_log_offset(progress):
    """{source log batch id: progress report of the micro-batch that read
    it}, skipping idle reports that moved no offset."""
    out = {}
    for p in progress:
        src = (p.get("sources") or [{}])[0]
        end, start = log_offset(src.get("endOffset")), log_offset(src.get("startOffset"))
        if end is None or end == start or end in out:
            continue
        out[end] = p
    return out


def commit_ms(p):
    """Commit time of a micro-batch: trigger start plus its trigger time."""
    return progress_time_ms(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0)


def attribute(drops, source_log, progress):
    """Per drop (dicts with `name`), the progress report of the micro-batch
    that applied it; None for a drop no committed batch read."""
    by_offset = batches_by_log_offset(progress)
    return [by_offset.get(source_log.get(d["name"])) for d in drops]
