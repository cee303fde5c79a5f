"""Arithmetic the benchmark's metrics rest on, kept apart so it can be
tested on fixed inputs (`python3 -m unittest discover perfbench`)."""
import glob
import json
import math
import os
import re


def median(values):
    v = sorted(values)
    n = len(v)
    if n == 0:
        raise ValueError("median of no values")
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2.0


def tail_percentile(values, q=0.99, beyond=10):
    """Nearest-rank percentile `q`, lowered until at least `beyond`
    samples lie above it; when that would take it to the median or
    below, the median itself.

    Returns `(p, value)` with the percentile actually used. With n
    samples, rank ceil(p * n) leaves n - ceil(p * n) samples above, so
    the highest usable p is (n - beyond) / n.
    """
    v = sorted(values)
    n = len(v)
    if n == 0:
        raise ValueError("percentile of no values")
    p = min(q, (n - beyond) / n)
    if p <= 0.5:
        return 0.5, median(v)
    return p, v[math.ceil(round(p * n, 9)) - 1]


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by `intervals` ([start, end) pairs), clipped
    to [lo, hi]; overlapping intervals count once."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval that its children cover. `spans` are dicts with `id`,
    `parent`, `start` and `end`; returns {id: seconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def self_time_by_kind(spans):
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["kind"]] = out.get(s["kind"], 0.0) + st[s["id"]]
    return out


def _log_entries(d):
    """(name, lines) of each Structured Streaming metadata log file in `d`."""
    for path in sorted(glob.glob(os.path.join(d, "*"))):
        if not os.path.basename(path).startswith("."):
            with open(path) as f:
                yield os.path.basename(path), [ln.strip() for ln in f if ln.strip()]


def file_epochs(checkpoint):
    """{file name: query batch id} from a file-source query's checkpoint.

    The source log (`sources/0/<n>`, compacted into `<n>.compact`) tags
    each file with the source's own log offset n. The offsets log
    (`offsets/<batch>`) records the log offset each query batch read up
    to, so a file belongs to the first batch whose offset reaches its n.
    The two counters differ as soon as a batch runs without new files.
    """
    source = {}
    for _, lines in _log_entries(os.path.join(checkpoint, "sources", "0")):
        for ln in lines:
            if ln.startswith("{"):
                e = json.loads(ln)
                source[os.path.basename(e["path"])] = int(e["batchId"])
    upto = []
    for name, lines in _log_entries(os.path.join(checkpoint, "offsets")):
        if name.isdigit():
            upto.append((json.loads(lines[-1])["logOffset"], int(name)))
    upto.sort()
    out = {}
    for f, n in source.items():
        out[f] = next((b for off, b in upto if off >= n), None)
    return out


_EPOCH = re.compile(r"^e(\d+)-p")


def epoch_ends(inserts, progress_end=None):
    """End time of each epoch's sink write: the last successful insert
    whose key names that epoch. Epochs that wrote nothing fall back to
    `progress_end` ({epoch: end of its trigger})."""
    ends = dict(progress_end or {})
    done = {}
    for r in inserts:
        m = _EPOCH.match(r["key"])
        if m and r["ok"]:
            e = int(m.group(1))
            done[e] = max(done.get(e, -math.inf), r["end"])
    ends.update(done)
    return ends


def event_latencies(files, file_epoch, ends, t0, rate):
    """Latency of every event, in seconds: the end of the sink write of
    the epoch that read the event's file, minus the event's due time
    `t0 + i / rate`. `files` are dicts with `name`, `i0`, `i1` (event
    indexes [i0, i1)). Raises if a file was never read or its epoch
    never ended, so a lost event cannot pass as fast."""
    out = []
    for f in files:
        e = file_epoch.get(f["name"])
        if e is None or e not in ends:
            raise ValueError(f"file {f['name']} has no finished epoch")
        end = ends[e]
        out.extend(end - (t0 + i / rate) for i in range(f["i0"], f["i1"]))
    return out


def generator_lateness(files, t0, rate):
    """Per event: when its file landed minus when the event was due."""
    out = []
    for f in files:
        out.extend(f["written"] - (t0 + i / rate) for i in range(f["i0"], f["i1"]))
    return out
