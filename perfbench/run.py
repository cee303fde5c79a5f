#!/usr/bin/env python3
"""graft benchmark: run one workload with one seed and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the program
(`src/main/scala`) and the benchmark's JVM side (`perfbench/scala`) with
scalac into `.bench_build/`; later runs reuse that build while the
sources are unchanged. Inputs come from the seed (a seeded copy of the
tables in `perfbench/data/`, or the stream generator's seed), the JVM side
(`perfbench.Main`) runs the workload, and this script checks the outputs
and prints one line per metric, the output-check result, a `meta` line
(run metadata and validity) and, last, one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CORES = max(1, min(4, os.cpu_count() or 1))
HEAP = "3g"
JVM_TIMEOUT_S = 150
# A stream run whose generator lands its p99 event later than this after
# its due time did not offer the intended load; it is reported invalid.
# The generator writes one file per 100 ms tick, so up to 100 ms of it
# is the tick itself.
LATENESS_BOUND_MS = 200.0
# Offered load of wiki_stream: a 1 s trigger over 6,000 rows takes about
# 0.7 s on a 4-core host, so the backlog does not grow (see README.md).
STREAM_RATE = 6000.0
STREAM_BACKLOG = 60000

WORKLOADS = {
    "wiki_stream": {},
    "sql_lanes": {
        "lanes": [
            "q_edit_window", "q1_pricing_agg", "q_topn_join", "q_multijoin",
            "q_broadcast_join", "q_window_rank", "q_json_extract", "q_asof_join",
            "q_asof_forward", "q_range_join"]},
    "llm_text": {
        "lanes": [
            "tok_encode_bpe", "tok_encode_unigram", "tok_count_bpe",
            "dedup_simhash", "text_collocations"]},
}

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("peak_heap_mb", "MB"),
              ("latency_p50_ms", "ms"), ("latency_p99_ms", "ms"),
              ("capacity_rows_per_s", "rows/s")]
PER_LAYER = [
    ("operators.construct_s", "s"), ("operators.construct_jobs", "count"),
    ("operators.execute_s", "s"), ("scheduler.no_job_s", "s"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.failed_tasks", "count"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("executor.deser_s", "s"), ("executor.busy_frac", "ratio"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_s", "s"), ("shuffle.spill_bytes", "bytes"),
    ("planner.analysis_ms", "ms"), ("planner.optimize_ms", "ms"),
    ("planner.plan_ms", "ms"), ("sources.read_bytes", "bytes"),
    ("sources.read_records", "count"), ("driver.result_bytes", "bytes"),
    ("driver.gc_s", "s"), ("blocks.residual_rdds", "count"),
    ("blocks.residual_bytes", "bytes"), ("streaming.trigger_ms", "ms"),
    ("streaming.add_batch_ms", "ms"), ("streaming.plan_ms", "ms"),
    ("streaming.offsets_ms", "ms"), ("streaming.commit_ms", "ms"),
    ("streaming.state_rows", "count"), ("streaming.state_mem_bytes", "bytes"),
    ("streaming.state_commit_ms", "ms"), ("streaming.backlog_rows", "count"),
    ("streaming.watermark_lag_ms", "ms"), ("streaming.rows_dropped_late", "count"),
    ("sink.inserts", "count"), ("sink.insert_ms", "ms"), ("sink.retries", "count"),
    ("sink.docs_per_insert", "count"), ("self.run_s", "s"),
    ("self.construct_s", "s"), ("self.execute_s", "s"), ("self.job_s", "s"),
    ("self.epoch_s", "s"), ("self.insert_s", "s"), ("trace.overhead", "ratio")]
COUNTERS = [n for n, _ in PER_LAYER if n.split(".")[0] in
            ("scheduler", "executor", "shuffle", "planner", "sources", "driver")
            and n not in ("executor.busy_frac", "driver.gc_s")]

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build

def spark_jars():
    """The jar directory the repo's build.sbt compiles against."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(d, "spark-sql_*.jar")):
        raise BenchError(f"no Spark jars found (looked in {d!r})")
    return d


def build():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not main or not bench:
        raise BenchError("program or benchmark sources missing; run from the repo root")
    h = hashlib.sha256()
    for p in main + bench:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    jars = os.path.join(spark_jars(), "*")
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    cp = f"{out}/bench:{out}/main:{jars}"
    if os.path.exists(os.path.join(out, ".done")):
        return cp
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    for name, srcs, classpath in (("main", main, jars), ("bench", bench, f"{out}/main:{jars}")):
        os.makedirs(os.path.join(out, name))
        argfile = os.path.join(out, f"{name}.args")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        r = subprocess.run(["java", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData",
                            f"-Djava.io.tmpdir={out}", "-cp", jars, "scala.tools.nsc.Main",
                            "-nowarn", "-d", os.path.join(out, name),
                            "-classpath", classpath, "@" + argfile],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise BenchError(f"compiling {name} failed:\n{r.stdout[-4000:]}")
    open(os.path.join(out, ".done"), "w").close()
    return cp


# ---------------------------------------------------------------- run

def run_jvm(cp, work, args):
    """Run `perfbench.Main` and return its raw record, with `setup_s`
    added: from this process start to the session being ready and warm."""
    raw = os.path.join(work, "raw.json")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *ADD_OPENS, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work}/spark-local", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
            "-cp", cp, "perfbench.Main", "--cores", str(CORES),
            "--work", work, "--out", raw] + args)
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        started = time.time()
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"JVM timed out after {JVM_TIMEOUT_S} s; see {work}/jvm.log")
    if rc != 0 or not os.path.exists(raw):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"JVM exited with {rc}:\n{tail}")
    with open(raw) as f:
        out = json.load(f)
    out["setup_s"] = out["ready_epoch_ms"] / 1e3 - started
    return out


def frames_equal(got, exp):
    """The value compare of tools/local_verify.py: column-name-sorted,
    row-sorted, exact values, NaN equal to NaN, None equal to None."""
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    g = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    e = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    bad = 0
    for c in g.columns:
        for x, y in zip(g[c].tolist(), e[c].tolist()):
            if x is None and y is None:
                continue
            if isinstance(x, float) and isinstance(y, float) and math.isnan(x) and math.isnan(y):
                continue
            if x != y:
                bad += 1
    return f"{bad} value diffs" if bad else None


def check_lanes(raw, data, work):
    """{lane: None if its output is right, else why not}."""
    import duckdb
    from inputs import TABLES
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet/*.parquet')")
    oracle = raw["oracle_sql"]
    out = {}
    for rec in raw["check"]:
        lane = rec["lane"]
        if rec["error"]:
            out[lane] = rec["error"]
            continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{work}/check/{lane}/*.parquet')").fetchdf()
            # every lane in WORKLOADS has an oracle; one without fails
            # rather than pass unchecked
            out[lane] = (frames_equal(got, con.execute(oracle[lane]).fetchdf())
                         if lane in oracle else "no oracle query")
        except Exception as e:  # a failed read or oracle query fails the lane
            out[lane] = f"{type(e).__name__}: {e}"
    return out


def lane_spans(records):
    """Spans run → lane → {construct, execute} → job from the traced
    lane records."""
    spans = []
    ids = iter(range(1, 10**9))
    run_id = next(ids)
    for r in records:
        lane_id, c_id, e_id = next(ids), next(ids), next(ids)
        built = r["built"] if r["built"] is not None else r["end"]
        spans += [
            {"id": lane_id, "parent": run_id, "kind": "lane", "name": r["lane"],
             "start": r["start"], "end": r["end"]},
            {"id": c_id, "parent": lane_id, "kind": "construct", "name": r["lane"],
             "start": r["start"], "end": built},
            {"id": e_id, "parent": lane_id, "kind": "execute", "name": r["lane"],
             "start": built, "end": r["end"]}]
        for j in r["jobs"]:
            parent = c_id if j["group"].endswith("#construct") else e_id
            spans.append({"id": next(ids), "parent": parent, "kind": "job",
                          "name": str(j["job"]), "start": j["start"], "end": j["end"]})
    spans.insert(0, {"id": run_id, "parent": 0, "kind": "run", "name": "run",
                     "start": records[0]["start"], "end": records[-1]["end"]})
    return spans


def batch_result(raw, data, work, trace):
    checks = check_lanes(raw, data, work)
    best = {}
    for r in raw["passes"]:
        best[r["lane"]] = min(best.get(r["lane"], math.inf), r["end"] - r["start"])
    walls = {}
    for r in raw["passes"]:
        walls[r["pass"]] = walls.get(r["pass"], 0.0) + r["end"] - r["start"]
    lat_ms = [t * 1e3 for t in best.values()]
    ops = raw["passes"] + raw.get("traced_passes", []) + raw.get("after_traced_passes", [])
    errors = [r for r in ops if r["error"]]
    attempted = len(raw["check"]) + len(ops)
    failed = sum(1 for v in checks.values() if v) + len(errors)
    wall = sum(best.values())
    rows_read = sum(c["records_read"] for c in raw["check"])
    # A lane is one latency sample, and a workload has 5 to 10 of them:
    # too few for any percentile with ten samples beyond it. p99 is the
    # slowest lane's best time (nearest rank 99 of up to 100 samples).
    metrics = {
        "setup_s": raw["setup_s"],
        "wall_s": wall,
        "peak_heap_mb": max(c["heap_mb"] for c in raw["check"]),
        "latency_p50_ms": stats.median(lat_ms),
        "latency_p99_ms": max(lat_ms),
        "capacity_rows_per_s": rows_read / wall,
    }
    meta = {"lanes": len(raw["check"]), "timed_passes": len(walls),
            "pass_walls_s": list(walls.values()),
            "latency_samples": len(lat_ms), "latency_p99_is": "slowest lane",
            "rows_read_per_pass": rows_read,
            "failed_lanes": {k: v for k, v in checks.items() if v},
            "errors": [(r["lane"], r["error"]) for r in errors]}
    layers = None
    if trace:
        recs = raw["traced_passes"]
        spans = lane_spans(recs)
        own = stats.self_time_by_kind(spans)
        traced_wall = sum(r["end"] - r["start"] for r in recs)
        layers = {k: 0.0 for k, _ in PER_LAYER}
        for r in recs:
            for k in COUNTERS:
                layers[k] += r["counters"].get(k, 0.0)
            layers["driver.gc_s"] += r["gc_s"]
            built = r["built"] if r["built"] is not None else r["end"]
            layers["operators.construct_s"] += built - r["start"]
            layers["operators.execute_s"] += r["end"] - built
            layers["operators.construct_jobs"] += sum(
                1 for j in r["jobs"] if j["group"].endswith("#construct"))
            layers["scheduler.no_job_s"] += (r["end"] - r["start"]) - stats.union_length(
                [(j["start"], j["end"]) for j in r["jobs"]], r["start"], r["end"])
            layers["blocks.residual_rdds"] = max(layers["blocks.residual_rdds"], len(r["blocks"]))
            layers["blocks.residual_bytes"] = max(layers["blocks.residual_bytes"],
                                                  sum(b["bytes"] for b in r["blocks"]))
        layers["executor.busy_frac"] = layers["executor.run_s"] / (traced_wall * CORES)
        # a lane span is exactly its construct and execute children, so
        # its own self time is always 0 and is not reported
        for kind in ("run", "construct", "execute", "job"):
            layers[f"self.{kind}_s"] = own.get(kind, 0.0)
        # the untraced passes just before and just after the traced one
        before = list(walls.values())[-1]
        after = sum(r["end"] - r["start"] for r in raw["after_traced_passes"])
        layers["trace.overhead"] = traced_wall / ((before + after) / 2)
        meta["traced_wall_s"] = traced_wall
        meta["untraced_around_traced_s"] = [before, after]
        meta["residual_blocks"] = sorted({f"{r['lane']}: {b['name'] or 'rdd'}"
                                          for r in recs for b in r["blocks"]})
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump({"spans": spans, "lanes": recs}, f)
    return metrics, layers, attempted, failed, meta


def iso_ms(s):
    from datetime import datetime
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1e3


def stream_result(raw, work, trace):
    to_clock = lambda iso: (iso_ms(iso) - raw["clock_origin_ms"]) / 1e3  # noqa: E731
    files, t0, rate = raw["files"], raw["t0"], raw["rate"]
    file_epoch = stats.file_epochs(raw["checkpoint"])
    progress_end = {p["batchId"]: to_clock(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
                    for p in raw["progress"]}
    ends = stats.epoch_ends(raw["inserts"], progress_end)
    lat_ms = [x * 1e3 for x in stats.event_latencies(files, file_epoch, ends, t0, rate)]
    late_ms = [x * 1e3 for x in stats.generator_lateness(files, t0, rate)]
    cap = raw["capacity"]
    # every query, open-loop and each backlog drain, is checked: its
    # store against the batch transform, and no row dropped as late
    queries = [raw, cap] + raw.get("capacity_traced", [])
    dropped = [sum(p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
                   for p in q["progress"] if p.get("stateOperators")) for q in queries]
    failed_inserts = sum(1 for r in raw["inserts"] if not r["ok"])
    attempted = sum(q["check"]["windows"] for q in queries) + len(raw["inserts"])
    failed = (sum(q["check"]["missing"] + q["check"]["extra"] for q in queries)
              + failed_inserts + sum(1 for d in dropped if d))
    # median over the backlog batches after the first, which also plans
    capacity = stats.median([p["numInputRows"] / (p["durationMs"]["triggerExecution"] / 1e3)
                             for p in cap["progress"] if p["numInputRows"] > 0][1:])
    p99, p99_ms = stats.tail_percentile(lat_ms)
    p50_ms = stats.median(lat_ms)
    _, late_p99 = stats.tail_percentile(late_ms)
    metrics = {
        "setup_s": raw["setup_s"],
        "wall_s": cap["wall_s"],
        "peak_heap_mb": max(raw["heap_mb"]),
        "latency_p50_ms": p50_ms,
        "latency_p99_ms": p99_ms,
        "capacity_rows_per_s": capacity,
    }
    meta = {"rate_per_s": rate, "events": len(lat_ms), "files": len(files),
            "latency_p99_is_percentile": p99, "generator_late_p99_ms": late_p99,
            "generator_late_bound_ms": LATENESS_BOUND_MS,
            "valid": late_p99 <= LATENESS_BOUND_MS,
            "checks": [dict(q["check"], rows_dropped_late=d) for q, d in zip(queries, dropped)],
            "backlog_rows": cap["rows"]}
    layers = None
    if trace:
        layers = {k: 0.0 for k, _ in PER_LAYER}
        for k in COUNTERS:
            layers[k] = raw["counters"].get(k, 0.0)
        layers["driver.gc_s"] = raw["gc_s"]
        prog = sorted(raw["traced_progress"], key=lambda p: p["batchId"])
        live = [p for p in prog if p["numInputRows"] > 0 and p["batchId"] > 0]
        d = lambda p, *ks: sum(p["durationMs"].get(k, 0) for k in ks)  # noqa: E731
        med = lambda xs: stats.median(xs) if xs else 0.0  # noqa: E731
        layers["streaming.trigger_ms"] = med([d(p, "triggerExecution") for p in live])
        layers["streaming.add_batch_ms"] = med([d(p, "addBatch") for p in live])
        layers["streaming.plan_ms"] = med([d(p, "queryPlanning") for p in live])
        layers["streaming.offsets_ms"] = med([d(p, "latestOffset", "getBatch", "walCommit")
                                              for p in live])
        layers["streaming.commit_ms"] = med([d(p, "commitOffsets") for p in live])
        st = [p["stateOperators"][0] for p in live if p.get("stateOperators")]
        layers["streaming.state_rows"] = max([s["numRowsTotal"] for s in st], default=0)
        layers["streaming.state_mem_bytes"] = max([s["memoryUsedBytes"] for s in st], default=0)
        layers["streaming.state_commit_ms"] = med([s["commitTimeMs"] for s in st])
        layers["streaming.rows_dropped_late"] = sum(s.get("numRowsDroppedByWatermark", 0)
                                                    for s in st)
        # rows written but not yet read when each trigger started
        read_before, backlog, lag = 0, [], []
        for p in live:
            start = to_clock(p["timestamp"])
            written = sum(f["i1"] - f["i0"] for f in files if f["written"] <= start)
            backlog.append(max(0, written - read_before))
            read_before += p["numInputRows"]
            wm = p.get("eventTime", {}).get("watermark")
            if wm:
                # event time runs with the feed: due offset (start - t0) after index 0
                frontier_ms = raw["epoch_base_ms"] + (start - t0) * 1e3
                lag.append(frontier_ms - iso_ms(wm))
        layers["streaming.backlog_rows"] = max(backlog, default=0)
        layers["streaming.watermark_lag_ms"] = med(lag)
        ok = [r for r in raw["inserts"] if r["ok"]]
        layers["sink.inserts"] = len(ok)
        layers["sink.insert_ms"] = med([(r["end"] - r["start"]) * 1e3 for r in ok])
        keys = [r["key"] for r in raw["inserts"]]
        layers["sink.retries"] = len(keys) - len(set(keys))
        layers["sink.docs_per_insert"] = sum(r["docs"] for r in ok) / max(1, len(ok))
        layers["executor.busy_frac"] = layers["executor.run_s"] / (
            (files[-1]["written"] - t0) * CORES)
        # spans: run → epoch → sink insert
        spans = [{"id": 1, "parent": 0, "kind": "run", "name": "run",
                  "start": t0, "end": max(ends.values())}]
        epoch_ids = {}
        for p in prog:
            s = to_clock(p["timestamp"])
            epoch_ids[p["batchId"]] = len(spans) + 1
            spans.append({"id": len(spans) + 1, "parent": 1, "kind": "epoch",
                          "name": str(p["batchId"]), "start": s,
                          "end": s + p["durationMs"]["triggerExecution"] / 1e3})
        for r in raw["inserts"]:
            e = int(re.match(r"^e(\d+)-", r["key"]).group(1))
            spans.append({"id": len(spans) + 1, "parent": epoch_ids.get(e, 1),
                          "kind": "insert", "name": r["key"], "start": r["start"],
                          "end": r["end"]})
        own = stats.self_time_by_kind(spans)
        for kind in ("run", "epoch", "insert"):
            layers[f"self.{kind}_s"] = own.get(kind, 0.0)
        traced, after = raw["capacity_traced"]
        layers["trace.overhead"] = traced["wall_s"] / ((cap["wall_s"] + after["wall_s"]) / 2)
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump({"spans": spans, "progress": prog}, f)
    return metrics, layers, attempted, failed, meta


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_build = time.monotonic()
    try:
        cp = build()
    except BenchError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    build_s = time.monotonic() - t_build
    w = WORKLOADS[a.workload]
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    meta = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cores": CORES, "master": f"local[{CORES}]",
            "xmx": HEAP, "commit": git_commit(), "build_s": round(build_s, 3)}
    clock = [time.monotonic()]

    def lap(name):
        clock.append(time.monotonic())
        meta.setdefault("phase_s", {})[name] = round(clock[-1] - clock[-2], 3)

    try:
        if a.workload == "wiki_stream":
            args = ["--rate", str(STREAM_RATE), "--backlog", str(STREAM_BACKLOG)]
            data = None
        else:
            import inputs
            data = os.path.join(work, "data")
            meta["input_rows"], meta["input_bytes"] = inputs.seed_copy(data, a.seed)
            meta["lane_list"] = w["lanes"]
            args = ["--data", data, "--lanes", ",".join(w["lanes"])]
        lap("inputs")
        raw = run_jvm(cp, work, ["--workload", a.workload, "--seed", str(a.seed),
                                 "--seconds", str(a.seconds), "--trace", str(a.trace)] + args)
        lap("jvm")
        if a.workload == "wiki_stream":
            metrics, layers, attempted, failed, m = stream_result(raw, work, a.trace)
        else:
            metrics, layers, attempted, failed, m = batch_result(raw, data, work, a.trace)
    except BenchError as e:
        print(f"run failed: {e}", file=sys.stderr)
        return 3
    lap("checks")
    meta["max_heap_mb"] = raw["max_heap_mb"]
    meta.update(m)
    units = dict(END_TO_END + PER_LAYER)
    chosen = layers if a.trace else metrics
    for k, v in chosen.items():
        print(f"{k:32s} {v:.6g} {units[k]}")
    print(f"output check {'passed' if failed == 0 else 'FAILED'}: "
          f"{failed} of {attempted} operations failed")
    print(json.dumps({"meta": meta}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
