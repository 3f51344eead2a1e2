"""Per-layer metrics and spans of a traced run.

Everything here is derived from what the harness recorded from outside the
program: `StreamingQueryProgress` of every epoch, the scheduler's jobs and
stages (with the `streaming.sql.batchId` / `perfbench.role` local
properties that attribute them), SQL executions, the sink scans found in
finished physical plans, and the harness's own timed calls (dashboard
polls, registry queries).

Layers are the repository's modules: sources.sse, ingest, streaming, sinks,
metrics and operators.
"""
import bisect
import statistics
from collections import defaultdict

LAYERS = ["sources.sse", "ingest", "streaming", "sinks", "metrics",
          "operators"]
# order in which MicroBatchExecution runs an epoch's phases, and the layer
# each belongs to
PHASES = [("latestOffset", "sources.sse"), ("walCommit", "streaming"),
          ("getBatch", "sources.sse"), ("queryPlanning", "streaming"),
          ("addBatch", "sinks"), ("commitOffsets", "streaming")]


def med(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """Nearest-rank percentile; 0 for an empty list."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def union_ms(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class SpanLog:
    def __init__(self):
        self.spans = []

    def add(self, parent, trace, layer, name, start, end):
        sid = len(self.spans) + 1
        self.spans.append(dict(id=sid, parent=parent, trace=trace,
                               layer=layer, name=name, start=start, end=end))
        return sid

    def self_ms(self):
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"]:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            covered = union_ms(kids[s["id"]], s["start"], s["end"])
            out[s["layer"]] = out.get(s["layer"], 0.0) + max(
                0.0, s["end"] - s["start"] - covered)
        return out


def per_layer(j, epochs, frames, g, window, attempted, failed, n_cap,
              live_rows):
    t0 = g["t0_ms"]
    jobs = j["jobs"]
    stages = {s["id"]: s for s in j["stages"]}
    owner = {}
    for jb in jobs:
        if jb["exec"] is not None:
            owner.setdefault(jb["exec"], (jb["batch"], jb["role"]))
    in_window = [e for e in epochs
                 if e["startMs"] >= t0 + window[0] - 2000 and
                 e["startMs"] < t0 + window[1]]
    data_epochs = [e for e in epochs if e["rowsIn"] > 0]
    jobs_of = defaultdict(list)
    for jb in jobs:
        if jb["batch"] is not None:
            jobs_of[jb["batch"]].append(jb)

    def stages_of(js):
        ids = {sid for jb in js for sid in jb["stages"]}
        return [stages[i] for i in ids if i in stages]

    def dur(e, k):
        return e["durations"].get(k, 0)

    m = {}

    # sources.sse
    dues = [t0 + f.due_ms for f in frames]
    lags = []
    for prev, e in zip(epochs, epochs[1:]):
        sent = bisect.bisect_right(dues, e["startMs"])
        lags.append(max(0, sent - prev["endOffset"]))
    m["sse.frames_captured"] = (n_cap, "count")
    m["sse.read_lag_frames_p90"] = (pct(lags, 0.9), "frames")
    m["epoch.latest_offset_ms_p50"] = (
        med([dur(e, "latestOffset") for e in in_window]), "ms")
    m["epoch.get_batch_ms_p50"] = (
        med([dur(e, "getBatch") for e in in_window]), "ms")

    # ingest
    rows_in = sum(e["rowsIn"] for e in epochs)
    rows_typed = sum(e["rowsTyped"] for e in epochs)
    src_ms = sum(s["runMs"] for s in stages_of(
        [jb for js in jobs_of.values() for jb in js]) if s["scansSource"])
    m["ingest.rows_in"] = (rows_in, "count")
    m["ingest.rows_typed"] = (rows_typed, "count")
    m["ingest.kept_ratio"] = (rows_typed / rows_in if rows_in else 0.0,
                              "ratio")
    m["ingest.task_ms_per_krow"] = (
        src_ms / (rows_in / 1000.0) if rows_in else 0.0, "ms/krow")

    # streaming
    trig = [dur(e, "triggerExecution") for e in in_window]
    m["epoch.count"] = (len(epochs), "count")
    m["epoch.trigger_ms_p50"] = (med(trig), "ms")
    m["epoch.trigger_ms_p90"] = (pct(trig, 0.9), "ms")
    m["epoch.add_batch_ms_p50"] = (
        med([dur(e, "addBatch") for e in in_window]), "ms")
    m["epoch.query_planning_ms_p50"] = (
        med([dur(e, "queryPlanning") for e in in_window]), "ms")
    m["epoch.wal_commit_ms_p50"] = (
        med([dur(e, "walCommit") for e in in_window]), "ms")
    m["epoch.jobs_p50"] = (
        med([len(jobs_of[e["batchId"]]) for e in in_window]), "count")
    m["epoch.shuffle_bytes_p50"] = (med([
        sum(s["shuffleWrite"] for s in stages_of(jobs_of[e["batchId"]]))
        for e in in_window]), "B")
    m["epoch.overrun_share"] = (
        sum(1 for t in trig if t > 2000) / len(trig) if trig else 0.0,
        "ratio")
    m["state.rows"] = (epochs[-1]["stateRows"] if epochs else 0, "count")
    m["state.memory_bytes"] = (
        max((e["stateMemBytes"] for e in epochs), default=0), "B")
    m["state.rows_dropped_by_watermark"] = (
        sum(e["droppedByWatermark"] for e in epochs), "count")
    m["dedup.dropped_ratio"] = (
        sum(e["droppedDuplicates"] for e in epochs) / rows_typed
        if rows_typed else 0.0, "ratio")

    # sinks
    probe = [s for s in j["scans"] if s["antiJoin"] and
             owner.get(s["execId"], (None, ""))[0] is not None]
    n_ep = max(1, len(data_epochs))
    m["sink.probe_rows_per_epoch"] = (
        sum(s["rows"] for s in probe) / n_ep, "rows")
    m["sink.probe_files_per_epoch"] = (
        sum(s["files"] for s in probe) / n_ep, "files")
    m["sink.resume_rows_scanned"] = (sum(
        s["rows"] for s in j["scans"]
        if owner.get(s["execId"]) == (None, "resume")), "rows")
    m["sink.versions_committed"] = (j["end_version"] - j["start_version"],
                                    "count")
    fires, prev = 0, j["preload_rows"]
    for _, rows, _ in sorted(j["sink_after_epoch"]):
        if 0 <= rows < prev:
            fires += 1
        prev = rows if rows >= 0 else prev
    m["sink.retention_fires"] = (fires, "count")
    # sink rewrites inside an epoch that keep every row they read
    m["sink.maintenance_cycles"] = (sum(
        1 for r in j["rewrites"]
        if owner.get(r["execId"], (None, ""))[0] is not None and
        r["rowsRead"] > 0 and r["rowsWritten"] == r["rowsRead"]), "count")
    per_row = j["live_data_bytes"] / max(1, j["end_rows"])
    committed = live_rows * per_row
    m["sink.bytes_written"] = (j["bytes_written"], "B")
    m["sink.write_amp"] = (j["bytes_written"] / committed if committed
                           else 0.0, "ratio")
    m["sink.vacuum_debt_bytes"] = (j["vacuum_debt_bytes"], "B")
    m["sink.live_files"] = (j["live_files"], "count")

    # metrics
    live_polls = [p for p in j["polls"] if not p["quiet"]]
    polls = [p for p in (live_polls or j["polls"]) if not p["error"]]
    dash_rows = sum(s["rows"] for s in j["scans"]
                    if owner.get(s["execId"], (None, ""))[1] == "dashboard")
    m["dashboard.poll_ms_p90"] = (pct([p["pollMs"] for p in polls], 0.9),
                                  "ms")
    n_polls = sum(1 for p in j["polls"] if not p["error"])
    m["dashboard.rows_scanned_per_poll"] = (
        dash_rows / n_polls if n_polls else 0.0, "rows")
    m["dashboard.rowcount_ms_p50"] = (med([p["rowCountMs"] for p in polls]),
                                      "ms")
    m["dashboard.snapshot_err"] = (j["snapshot_err"], "count")
    poll_err = sum(1 for p in j["polls"] if p["error"] and p["ok"])
    m["dashboard.poll_err"] = (poll_err, "count")

    # operators
    qjobs = [jb for jb in jobs if jb["role"].startswith("q:")]
    qst = stages_of(qjobs)
    m["operators.jobs_total"] = (len(qjobs), "count")
    m["operators.stages_total"] = (len(qst), "count")
    m["operators.tasks_total"] = (sum(s["tasks"] for s in qst), "count")
    m["operators.shuffle_write_bytes"] = (
        sum(s["shuffleWrite"] for s in qst), "B")
    m["operators.spill_bytes"] = (sum(s["spill"] for s in qst), "B")
    m["operators.input_bytes"] = (sum(s["inputBytes"] for s in qst), "B")
    gap = 0.0
    for q in j.get("queries", []):
        mine = [(jb["start"], jb["end"]) for jb in qjobs
                if jb["role"] == "q:" + q["name"]]
        wall = q["end"] - q["start"]
        gap += wall - union_ms(mine, q["start"], q["end"])
        m["q.%s.jobs" % q["name"]] = (len(mine), "count")
        m["q.%s.wall_s" % q["name"]] = (wall / 1000.0, "s")
    m["operators.driver_gap_s"] = (gap / 1000.0, "s")

    # context
    m["gen.late_ms_p99"] = (g["late_ms_p99"], "ms")
    m["jvm.gc_ms"] = (j["gc_ms"], "ms")
    m["host.calib_sec"] = (sum(j["calib"].values()), "s")
    m["ops.error_rate"] = ((failed + j["snapshot_err"] + poll_err) /
                           (attempted + 1.0), "ratio")

    log = spans(j, epochs, jobs, stages, owner)
    self_ms = log.self_ms()
    for layer in LAYERS:
        m["layer.%s.self_ms" % layer] = (self_ms[layer], "ms")
    return m, log.spans, self_ms


def spans(j, epochs, jobs, stages, owner):
    """Span tree: epoch -> phase -> SQL execution -> job for the stream;
    poll -> call and query for the harness's own calls -> jobs."""
    log = SpanLog()
    add_batch = {}
    for e in epochs:
        trace = "epoch-%d" % e["batchId"]
        end = e["startMs"] + e["durations"].get("triggerExecution", 0)
        eid = log.add(0, trace, "streaming", "epoch", e["startMs"], end)
        cur = e["startMs"]
        for name, layer in PHASES:
            d = e["durations"].get(name, 0)
            pid = log.add(eid, trace, layer, name, cur, cur + d)
            if name == "addBatch":
                add_batch[e["batchId"]] = pid
            cur += d

    def job_layer(jb):
        if any(stages.get(s, {}).get("scansSource") for s in jb["stages"]):
            return "ingest"
        return "sinks"

    harness = {}
    for s in j["spans"]:
        sid = log.add(harness.get(s["parent"], 0), s["trace"], s["layer"],
                      s["name"], s["startMs"], s["endMs"])
        harness[s["id"]] = sid
    tops = [(s["start"], s["end"], s["id"], s["trace"], s["layer"])
            for s in log.spans if s["parent"] == 0 and
            not s["trace"].startswith("epoch-")]

    def enclosing(t, role):
        for a, b, sid, trace, layer in tops:
            if a <= t <= b and (trace == role or role == "dashboard"
                                and trace.startswith("poll-")):
                return sid, trace, layer
        return 0, role, "streaming"

    exec_span = {}
    for x in j["execs"]:
        batch, role = owner.get(x["id"], (None, None))
        if batch is not None and batch in add_batch:
            exec_span[x["id"]] = log.add(add_batch[batch], "epoch-%d" % batch,
                                         "sinks", "sql", x["startMs"],
                                         x["endMs"])
    for jb in jobs:
        if jb["end"] is None:            # the job never ended
            continue
        if jb["batch"] is not None:
            parent = exec_span.get(jb["exec"], add_batch.get(jb["batch"], 0))
            log.add(parent, "epoch-%d" % jb["batch"], job_layer(jb), "job",
                    jb["start"], jb["end"])
        elif jb["role"].startswith("q:") or jb["role"] == "dashboard":
            sid, trace, layer = enclosing(jb["start"], jb["role"])
            log.add(sid, trace, layer, "job", jb["start"], jb["end"])
    return log
