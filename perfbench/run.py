"""Benchmark of the live wiki_events pipeline.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout builds the
program and the harness from source with sbt (`perfbench/build.sbt`); later
runs reuse that build while the sources are unchanged.

One run: start the seeded SSE generator (`gen.py`, its own process), start
the harness JVM (`graft.bench.Harness`), which preloads the sink and calls
`WikiStream.startLive` against the generator, feed frames on an open-loop
schedule for a warm-up, `S` seconds of measurement and a short tail, stop,
check every output, and print one JSON result line. With `--trace 1` the
run also reports per-layer counters and writes its spans to
`perfbench/out/`.

Workloads (their reasons are the `why` lines of BENCHMARK.json):
  live_large_sink  500k-row sink, retention off, steady 200 frames/s plus a
                   backlog release every 4 s.
  replay_churn     ~22k-row capped sink (dbMaxEvents 20k, retention fires
                   every few epochs, maintenance policy attached), a burst
                   every 4 s that re-sends the previous 2 s and releases a
                   backlog; dashboard polled every 5 s beside the stream.
Both workloads time the dashboard tile refresh after the stream stops
(three untimed warm-up refreshes, then eight timed ones).
"""
import argparse
import bisect
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import layers  # noqa: E402

WARMUP_MS = 6000      # schedule time before the measured window
TAIL_MS = 2000        # frames after the window, so its last epoch fills
RUN_LIMIT_S = 170     # whole-run budget for the harness JVM
NPROC = os.cpu_count() or 4

# A preload of at least `max_events` rows makes retention fire during the
# stream. Spark gets the cores the generator and the dashboard poller leave.
WORKLOADS = {
    "live_large_sink": dict(
        preload_rows=500_000, max_events=1_000_000, maintenance_every=0,
        poll_live=False),
    "replay_churn": dict(
        preload_rows=21_800, max_events=20_000, maintenance_every=2,
        poll_live=True),
}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build --

def source_stamp():
    h = hashlib.sha1()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, subdirs, names in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            files.extend(os.path.join(d, n) for n in sorted(names))
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Classpath of the harness and the program, built when missing or
    when any source changed."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("no program sources at %s (expected %s)" % (ROOT, need))
    cache = os.path.join(HERE, "target", "bench-classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cache):
        with open(cache) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=840)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail("build failed: %s" % e)
    out = p.stdout.decode("utf-8", "replace").splitlines()
    cp = [l for l in out if ".jar" in l and os.pathsep in l and
          not l.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(out[-40:]) + "\n")
        fail("build failed (sbt exit %d)" % p.returncode)
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as fh:
        fh.write(stamp + "\n" + cp[-1].strip() + "\n")
    return cp[-1].strip()


# ------------------------------------------------------------ processes --

def start_generator(workload, seed, supply_ms, summary):
    t = time.time()
    p = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "gen.py"), "serve",
         "--workload", workload, "--seed", str(seed),
         "--supply-ms", str(supply_ms), "--summary", summary],
        stdout=subprocess.PIPE, stdin=subprocess.DEVNULL)
    line = p.stdout.readline().decode().strip()
    if not line.isdigit():
        p.kill()
        p.wait()
        fail("generator did not start")
    return p, int(line), time.time() - t


def stop(p, timeout=10):
    if p.poll() is None:
        p.send_signal(signal.SIGTERM)
        try:
            p.wait(timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()


# --------------------------------------------------------------- metrics --

def covering(epochs):
    """frame index -> end time (ms) of the first epoch whose end offset
    covers it."""
    ends = [e["endOffset"] for e in epochs]
    times = [e["startMs"] + e["durations"].get("triggerExecution", 0)
             for e in epochs]

    def cover(i):
        k = bisect.bisect_right(ends, i)
        return times[k] if k < len(ends) else None
    return cover


def run(args):
    wl = WORKLOADS[args.workload]
    cp = classpath()
    work = os.path.join(HERE, "work", "%s-%d-%d" % (args.workload, args.seed,
                                                     os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return measure(args, wl, cp, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, wl, cp, work):
    window = (WARMUP_MS, WARMUP_MS + args.seconds * 1000)
    supply_ms = window[1] + TAIL_MS
    summary = os.path.join(work, "gen.json")
    genp, port, gen_start_s = start_generator(args.workload, args.seed,
                                              supply_ms, summary)
    result = os.path.join(work, "jvm.json")
    expect = os.path.join(work, "expect.tsv")
    harness = [
        "--trace", str(args.trace),
        "--work", work, "--url", "http://127.0.0.1:%d/v2/stream/recentchange" % port,
        "--expect", expect,
        "--cores", str(max(1, NPROC - 1 - wl["poll_live"])),
        "--preload-rows", str(wl["preload_rows"]),
        "--max-events", str(wl["max_events"]),
        "--maintenance-every", str(wl["maintenance_every"]),
        "--poll-live", "1" if wl["poll_live"] else "0",
        "--max-stream-s", str(supply_ms // 1000 + 60),
        "--data", os.path.join(HERE, "data", "sf0.001"), "--out", result]
    java = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for o in JDK_OPENS:
        java += ["--add-opens", o + "=ALL-UNNAMED"]
    log = os.path.join(work, "jvm.log")
    jvm = None
    try:
        with open(log, "wb") as lf:
            jvm = subprocess.Popen(java + ["-cp", cp, "graft.bench.Harness"] +
                                   harness, cwd=work, stdout=lf,
                                   stderr=subprocess.STDOUT,
                                   stdin=subprocess.DEVNULL)
            # the stream description, while the JVM starts: every framed
            # key for the checks, then the frame count the harness streams
            # to (written last, so the harness never reads a partial file)
            frames = gen.frames(args.workload, args.seed, supply_ms)
            with open(expect, "w", encoding="utf-8") as fh:
                for i, f in enumerate(frames):
                    if f.key:
                        fh.write("%d\t%s\t%d\t%s\t%s\t%s\n" % (
                            i, f.kind, f.key[0], f.key[1], f.key[2], f.md5()))
            with open(expect + ".n.tmp", "w") as fh:
                fh.write(str(len(frames)))
            os.rename(expect + ".n.tmp", expect + ".n")
            try:
                rc = jvm.wait(RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                rc = "timeout"
    finally:
        if jvm is not None and jvm.poll() is None:
            jvm.kill()
            jvm.wait()
        stop(genp)
    with open(log, "rb") as fh:
        text = fh.read().decode("utf-8", "replace")
    for line in text.splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(text[-6000:])
        fail("harness failed (%s)" % rc, 1)
    with open(result) as fh:
        j = json.load(fh)
    with open(summary) as fh:
        g = json.load(fh)
    return evaluate(args, frames, window, j, g, gen_start_s, work)


def evaluate(args, frames, window, j, g, gen_start_s, work):
    epochs = sorted(j["epochs"], key=lambda e: e["batchId"])
    cover = covering(epochs)
    t0 = g["t0_ms"]
    checks = dict(j["checks"])

    # the capture is exactly the generated stream
    with open(os.path.join(work, "capture.sse"), "rb") as fh:
        captured = fh.read()
    n_cap = captured.count(b"\n\n")
    expected = b"".join(gen.encode(i, f) for i, f in enumerate(frames[:n_cap]))
    checks["capture_equals_generated_stream"] = captured == expected

    # freshness: base-feed frames due inside the window
    fresh = []
    uncovered = 0
    for i, f in enumerate(frames):
        if (window[0] <= f.due_ms < window[1] and f.kind != "backlog"
                and not f.kind.startswith("replay")):
            end = cover(i)
            if end is None:
                uncovered += 1
            else:
                fresh.append(end - (t0 + f.due_ms))
    checks["every_window_frame_committed"] = uncovered == 0 and bool(fresh)

    # drain: each backlog release inside the window
    drains = []
    last = {}
    for i, f in enumerate(frames):
        if f.kind == "backlog":
            last[f.due_ms] = (last.get(f.due_ms, (0, 0))[0] + 1, i)
    for due, (n, i) in sorted(last.items()):
        end = cover(i)
        if window[0] <= due < window[1] and end is not None:
            drains.append(n / ((end - (t0 + due)) / 1000.0))

    # committed live rows against the generated frames
    by_md5 = {}
    for f in frames[:j["latest_end_offset"]]:
        if f.key:
            by_md5[f.md5()] = f.key
    with open(os.path.join(work, "live_rows.tsv"), encoding="utf-8") as fh:
        rows = [l.rstrip("\n").split("\t") for l in fh if l.strip()]
    checks["live_rows_are_generated_frames"] = all(
        by_md5.get(r[0]) == (int(r[1]), r[2], r[3]) for r in rows)
    dropped = sum(e["droppedByWatermark"] for e in epochs)
    if not j["capped"]:
        distinct = {f.key for f in frames[:j["latest_end_offset"]] if f.key}
        checks["new_rows_equal_distinct_kept_minus_late_drops"] = (
            len(rows) == len(distinct) - dropped)
        checks["preload_rows_unchanged"] = (
            j["preload_rows_left"] == j["preload_rows"])
    # A live poll that fails on a missing sink data file is the program's
    # known reader/vacuum race (retention vacuums files a concurrent dashboard
    # read still needs): the harness marks it ok and it is reported as
    # dashboard.poll_err, like the Dashboard.snapshot probe. Any other poll
    # exception, and a tile that disagrees with the committed row count,
    # is a failed operation.
    polls = j["polls"]
    timed = [p["pollMs"] for p in polls if p["quiet"] and not p["error"]]
    attempted = len(epochs) + len(polls) + len(checks)
    failed = (sum(1 for v in checks.values() if not v) +
              sum(1 for p in polls if not p["ok"]))

    # sink footprint after each epoch of the window: where a run ends in the
    # retention/compaction cycle decides whether replaced files are still on
    # disk, so the run-end value alone flips between two levels
    ends = {e["batchId"]: e for e in epochs}
    footprint = [b / r for bid, r, b in j["sink_after_epoch"]
                 if r > 0 and bid in ends and
                 t0 + window[0] <= ends[bid]["startMs"] < t0 + window[1]]

    e2e = {
        "setup_s": (j["session_s"] + sum(j["preload_chunk_s"]) + gen_start_s,
                    "s"),
        "freshness_p50_ms": (layers.pct(fresh, 0.5) if fresh else None,
                             "ms"),
        "freshness_p90_ms": (layers.pct(fresh, 0.9) if fresh else None,
                             "ms"),
        "drain_eps": (statistics.median(drains) if drains else None,
                      "events/s"),
        "dashboard_poll_p50_ms": (statistics.median(timed) if timed
                                  else None, "ms"),
        "bytes_per_event": (statistics.mean(footprint) if footprint
                            else None, "B"),
        "peak_rss_mib": (j["peak_rss_kib"] / 1024.0, "MiB"),
    }
    if any(v is None for v, _ in e2e.values()):
        failed += 1
    for k, v in sorted(checks.items()):
        if not v:
            print("perfbench: check failed: " + k, file=sys.stderr)
    ctx = dict(host=dict(j["host"], nproc=NPROC), workload=args.workload,
               seed=args.seed, seconds=args.seconds, epochs=len(epochs),
               fresh_samples=len(fresh), drains=len(drains), polls=len(polls),
               checks=checks, jvm_phases_s=j["phases"],
               poll_ms=[p["pollMs"] for p in polls],
               bytes_per_event_at_end=j["sink_bytes"] / max(1, j["end_rows"]))
    if args.trace:
        queries = j.get("queries", [])
        attempted += len(queries)
        failed += sum(1 for q in queries if not q["ok"])
        pins = load_pins()
        bad = [q["name"] for q in queries
               if pins.get(q["name"]) != q["fingerprint"]]
        attempted += len(queries)
        failed += len(bad)
        if bad:
            print("perfbench: fingerprint mismatch: " + ",".join(bad),
                  file=sys.stderr)
        metrics, spans, self_ms = layers.per_layer(
            j, epochs, frames, g, window, attempted, failed, n_cap,
            len(rows))
        metrics["first_commit_s"] = (first_commit_s(j, epochs), "s")
        write_trace(args, ctx, e2e, metrics, spans, self_ms, j, bad)
        out = metrics
    else:
        out = e2e
        write_summary(args, ctx, e2e)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in out.items()}}


def first_commit_s(j, epochs):
    for e in epochs:
        if e["rowsIn"] > 0:
            end = e["startMs"] + e["durations"].get("triggerExecution", 0)
            return (end - j["startlive_call_ms"]) / 1000.0
    return None


def load_pins():
    with open(os.path.join(HERE, "pins.json")) as fh:
        return json.load(fh)["fingerprints"]


def out_dir():
    d = os.path.join(HERE, "out")
    os.makedirs(d, exist_ok=True)
    return d


def write_summary(args, ctx, e2e):
    path = os.path.join(out_dir(), "e2e-%s-seed%d.json" % (args.workload,
                                                           args.seed))
    with open(path, "w") as fh:
        json.dump(dict(ctx, metrics={k: v for k, (v, _) in e2e.items()}), fh,
                  indent=1)


def write_trace(args, ctx, e2e, metrics, spans, self_ms, j, bad):
    path = os.path.join(out_dir(), "trace-%s-seed%d.json" % (args.workload,
                                                             args.seed))
    with open(path, "w") as fh:
        json.dump(dict(ctx, e2e={k: v for k, (v, _) in e2e.items()},
                       per_layer={k: v for k, (v, _) in metrics.items()},
                       self_ms=self_ms, calib=j.get("calib"),
                       queries=j.get("queries"), fingerprint_mismatch=bad,
                       sink_rewrites=j["rewrites"],
                       spans=spans), fh)


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    res = run(args)
    print(json.dumps(res))


if __name__ == "__main__":
    main(sys.argv[1:])
