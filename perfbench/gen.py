"""Seeded Wikimedia `recentchange` SSE generator for the benchmark.

The generator is the load source of the streaming workloads. It runs as its
own process, listens on a loopback port, accepts ONE keep-alive connection
(the pipeline's `sse-http` source) and writes SSE frames on a fixed, open-loop
schedule: a frame is sent when it is due, whatever the pipeline is doing.
The pipeline sees only the frames; the due time of every frame stays here
and in the stream description the benchmark rebuilds from the same seed.

Traffic mix of the base feed (both streaming workloads), per frame:

    edit 52%, new 14%          valid frames the pipeline keeps
    log 17%, categorize 8%     valid JSON the type filter drops
    corrupt 1.5%               truncated JSON (parse skip)
    no_bot 1%                  edit without the `bot` key (missing-key skip)
    late 0.5%                  edit whose event time is 30 s old, behind
                               the 10 s watermark (unique key)
    dup 6%                     exact re-delivery of a kept frame sent
                               0.5-3 s earlier (same key, same bytes)

Basis. The kinds are the fates of `src/test/resources/recentchange_fixture.jsonl`
(FIXTURES.md section 1): kept edit/new rows, log and categorize rows the type
filter drops, malformed JSON, and an exact re-delivery. The base rate of 200
frames/s and the ~70% edit/new share (edit + new + dup, all edit/new
payloads) are the benchmark's chosen load; the reference publishes no
traffic figures, and the public live rate it is bounded by is O(10-100)
events/s (BASELINE.md), so 200/s loads the pipeline harder than the live
feed. Every other share, the Zipf exponents and the burst shapes below were
chosen, not measured: no traffic sample backs them. They set the dedup,
filter and drain load, so changing one changes the benchmark.

Users and titles are Zipf-skewed (s = 1.1 over 4000 users, s = 1.0 over
12000 titles); payloads carry the fields of the Wikimedia recentchange schema
that `src/test/resources/recentchange_fixture.jsonl` exercises, plus the
surrounding metadata real frames carry (~0.8 KB per frame).

On top of the base feed each workload has periodic bursts (`BURSTS`): a
re-send of every base frame due in the previous `replay_ms` (duplicates the
dedup must drop; `replay_churn` only), then `backlog` held-back edit/new
frames, all due at the release instant, with event times spread over the
`BACKLOG_SPAN_MS` before it.

The same (workload, seed) gives a byte-identical frame stream.

Run `python3 gen.py serve --workload W --seed N --supply-ms MS
--summary PATH`: it prints the bound port on its first stdout line, serves
one connection and writes a JSON summary (connection time, frames sent,
lateness) when the client disconnects or the process is terminated.
"""
import argparse
import bisect
import hashlib
import json
import random
import select
import signal
import socket
import sys
import time

BASE_RATE = 200                 # base-feed frames per second
EVENT_EPOCH_S = 1772323200      # 2026-03-01T00:00:00Z: event time at due 0
LATE_BEHIND_S = 30
BACKLOG_SPAN_MS = 4000

# Bursts per workload: every `every_ms` (first at `phase_ms`), re-send the
# base frames due in the previous `replay_ms`, then release `backlog`
# held-back frames.
BURSTS = {
    "live_large_sink": dict(every_ms=4000, phase_ms=2500, replay_ms=0,
                            backlog=500),
    "replay_churn": dict(every_ms=4000, phase_ms=2500, replay_ms=2000,
                         backlog=700),
}

N_USERS, USER_S = 4000, 1.1
N_TITLES, TITLE_S = 12000, 1.0

MIX = [("edit", 0.52), ("new", 0.14), ("log", 0.17), ("categorize", 0.08),
       ("corrupt", 0.015), ("no_bot", 0.01), ("late", 0.005), ("dup", 0.06)]

WORDS = ["Spark", "River", "Station", "Album", "Überlingen", "Kraków",
         "History", "Battle", "Province", "Species", "Film", "Église",
         "School", "Mountain", "Election", "Łódź", "Club", "Bridge",
         "Symphony", "Airport", "São Paulo", "Cathedral", "Comet", "Opera"]
COMMENTS = ["/* History */ copyedit", "Reverted edits by vandal",
            "fix typo", "Added citation", "[[WP:AES|←]]Created page",
            "update infobox", "rm unsourced claim", "/* See also */ +link"]


def _zipf_cdf(n, s):
    acc, out = 0.0, []
    for k in range(1, n + 1):
        acc += 1.0 / k ** s
        out.append(acc)
    return [c / acc for c in out]


_USER_CDF = _zipf_cdf(N_USERS, USER_S)
_TITLE_CDF = _zipf_cdf(N_TITLES, TITLE_S)
_KINDS = [k for k, _ in MIX]
_KIND_CDF = []
_acc = 0.0
for _, _w in MIX:
    _acc += _w
    _KIND_CDF.append(_acc)


def iso(ts_s):
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(ts_s))


def user_name(i):
    return "Editor%d" % i if i % 7 else "Bot%d" % i


def title_of(i):
    return "%s %d" % (WORDS[i % len(WORDS)], i)


class Frame:
    """One SSE frame: its due time (ms after the connection), its kind,
    the `data:` payload and, for frames the pipeline keeps, its dedup key
    (event time in epoch seconds, user, title)."""
    __slots__ = ("due_ms", "kind", "data", "key")

    def __init__(self, due_ms, kind, data, key):
        self.due_ms, self.kind, self.data, self.key = due_ms, kind, data, key

    def md5(self):
        return hashlib.md5(self.data.encode("utf-8")).hexdigest()


def _payload(rng, seq, kind, ts_s, user, title, bot=True):
    t_url = title.replace(" ", "_")
    obj = {
        "$schema": "/mediawiki/recentchange/1.0.0",
        "meta": {"uri": "https://en.wikipedia.org/wiki/" + t_url,
                 "request_id": "%032x" % rng.getrandbits(128),
                 "id": "%032x" % rng.getrandbits(128),
                 "dt": iso(ts_s), "domain": "en.wikipedia.org",
                 "stream": "mediawiki.recentchange",
                 "topic": "eqiad.mediawiki.recentchange",
                 "partition": 0, "offset": 5000000000 + seq},
        "id": 1700000000 + seq,
        "type": kind, "namespace": 0, "title": title,
        "title_url": "https://en.wikipedia.org/wiki/" + t_url,
        "comment": rng.choice(COMMENTS), "timestamp": ts_s,
        "user": user, "bot": user.startswith("Bot"),
        "server_url": "https://en.wikipedia.org",
        "server_name": "en.wikipedia.org", "server_script_path": "/w",
        "wiki": "enwiki", "parsedcomment": rng.choice(COMMENTS)}
    if kind in ("edit", "new"):
        old = rng.randrange(0, 60000)
        new = max(0, old + rng.randrange(-2000, 4000))
        obj["minor"] = rng.random() < 0.3
        obj["patrolled"] = rng.random() < 0.5
        if kind == "edit":
            obj["length"] = {"old": old, "new": new}
            obj["revision"] = {"old": 1200000000 + seq,
                               "new": 1200000001 + seq}
        else:
            obj["length"] = {"new": new}
            obj["revision"] = {"new": 1200000001 + seq}
    elif kind == "log":
        obj["log_type"] = "patrol"
        obj["log_action"] = "autopatrol"
    if not bot:
        del obj["bot"]
    return json.dumps(obj, ensure_ascii=False, separators=(",", ":"))


def _new_event(rng, seq, ts_s, kind):
    user = user_name(bisect.bisect_left(_USER_CDF, rng.random()))
    title = title_of(bisect.bisect_left(_TITLE_CDF, rng.random()))
    data = _payload(rng, seq, kind, ts_s, user, title)
    return data, (ts_s, user, title)


def base_feed(seed, supply_ms):
    """The base feed: `BASE_RATE` frames/s for `supply_ms`, in due order."""
    rng = random.Random(seed)
    out, recent_kept = [], []
    n = supply_ms * BASE_RATE // 1000
    for i in range(n):
        due = i * 1000 // BASE_RATE
        ts = EVENT_EPOCH_S + due // 1000
        kind = _KINDS[bisect.bisect_left(_KIND_CDF, rng.random() * _acc)]
        if kind == "dup":
            lo = due - 3000
            pool = [f for f in recent_kept[-600:] if lo <= f.due_ms <= due - 500]
            if pool:
                src = rng.choice(pool)
                out.append(Frame(due, "dup", src.data, src.key))
                continue
            kind = "edit"
        if kind in ("edit", "new"):
            data, key = _new_event(rng, i, ts, kind)
            f = Frame(due, kind, data, key)
            recent_kept.append(f)
        elif kind == "late":
            # a unique title keeps the late key apart from every other key
            user = user_name(bisect.bisect_left(_USER_CDF, rng.random()))
            title = "Late revision %d" % i
            key = (ts - LATE_BEHIND_S, user, title)
            f = Frame(due, "late",
                      _payload(rng, i, "edit", key[0], user, title), key)
        elif kind == "corrupt":
            data, _ = _new_event(rng, i, ts, "edit")
            f = Frame(due, "corrupt", data[:rng.randrange(10, len(data) // 2)],
                      None)
        elif kind == "no_bot":
            user = user_name(bisect.bisect_left(_USER_CDF, rng.random()))
            title = title_of(bisect.bisect_left(_TITLE_CDF, rng.random()))
            f = Frame(due, "no_bot",
                      _payload(rng, i, "edit", ts, user, title, bot=False),
                      None)
        else:
            data, _ = _new_event(rng, i, ts, kind)
            f = Frame(due, kind, data, None)
        out.append(f)
    return out


def frames(workload, seed, supply_ms):
    """Every frame of `workload` for `supply_ms` of schedule, in send order
    (due times never decrease)."""
    base = base_feed(seed, supply_ms)
    b = BURSTS[workload]
    rng = random.Random(seed * 1000003 + 17)
    out, j, seq = [], 0, 10 ** 8
    for t in range(b["phase_ms"], supply_ms, b["every_ms"]):
        while j < len(base) and base[j].due_ms < t:
            out.append(base[j])
            j += 1
        # replay: the previous window again, byte for byte
        k = j
        while k > 0 and base[k - 1].due_ms >= t - b["replay_ms"]:
            k -= 1
        out.extend(Frame(t, "replay_" + f.kind, f.data, f.key)
                   for f in base[k:j] if b["replay_ms"])
        # backlog: held-back events, all released now
        for n in range(b["backlog"]):
            ts = EVENT_EPOCH_S + (t - BACKLOG_SPAN_MS
                                  + n * BACKLOG_SPAN_MS // b["backlog"]) // 1000
            data, key = _new_event(rng, seq, ts,
                                   "edit" if rng.random() < 0.8 else "new")
            seq += 1
            out.append(Frame(t, "backlog", data, key))
    out.extend(base[j:])
    return out


def encode(index, frame):
    return ("id: %d\nevent: message\ndata: %s\n\n"
            % (index, frame.data)).encode("utf-8")


def stream_bytes(workload, seed, supply_ms):
    return b"".join(encode(i, f) for i, f in
                    enumerate(frames(workload, seed, supply_ms)))


def _read_request(conn):
    buf = b""
    while b"\r\n\r\n" not in buf:
        chunk = conn.recv(4096)
        if not chunk:
            break
        buf += chunk
    line = buf.split(b"\r\n", 1)[0].decode("latin-1")
    return line


def serve(workload, seed, supply_ms, summary_path):
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    print(srv.getsockname()[1], flush=True)
    fs = frames(workload, seed, supply_ms)
    payload = [encode(i, f) for i, f in enumerate(fs)]
    summary = {"t0_ms": None, "frames_sent": 0, "late_ms": [],
               "request": None}

    def on_term(*_):
        raise SystemExit(0)
    signal.signal(signal.SIGTERM, on_term)
    conn = None
    try:
        conn, _ = srv.accept()
        summary["request"] = _read_request(conn)
        conn.sendall(b"HTTP/1.1 200 OK\r\nContent-Type: text/event-stream\r\n"
                     b"Cache-Control: no-cache\r\nConnection: close\r\n\r\n")
        # The schedule starts on a 2 s wall-clock boundary. The pipeline's
        # ProcessingTime trigger fires on the same wall-clock grid, so every
        # run sees the schedule (and its bursts) at the same phase against
        # the triggers.
        t0 = (int(time.time() * 1000) // 2000 + 1) * 2.0
        time.sleep(max(0.0, t0 - time.time()))
        summary["t0_ms"] = t0 * 1000.0
        i, late = 0, summary["late_ms"]
        while True:
            now_ms = (time.time() - t0) * 1000.0
            j = i
            while j < len(fs) and fs[j].due_ms <= now_ms:
                j += 1
            if j > i:
                conn.sendall(b"".join(payload[i:j]))
                sent_ms = (time.time() - t0) * 1000.0
                late.extend(sent_ms - fs[k].due_ms for k in range(i, j))
                i = j
                summary["frames_sent"] = i
            wait = (fs[i].due_ms - now_ms) / 1000.0 if i < len(fs) else 1.0
            r, _, _ = select.select([conn], [], [], max(0.0, wait))
            if r and not conn.recv(4096):
                break                       # client closed the stream
    except (BrokenPipeError, ConnectionResetError):
        pass
    finally:
        late = sorted(summary.pop("late_ms"))
        summary["late_ms_p99"] = (late[min(len(late) - 1,
                                           int(0.99 * len(late)))]
                                  if late else 0.0)
        with open(summary_path, "w") as fh:
            json.dump(summary, fh)
        if conn is not None:
            conn.close()
        srv.close()


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["serve"])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--supply-ms", type=int, required=True)
    ap.add_argument("--summary", required=True)
    a = ap.parse_args(argv)
    serve(a.workload, a.seed, a.supply_ms, a.summary)


if __name__ == "__main__":
    main(sys.argv[1:])
