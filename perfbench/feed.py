"""Seeded SBS-1 feed for the benchmark.

The feed is a pure function of the seed and the mix in workloads.json:
`generate` returns the lines plus, for every line, the key the ingest
pipeline must keep for it -- (transmission_type, hex_ident) -- or None when
the line fails one of the parser's gates (arity, strict cast, NOT NULL).
The traffic is shaped as flights: each aircraft is heard several times a
second while it is in coverage, then leaves (see `generate`).
Only the lines ever reach the program; the keys stay with the harness.

Run as a process, `serve` plays a live feed: it listens on a local port the
way dump1090 listens on 30003, accepts one connection and sends every line
at its scheduled time (open loop: a slow reader never slows the schedule).
It records how late each line left and writes that, with the schedule's
origin on the shared monotonic clock, to a stats file when the peer hangs
up.

    python3 perfbench/feed.py serve --seed 1 --seconds 10 --mode ingest \
        --port-file P --stats-file S
"""
import argparse
import bisect
import calendar
import json
import math
import os
import random
import socket
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

# 2024-01-01 00:00:00 UTC: generated times start here
EPOCH_MS = 1704067200000


def load_config():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def _flight(rng, feed, start_ms):
    """One aircraft's pass through the receiver's coverage: identity, a
    straight track at cruise speed and the time it leaves coverage."""
    if rng.random() < feed["fdx_share"]:
        cs = "FDX%d" % rng.randrange(10, 9999)
    else:
        cs = "".join(rng.choice("ABCDEGHJKLMNPRSUWY") for _ in range(3)) \
            + str(rng.randrange(1, 9999))
    lo, hi = feed["in_range_minutes"]
    lat0, lon0 = feed["receiver"]
    # ~450 kt is ~0.125 degrees of latitude a minute
    speed = 0.125 / 60000.0
    heading = rng.random() * 6.283185307179586
    return {"hex": "%06X" % rng.randrange(0x100000, 0xFFFFFF), "cs": cs,
            "lat": lat0 + rng.uniform(-1.5, 1.5),
            "lon": lon0 + rng.uniform(-2.0, 2.0),
            "dlat": speed * math.cos(heading), "dlon": speed * math.sin(heading),
            "alt": rng.randrange(100, 400) * 100, "t0": start_ms,
            "end": start_ms + int(rng.uniform(lo, hi) * 60000)}


def _stamp(ms):
    t = time.gmtime(ms // 1000)
    return (time.strftime("%Y/%m/%d", t),
            time.strftime("%H:%M:%S", t) + ".%03d" % (ms % 1000))


def _fields(tt, ac, ms, rng):
    date, clock = _stamp(ms)
    f = ["MSG", str(tt), "1", "1", ac["hex"], "1", date, clock, date, clock] \
        + [""] * 12
    dt = ms - ac["t0"]
    lat = "%.5f" % (ac["lat"] + ac["dlat"] * dt)
    lon = "%.5f" % (ac["lon"] + ac["dlon"] * dt)
    a = str(ac["alt"] + (dt // 4000 % 40) * 25)
    if tt == 1:
        f[10] = ac["cs"]
    elif tt == 2:
        f[11], f[12], f[13], f[14], f[15], f[21] = \
            "0", str(rng.randrange(0, 40)), str(rng.randrange(0, 360)), lat, lon, "-1"
    elif tt == 3:
        f[11], f[14], f[15], f[18], f[19], f[20], f[21] = \
            a, lat, lon, "0", "0", "0", "0"
    elif tt == 4:
        f[12], f[13], f[16] = str(rng.randrange(150, 550)), \
            str(rng.randrange(0, 360)), str(rng.randrange(-30, 30) * 64)
    elif tt == 5:
        f[11], f[18], f[20], f[21] = a, "0", "0", "0"
    elif tt == 6:
        f[11], f[17], f[18], f[19], f[20], f[21] = \
            a, "%04d" % rng.randrange(0, 7777), "0", "0", "0", "0"
    elif tt == 7:
        f[11], f[21] = a, "0"
    else:
        f[21] = "0"
    return f


def in_range(cfg, rate):
    """Aircraft in coverage at once when the receiver hears `rate` lines/s."""
    return max(1, int(round(rate / cfg["feed"]["msgs_per_aircraft_s"])))


def generate(seed, n, rate, start_ms, cfg=None):
    """n lines heard at `rate` lines/s from `start_ms` on, and each line's
    expected key or None.

    The traffic is a set of flights: `in_range(rate)` aircraft are in
    coverage at any time, each heard at the same rate, and an aircraft that
    leaves coverage is replaced by a new one. Generated times are
    start_ms + k * 1000 / rate, strictly increasing while rate <= 1000."""
    cfg = cfg or load_config()
    feed = cfg["feed"]
    rng = random.Random(seed)
    step = 1000.0 / rate
    slots = []
    for _ in range(in_range(cfg, rate)):
        # flights already under way: their remaining time is spread out
        ac = _flight(rng, feed, start_ms)
        ac["end"] = start_ms + int(rng.random() * (ac["end"] - start_ms))
        slots.append(ac)
    types = [int(t) for t in feed["msg_shares"]]
    weights = [feed["msg_shares"][str(t)] for t in types]
    bad = feed["bad_shares"]
    cut_arity = bad["arity"]
    cut_cast = cut_arity + bad["cast"]
    cut_null = cut_cast + bad["not_null"]
    lines, keys = [], []
    for k in range(n):
        ms = start_ms + int(k * step)
        i = rng.randrange(len(slots))
        if ms >= slots[i]["end"]:
            slots[i] = _flight(rng, feed, ms)
        ac = slots[i]
        tt = rng.choices(types, weights)[0]
        f = _fields(tt, ac, ms, rng)
        r = rng.random()
        key = (tt, ac["hex"])
        if r < cut_arity:
            # non-MSG record (11 fields) or a MSG record with a stray field
            f = ["STA", "", "5", "179", ac["hex"], "10103"] + f[6:10] + ["RM"] \
                if k % 2 else f + ["0"]
            key = None
        elif r < cut_cast:
            # decimal where PostgreSQL's integer cast would reject it
            f[12], f[13] = "288.6", "103.2"
            key = None
        elif r < cut_null:
            f[4] = ""  # hex_ident is NOT NULL
            key = None
        lines.append(",".join(f))
        keys.append(key)
    return lines, keys


def archive(seed, cfg=None):
    """The view_queries archive: its lines and their keys."""
    cfg = cfg or load_config()
    v = cfg["view_queries"]
    start = int(calendar.timegm(time.strptime(v["start"], "%Y-%m-%d %H:%M:%S")))
    return generate(seed, v["lines"], v["rate"], start * 1000, cfg)


def live_schedule(cfg, seconds, mode):
    """Open-loop phases as (name, rate lines/s, line count).

    ingest: warm-up, steady, overload; probe: 3 s warm-up and 3 s steady
    (the traced run's isolated ingest probe)."""
    live = cfg["live_ingest"]
    r = live["steady_rate"]
    warm = ("warmup", r, int(r * live["warmup_s"]))
    if mode == "ingest":
        steady_s = seconds * live["steady_share"]
        over_s = seconds - steady_s
        ro = live["overload_rate"]
        return [warm, ("steady", r, int(r * steady_s)),
                ("overload", ro, int(ro * over_s))]
    return [("warmup", r, r * 3), ("steady", r, r * 3)]


def due_ns(schedule):
    """Due time of every line, ns after the schedule's origin."""
    out, t = [], 0.0
    for _, rate, count in schedule:
        step = 1e9 / rate
        out.extend(int(t + i * step) for i in range(count))
        t += count * step
    return out


def live_lines(seed, schedule, cfg=None):
    """The live feed: every phase replays traffic heard at the steady
    rate; the schedule only sets how fast the lines are sent."""
    cfg = cfg or load_config()
    n = sum(c for _, _, c in schedule)
    return generate(seed, n, cfg["live_ingest"]["steady_rate"], EPOCH_MS, cfg)


def listen(port_file, accept_timeout=120.0):
    """Opens the feed's port and publishes it; a reader that dials before
    `serve` accepts waits in the listen backlog."""
    srv = socket.create_server(("127.0.0.1", 0))
    srv.settimeout(accept_timeout)
    tmp = port_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(srv.getsockname()[1]))
    os.replace(tmp, port_file)
    return srv


def serve(srv, lines, dues, stats_file):
    data = [l.encode() + b"\n" for l in lines]
    conn, _ = srv.accept()
    t0 = time.monotonic_ns()
    sent = []  # (first line index, monotonic ns once the chunk was sent)
    k, n = 0, len(data)
    while k < n:
        now = time.monotonic_ns() - t0
        j = bisect.bisect_right(dues, now, lo=k)
        if j > k:
            conn.sendall(b"".join(data[k:j]))
            sent.append((k, time.monotonic_ns() - t0))
            k = j
        else:
            time.sleep(min((dues[k] - now) / 1e9, 0.002))
    t_end = time.monotonic_ns()
    # hold the connection until the reader hangs up, as dump1090 would
    conn.settimeout(srv.gettimeout())
    try:
        while conn.recv(65536):
            pass
    except OSError:
        pass
    conn.close()
    srv.close()
    late = []
    for c, (first, at) in enumerate(sent):
        last = sent[c + 1][0] if c + 1 < len(sent) else n
        late.extend((at - dues[i]) / 1e6 for i in range(first, last))
    late.sort()
    stats = {"t0_ns": t0, "end_ns": t_end, "lines": n,
             "late_p50_ms": late[len(late) // 2] if late else 0.0,
             "late_p99_ms": late[int(len(late) * 0.99)] if late else 0.0,
             "late_max_ms": late[-1] if late else 0.0}
    tmp = stats_file + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f)
    os.replace(tmp, stats_file)


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=["serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--mode", default="ingest")
    ap.add_argument("--port-file")
    ap.add_argument("--stats-file")
    a = ap.parse_args(argv)
    srv = listen(a.port_file)
    sched = live_schedule(load_config(), a.seconds, a.mode)
    lines, _ = live_lines(a.seed, sched)
    serve(srv, lines, due_ns(sched), a.stats_file)


if __name__ == "__main__":
    main(sys.argv[1:])
