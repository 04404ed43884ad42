#!/usr/bin/env python3
"""The repo's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload live_ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the program and this
harness from source (sbt, see perfbench/build.sbt); later runs reuse the
build until a source file changes. Each run:

  * makes its inputs from --seed (perfbench/feed.py, mix in workloads.json);
  * runs the workload against the program's entry points (Ingest.start,
    Sbs1.parse / readArchive, Views.*, AdsbStore.*) in one JVM;
  * checks every output against the feed's truth or an independent DuckDB
    computation, counting wrong or failed operations in `failed`;
  * prints every metric as `name = value unit`, then one compact JSON line.

--trace 0 reports the end-to-end metrics; --trace 1 reports the per-layer
metrics (perfbench/layers.py) and the tracing overhead against the last
untraced run in this checkout with the same workload, seed, seconds and
threads (perfbench/overhead.py compares whole sets of such runs). --threads 1 runs the same workload on local[1], the
single-threaded (COST) baseline.
"""
import argparse
import calendar
import json
import os
import shutil
import subprocess
import sys
import time

T_START = time.monotonic_ns()
DEADLINE = None  # monotonic second by which the run must be done
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import feed  # noqa: E402
import layers  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ("live_ingest", "view_queries")
PARSE_SAMPLE = 10000  # archive lines the traced run's parse probe reads
UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "latency_p90_ms": "ms",
         "throughput_per_s": "1/s", "cpu_ms_per_op": "ms"}
EXTRA_UNITS = {"lag_p50_ms": "ms", "lag_p90_ms": "ms", "lag_p99_ms": "ms",
               "max_lines_s": "lines/s", "cpu_ms_per_kline": "ms",
               "task_cpu_ms_per_kline": "ms",
               "steady_task_cpu_ms_per_kline": "ms", "query_p50_ms": "ms",
               "query_p90_ms": "ms", "pass_s": "s", "cpu_s_per_pass": "s",
               "error_rate": "ratio", "generator_late_ms": "ms",
               "passes": "count", "executions": "count",
               "warmup_passes": "count"}
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def build():
    """Compiles program + harness when any source is newer than the last
    build; returns the runtime classpath."""
    target = os.path.join(HERE, "target")
    stamp = os.path.join(target, "perfbench.classpath")
    srcs = [os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        for d, _, files in os.walk(base):
            srcs.extend(os.path.join(d, f) for f in files)
    newest = max(os.path.getmtime(s) for s in srcs)
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest:
        with open(stamp) as f:
            return f.read().strip()
    # every JVM the sbt script starts: no hsperfdata under the system temp dir
    env = dict(os.environ, COURSIER_MODE="offline",
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    tmp = os.path.join(target, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's temporary files go under target/ instead of the system temp dir
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g",
            "-Djava.io.tmpdir=" + tmp, "-Djna.tmpdir=" + tmp]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building (sbt compile) ...")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if p.returncode != 0:
        log(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l][-1]
    with open(stamp, "w") as f:
        f.write(cp.strip())
    return cp.strip()


def jvm(cp, work, args, threads, jvm_flags, timeout):
    # no hsperfdata file under the system temp dir: the run writes only
    # inside the checkout
    cmd = ["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData", "-Duser.timezone=UTC"] + jvm_flags + [
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for o in JVM_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", work,
            "--threads", str(threads)] + [str(a) for a in args]
    with open(os.path.join(work, "jvm.log"), "w") as errf:
        p = subprocess.Popen(cmd, stdout=errf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise
    with open(os.path.join(work, "raw.json")) as f:
        return json.load(f)


class Feed:
    """The feed process for a live run: started before the JVM, waited for
    (or killed) after it."""

    def __init__(self, work, name, seed, seconds, mode):
        self.port_file = os.path.join(work, name + ".port")
        self.stats_file = os.path.join(work, name + ".stats.json")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "feed.py"), "serve",
             "--seed", str(seed), "--seconds", str(seconds), "--mode", mode,
             "--port-file", self.port_file, "--stats-file", self.stats_file])
        deadline = time.time() + 30
        while not os.path.exists(self.port_file):
            if time.time() > deadline or self.proc.poll() is not None:
                self.close()
                raise SystemExit("perfbench: feed did not start")
            time.sleep(0.01)
        with open(self.port_file) as f:
            self.port = int(f.read())

    def stats(self):
        try:
            self.proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            pass
        self.close()
        with open(self.stats_file) as f:
            return json.load(f)

    def close(self):
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


def run(a, cfg, cp):
    work = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    v = cfg["view_queries"]
    jargs = ["--workload", a.workload, "--trace", a.trace,
             "--timeout-s", cfg["live_ingest"]["timeout_s"], "--seconds", a.seconds,
             "--warmup-min", v["warmup_min_passes"],
             "--warmup-max", v["warmup_max_passes"],
             "--warmup-settle", v["warmup_settle"],
             "--warmup-cap-s", v["warmup_cap_s"], "--now", view_now(v)]
    live = a.workload == "live_ingest"
    # the live feed (or, traced, the ingest probe's) starts first: it
    # generates its lines while this process makes the archive and truth
    mode = "ingest" if live else "probe"
    sched = feed.live_schedule(cfg, a.seconds, mode)
    gen = Feed(work, mode, a.seed, a.seconds, mode) if live or a.trace else None
    try:
        if not live or a.trace:
            vlines, vkeys = feed.archive(a.seed, cfg)
            archive = os.path.join(work, "archive.txt")
            with open(archive, "w") as f:
                f.write("\n".join(vlines) + "\n")
            track_hex = next(k[1] for k in vkeys if k and k[0] == 3)
            jargs += ["--archive", archive, "--track-hex", track_hex]
            if a.trace:
                sample = os.path.join(work, "parse_sample.txt")
                with open(sample, "w") as f:
                    f.write("\n".join(vlines[:PARSE_SAMPLE]) + "\n")
                fam = cfg["families"]
                tdir = os.path.join(work, "families", "tables")
                tables.write(tdir, a.seed, fam)
                jargs += ["--parse-sample", sample, "--family-dir", tdir,
                          "--family-queries", ",".join(
                              "%s=%s" % fq for fq in fam["queries"].items())]
        if gen:
            _, keys = feed.live_lines(a.seed, sched, cfg)
            jargs += ["--port" if live else "--probe-port", gen.port,
                      "--lines" if live else "--probe-lines", len(keys)]
        raw = jvm(cp, work, jargs, a.threads, cfg[a.workload]["jvm_flags"],
                  timeout=DEADLINE - time.monotonic())
        stats = gen.stats() if gen else None
    finally:
        if gen:
            gen.close()
    if not raw.get("ok"):
        log("perfbench: JVM side failed: %s" % raw.get("error"))
    ctx = {"raw": raw}
    if gen:
        ctx["stream"] = {"live": raw["live" if live else "live_probe"],
                         "keys": keys, "dues": feed.due_ns(sched),
                         "sched": sched, "gen": stats}
    if live:
        s = ctx["stream"]
        ctx["result"] = check.live_metrics(raw, keys, s["dues"], sched, stats,
                                           T_START)
    else:
        checks = check.check_views(os.path.join(work, "tables", "partitioned"),
                                   os.path.join(work, "out"), layers.QUERIES,
                                   layers.LAYOUTS, view_now(v), track_hex)
        expected = sum(1 for k in vkeys if k is not None)
        ctx["result"] = check.view_metrics(raw["views"], raw["groups"], T_START,
                                           checks, expected)
    if a.trace and raw.get("families"):
        ctx["families_ok"] = check.check_families(
            os.path.join(work, "families", "tables"), raw["families"])
    return ctx


def view_now(v):
    """The end of the view_queries archive: the corpus's `now`."""
    t = time.strptime(v["start"], "%Y-%m-%d %H:%M:%S")
    end = calendar.timegm(t) + v["lines"] // v["rate"]
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(end))


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--threads", type=int, default=4)
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("perfbench: no program sources at %s/src/main/scala; run from the "
            "root of a full checkout" % ROOT)
        return 2
    cfg = feed.load_config()
    cp = build()
    global T_START, DEADLINE
    T_START = time.monotonic_ns()  # set-up time excludes the build
    DEADLINE = time.monotonic() + 170
    try:
        ctx = run(a, cfg, cp)
    except Exception as e:  # the program failed, hung or wrote no results
        log("perfbench: run failed: %r" % e)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                          "metrics": {}}))
        return 1
    metrics, attempted, failed, extra = ctx["result"]
    for q, good in sorted(ctx.get("families_ok", {}).items()):
        # the traced run's family probe: one checked operation per query
        print("%s.correct = %s" % (q, good))
        attempted += 1
        failed += 0 if good else 1
    correct = bool(ctx["raw"].get("ok")) and failed == 0 \
        and all(k in metrics for k in UNITS)
    for k, val in sorted(extra.items()):
        print("%s = %s %s" % (k, val, EXTRA_UNITS.get(k, "")))
    out = {k: {"value": metrics[k], "unit": UNITS[k]}
           for k in UNITS if k in metrics}
    # end-to-end figures kept per (mode, workload, seed, seconds, threads):
    # a traced run is compared with the untraced run of the same inputs and
    # load, and perfbench/overhead.py compares whole sets of them
    def kept(mode):
        return os.path.join(ROOT, ".bench_work", "%s.%s.seed%d.s%d.t%d.json"
                            % (mode, a.workload, a.seed, a.seconds, a.threads))
    with open(kept("traced" if a.trace else "untraced"), "w") as f:
        json.dump(out, f)
    if a.trace:
        traced = out
        out = layers.report(ctx)
        last = kept("untraced")
        base = json.load(open(last)) if os.path.exists(last) else {}
        for k, m in traced.items():
            print("traced.%s = %.6g %s" % (k, m["value"], m["unit"]))
            if k in base:
                print("trace_overhead.%s = %.6g %s (traced minus untraced)"
                      % (k, m["value"] - base[k]["value"], m["unit"]))
            else:
                print("trace_overhead.%s unavailable: no untraced run with "
                      "this workload, seed, seconds and threads in this "
                      "checkout" % k)
    for k, m in out.items():
        print("%s = %.6g %s" % (k, m["value"], m["unit"]))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out},
                     separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
