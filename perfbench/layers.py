"""Per-layer metrics of a traced run (`--trace 1`), named after modules.

Every traced run reports every layer: from the workload where it exercises
the layer, otherwise from the isolated probe the JVM side ran after it
(a short `Ingest.start` stream, `Sbs1.parse` over the archive into the noop
sink, one `view_queries` pass over a table built from the archive, one
`SparkEntry.queries` entry per extension family over generated tables).

Layer → what it should move (see perfbench/README.md):
  sbs1_source, sbs1, ingest → lag and max commit rate on live_ingest
  views, adsb_store         → query latency and pass time on view_queries
  <family>_queries          → time of the extension operators (probe only)
  jvm                       → tail latencies everywhere
"""
import bisect
import os

from check import median, pct, sink_groups

QUERIES = ("callsigns", "locations", "flights", "fdx", "track_one", "recent5",
           "points_24h", "lines", "speed")
LAYOUTS = ("partitioned", "bucketed")
FAMILIES = ("text_queries", "similarity_queries", "multimodal_queries",
            "relational_queries", "sketch_queries")
PHASES = (("trigger", "triggerExecution"), ("add_batch", "addBatch"),
          ("query_planning", "queryPlanning"), ("wal_commit", "walCommit"),
          ("commit_offsets", "commitOffsets"))


def names():
    """Every per-layer metric as (name, unit), in report order."""
    out = [("sbs1_source.backlog_lines_p50", "lines"),
           ("sbs1_source.backlog_lines_max", "lines"),
           ("sbs1_source.input_tasks", "count"),
           ("sbs1.parse_us_per_line", "us"),
           ("sbs1.parse_cpu_us_per_line", "us"),
           ("sbs1.kept_ratio", "ratio"),
           ("sbs1.read_archive_s", "s")]
    for n, _ in PHASES:
        out += [("ingest.%s_ms_p50" % n, "ms"), ("ingest.%s_ms_p99" % n, "ms")]
    out += [("ingest.state_rows", "count"), ("ingest.state_bytes", "bytes"),
            ("ingest.state_commit_ms", "ms"), ("ingest.state_update_ms", "ms"),
            ("ingest.dedup_kept_ratio", "ratio"),
            ("ingest.exec_cpu_ms", "ms"), ("ingest.shuffle_bytes", "bytes"),
            ("ingest.tasks", "count"), ("ingest.sink_files", "count"),
            ("ingest.sink_bytes_per_row", "bytes")]
    for q in QUERIES:
        for lay in LAYOUTS:
            out += [("views.%s.%s.ms" % (q, lay), "ms"),
                    ("views.%s.%s.shuffle_bytes" % (q, lay), "bytes")]
        out.append(("views.%s.plan_ms" % q, "ms"))
    out += [("adsb_store.save_s", "s"), ("adsb_store.files", "count")]
    for fam in FAMILIES:
        out += [("%s.s" % fam, "s"), ("%s.cpu_s" % fam, "s"),
                ("%s.shuffle_bytes" % fam, "bytes"),
                ("%s.spill_bytes" % fam, "bytes"), ("%s.driver_ms" % fam, "ms")]
    out += [("jvm.gc_ms", "ms"), ("feed.generator_late_ms", "ms")]
    return out


def _stream(live, keys, dues, sched, gen, groups, put):
    n_warm = sched[0][2]
    data = sorted((b for b in live["batches"] if b["end"] > b["start"]),
                  key=lambda b: b["batch"])
    bs = [b for b in data if b["start"] >= n_warm] or data
    g = [groups.get(b["group"], {}) for b in bs]
    backlog = []
    for b in bs:
        trig = b["at_ns"] - b["duration_ms"].get("triggerExecution", 0) * 1e6
        sent = bisect.bisect_right(dues, trig - gen["t0_ns"])
        backlog.append(max(0, sent - b["end"]))
    put("sbs1_source.backlog_lines_p50", median(backlog))
    put("sbs1_source.backlog_lines_max", max(backlog))
    put("sbs1_source.input_tasks", median([x.get("input_tasks", 0) for x in g]))
    for n, k in PHASES:
        d = [b["duration_ms"].get(k, 0) for b in bs]
        put("ingest.%s_ms_p50" % n, pct(d, 50))
        put("ingest.%s_ms_p99" % n, pct(d, 99))
    st = [b["state"] for b in bs if b.get("state")]
    put("ingest.state_rows", st[-1]["rows_total"])
    put("ingest.state_bytes", st[-1]["bytes"])
    put("ingest.state_commit_ms", median([s["commit_ms"] for s in st]))
    put("ingest.state_update_ms", median([s["update_ms"] for s in st]))
    # the file sink reports no row count: count the sink itself
    written = sum(sink_groups(live["sink"])[0])
    passing = sum(1 for b in data for i in range(b["start"], b["end"])
                  if keys[i] is not None)
    put("ingest.dedup_kept_ratio", written / float(max(1, passing)))
    put("ingest.exec_cpu_ms", median([x.get("cpu_ns", 0) / 1e6 for x in g]))
    put("ingest.shuffle_bytes", median([x.get("shuffle_write", 0) for x in g]))
    put("ingest.tasks", median([x.get("tasks", 0) for x in g]))
    files = [os.path.join(d, f) for d, _, fs in os.walk(live["sink"])
             for f in fs if f.endswith(".parquet")]
    put("ingest.sink_files", len(files))
    put("ingest.sink_bytes_per_row",
        sum(os.path.getsize(f) for f in files) / float(max(1, written)))


def _views(views, groups, put):
    execs = [e for p in views["passes"] for e in p if e["error"] is None]
    for q in QUERIES:
        plans = []
        for lay in LAYOUTS:
            mine = [e for e in execs if e["q"] == q and e["layout"] == lay]
            put("views.%s.%s.ms" % (q, lay),
                median([(e["end_ns"] - e["start_ns"]) / 1e6 for e in mine]))
            put("views.%s.%s.shuffle_bytes" % (q, lay),
                median([groups.get(e["key"], {}).get("shuffle_write", 0)
                        for e in mine]))
            plans += [sum(e["plan_ms"].values()) for e in mine if e["plan_ms"]]
        put("views.%s.plan_ms" % q, median(plans))
    put("sbs1.read_archive_s", views["setup"]["parse_write_ns"] / 1e9)
    put("adsb_store.save_s", views["setup"]["save_ns"] / 1e9)
    put("adsb_store.files", views["setup"]["store_files"])


def _union_ms(intervals):
    """Length of the union of [start, end] intervals (ms)."""
    total, reach = 0, None
    for a, b in sorted(intervals):
        if reach is None or a > reach:
            total += b - a
            reach = b
        elif b > reach:
            total += b - reach
            reach = b
    return total


def _families(runs, groups, put):
    """One query per family: wall and process CPU of the timed run, its
    tasks' shuffle writes and spills, and the driver's share of the wall
    time (wall minus the union of the query's stage intervals)."""
    for r in runs:
        g = groups.get(r["key"], {})
        wall_ms = r["wall_ns"] / 1e6
        fam = r["family"]
        put("%s.s" % fam, wall_ms / 1e3)
        put("%s.cpu_s" % fam, r["cpu_ns"] / 1e9)
        put("%s.shuffle_bytes" % fam, g.get("shuffle_write", 0))
        put("%s.spill_bytes" % fam, g.get("spill", 0))
        put("%s.driver_ms" % fam,
            max(0.0, wall_ms - _union_ms(g.get("stages", []))))


def report(ctx):
    """Per-layer metrics as {name: {"value", "unit"}} for the contract line."""
    raw = ctx["raw"]
    units = dict(names())
    vals = {}

    def put(name, value):
        vals[name] = float(value)

    groups = raw.get("groups", {})
    s = ctx["stream"]
    _stream(s["live"], s["keys"], s["dues"], s["sched"], s["gen"], groups, put)
    pp = raw["parse_probe"]
    put("sbs1.parse_us_per_line", pp["wall_ns"] / 1e3 / pp["lines"])
    put("sbs1.parse_cpu_us_per_line", pp["cpu_ns"] / 1e3 / pp["lines"])
    put("sbs1.kept_ratio", pp["kept"] / float(pp["lines"]))
    _views(raw["views"], groups, put)
    _families(raw["families"], groups, put)
    cpu = raw["cpu_samples"]
    put("jvm.gc_ms", cpu[-1][2] - cpu[0][2])
    put("feed.generator_late_ms", s["gen"]["late_p99_ms"])
    return {k: {"value": vals[k], "unit": units[k]} for k, _ in names()}
