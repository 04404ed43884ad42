"""Output checks and metrics for the benchmark.

Every function here works on the raw observations the JVM side wrote
(`raw.json`), the feed's own truth (each line's expected key) and the
stored outputs, which DuckDB reads independently of Spark. A failed or
wrong operation is counted in `failed` and contributes no timing.
"""
import bisect
import os

import duckdb


def pct(values, q):
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, int(round(q / 100.0 * len(v) + 0.5)) - 1))]


def median(values):
    v = sorted(values)
    n = len(v)
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2.0


def cpu_between(samples, t0, t1):
    """Process CPU ns between two monotonic instants, interpolated."""
    return _interp(samples, t1, 1) - _interp(samples, t0, 1)


def _interp(samples, t, col):
    ts = [s[0] for s in samples]
    i = bisect.bisect_left(ts, t)
    if i <= 0:
        return samples[0][col]
    if i >= len(samples):
        return samples[-1][col]
    (a, b) = samples[i - 1], samples[i]
    f = (t - a[0]) / float(b[0] - a[0]) if b[0] > a[0] else 0.0
    return a[col] + f * (b[col] - a[col])


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _parquet(path):
    # a Spark output dir: part files, possibly below partition dirs
    return ("read_parquet('%s/**/*.parquet', hive_partitioning=true, "
            "union_by_name=true)" % path)


# ------------------------------------------------------------------ live

def sink_groups(sink):
    """Rows per parsed_time (ascending) and PK duplicates in the sink."""
    con = _con()
    src = _parquet(sink)
    groups = [r[1] for r in con.execute(
        "SELECT epoch_us(parsed_time) t, count(*) FROM %s GROUP BY t ORDER BY t"
        % src).fetchall()]
    dupes = con.execute(
        "SELECT count(*) - count(DISTINCT (transmission_type, parsed_time, "
        "hex_ident)) FROM %s" % src).fetchone()[0]
    return groups, dupes


def check_batches(batches, keys, groups, dupes):
    """Matches every committed batch against the feed's truth.

    A batch must write exactly the distinct (transmission_type, hex_ident)
    keys among its gate-passing lines; parsed_time is stamped once per
    micro-batch, so the sink's parsed_time groups (ascending) are the
    non-empty batches in order. Returns (ok batches, failed line count,
    rows expected in total).
    """
    data = sorted((b for b in batches if b["end"] > b["start"]),
                  key=lambda b: b["batch"])
    expected = [len({keys[i] for i in range(b["start"], b["end"])
                     if keys[i] is not None}) for b in data]
    writing = [i for i, e in enumerate(expected) if e > 0]
    ok, failed = [], 0
    prev_end = 0
    for j, b in enumerate(data):
        good = b["start"] == prev_end and dupes == 0
        if expected[j] > 0:
            k = writing.index(j)
            good = good and len(writing) == len(groups) \
                and groups[k] == expected[j]
        prev_end = b["end"]
        if good:
            ok.append(b)
        else:
            failed += b["end"] - b["start"]
    return ok, failed, sum(expected)


def live_metrics(raw, keys, dues, sched, gen, t_start):
    """End-to-end metrics of a live run; returns (metrics, attempted,
    failed, extra) where extra holds the figures printed above the JSON line."""
    live = raw["live"]
    groups = raw["groups"]
    n = len(keys)
    sink_rows, dupes = sink_groups(live["sink"])
    ok, failed, _ = check_batches(live["batches"], keys, sink_rows, dupes)
    failed += max(0, n - live["committed"])
    t0 = gen["t0_ns"]
    n_warm = sched[0][2]
    n_steady = n_warm + sched[1][2]
    lags = []
    for b in ok:
        for i in range(max(b["start"], n_warm), min(b["end"], n_steady)):
            lags.append((b["at_ns"] - t0 - dues[i]) / 1e6)
    steady_from = t0 + dues[n_warm]
    steady_to = t0 + dues[n_steady - 1]
    samples = raw["cpu_samples"]

    def task_ms(bs):
        return sum(groups.get(b["group"], {}).get("cpu_ns", 0) for b in bs) / 1e6

    steady = [b for b in ok if n_warm <= b["start"] < n_steady]
    m = {"setup_s": (steady_from - t_start) / 1e9}
    extra = {"cpu_ms_per_kline": cpu_between(samples, steady_from, steady_to)
             / 1e6 / ((n_steady - n_warm) / 1000.0),
             "generator_late_ms": gen["late_p99_ms"]}
    if lags:
        m["latency_p50_ms"] = extra["lag_p50_ms"] = pct(lags, 50)
        m["latency_p90_ms"] = extra["lag_p90_ms"] = pct(lags, 90)
        extra["lag_p99_ms"] = pct(lags, 99)
    if steady:
        extra["steady_task_cpu_ms_per_kline"] = task_ms(steady) / (
            sum(b["end"] - b["start"] for b in steady) / 1000.0)
    over = [b for b in ok if b["start"] >= n_steady]
    # the first overload batch holds lines that arrived before the backlog
    # built, and the one that reaches the feed's last line drains what is
    # left after the feed stopped; the ones between run back to back at
    # capacity
    full = [b for b in over[1:] if b["end"] < n] or over
    secs = sum(b["duration_ms"].get("triggerExecution", 0) for b in full) / 1e3
    lines = sum(b["end"] - b["start"] for b in full)
    if secs > 0:
        m["throughput_per_s"] = extra["max_lines_s"] = lines / secs
        # task CPU per 1,000 lines at capacity: big batches, so per-batch
        # fixed costs are amortised and one slow batch moves little
        m["cpu_ms_per_op"] = extra["task_cpu_ms_per_kline"] = \
            task_ms(full) / (lines / 1000.0)
    extra["error_rate"] = failed / float(n)
    return m, n, failed, extra


# ----------------------------------------------------------------- views

def oracle_sql(q, now, track_hex):
    """Independent DuckDB formulation of each corpus query over `adsb`."""
    cs = ("SELECT callsign, hex_ident, CAST(parsed_time AS DATE) AS date_seen, "
          "max(parsed_time) AS last_seen, min(parsed_time) AS first_seen "
          "FROM adsb WHERE callsign <> '' GROUP BY 1, 2, 3")
    loc = ("SELECT hex_ident, parsed_time, lon, lat, altitude FROM adsb "
           "WHERE lat IS NOT NULL")
    w = "WINDOW w AS (PARTITION BY hex_ident ORDER BY parsed_time, lon)"
    dist = "sqrt((lon - x0) * (lon - x0) + (lat - y0) * (lat - y0))"
    return {
        "callsigns": cs,
        "locations": loc,
        "flights": (
            "WITH cs AS (%s), l AS (%s) SELECT DISTINCT l.hex_ident, "
            "l.parsed_time, l.lon, l.lat, l.altitude, cs.callsign FROM l "
            "JOIN cs ON l.hex_ident = cs.hex_ident "
            "AND l.parsed_time <= cs.last_seen + INTERVAL 10 MINUTE "
            "AND l.parsed_time >= cs.first_seen - INTERVAL 10 MINUTE"
            % (cs, loc)),
        "fdx": "SELECT * FROM (%s) WHERE callsign LIKE 'FDX%%'" % cs,
        "track_one": ("SELECT * FROM (%s) WHERE hex_ident = '%s' "
                      "ORDER BY parsed_time LIMIT 10" % (loc, track_hex)),
        "recent5": "SELECT * FROM adsb ORDER BY parsed_time DESC LIMIT 5",
        "points_24h": (
            "SELECT hex_ident, lon AS x, lat AS y FROM (%s) WHERE parsed_time "
            "BETWEEN TIMESTAMP '%s' - INTERVAL 24 HOUR AND TIMESTAMP '%s'"
            % (loc, now, now)),
        "lines": (
            "SELECT hex_ident, num, x, y, x2, y2 FROM (SELECT hex_ident, "
            "CAST(row_number() OVER w AS BIGINT) AS num, lon AS x, lat AS y, "
            "lead(lon) OVER w AS x2, lead(lat) OVER w AS y2 FROM (%s) %s) "
            "WHERE y2 IS NOT NULL" % (loc, w)),
        "speed": (
            "WITH legs AS (SELECT hex_ident, parsed_time, lon, lat, "
            "lag(lon) OVER w AS x0, lag(lat) OVER w AS y0, "
            "lag(parsed_time) OVER w AS t0 FROM (%s) %s) "
            "SELECT hex_ident, parsed_time, "
            "CAST(floor(1000000.0 * (%s)) AS BIGINT) AS dist_micro, "
            "date_diff('microsecond', t0, parsed_time) AS dt_micros, "
            "CAST(floor(1000000.0 * (%s / (date_diff('microsecond', t0, "
            "parsed_time) / 1000000.0))) AS BIGINT) AS speed_micro "
            "FROM legs WHERE t0 IS NOT NULL AND parsed_time > t0"
            % (loc, w, dist, dist)),
    }[q]


def same_rows(con, out_dir, sql):
    """True when Spark's stored output and the oracle are equal multisets."""
    con.execute("CREATE OR REPLACE TEMP VIEW o AS %s" % sql)
    cols = [r[0] for r in con.execute("DESCRIBE o").fetchall()]
    sel = ", ".join('"%s"' % c for c in cols)
    con.execute("CREATE OR REPLACE TEMP VIEW s AS SELECT %s FROM %s"
                % (sel, _parquet(out_dir)))
    diff = con.execute(
        "SELECT (SELECT count(*) FROM (SELECT * FROM s EXCEPT ALL "
        "SELECT * FROM o)) + (SELECT count(*) FROM (SELECT * FROM o "
        "EXCEPT ALL SELECT * FROM s))").fetchone()[0]
    n = con.execute("SELECT (SELECT count(*) FROM s), (SELECT count(*) FROM o)"
                    ).fetchone()
    return diff == 0 and n[0] == n[1]


def check_views(table_dir, out_dir, names, layouts, now, track_hex):
    """(query, layout) → output matches the oracle over the stored table."""
    con = _con()
    con.execute("CREATE OR REPLACE TEMP VIEW adsb AS SELECT * EXCLUDE "
                "(ingest_date) FROM %s" % _parquet(table_dir))
    res = {}
    for q in names:
        sql = oracle_sql(q, now, track_hex)
        for lay in layouts:
            path = os.path.join(out_dir, "%s.%s" % (q, lay))
            try:
                res[(q, lay)] = same_rows(con, path, sql)
            except duckdb.Error:
                res[(q, lay)] = False
    return res


def view_metrics(views, groups, t_start, checks, expected_rows):
    """End-to-end metrics of view_queries; same return shape as live.

    Every good execution of every measured pass is one sample: the
    percentiles are over all of them, the rate is executions per second of
    execution time (one closed-loop client), and CPU is the mean Spark task
    CPU of an execution."""
    setup = views["setup"]
    rows_ok = all(r == expected_rows for r in setup["rows"].values())
    execs = [e for p in views["passes"] for e in p]
    good = [e for e in execs if e["error"] is None and rows_ok
            and checks.get((e["q"], e["layout"]), False)]
    failed = len(execs) - len(good)
    passes = [(max(e["end_ns"] for e in p) - min(e["start_ns"] for e in p)) / 1e9
              for p in views["passes"]]
    pcpu = [sum(e["cpu_ns"] for e in p) / 1e9 for p in views["passes"]]
    m = {"setup_s": (views["first_measured_ns"] - t_start) / 1e9}
    extra = {"pass_s": median(passes), "cpu_s_per_pass": median(pcpu),
             "passes": len(passes), "executions": len(good),
             "warmup_passes": len(views["warmup_pass_ns"]),
             "table_rows_ok": rows_ok}
    if good:
        ms = [(e["end_ns"] - e["start_ns"]) / 1e6 for e in good]
        m["latency_p50_ms"] = extra["query_p50_ms"] = pct(ms, 50)
        m["latency_p90_ms"] = extra["query_p90_ms"] = pct(ms, 90)
        m["throughput_per_s"] = len(ms) / sum(ms) * 1000.0
        m["cpu_ms_per_op"] = sum(groups.get(e["key"], {}).get("cpu_ns", 0)
                                 for e in good) / 1e6 / len(good)
    extra["error_rate"] = failed / float(max(1, len(execs)))
    return m, max(1, len(execs)), failed, extra


# -------------------------------------------------------------- families

def check_families(table_dir, runs):
    """query → its Spark output equals its DuckDB oracle over the same
    generated tables (same column names, rows as a multiset). A query that
    failed, has no oracle or differs is False."""
    res = {}
    for r in runs:
        con = _con()
        for t in ("documents", "embeddings", "events"):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                        % (t, os.path.join(table_dir, t + ".parquet")))
        try:
            ok = r["error"] is None and r["oracle"] is not None
            if ok:
                con.execute("CREATE TEMP VIEW so AS SELECT * FROM %s"
                            % _parquet(r["out"]))
                got = sorted(c[0] for c in con.execute("DESCRIBE so").fetchall())
                con.execute("CREATE TEMP VIEW oo AS %s" % r["oracle"])
                want = sorted(c[0] for c in con.execute("DESCRIBE oo").fetchall())
                ok = got == want and same_rows(con, r["out"], r["oracle"])
        except duckdb.Error:
            ok = False
        finally:
            con.close()
        res[r["q"]] = ok
    return res
