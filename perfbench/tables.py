"""Seeded input tables for the traced run's operator-family probe.

The extension operators in `SparkEntry.queries` read parquet tables by
name from one directory (TESTDATA.md). This module writes three of them,
with the same columns and types, from a seed:

  documents  (doc_id, text, lang, source, n_chars): word-salad texts over
             a 31-word vocabulary, 10-99 words; one in ten is a near copy
             of an earlier text (a few words changed), so the dedup
             detectors have pairs to find
  embeddings (vec_id, embedding FLOAT[64], label): unit vectors around ten
             label centroids
  events     (event_id, ts TIMESTAMP, user_id, event_type, value,
             props): 30 days of events from 150 users

    python3 perfbench/tables.py OUT_DIR --seed 1
"""
import argparse
import math
import os
import random
import sys

import duckdb

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "line sort window data column join small big customer query order "
         "stream spark filter group vector").split()
LANGS = (("en", 0.44), ("de", 0.14), ("es", 0.15), ("fr", 0.13), ("zh", 0.14))
EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
DIM = 64


def _documents(rng, n):
    rows, texts = [], []
    langs = [l for l, _ in LANGS]
    weights = [w for _, w in LANGS]
    for i in range(n):
        if texts and rng.random() < 0.1:
            words = rng.choice(texts).split()
            for _ in range(rng.randrange(1, 4)):
                words[rng.randrange(len(words))] = rng.choice(WORDS)
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randrange(10, 100))]
        text = " ".join(words)
        texts.append(text)
        rows.append((i, text, rng.choices(langs, weights)[0],
                     "src%d" % rng.randrange(20), len(text)))
    return rows


def _unit(v):
    norm = math.sqrt(sum(x * x for x in v))
    return [x / norm for x in v]


def _embeddings(rng, n):
    cents = [_unit([rng.gauss(0, 1) for _ in range(DIM)]) for _ in range(10)]
    rows = []
    for i in range(n):
        label = rng.randrange(10)
        v = _unit([c + rng.gauss(0, 0.12) for c in cents[label]])
        rows.append((i, v, label))
    return rows


def _events(rng, n):
    t0 = 1704067200 * 10 ** 6  # 2024-01-01 00:00:00 UTC, in microseconds
    span = 30 * 86400 * 10 ** 6
    ts = sorted(t0 + rng.randrange(span) for _ in range(n))
    return [(i, t, rng.randrange(150), rng.choice(EVENT_TYPES),
             max(0.01, round(rng.expovariate(1 / 50.0), 2)),
             '{"k": %d}' % rng.randrange(100)) for i, t in enumerate(ts)]


def write(out, seed, sizes):
    """Writes documents/embeddings/events.parquet under `out`."""
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    specs = (
        ("documents", _documents(rng, sizes["documents"]),
         "doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR, "
         "n_chars BIGINT"),
        ("embeddings", _embeddings(rng, sizes["embeddings"]),
         "vec_id BIGINT, embedding FLOAT[], label INTEGER"),
        ("events", _events(rng, sizes["events"]),
         "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type VARCHAR, "
         "value DOUBLE, props VARCHAR"))
    for name, rows, cols in specs:
        con.execute("CREATE TABLE %s (%s)" % (name, cols))
        con.executemany("INSERT INTO %s VALUES (%s)" % (
            name, ", ".join("?" * len(rows[0]))), rows)
        sel = "*"
        if name == "events":
            sel = ("event_id, make_timestamp(ts) AS ts, user_id, event_type, "
                   "value, props")
        con.execute("COPY (SELECT %s FROM %s ORDER BY 1) TO '%s' "
                    "(FORMAT PARQUET)" % (sel, name, os.path.join(
                        out, name + ".parquet")))
    con.close()


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args(argv)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import feed
    write(a.out, a.seed, feed.load_config()["families"])


if __name__ == "__main__":
    main(sys.argv[1:])
