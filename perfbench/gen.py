"""Seeded input generators for the lakehouse benchmark.

Everything is a pure function of (seed, size): the same seed writes
byte-identical files. Two input sets:

* flights -- a BTS-shaped one-month CSV (January 2025), the first
  7 days of the next month as the incremental delta, and the two
  lookup CSVs (``L_AIRPORT_ID.csv``, ``L_UNIQUE_CARRIERS.csv``) with
  dangling codes on both sides of the lookup joins.
* corpus -- ``documents.parquet``, ``embeddings.parquet`` and
  ``events.parquet`` (read by the exact-dedup operator) shaped like
  the engine's sf0.1 test tables (same columns, types and value
  domains), at a chosen row count.

    python3 perfbench/gen.py flights <outDir> <seed> [rowsPerDay]
    python3 perfbench/gen.py corpus <outDir> <seed> [docs] [vectors] [events]
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The reference volume is ~17,414 flights/day (539,847 in Jan 2025); the
# benchmark scales it down to fit its run length (see README.md).
DEFAULT_ROWS_PER_DAY = 1000

N_AIRPORTS = 350
N_UNKNOWN_AIRPORTS = 3      # referenced by flights, absent from the lookup
N_DANGLING_AIRPORTS = 40    # in the lookup, never referenced
CARRIERS = [  # (code, name, schedule weight)
    ("WN", "Southwest Airlines Co.", 18), ("DL", "Delta Air Lines Inc.", 15),
    ("AA", "American Airlines Inc.", 15), ("UA", "United Air Lines Inc.", 12),
    ("OO", "SkyWest Airlines Inc.", 10), ("YX", "Republic Airline", 5),
    ("MQ", "Envoy Air", 4), ("9E", "Endeavor Air Inc.", 4),
    ("B6", "JetBlue Airways", 4), ("AS", "Alaska Airlines Inc.", 4),
    ("OH", "PSA Airlines Inc.", 3), ("NK", "Spirit Air Lines", 3),
    ("F9", "Frontier Airlines Inc.", 2), ("G4", "Allegiant Air", 2),
    ("HA", "Hawaiian Airlines Inc.", 1), ("QX", "Horizon Air", 1),
    ("ZW", "Air Wisconsin Airlines Corp", 1)]
DANGLING_CARRIERS = [("XE", "ExpressJet Airlines LLC"),
                     ("EV", "ExpressJet Airlines Inc."),
                     ("VX", "Virgin America")]

CANCEL_RATE = 0.0302
DIVERT_RATE = 0.0022
DELAYED_RATE = 0.3281      # departure delay >= 15 min
THREE_DIGIT_RATE = 0.05    # HHMM written without its leading zero
FLY_RATE = 0.97            # a scheduled leg operates on a given day
HEADER = ("FL_DATE,OP_UNIQUE_CARRIER,OP_CARRIER_FL_NUM,ORIGIN_AIRPORT_ID,"
          "ORIGIN,DEST_AIRPORT_ID,DEST,CRS_DEP_TIME,DEP_TIME,DEP_DELAY,"
          "DEP_DELAY_NEW,CRS_ARR_TIME,ARR_TIME,ARR_DELAY,ARR_DELAY_NEW,"
          "CANCELLED,DIVERTED,AIR_TIME,DISTANCE")


def _airports(rng):
    ids = np.sort(rng.choice(np.arange(10135, 16999), N_AIRPORTS +
                             N_DANGLING_AIRPORTS, replace=False))
    codes = set()
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    while len(codes) < len(ids):
        codes.add("".join(rng.choice(letters, 3)))
    codes = sorted(codes)
    order = rng.permutation(len(ids))
    xy = rng.uniform([0, 0], [2600, 1300], size=(len(ids), 2))
    return ids[order], [codes[i] for i in range(len(ids))], xy


def _schedule(rng, legs, airports):
    """One row per scheduled leg: unique (carrier, flight number), so
    (date, carrier, number, origin, scheduled departure) -- the silver
    merge key -- is unique per day."""
    ids, codes, xy = airports
    n = N_AIRPORTS
    # skewed origins: a few hubs carry most departures
    w = 1.0 / np.arange(1, n + 1) ** 1.05
    w /= w.sum()
    origin = rng.choice(n, legs, p=w)
    dest = rng.choice(n, legs, p=w)
    clash = origin == dest
    dest[clash] = (dest[clash] + 1 + rng.integers(0, n - 1, clash.sum())) % n
    cw = np.array([c[2] for c in CARRIERS], dtype=float)
    carrier = rng.choice(len(CARRIERS), legs, p=cw / cw.sum())
    number = np.zeros(legs, dtype=np.int64)
    for c in range(len(CARRIERS)):
        idx = np.flatnonzero(carrier == c)
        number[idx] = rng.choice(np.arange(1, 9000), len(idx), replace=False)
    dist = np.round(np.hypot(*(xy[origin] - xy[dest]).T) + 60.0)
    crs_dep = rng.integers(5 * 12, 23 * 12, legs) * 5   # 05:00..22:55
    block = np.round(dist / 7.6 + 28).astype(np.int64)
    return dict(origin=origin, dest=dest, carrier=carrier, number=number,
                dist=dist, crs_dep=crs_dep, block=block)


def _hhmm(minutes, short):
    m = int(minutes) % 1440
    s = "%02d%02d" % (m // 60, m % 60)
    return s[1:] if short and s[0] == "0" else s


def _fmt(x):
    return "" if x is None else "%.1f" % x


def _day_rows(rng, day, sched, ids, codes):
    legs = len(sched["origin"])
    flies = np.flatnonzero(rng.random(legs) < FLY_RATE)
    k = len(flies)
    cancelled = rng.random(k) < CANCEL_RATE
    diverted = ~cancelled & (rng.random(k) < DIVERT_RATE / (1 - CANCEL_RATE))
    u = rng.random(k)
    dep_delay = np.where(
        u < DELAYED_RATE, 15 + np.minimum(rng.exponential(27.0, k), 400),
        np.where(u < DELAYED_RATE + 0.12, rng.integers(1, 15, k),
                 -rng.integers(0, 16, k))).round()
    arr_delay = (dep_delay + rng.normal(-4, 9, k)).round()
    air = np.maximum(18, (sched["dist"][flies] / 8.2 + 12 +
                          rng.normal(0, 6, k)).round())
    null_dep = rng.random(k) < 0.004     # missing times on operated legs
    short = rng.random((k, 4)) < THREE_DIGIT_RATE
    lower = rng.random(k) < 0.001
    date = "%d/%d/%d 12:00:00 AM" % (day.month, day.day, day.year)
    out = []
    for j in range(k):
        leg = flies[j]
        o, d = sched["origin"][leg], sched["dest"][leg]
        crs_dep = sched["crs_dep"][leg]
        crs_arr = crs_dep + sched["block"][leg]
        if cancelled[j]:
            dep_t = arr_t = None
            dd = ad = at = None
        else:
            dd, ad, at = dep_delay[j], arr_delay[j], air[j]
            dep_t = _hhmm(crs_dep + dd, short[j, 1])
            arr_t = _hhmm(crs_arr + ad, short[j, 3])
            if diverted[j]:
                arr_t, ad, at = None, None, None
            if null_dep[j]:
                dep_t, dd = None, None
        origin = codes[o].lower() if lower[j] else codes[o]
        out.append(",".join((
            date, CARRIERS[sched["carrier"][leg]][0],
            str(sched["number"][leg]), str(ids[o]), origin, str(ids[d]),
            codes[d], _hhmm(crs_dep, short[j, 0]), dep_t or "", _fmt(dd),
            _fmt(None if dd is None else max(dd, 0.0)),
            _hhmm(crs_arr, short[j, 2]), arr_t or "", _fmt(ad),
            _fmt(None if ad is None else max(ad, 0.0)),
            "1.0" if cancelled[j] else "0.0",
            "1.0" if diverted[j] else "0.0", _fmt(at),
            _fmt(sched["dist"][leg]))))
    return out


def _write(path, lines):
    with open(path, "w", newline="\n") as f:
        f.write("\n".join(lines) + "\n")


def flights(out_dir, seed, rows_per_day=DEFAULT_ROWS_PER_DAY):
    """Write month.csv (Jan 2025), delta.csv (Feb 1-7 2025) and the
    lookups. Returns {name: (rows, bytes)} for the flight files."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    airports = _airports(rng)
    ids, codes, _ = airports
    sched = _schedule(rng, int(round(rows_per_day / FLY_RATE)), airports)
    # the lookup misses a few referenced airports (left join -> null
    # name) and carries unreferenced ones (dangling dimension rows)
    used = set(sched["origin"]) | set(sched["dest"])
    unknown = set(sorted(used)[: N_UNKNOWN_AIRPORTS * 7: 7])
    air_lines = ["Code,Description"] + [
        '%d,"City %d, S%d: %s Airport"' % (ids[i], i, i % 50, codes[i])
        for i in range(len(ids)) if i not in unknown]
    _write(os.path.join(out_dir, "L_AIRPORT_ID.csv"), air_lines)
    _write(os.path.join(out_dir, "L_UNIQUE_CARRIERS.csv"),
           ["Code,Description"] + ['%s,"%s"' % (c, n) for c, n, _ in
                                   CARRIERS] +
           ['%s,"%s"' % c for c in DANGLING_CARRIERS])
    sizes = {}
    for name, start, days in (("month", datetime.date(2025, 1, 1), 31),
                              ("delta", datetime.date(2025, 2, 1), 7)):
        lines = [HEADER]
        for i in range(days):
            day = start + datetime.timedelta(days=i)
            lines += _day_rows(np.random.default_rng([seed, 2, day.toordinal()]),
                               day, sched, ids, codes)
        path = os.path.join(out_dir, name + ".csv")
        _write(path, lines)
        sizes[name] = (len(lines) - 1, os.path.getsize(path))
    return sizes


WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = (("en", 0.41), ("es", 0.15), ("zh", 0.15), ("de", 0.14),
         ("fr", 0.15))


EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
ROW_GROUP = 32


def corpus(out_dir, seed, n_docs=300, n_vecs=300, n_events=3000, dim=64):
    """documents: word-salad texts with ~5% near-duplicates (an earlier
    text plus " dup") and a few exact copies of those; embeddings:
    unit-norm float vectors with a label in 0..9; events: a month of
    user events (1,500 users, five types, cent-rounded values)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    texts = []
    for i in range(n_docs):
        u = rng.random()
        if i > 20 and u < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 20 and u < 0.0516:
            dups = [t for t in texts[-200:] if t.endswith(" dup")]
            texts.append(dups[-1] if dups else texts[rng.integers(0, i)])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(WORDS, n)))
    langs = rng.choice([l for l, _ in LANGS], n_docs,
                       p=[p for _, p in LANGS])
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array(["src%d" % (i % 20) for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    # several row groups per file, as a writer with a bounded row-group
    # size leaves them; the oracle check parallelizes over them
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"),
                   row_group_size=ROW_GROUP)
    v = rng.normal(size=(n_vecs, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32))})
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"),
                   row_group_size=ROW_GROUP)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    ev = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(start + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_events)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events).tolist(),
                               pa.string()),
        "value": pa.array(np.round(rng.exponential(60.0, n_events), 2)),
        "props": pa.array(['{"k": %d}' % k for k in
                           rng.integers(0, 100, n_events)])})
    pq.write_table(ev, os.path.join(out_dir, "events.parquet"))
    return {t: (n, os.path.getsize(os.path.join(out_dir, t + ".parquet")))
            for t, n in (("documents", n_docs), ("embeddings", n_vecs),
                         ("events", n_events))}


if __name__ == "__main__":
    kind, out, seed = sys.argv[1], sys.argv[2], int(sys.argv[3])
    extra = [int(a) for a in sys.argv[4:]]
    print((flights if kind == "flights" else corpus)(out, seed, *extra))
