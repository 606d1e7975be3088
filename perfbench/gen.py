"""Seeded inputs for the benchmark.

Everything here is a pure function of the seed, so the same seed gives
byte-identical files, and the correctness checks recompute the expected
series from these functions instead of from anything the program wrote.

Archive (`events` schema: event_id, ts, user_id, event_type, value, props):
  * DENSE attributes sampled at 1 Hz for DAYS days, t = T0 + phase + i s;
  * every other (user, event_type) pair of USERS x TYPES is a sparse
    attribute with SPARSE_POINTS points at seeded times, so the catalog
    holds USERS * len(TYPES) names;
  * one parquet file per UTC day, µs timestamps (parquet footers carry
    per-file min/max, which the program's file index prunes on).
Documents (`documents` schema: doc_id, text, lang, source, n_chars) for
the pipeline queries: a timed corpus and a smaller warm-up corpus.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000
T0 = 1709510400 * US  # 2024-03-04T00:00:00Z
DAYS = 7
TYPES = ["click", "error", "purchase", "signup", "view"]
USERS = 5000
SPARSE_POINTS = 2
DENSE = [(0, "view"), (1, "click"), (2, "purchase"), (3, "signup")]
CS = "events.cs:10000"
WIDTH, HEIGHT = 1000, 400

DOCS = 2000
DOCS_WARM = 200
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

# one query per family: retrieval, exchange-heavy dedup, iterative
PIPELINE = ["p67_hard_negatives", "p20_dedup_apply", "p16_dedup_clusters"]


def att_name(user, etype):
    return f"u{user}/{etype}"


def catalog_name(user, etype):
    """The name the catalog routes format: domain/family/member/name."""
    return f"events/stream/u{user}/{etype}"


def _rng(seed, *salt):
    return np.random.Generator(np.random.PCG64([seed, *salt]))


def dense_series(seed, k):
    """(t_us, value) of dense attribute k over the whole week, in steps
    of 0.01: a daily cycle and two faster ones whose periods divide a
    day (3 h, 9 min), with fixed phases per attribute, plus seeded
    noise, from a seeded sub-second start. Every day has the same shape
    whatever the seed, so rendered images (and their sizes) vary little
    from seed to seed."""
    r = _rng(seed, 1, k)
    n = DAYS * 86400
    phase = int(r.integers(0, US))
    t = T0 + phase + np.arange(n, dtype=np.int64) * US
    i = np.arange(n, dtype=np.float64)
    p = (0.7 * k, 1.3 + 0.9 * k, 2.1 + 1.7 * k)
    wave = ((3000 + 500 * k) * np.sin(2 * np.pi * i / 86400 + p[0])
            + 800 * np.sin(2 * np.pi * i / 10800 + p[1])
            + 200 * np.sin(2 * np.pi * i / 540 + p[2]))
    noise = r.integers(-25, 26, size=n, dtype=np.int64)
    v = (np.rint(wave).astype(np.int64) + noise) / 100.0
    return t, v


def dense_phase(seed, k):
    return int(_rng(seed, 1, k).integers(0, US))


def dense_count(seed, k, t0, t1):
    """Closed-form number of dense points of attribute k in [t0, t1]."""
    first = T0 + dense_phase(seed, k)
    n = DAYS * 86400
    lo = max(0, -((first - t0) // US))  # ceil((t0 - first) / US)
    hi = min(n - 1, (t1 - first) // US)
    return max(0, hi - lo + 1)


def sparse_points():
    """(user, type index) of every sparse attribute, in a fixed order."""
    dense = {(u, TYPES.index(e)) for u, e in DENSE}
    return [(u, j) for u in range(USERS) for j in range(len(TYPES))
            if (u, j) not in dense]


def sparse_series(seed):
    """user, type index, t_us, value arrays of all sparse points."""
    keys = np.array(sparse_points(), dtype=np.int64)
    r = _rng(seed, 2)
    reps = np.repeat(keys, SPARSE_POINTS, axis=0)
    t = T0 + r.integers(0, DAYS * 86400 * US, size=len(reps), dtype=np.int64)
    v = r.integers(0, 100000, size=len(reps), dtype=np.int64) / 100.0
    return reps[:, 0], reps[:, 1], t, v


def archive_columns(seed):
    """All points, sorted by (ts, user, type), as numpy columns."""
    users, types, ts, vals = [], [], [], []
    for k, (u, e) in enumerate(DENSE):
        t, v = dense_series(seed, k)
        users.append(np.full(len(t), u, np.int64))
        types.append(np.full(len(t), TYPES.index(e), np.int64))
        ts.append(t)
        vals.append(v)
    su, st, sts, sv = sparse_series(seed)
    users.append(su)
    types.append(st)
    ts.append(sts)
    vals.append(sv)
    u, ty, t, v = (np.concatenate(x) for x in (users, types, ts, vals))
    order = np.lexsort((ty, u, t))
    return u[order], ty[order], t[order], v[order]


def write_archive(seed, d):
    """The events table as directory d with one file per UTC day."""
    u, ty, t, v = archive_columns(seed)
    os.makedirs(d, exist_ok=True)
    type_dict = pa.array(TYPES)
    props_dict = pa.array([json.dumps({"k": i}) for i in range(100)])
    day = (t - T0) // (86400 * US)
    bounds = np.searchsorted(day, np.arange(DAYS + 1))
    for i in range(DAYS):
        a, b = bounds[i], bounds[i + 1]
        eid = np.arange(a, b, dtype=np.int64)
        table = pa.table({
            "event_id": eid,
            "ts": pa.array(t[a:b], pa.timestamp("us")),
            "user_id": u[a:b],
            "event_type": pa.DictionaryArray.from_arrays(
                pa.array(ty[a:b].astype(np.int32)), type_dict
            ).cast(pa.string()),
            "value": v[a:b],
            "props": pa.DictionaryArray.from_arrays(
                pa.array((eid % 100).astype(np.int32)), props_dict
            ).cast(pa.string()),
        })
        name = f"day-{i}.parquet"
        pq.write_table(table, os.path.join(d, name), compression="snappy")


def write_documents(seed, n, path, salt):
    r = _rng(seed, 3, salt)
    lens = r.integers(10, 101, size=n)
    words = r.integers(0, len(WORDS), size=int(lens.sum()))
    texts, pos = [], 0
    for i, ln in enumerate(lens):
        texts.append(" ".join(WORDS[w] for w in words[pos:pos + ln]))
        pos += ln
    # a few exact duplicates, like real crawls carry
    for i in range(1, n, max(1, n // 8)):
        texts[i] = texts[i - 1]
    langs = r.choice(len(LANGS), size=n, p=LANG_P)
    table = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in langs],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "documents.parquet"),
                   compression="snappy")


# ------------------------------------------------------------ request plans

def iso(t_us):
    s = np.datetime64(int(t_us), "us").astype("datetime64[s]")
    return str(s)


def _view(t0, hours, names, axes, colors):
    attrs = [{"name": n, "color": c, "y_axis": a}
             for n, a, c in zip(names, axes, colors)]
    t1 = t0 + hours * 3600 * US
    return {"attributes": attrs, "time_range": [iso(t0), iso(t1)],
            "size": [WIDTH, HEIGHT]}


# The plans fix the MAKE-UP of each client's sequence (which window
# sizes, request kinds and sizes come in which order) and seed only its
# content (attributes, positions, pan steps, search terms), so any run
# of a given length replays the same mix whatever the seed.

# The views of one viewer round: y axis of each attribute, window in
# hours. Round r gives client c view (c + r) % len(VIEWS), so with four
# clients every round holds the same four views' make-up, each client
# zooms 48 h -> 12 h -> 1 h -> 6 h -> 48 h while the attribute set
# changes, and the heaviest attribute set gets the shortest window.
VIEWS = [([0], 48), ([0, 0], 12), ([0, 0, 1], 1), ([0, 1], 6)]
SHAPES = [axes for axes, _ in VIEWS]
# line colours of the first, second and third attribute of a view
COLORS = ["#d62728", "#1f77b4", "#2ca02c"]
# pan offsets from the viewer's point of interest, in windows
PAN = [0.3, 0.45, -0.35, -0.4, 0.25, -0.25]
# rounds r with r % REVISIT_EVERY == 1 return every client to its view
# of the round before, sent with If-None-Match: an assumed share of
# revisits (one request in four), not one measured on a real viewer
REVISIT_EVERY = 4


def viewer_plan(seed, clients, rounds=400):
    """Per client, a pan/zoom sequence of /image bodies around a point
    of interest, one per round: round r shows view (c + r) % len(VIEWS)
    panned by PAN, except that revisit rounds repeat the round before.
    Attributes, colours and time of day are fixed per client and the
    seed picks the day, so every seed draws the same kind of image and
    touches the same number of day files."""
    plans = []
    for c in range(clients):
        r = _rng(seed, 4, c)
        names = [att_name(*DENSE[(c + j) % len(DENSE)]) for j in range(3)]
        anchor = T0 + (int(r.integers(2, DAYS - 2)) * 24 + 6 + 4 * c) * 3600 * US
        seq = []
        for i in range(rounds):
            if i % REVISIT_EVERY == 1:
                seq.append({"revisit": True, "body": seq[-1]["body"]})
                continue
            axes, hours = VIEWS[(c + i) % len(VIEWS)]
            t0 = anchor + int((PAN[i % len(PAN)] - 0.5) * hours * 3600) * US
            seq.append({"revisit": False, "body": _view(
                t0, hours, names[:len(axes)], axes, COLORS[:len(axes)])})
        plans.append(seq)
    return plans


# The four slots of a Grafana round, two requests each. A /query is
# (interval, or None for a raw window; CSV; dense targets; hour of day
# the window starts at; minutes of a raw window, which also names one
# sparse attribute); anything else is a catalog kind.
SLOTS = [
    [("1m", False, 3, 5, None), "search"],
    [("10m", True, 1, 9, None), "attributes"],
    [("1h", False, 2, 13, None), (None, True, 1, 17, 5)],
    [(None, False, 2, 3, 10), "controlsystems"],
]
BUCKETS = 24  # of a resampled window: 24 min to 1 day


def grafana_plan(seed, clients, rounds=500):
    """Per client, two distinct requests per round: round r gives
    client c the requests of slot (c + r) % len(SLOTS), so with four
    clients every round holds the same make-up: resampled JSON and CSV
    at 1m, 10m and 1h, raw JSON and CSV windows of a few minutes,
    /search, /attributes (a glob with max) and /controlsystems. The seed
    picks the day, the attributes and the search terms."""
    sparse = sparse_points()
    plans = []
    for c in range(clients):
        r = _rng(seed, 5, c)
        seq = []
        for i in range(rounds):
            for j, req in enumerate(SLOTS[(c + i) % len(SLOTS)]):
                nonce = f"{c}-{i}-{j}"
                if req == "attributes":
                    glob = (f"events/stream/u{int(r.integers(0, USERS // 10))}*/"
                            f"{TYPES[int(r.integers(0, 5))]}")
                    seq.append({"kind": "attributes", "cs": CS, "search": glob,
                                "max": 50, "nonce": nonce})
                elif req == "search":
                    term = (f"u{int(r.integers(0, USERS))}/"
                            f"{TYPES[int(r.integers(0, 5))][:3]}")
                    seq.append({"kind": "search", "cs": CS, "target": term,
                                "nonce": nonce})
                elif req == "controlsystems":
                    seq.append({"kind": "controlsystems", "nonce": nonce})
                else:
                    seq.append(_query(r, sparse, nonce, *req))
        plans.append(seq)
    return plans


def _query(r, sparse, nonce, iv, csv, n, hour, raw_min):
    picks = r.choice(len(DENSE), size=n, replace=False)
    targets = [att_name(*DENSE[j]) for j in picks]
    if iv is not None:
        iv_us = int(iv[:-1]) * (60 if iv[-1] == "m" else 3600) * US
        span = iv_us * BUCKETS
    else:
        span = raw_min * 60 * US
        u, j = sparse[int(r.integers(0, len(sparse)))]
        targets.append(att_name(u, TYPES[j]))
    t0 = T0 + (int(r.integers(1, DAYS - 2)) * 24 + hour) * 3600 * US
    body = {"targets": [{"target": t} for t in targets],
            "range": {"from": iso(t0), "to": iso(t0 + span)}}
    if iv is not None:
        body["interval"] = iv
    return {"kind": "query", "csv": csv, "body": body, "nonce": nonce}


def make_inputs(seed, workload, clients, out_dir):
    """Write the inputs `workload` needs under out_dir, unless an
    earlier run with this seed did; return the request plan."""
    os.makedirs(out_dir, exist_ok=True)
    if workload == "pipeline-batch":
        for name, n, salt in (("docs", DOCS, 0), ("docs_warm", DOCS_WARM, 1)):
            _once(os.path.join(out_dir, name),
                  lambda p: write_documents(seed, n, p, salt))
        return {"queries": PIPELINE}
    _once(os.path.join(out_dir, "events.parquet"),
          lambda p: write_archive(seed, p))
    if workload == "viewer-pan":
        plans = viewer_plan(seed, clients)
        return {"clients": plans, "warmup": warmup_plan(seed)[:len(SHAPES)],
                "per_round": 1,
                "trace_min": trace_min(plans, lambda e: str(
                    [a["y_axis"] for a in e["body"]["attributes"]]))}
    plans = grafana_plan(seed, clients)
    return {"clients": plans, "warmup": warmup_plan(seed)[len(SHAPES):],
            "per_round": 2,
            "trace_min": trace_min(plans, lambda e: (
                e["kind"], e.get("csv"), e.get("body", {}).get("interval")))}


def trace_min(plans, key):
    """How many requests the traced replay, which interleaves the
    clients' plans, must take before it has replayed every key (request
    shape or kind) in the plans at least once."""
    want = {key(e) for seq in plans for e in seq}
    seen = set()
    for k in range(len(plans) * min(len(seq) for seq in plans)):
        seen.add(key(plans[k % len(plans)][k // len(plans)]))
        if seen == want:
            return k + 1
    raise ValueError("a plan key never comes up")


def _once(path, write):
    """Run write(tmp) and move tmp to path, unless path exists."""
    if os.path.exists(path):
        return
    tmp = f"{path}.tmp{os.getpid()}"
    write(tmp)
    os.replace(tmp, path)


def warmup_plan(seed):
    """Requests that pay the first-call costs (code generation, JIT,
    the catalog build) before timing, sent all at once: one 1-hour
    /image of each viewer shape (VIEWS), then one of each Grafana kind,
    on day 0, which no timed request visits. Longer windows here add
    set-up time without making the first timed round any faster."""
    names = [att_name(*DENSE[k]) for k in _rng(seed, 6).permutation(len(DENSE))]
    t0 = T0 + 3600 * US
    day = 24 * 3600 * US
    return [
        {"kind": "image", "body": _view(
            t0, 1, names[:len(axes)], axes, ["#ff0000", "#00aa00", "#0000ff"])}
        for axes in SHAPES
    ] + [
        {"kind": "query", "csv": False, "nonce": "w1", "body": {
            "targets": [{"target": names[0]}], "interval": "5m",
            "range": {"from": iso(t0), "to": iso(t0 + day // 4)}}},
        {"kind": "query", "csv": True, "nonce": "w2", "body": {
            "targets": [{"target": names[1]}],
            "range": {"from": iso(t0), "to": iso(t0 + 300 * US)}}},
        {"kind": "search", "cs": CS, "target": "u1/", "nonce": "w3"},
        {"kind": "attributes", "cs": CS, "search": "events/stream/u1*/view",
         "max": 10, "nonce": "w4"},
        {"kind": "controlsystems", "nonce": "w5"},
    ]
