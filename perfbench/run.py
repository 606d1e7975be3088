"""Serving and batch benchmark of the engine.

    python3 perfbench/run.py --workload viewer-pan --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark (build.py), generates the seeded
inputs (gen.py; reused when the same seed ran before), starts one JVM on
the compiled classes with a local[nproc] session, runs the workload for
--seconds, checks every answer (checks.py) and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 gives the
end-to-end metrics, --trace 1 replays the workload through the layers
and gives the per-layer metrics. See README.md.
"""
import argparse
import base64
import gzip
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from decimal import Decimal

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("viewer-pan", "grafana-mix", "pipeline-batch")
WORK = os.path.join(BENCH, ".work")
DEADLINE_S = 170  # the whole run, build excluded
EXIT_GRACE_S = 15  # how long the JVM may take to exit after its results

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class RunError(Exception):
    pass


# every end-to-end metric with its unit
END_TO_END = {"setup_s": "s", "p50_ms": "ms", "rps": "1/s",
              "resp_kb": "KiB", "setup_heap_mb": "MiB"}


# ------------------------------------------------------------ statistics

def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, m, q3 = quartiles(xs)
    return (q3 - q1) / m


# ------------------------------------------------------------ inputs

def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prune(kind, keep=4):
    d = os.path.join(WORK, "data")
    old = sorted((p for p in os.listdir(d) if p.startswith(kind + "-")),
                 key=lambda p: os.path.getmtime(os.path.join(d, p)))
    for p in old[:-keep]:
        shutil.rmtree(os.path.join(d, p), ignore_errors=True)


def inputs(workload, seed, clients):
    """Data directory and request plan for this workload and seed."""
    kind = "docs" if workload == "pipeline-batch" else "archive"
    with open(gen.__file__, "rb") as f:  # a changed generator regenerates
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    data = os.path.join(WORK, "data", f"{kind}-{seed}-{version}")
    plan = gen.make_inputs(seed, workload, clients, data)
    os.utime(data)
    prune(kind)
    if workload == "pipeline-batch":
        return data, plan
    ops = {"warmup": [op(f"w{i}", e) for i, e in enumerate(plan["warmup"])],
           "trace_min": plan["trace_min"], "per_round": plan["per_round"]}
    if workload == "viewer-pan":
        ops["clients"] = []
        for c, seq in enumerate(plan["clients"]):
            first, out = {}, []
            for j, e in enumerate(seq):
                key = json.dumps(e["body"], sort_keys=True)
                first.setdefault(key, f"c{c}-v{j}")
                o = op(f"c{c}-{j}", {"kind": "image", "body": e["body"]})
                o.update(key=first[key], revisit=e["revisit"])
                out.append(o)
            ops["clients"].append(out)
    else:
        ops["clients"] = [[op(f"c{c}-{j}", e) for j, e in enumerate(seq)]
                          for c, seq in enumerate(plan["clients"])]
    return data, ops


def op(op_id, e):
    """A generator entry as the HTTP request the JVM sends."""
    kind = e["kind"]
    o = {"id": op_id, "kind": kind, "accept": "application/json",
         "method": "POST", "body": None, "spec": e}
    if kind == "image":
        o.update(path="/image", body=json.dumps(e["body"]))
    elif kind == "query":
        o.update(path="/query", body=json.dumps(e["body"]))
        if e["csv"]:
            o["accept"] = "text/csv"
    elif kind == "search":
        o.update(path="/search", body=json.dumps(
            {"cs": e["cs"], "target": e["target"], "nonce": e["nonce"]}))
    elif kind == "attributes":
        from urllib.parse import urlencode
        q = urlencode({"cs": e["cs"], "search": e["search"],
                       "max": e["max"], "nonce": e["nonce"]})
        o.update(method="GET", path="/attributes?" + q)
    else:
        o.update(method="GET", path="/controlsystems?nonce=" + e["nonce"])
    return o


# ------------------------------------------------------------ the JVM

def run_jvm(classes, workload, data, plan, seconds, trace, clients, started):
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    plan_file = os.path.join(run_dir, "plan.json")
    with open(plan_file, "w") as f:
        json.dump(plan, f)
    out = os.path.join(run_dir, "out")
    cp = os.pathsep.join([classes] + build.spark_jars())
    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
              "-cp", cp, "graft.perfbench.BenchMain",
              "--workload", workload, "--data", data, "--plan", plan_file,
              "--out", out, "--seconds", str(seconds),
              "--trace", "1" if trace else "0", "--clients", str(clients)])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                            env=env, cwd=run_dir, start_new_session=True)
    result = os.path.join(out, "result.json")
    written = None
    try:
        while proc.poll() is None:
            now = time.monotonic()
            if written is None and os.path.exists(result):
                written = now
            if written is not None and now - written > EXIT_GRACE_S:
                raise RunError("JVM did not exit after writing its results "
                               "(stuck non-daemon threads?)")
            if now - started > DEADLINE_S:
                raise RunError(f"run exceeded {DEADLINE_S} s")
            time.sleep(0.2)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        log.close()
    if proc.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-4000:]
        raise RunError(f"JVM exited with {proc.returncode}:\n{tail}")
    last = os.path.join(WORK, "last")
    shutil.rmtree(last, ignore_errors=True)
    os.replace(run_dir, last)
    return os.path.join(last, "out")


def read_lines(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(x) for x in f if x.strip()]


# ------------------------------------------------------------ serving

def body_text(r):
    raw = base64.b64decode(r["wire"])
    if r["encoding"] == "gzip":
        raw = gzip.decompress(raw)
    return raw.decode("utf-8")


def check_serving(plan, responses, seed):
    """A (response, problems) pair per response; a 304 is checked
    against the same client's earlier 200 of that view."""
    specs = {o["id"]: o for seq in plan["clients"] for o in seq}
    series = checks.Series(seed)
    names = None
    etags = {}
    problems = []
    for r in responses:
        o = specs[r["id"]]
        errs = []
        if r["status"] == 304:
            prev = etags.get((r["client"], o.get("key")))
            if not o.get("revisit") or prev is None or \
                    r["if_none_match"] != prev or r["etag"] != prev:
                errs.append("304 without an earlier 200 of the same ETag")
        elif r["status"] != 200:
            errs.append(f"HTTP {r['status']}")
        else:
            text = body_text(r)
            if o["kind"] == "image":
                etags[(r["client"], o["key"])] = r["etag"]
                errs = checks.check_image(o["spec"]["body"], json.loads(text),
                                          series)
            elif o["kind"] == "query":
                errs = checks.check_query(o["spec"]["body"], o["spec"]["csv"],
                                          text, series)
            else:
                names = names or checks.catalog_names()
                errs = checks.check_catalog(o["spec"], text, names)
        problems.append((r, errs))
    return problems


def shape(o):
    """What a request's cost mostly depends on: attributes and y axes of
    an /image; interval (None when raw) and format of a /query."""
    e = o["spec"]
    if o["kind"] == "image":
        axes = [a["y_axis"] for a in e["body"]["attributes"]]
        return (len(axes), len(set(axes)))
    return (e["body"].get("interval"), e["csv"])


def serving_metrics(workload, plan, responses, rounds_s):
    """p50_ms: the median latency of each request shape, averaged over
    the shapes; resp_kb: the mean bytes on the wire per 200 of each
    shape, averaged the same way; both over the workload's main route.
    Latency and size depend mostly on the shape, and a run completes a
    slightly different mix of shapes each time: a plain median of a mix
    of a few levels jumps between them when the mix shifts by one
    request. rps: the answers of a round over the median wall of the
    rounds (rounds_s), which the slower first round does not set."""
    main = "image" if workload == "viewer-pan" else "query"
    specs = {o["id"]: o for seq in plan["clients"] for o in seq}
    primary = [r for r in responses if r["kind"] == main]
    ms, kb = {}, {}
    for r in primary:
        s = shape(specs[r["id"]])
        ms.setdefault(s, []).append(r["ms"])
        if r["status"] == 200:
            kb.setdefault(s, []).append(r["wire_bytes"] / 1024)
    if not kb:
        raise RunError("no successful timed requests")
    return {
        "p50_ms": (statistics.mean(median(v) for v in ms.values()), "ms"),
        "rps": (len(responses) / len(rounds_s) / median(rounds_s), "1/s"),
        "resp_kb": (statistics.mean(statistics.mean(v) for v in kb.values()),
                    "KiB"),
    }


# ------------------------------------------------------------ pipeline

def oracle(data, sql):
    """DuckDB's answer to each query over the same parquet, cached with
    the seed's inputs."""
    cache = os.path.join(data, "oracle.json")
    if os.path.exists(cache):
        with open(cache) as f:
            got = json.load(f)
        if set(got) == set(sql):
            return got
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(data, 'docs', 'documents.parquet')}')")
    got = {}
    for name, q in sql.items():
        rows = con.execute(q).fetchall()
        cols = [d[0] for d in con.description]
        got[name] = digest(checks.canon_rows(cols, rows))
    con.close()
    with open(cache + ".tmp", "w") as f:
        json.dump(got, f)
    os.replace(cache + ".tmp", cache)
    return got


def digest(canon):
    def default(x):
        if isinstance(x, Decimal):
            return int(x) if x == x.to_integral_value() else float(x)
        raise TypeError(type(x))
    return hashlib.sha256(json.dumps(canon, default=default).encode()).hexdigest()


def check_pipeline(data, res, out):
    runs = read_lines(os.path.join(out, "pipeline_runs.jsonl"))
    first = {r["query"]: r for r in read_lines(
        os.path.join(out, "pipeline_results.jsonl"))}
    want = oracle(data, res["oracle_sql"])
    spark_digest = {q: digest(checks.canon_rows(r["columns"], r["rows"]))
                    for q, r in first.items()}
    pass0 = {r["query"]: r["digest"] for r in runs if r["pass"] == 0}
    problems = []
    for r in runs:
        q = r["query"]
        errs = []
        if spark_digest.get(q) != want.get(q):
            errs.append(f"{q}: result differs from DuckDB")
        if r["digest"] != pass0.get(q):
            errs.append(f"{q}: pass {r['pass']} result differs from pass 0")
        problems.append((r, errs))
    return runs, problems


def pipeline_metrics(runs):
    """p50_ms: the list's wall as the sum of each query's median over
    the passes; rps: queries per second of query wall. Runs are whole
    passes, so both weigh every query alike."""
    walls = {}
    for r in runs:
        walls.setdefault(r["query"], []).append(r["ms"])
    return {
        "p50_ms": (sum(median(w) for w in walls.values()), "ms"),
        "rps": (len(runs) / (sum(r["ms"] for r in runs) / 1000), "1/s"),
        "resp_kb": (statistics.mean(r["result_bytes"] for r in runs) / 1024,
                    "KiB"),
    }


# ------------------------------------------------------------ traced

LAYER_SPANS = {
    "server.parse_ms": ["server.parse"],
    "server.encode_ms": ["server.encode"],
    "server.etag_ms": ["server.etag"],
    "server.gzip_ms": ["server.gzip"],
    "api.image_ms": ["api.image"],
    "api.raw_query_ms": ["api.raw_query"],
    "api.attributes_ms": ["api.attributes"],
    "cache.persist_ms": ["cache.persist"],
    "operators.extrema_ms": ["operators.extrema", "operators.padRange"],
    "operators.lines_ms": ["operators.lines"],
    "operators.hover_ms": ["operators.hover"],
    "operators.resample_ms": ["operators.resample"],
    "operators.catalog_ms": ["operators.catalog"],
    "render.shade_ms": ["render.shade", "render.stack"],
    "render.png_ms": ["render.png"],
    "render.series_ms": ["render.series"],
}
MODULES = ["server", "api", "operators", "render"]


def span_metrics(spans):
    """Per-layer figures from the spans: each named metric is the mean,
    over the requests that made the call, of its summed duration; a
    module's self time excludes its child spans; coverage is the share
    of request wall inside calls to the layers below the api spans."""
    by_req = {}
    for s in spans:
        by_req.setdefault(s["req"], []).append(s)
    out = {}
    for metric, names in LAYER_SPANS.items():
        per = [sum(s["end_ns"] - s["start_ns"] for s in ss if s["name"] in names)
               for ss in by_req.values()
               if any(s["name"] in names for s in ss)]
        out[metric] = statistics.mean(per) / 1e6 if per else 0.0
    selfs = {m: 0 for m in MODULES}
    root_ns = uncovered = 0
    for ss in by_req.values():
        child = {}
        for s in ss:
            if s["parent"] >= 0:
                child[s["parent"]] = child.get(s["parent"], 0) + \
                    s["end_ns"] - s["start_ns"]
        for s in ss:
            own = s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)
            mod = s["name"].split(".")[0]
            if s["name"] == "request":
                root_ns += s["end_ns"] - s["start_ns"]
                uncovered += own
            else:
                selfs[mod] = selfs.get(mod, 0) + own
                if mod == "api":
                    uncovered += own
    n = max(1, len(by_req))
    for m in MODULES:
        out[f"{m}.self_ms"] = selfs[m] / n / 1e6
    out["trace.coverage_pct"] = 100.0 * (1 - uncovered / root_ns) if root_ns else 0.0
    return out


def spark_metrics(ops):
    mean = (lambda k: statistics.mean(o[k] for o in ops)) if ops else (lambda k: 0.0)
    return {
        "spark.jobs_per_op": mean("jobs"),
        "spark.tasks_per_op": mean("tasks"),
        "spark.plan_ms": mean("plan_ms"),
        "spark.exec_ms": mean("exec_ms"),
        "spark.shuffle_mb": mean("shuffle_bytes") / 1048576,
        "spark.spill_mb": mean("spill_bytes") / 1048576,
        "spark.task_skew": mean("task_skew"),
        "sources.files_read": mean("files_read"),
        "sources.bytes_read": mean("bytes_read"),
        "sources.rows_scanned": mean("rows_scanned"),
    }


def points_in_window(o, series):
    e = o["spec"]
    if o["kind"] == "image":
        t0, t1 = (checks.parse_ts(s) for s in e["body"]["time_range"])
        names = [a["name"] for a in e["body"]["attributes"]]
    elif o["kind"] == "query":
        r = e["body"]["range"]
        t0, t1 = checks.parse_ts(r["from"]), checks.parse_ts(r["to"])
        names = [t["target"] for t in e["body"]["targets"]]
    else:
        return None
    return sum(series.count(n, t0, t1) for n in names)


# every per-layer metric with its unit, in BENCHMARK.json's order
PER_LAYER = dict(
    [(k, "ms") for k in LAYER_SPANS if k.startswith("server.")]
    + [("server.wire_kb", "KiB"), ("server.self_ms", "ms")]
    + [(k, "ms") for k in LAYER_SPANS if k.startswith("api.")]
    + [("api.self_ms", "ms"), ("sources.files_read", "count"),
       ("sources.bytes_read", "B"), ("sources.rows_scanned", "count"),
       ("sources.rows_per_point", "ratio"), ("cache.persist_ms", "ms"),
       ("cache.storage_mb", "MiB")]
    + [(k, "ms") for k in LAYER_SPANS if k.startswith("operators.")]
    + [("operators.self_ms", "ms")]
    + [(k, "ms") for k in LAYER_SPANS if k.startswith("render.")]
    + [("render.self_ms", "ms"), ("spark.jobs_per_op", "count"),
       ("spark.tasks_per_op", "count"), ("spark.plan_ms", "ms"),
       ("spark.exec_ms", "ms"), ("spark.shuffle_mb", "MiB"),
       ("spark.spill_mb", "MiB"), ("spark.task_skew", "ratio")]
    + [(f"pipeline.{q}_s", "s") for q in gen.PIPELINE]
    + [("trace.coverage_pct", "%"), ("trace.overhead_pct", "%")])


def traced_metrics(workload, plan, out, seed):
    """Per-layer metrics of a traced run; layers the workload does not
    reach read 0."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    if workload == "pipeline-batch":
        runs = read_lines(os.path.join(out, "pipeline_runs.jsonl"))
        m.update(spark_metrics(runs))
        for q in gen.PIPELINE:
            m[f"pipeline.{q}_s"] = median(
                [r["ms"] for r in runs if r["query"] == q]) / 1000
        return m, runs, [(r, []) for r in runs]
    ops = read_lines(os.path.join(out, "trace_ops.jsonl"))
    spans = read_lines(os.path.join(out, "spans.jsonl"))
    if not ops:
        raise RunError("no traced requests")
    specs = {o["id"]: o for seq in plan["clients"] for o in seq}
    series = checks.Series(seed)
    m.update(span_metrics(spans))
    m.update(spark_metrics(ops))
    m["trace.overhead_pct"] = 100.0 * (
        sum(o["replay_ms"] for o in ops) / sum(o["http_ms"] for o in ops) - 1)
    ok = [o for o in ops if o["status"] == 200]
    m["server.wire_kb"] = statistics.mean(o["wire_bytes"] for o in ok) / 1024 \
        if ok else 0.0
    images = [o for o in ops if o["kind"] == "image"]
    if images:
        m["cache.storage_mb"] = statistics.mean(
            o["storage_bytes"] for o in images) / 1048576
    scanned = pts = 0
    for o in ops:
        p = points_in_window(specs[o["id"]], series)
        if p:
            scanned += o["rows_scanned"]
            pts += p
    m["sources.rows_per_point"] = scanned / pts if pts else 0.0
    problems = [(o, replay_problems(o)) for o in ops]
    return m, ops, problems


def replay_problems(o):
    """A replayed request must put the route's bytes on the wire and do
    the route's Spark work (the replay's own persist count() aside)."""
    errs = []
    if not o["same"]:
        errs.append("traced replay's body differs from the route's")
    if not o["same_work"]:
        errs.append(
            "traced replay's Spark work differs from the route's: jobs "
            f"{o['replay_jobs']} vs {o['jobs']}, files {o['replay_files_read']}"
            f" vs {o['files_read']}, rows scanned {o['replay_rows_scanned']}"
            f" vs {o['rows_scanned']}")
    return errs


# ------------------------------------------------------------ main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        classes = build.build()
    except SystemExit as e:
        print(e, file=sys.stderr)
        return 2
    started = time.monotonic()
    os.makedirs(os.path.join(WORK, "data"), exist_ok=True)
    clients = min(4, nproc())
    data, plan = inputs(a.workload, a.seed, clients)
    try:
        out = run_jvm(classes, a.workload, data, plan, a.seconds,
                      a.trace == 1, clients, started)
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        if any(s != 200 for s in res.get("warmup_status", [])):
            raise RunError(f"warm-up failed: {res['warmup_status']}")
        if res.get("plan_exhausted"):
            raise RunError("a client reached the end of its request plan; "
                           "lengthen the plans in gen.py")
        if a.trace:
            layer, ops, problems = traced_metrics(a.workload, plan, out, a.seed)
            metrics = {k: (layer[k], u) for k, u in PER_LAYER.items()}
        elif a.workload == "pipeline-batch":
            ops, problems = check_pipeline(data, res, out)
            metrics = pipeline_metrics(ops)
        else:
            ops = read_lines(os.path.join(out, "responses.jsonl"))
            problems = check_serving(plan, ops, a.seed)
            metrics = serving_metrics(a.workload, plan, ops, res["rounds_s"])
        if not a.trace:
            metrics["setup_s"] = (res["setup_s"], "s")
            metrics["setup_heap_mb"] = (res["setup_heap_mb"], "MiB")
            assert {k: u for k, (_, u) in metrics.items()} == END_TO_END
    except RunError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    if res.get("lingering_threads"):
        print("perfbench: threads alive at JVM exit: "
              + ", ".join(res["lingering_threads"]), file=sys.stderr)
    failed = [(o, errs) for o, errs in problems if errs]
    for o, errs in failed[:10]:
        print(f"perfbench: {o.get('id', o.get('query'))}: {'; '.join(errs)[:300]}",
              file=sys.stderr)
    attempted = len(problems)
    print(json.dumps({
        "correct": not failed and attempted > 0,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
