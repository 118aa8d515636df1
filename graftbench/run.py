#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 graftbench/run.py --workload <bgp_read|ops_pipeline> \
        --seed <n> --seconds <n> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (graftbench/build.sbt); later runs reuse
the build while no source changed. The JVM writes raw samples; this
script checks the ops results against their DuckDB oracles, computes
the metrics and prints one JSON line last on stdout. Everything the run
writes stays under graftbench/work/ and graftbench/target/.
"""
import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(HERE, "target", "build.stamp")
# the closed-loop request each workload's latency percentiles are taken over
REQUEST_KIND = {"bgp_read": "query", "ops_pipeline": "op"}
BUILD_TIMEOUT_S = 780
RUN_LIMIT_S = 175
# Spark on JDK 17 needs these when started outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("graftbench: engine sources (build.sbt, src/main/scala/graft) not found next to", HERE)
        sys.exit(2)
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return
    os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
    build_log = os.path.join(HERE, "target", "build.log")
    log("graftbench: building engine and benchmark with sbt (log: %s)" % build_log)
    t0 = time.time()
    with open(build_log, "w") as out:
        rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                         HERE, out, BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.isfile(CLASSPATH):
        log("graftbench: build failed (exit %s); last lines:" % rc)
        log("".join(open(build_log).readlines()[-30:]))
        sys.exit(3)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    log("graftbench: build took %.0f s" % (time.time() - t0))


def run_bounded(cmd, cwd, out, timeout):
    """Runs cmd in its own process group; kills the group on timeout."""
    # dependencies resolve from the local cache only; the build must not
    # reach for the network
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True, env=env)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def run_jvm(args, t_start):
    wdir = os.path.join(WORK, args.workload)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(wdir, sub), exist_ok=True)
    result = os.path.join(wdir, "result.json")
    if os.path.exists(result):
        os.remove(result)
    cp = open(CLASSPATH).read().strip()
    # C1 only: with C2 the op times kept falling for the whole of a 40 s
    # window, so a run's figures followed how far the JIT had got; with C1
    # they level off within the warm-up passes
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + os.path.join(wdir, "tmp"),
            "-Dspark.local.dir=" + os.path.join(wdir, "spark-local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(wdir, "warehouse"),
            "-Dderby.system.home=" + wdir,
            "-Dspark.ui.enabled=false",
            # a round generates more classes than Spark's default cache of
            # 100 holds; with it, each round recompiled 25-45 classes per op
            # (a quarter of the op's time), in a count that varied from run
            # to run
            "-Dspark.sql.codegen.cache.maxEntries=2000",
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", wdir, "--out", result, "--data", os.path.join(HERE, "data", "ops")]
    jvm_log = os.path.join(wdir, "jvm.log")
    budget = RUN_LIMIT_S - (time.time() - t_start)
    with open(jvm_log, "w") as out:
        rc = run_bounded(cmd, wdir, out, max(30, budget))
    if rc != 0 or not os.path.isfile(result):
        log("graftbench: benchmark JVM failed (exit %s); last lines of %s:" % (rc, jvm_log))
        log("".join(open(jvm_log).readlines()[-40:]))
        sys.exit(4)
    with open(result) as fh:
        return json.load(fh)


def check_ops(res):
    """DuckDB comparison of each op's first result against its oracle
    SQL, with the repository's comparator (tools/check.py). Returns the
    names of the ops whose result differs, with the reason."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.dont_write_bytecode = True
    import duckdb
    import check  # tools/check.py

    out_dir, data_dir = res["facts"]["ops_out"], res["facts"]["ops_data"]
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for f in os.listdir(data_dir):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'")
    bad = {}
    for name in sorted({s["name"] for s in res["samples"] if s["kind"] == "op"}):
        if name not in oracle:
            bad[name] = "no oracle SQL"
            continue
        got = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        gcols = [d[0] for d in got.description]
        grows = got.fetchall()
        try:
            types = check.oracle_type_violations(con, oracle[name])
            if types:
                bad[name] = "oracle result types %s" % types
                continue
            exp = con.execute(oracle[name])
            ecols = [d[0] for d in exp.description]
            erows = exp.fetchall()
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[name] = "oracle SQL error: %s" % e
            continue
        gc, gd = check.table_of(grows, gcols)
        ec, ed = check.table_of(erows, ecols)
        if gc != ec:
            bad[name] = "columns %s != %s" % (gc, ec)
        elif gd != ed:
            bad[name] = "%d rows, oracle %d; first diffs %s" % (
                len(gd), len(ed), [(a, b) for a, b in zip(gd, ed) if a != b][:2])
    return bad


def pct(xs, q):
    """q-th percentile, linear interpolation between order statistics."""
    s = sorted(xs)
    if not s:
        return float("nan")
    k = (len(s) - 1) * q / 100.0
    i = int(k)
    return s[i] if i + 1 >= len(s) else s[i] + (s[i + 1] - s[i]) * (k - i)


def metrics_of(res, wl):
    timed = [s for s in res["samples"] if s["round"] >= 1]
    ok = [s for s in timed if s["ok"]]
    # latency of each distinct request (query or op) is its median over
    # the rounds; the percentiles are taken over those, so they do not
    # depend on how many rounds fit in the window
    by_name = {}
    for s in ok:
        if s["kind"] == REQUEST_KIND[wl]:
            by_name.setdefault(s["name"], []).append(s["ms"])
    req = [statistics.median(v) for v in by_name.values()]
    # a round's time is the sum, over its operations, of each one's median
    # over the rounds (the k-th occurrence of a name in a round is its own
    # operation), so one slow round of one query moves it little
    per_op, seen = {}, {}
    for s in ok:
        k = (s["round"], s["kind"], s["name"])
        seen[k] = seen.get(k, 0) + 1
        per_op.setdefault((s["kind"], s["name"], seen[k]), []).append(s["ms"])
    round_s = sum(statistics.median(v) for v in per_op.values()) / 1e3
    return {
        "setup_s": res["setup"]["setup_s"],
        "op_p50_ms": pct(req, 50),
        "round_s": round_s if per_op else float("nan"),
    }, len(timed), len(timed) - len(ok), len(req)


def named_metrics(res, wl, e2e, attempted, failed):
    """The workload's own named metrics, for the report."""
    ok = [s for s in res["samples"] if s["round"] >= 1 and s["ok"]]
    out = {"setup_s": e2e["setup_s"], "error_rate": failed / max(1, attempted)}
    if wl == "bgp_read":
        qs = [s["ms"] for s in ok if s["kind"] == "query"]
        out.update({"query_p50_ms": pct(qs, 50), "query_p90_ms": pct(qs, 90)})
    else:
        out["ops_total_s"] = e2e["round_s"]
    return out


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(REQUEST_KIND))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    build()
    t_run = time.time()
    res = run_jvm(args, t_run)
    wl = args.workload

    failures = list(res["failures"])
    if wl == "ops_pipeline":
        bad = check_ops(res)
        for s in res["samples"]:
            if s["kind"] == "op" and s["name"] in bad:
                s["ok"] = False
        failures += ["%s: DuckDB oracle: %s" % kv for kv in sorted(bad.items())]
    # in a traced run, a layer metric of this workload that nothing
    # measured (null from the JVM) fails the run rather than reading 0
    layers = res["per_layer"]
    failures += ["per-layer metric %s: not measured" % k for k, v in sorted(layers.items()) if v is None]
    e2e, attempted, failed, n_req = metrics_of(res, wl)
    named = named_metrics(res, wl, e2e, attempted, failed)

    log("graftbench: %s seed %d, %d rounds in %.1f s, %d timed ops (%d %s samples), %d failed"
        % (wl, args.seed, res["rounds"], res["window_s"], attempted, n_req, REQUEST_KIND[wl], failed))
    for k, v in named.items():
        log("  %-28s %s" % (k, v))
    for f in failures:
        log("  FAILED " + f)

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    summary = {"workload": wl, "seed": args.seed, "trace": args.trace, "end_to_end": e2e,
               "named": named, "facts": res["facts"], "setup": res["setup"],
               "failures": failures, "rounds": res["rounds"], "per_layer": res["per_layer"]}
    with open(result_file(wl, args.seed, args.trace), "w") as fh:
        json.dump(summary, fh, indent=1)

    if args.trace == 0:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in bench["end_to_end"]}
    else:
        # a layer this workload does not run (absent from layers) reads 0
        metrics = {m["name"]: {"value": layers.get(m["name"]) or 0.0, "unit": m["unit"]}
                   for m in bench["per_layer"]}
        report_overhead(wl, args.seed, e2e)

    line = {"correct": not failures, "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(line))


def result_file(wl, seed, trace):
    return os.path.join(WORK, "results", "%s-seed%d-trace%d.json" % (wl, seed, trace))


def report_overhead(wl, seed, e2e):
    """Tracing overhead: this traced run's end-to-end metrics minus those
    of the latest untraced run of the same workload and seed."""
    tdir = os.path.join(WORK, wl, "trace", "%s-seed%d" % (wl, seed))
    untraced = result_file(wl, seed, 0)
    lines = []
    if os.path.isfile(untraced):
        base = json.load(open(untraced))
        lines.append("tracing overhead vs untraced run (seed %d): traced - untraced" % seed)
        for k, v in e2e.items():
            b = base["end_to_end"].get(k)
            if b:
                lines.append("  %-12s %10.4f - %10.4f = %+9.4f (%+.1f%%)" % (k, v, b, v - b, 100 * (v - b) / b))
    else:
        lines.append("tracing overhead: no untraced run of %s seed %d to compare with" % (wl, seed))
    layer_table = os.path.join(tdir, "layers.txt")
    if os.path.isfile(layer_table):
        lines = ["per-layer self time (%s):" % layer_table] + \
            ["  " + l for l in open(layer_table).read().splitlines()] + lines
    text = "\n".join(lines) + "\n"
    os.makedirs(tdir, exist_ok=True)
    with open(os.path.join(tdir, "overhead.txt"), "w") as fh:
        fh.write(text)
    log(text)


if __name__ == "__main__":
    main()
