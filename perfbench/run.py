#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload serve_mix --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12

Builds the program together with the harness (perfbench/build.sbt), generates
the seeded inputs, computes the expected result digests with the DuckDB
oracle, then launches the workload JVM a few times. Each launch is timed
from process start to READY (set-up); every query's rows are checked
against the oracle digest, and the exit code is 1 if any check fails. The
last stdout line is the JSON result (for `all`, one object per workload); a
readable report (medians and quartiles over the launches, inputs, machine
probes) goes to stderr.

--trace 1 runs one launch with the tracer on (Spark listener attribution,
spans, plan statistics) and one without, and prints the per-layer metrics
and the tracing overhead instead of the end-to-end metrics.

Everything the benchmark writes lands under .perfbench/ at the checkout root
(build stamp, inputs keyed by seed, expected digests, per-launch scratch,
span files); nothing tracked is modified.
"""
import argparse
import glob
import hashlib
import json
import os
import select
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import digest  # noqa: E402
import inputs  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
            "-Dsbt.offline=true -Xmx3g")
BUILD_TIMEOUT_S = 800
JVM_BUDGET_S = 150
# Spark runs local[NPROC] with NPROC shuffle partitions; a closed loop runs
# NPROC clients.
NPROC = len(os.sched_getaffinity(0))
# The workload JVM: a fixed young generation keeps peak RSS steady between
# launches.
JVM_MEM = ["-Xmx3g", "-Xmn256m"]
# Launches per run; set-up is the median over them.
LAUNCHES = 2


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_proc(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise BenchError(f"{cmd[0]} timed out after {timeout}s")
    return p.returncode, out


# ---------------------------------------------------------------- build

def source_files():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not any(f.endswith("/graft/SparkEntry.scala") for f in prog):
        raise BenchError("program sources (src/main/scala/graft/SparkEntry.scala) not found")
    own = sorted(glob.glob(os.path.join(HERE, "harness/**/*.scala"), recursive=True))
    return prog + own + [os.path.join(HERE, "build.sbt"),
                         os.path.join(HERE, "project/build.properties")]


def spark_jars():
    """The local Spark installation's jars directory."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BenchError("no Spark installation found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def build():
    """Compile program + harness when their sources changed; return the
    runtime classpath and the source stamp."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()[:16]
    os.makedirs(CACHE, exist_ok=True)
    cp_file = os.path.join(CACHE, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip(), stamp
    log("building program + harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS", SBT_OPTS))
    with open(os.path.join(CACHE, "build.log"), "w") as errlog:
        rc, out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            f"-Dperfbench.sparkJars={spark_jars()}", "compile",
                            "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=errlog, text=True)
    if rc != 0:
        raise BenchError(f"sbt build failed (exit {rc}); see .perfbench/build.log")
    cp = [line for line in out.splitlines() if ".jar" in line and os.pathsep in line]
    if not cp:
        raise BenchError("sbt printed no runtime classpath")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1].strip())
    return cp[-1].strip(), stamp


def catalog(cp, stamp):
    """{query: {"module": owner, "oracle": sql or None}} from the program."""
    path = os.path.join(CACHE, f"catalog-{stamp}.json")
    if not os.path.exists(path):
        rc, _ = run_proc(["java", "-cp", cp, "perfbench.Harness", "catalog", path], 120)
        if rc != 0:
            raise BenchError("catalog dump failed")
    with open(path) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- inputs

def input_dirs(cfg, wl, seed):
    dirs = {}
    for shape in sorted({s for _, s in wl["steps"]}):
        params = cfg["shapes"][shape]
        with open(inputs.__file__, "rb") as fh:
            key = hashlib.sha1(fh.read() + json.dumps(params, sort_keys=True).encode())
        d = os.path.join(CACHE, "inputs", f"{shape}-{key.hexdigest()[:10]}-seed{seed}")
        inputs.generate(shape, seed, params, d)
        dirs[shape] = d
    return dirs


def expectations(cat, steps):
    """Expected digest per (query, input dir): the DuckDB oracle's where the
    query has one, else the digest first recorded for this seed. Cached per
    input dir and keyed by the oracle text, so a changed oracle re-runs."""
    with open(digest.__file__, "rb") as fh:
        canon_version = fh.read()
    exp = {}
    for d in sorted({d for _, d in steps}):
        path = os.path.join(d, "expected.json")
        cached = json.load(open(path)) if os.path.exists(path) else {}
        todo = {}
        for q in sorted({q for q, dd in steps if dd == d}):
            sql = cat[q]["oracle"]
            key = f"{q}:" + (hashlib.sha1(sql.encode() + canon_version).hexdigest()[:12]
                             if sql else "recorded")
            if key in cached:
                exp[(q, d)] = cached[key]
            elif sql:
                todo[key] = (q, sql)
            else:
                exp[(q, d)] = None
        if todo:
            got = digest.expected({k: sql for k, (_, sql) in todo.items()}, d)
            for k, (q, _) in todo.items():
                cached[k] = exp[(q, d)] = got[k]
            with open(path + ".tmp", "w") as fh:
                json.dump(cached, fh, indent=1, sort_keys=True)
            os.replace(path + ".tmp", path)
    return exp


def check(calls, exp, recorded):
    """Failed calls: errors and results whose digest differs from the expected
    one. `recorded` ({(query, dir): digest}) takes the first digest of a query
    without an oracle and holds later ones to it."""
    bad = []
    for c in calls:
        if not c["ok"]:
            bad.append(f"{c['query']}: error: {c['err']}")
            continue
        key = (c["query"], c["dir"])
        want = exp.get(key) or recorded.setdefault(key, c["digest"])
        if c["digest"] != want:
            bad.append(f"{c['query']}: wrong result (digest {c['digest'][:12]} != {want[:12]};"
                       f" {c['rows']} rows, first: {c.get('head', '')})")
    return bad


# ---------------------------------------------------------------- launches

def clients(wl):
    return NPROC if wl["loop"] == "closed" else 1


def launch(cp, wl_name, wl, steps, work, trace, k, seed, window_s, deadline):
    """One workload JVM; returns its result dict with `setup_s` added. With
    `work` false it only sets up. A closed loop draws its requests from
    `seed` and `k` and measures for `window_s` seconds; a batch DAG runs
    its steps once, in order."""
    scratch = os.path.join(CACHE, "runs", f"{wl_name}-{os.getpid()}-{k}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    spec = os.path.join(scratch, "spec.tsv")
    out = os.path.join(scratch, "result.json")
    spans = os.path.join(scratch, "spans.json")
    with open(spec, "w") as fh:
        for key, val in [("workload", wl_name), ("loop", wl["loop"]), ("cores", NPROC),
                         ("clients", clients(wl)), ("work", int(work)),
                         ("trace", int(trace)), ("seed", seed), ("launch", k),
                         ("window_s", window_s), ("scratch", scratch), ("out", out),
                         ("spans", spans)]:
            fh.write(f"{key}\t{val}\n")
        for q, d in steps:
            fh.write(f"step\t{q}\t{d}\n")
    cmd = (["java"] + JVM_MEM + ["-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={scratch}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness", "run", spec])
    t0 = time.perf_counter()
    with open(os.path.join(scratch, "jvm.log"), "w") as errlog:
        p = subprocess.Popen(cmd, cwd=scratch, stdout=subprocess.PIPE, stderr=errlog,
                             text=True, start_new_session=True)
        try:
            setup = None
            while True:
                left = deadline - time.monotonic()
                if left <= 0:
                    raise BenchError(f"{wl_name} launch {k} exceeded the time budget")
                ready, _, _ = select.select([p.stdout], [], [], left)
                if not ready:
                    continue
                line = p.stdout.readline()
                if not line:
                    break
                if setup is None and line.strip() == "READY":
                    setup = time.perf_counter() - t0
            p.wait(timeout=max(1.0, deadline - time.monotonic()))
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0 or setup is None or not os.path.exists(out):
        with open(os.path.join(scratch, "jvm.log")) as fh:
            tail = fh.read()[-2000:]
        raise BenchError(f"{wl_name} launch {k} failed (exit {p.returncode}):\n{tail}")
    with open(out) as fh:
        res = json.load(fh)
    res["setup_s"] = setup
    keep = os.path.join(CACHE, "last", wl_name)
    os.makedirs(keep, exist_ok=True)
    shutil.copy(os.path.join(scratch, "jvm.log"), os.path.join(keep, f"launch{k}.log"))
    if trace:
        shutil.copy(spans, os.path.join(keep, f"launch{k}-spans.json"))
    shutil.rmtree(scratch, ignore_errors=True)
    return res


# ---------------------------------------------------------------- metrics

def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def percentile(xs, p):
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1] if len(xs) > 1 else xs[0]


def throughput(r):
    """Completed queries per second of one launch: each client's completed
    queries over its own span, from its first issue to its last result,
    summed over the clients. A closed-loop client is busy for the whole of
    its span, so this leaves out the tail in which clients that finished
    wait for the last request, and does not jump by a whole request when
    one more happens to complete inside the window."""
    per = {}
    for c in r["calls"]:
        per.setdefault(c["client"], []).append(c)
    return sum(sum(c["ok"] for c in cs) /
               (max(c["done_s"] for c in cs) - min(c["issued_s"] for c in cs))
               for cs in per.values())


def end_to_end(results):
    """End-to-end metrics over a run's launches: set-up from every launch,
    the rest from the launches that ran the workload. A query's latency runs
    from its issue to its result."""
    working = [r for r in results if r["calls"]]
    lat = [c["done_s"] - c["issued_s"] for r in working for c in r["calls"] if c["ok"]]
    spans = [max(c["done_s"] for c in r["calls"]) - min(c["issued_s"] for c in r["calls"])
             for r in working]
    return {
        "setup_s": statistics.median(r["setup_s"] for r in results),
        "makespan_s": statistics.median(spans),
        "latency_p50_s": statistics.median(lat),
        "latency_p95_s": percentile(lat, 95),
        "queries_per_s": statistics.median(throughput(r) for r in working),
        "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in working),
    }, lat, spans


def probes():
    """CPU and disk probes, recorded for attribution only."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x ^= i * 2654435761 & 0xFFFFFFFF
    cpu = time.perf_counter() - t
    path = os.path.join(CACHE, "io-probe.bin")
    t = time.perf_counter()
    with open(path, "wb") as fh:
        fh.write(b"\x5a" * (16 << 20))
        fh.flush()
        os.fsync(fh.fileno())
    io = time.perf_counter() - t
    os.remove(path)
    return {"nproc": os.cpu_count(), "loadavg": os.getloadavg(),
            "cpu_probe_s": round(cpu, 4), "io_probe_16mb_s": round(io, 4)}


def report(wl_name, wl, dirs, results, lat, spans, bad, attempted, trace_layers):
    r = sys.stderr
    print(f"== perfbench {wl_name}: {wl['loop']} loop, {clients(wl)} client(s), "
          f"local[{NPROC}], {len(results)} launches, {' '.join(JVM_MEM)}", file=r)
    for shape, d in dirs.items():
        with open(os.path.join(d, "manifest.json")) as fh:
            man = json.load(fh)
        print(f"   inputs[{shape}]: " + ", ".join(
            f"{t} {v['rows']} rows/{v['bytes'] / 1e6:.1f} MB" for t, v in man.items()), file=r)
    working = [x for x in results if x["calls"]]
    rows = [("setup_s", [x["setup_s"] for x in results]),
            ("makespan_s", spans), ("latency_s", lat),
            ("peak_rss_mb", [x["peak_rss_mb"] for x in working])]
    for name, xs in rows:
        q1, q2, q3 = quartiles(sorted(xs))
        print(f"   {name:<12} median {q2:.4f}  q1 {q1:.4f}  q3 {q3:.4f}  (n={len(xs)})", file=r)
    per_q = {}
    for x in working:
        for c in x["calls"]:
            per_q.setdefault(c["query"], []).append(c["done_s"] - c["issued_s"])
    for q, xs in sorted(per_q.items(), key=lambda kv: -statistics.median(kv[1])):
        print(f"   {q:<28} median {statistics.median(xs):.4f} s  (n={len(xs)})", file=r)
    print(f"   failed_frac {len(bad)}/{attempted} = {len(bad) / max(1, attempted):.4f}", file=r)
    for b in bad[:20]:
        print(f"   FAIL {b}", file=r)
    print(f"   machine: {json.dumps(probes())}", file=r)
    if trace_layers:
        for k in sorted(trace_layers):
            print(f"   {k:<26} {trace_layers[k]:.4f}", file=r)


def run_workload(name, args, cfg, bench):
    """One workload: returns its result object (the JSON line)."""
    wl = cfg["workloads"][name]

    cp, stamp = build()
    cat = catalog(cp, stamp)
    dirs = input_dirs(cfg, wl, args.seed)
    steps = [(q, dirs[shape]) for q, shape in wl["steps"]]
    missing = [q for q, _ in steps if q not in cat]
    if missing:
        raise BenchError(f"queries missing from SparkEntry.queries: {missing}")
    exp = expectations(cat, steps)

    # Every run launches the workload JVM `launches` times, each timed from
    # process start to READY. A closed loop measures in every launch, the
    # --seconds window split between them; a batch DAG runs in the first
    # launch and the others only set up. --trace 1 pairs a traced launch with
    # an untraced one, whose difference is the tracing overhead.
    closed = wl["loop"] == "closed"
    if args.trace:
        plan = [(True, True), (False, True)]
    else:
        plan = [(False, True)] + [(False, closed)] * (LAUNCHES - 1)
    window_s = args.seconds / sum(work for _, work in plan)
    deadline = time.monotonic() + JVM_BUDGET_S
    results = [launch(cp, name, wl, steps, work, traced, k, args.seed, window_s, deadline)
               for k, (traced, work) in enumerate(plan)]
    if any(work and not r["calls"] for r, (_, work) in zip(results, plan)):
        raise BenchError(f"{name}: a launch recorded no queries")

    rec_path = os.path.join(CACHE, "inputs", f"recorded-seed{args.seed}.json")
    recorded = {}
    if os.path.exists(rec_path):
        recorded = {tuple(k.split("\t")): v for k, v in json.load(open(rec_path)).items()}
    calls = [c for r in results for c in r["calls"]]
    bad = check(calls, exp, recorded)
    with open(rec_path, "w") as fh:
        json.dump({"\t".join(k): v for k, v in recorded.items()}, fh, indent=1)

    traced = [r for r, (t, _) in zip(results, plan) if t]
    untraced = [r for r, (t, _) in zip(results, plan) if not t]
    e2e, lat, spans = end_to_end(traced or untraced)
    layers = None
    if args.trace:
        layers = dict(traced[0]["layers"])
        key = "latency_p50_s" if closed else "makespan_s"
        layers["trace.overhead_s"] = e2e[key] - end_to_end(untraced)[0][key]
    report(name, wl, dirs, results, lat, spans, bad, len(calls), layers)

    values = layers if args.trace else e2e
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    return {"correct": not bad, "attempted": len(calls), "failed": len(bad),
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    help="a workload of BENCHMARK.json, or 'all' for every one in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        cfg = json.load(fh)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]] if args.workload == "all" else [args.workload]
    unknown = [n for n in names if n not in cfg["workloads"]]
    if unknown:
        raise BenchError(f"unknown workload {unknown}")
    results = {n: run_workload(n, args, cfg, bench) for n in names}
    if args.workload == "all":
        for n, res in results.items():
            print(f"{n}: " + ", ".join(f"{k} {v['value']:.4f} {v['unit']}"
                                       for k, v in res["metrics"].items()))
        print(json.dumps(results))
    else:
        print(json.dumps(results[args.workload]))
    sys.stdout.flush()
    return 0 if all(r["correct"] for r in results.values()) else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
