#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one run of one workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload sparkify_etl --seed 1 --seconds 15 --trace 0

Workloads (perfbench/spec.json, README.md): sparkify_etl, warehouse_mix,
llm_serve. A run compiles src/main/scala and perfbench/scala into
.bench_build/classes when their sources changed, generates the inputs from
the seed, probes the host, runs one JVM (perfbench.Harness), probes again,
checks the outputs and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end set; with --trace 1 the per-layer set, and the run also
prints self time per layer and the tracing overhead.

Everything it writes stays under .bench_build/ in the checkout; the run's
own directory is deleted at the end, the trace and a run record are kept.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import fcntl  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
# the JVM must end by then, leaving time for the checks inside 180 s
JVM_DEADLINE_S = 150

sys.path.insert(0, BENCH)
import checks  # noqa: E402
import gen  # noqa: E402

SPEC = json.load(open(os.path.join(BENCH, "spec.json")))


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def sources():
    out = []
    for base in (SRC, os.path.join(BENCH, "scala")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def spark_jars():
    """The Spark jar directory build.sbt compiles against (its unmanagedBase)."""
    if not os.path.isdir(SRC):
        fail(f"no sources at {os.path.relpath(SRC, ROOT)}: run from a checkout of the repository")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        fail("build.sbt names no Spark jar directory (unmanagedBase) that exists")
    return m.group(1)


def build(jars):
    """Compile the repository and the harness with scalac when sources changed."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(classes, "STAMP")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cp = os.path.join(jars, "*")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
               "-cp", cp, "scala.tools.nsc.Main", "-usejavacp",
               "-nowarn", "-classpath", cp, "-d", tmp] + srcs
        t0 = time.time()
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if p.returncode != 0:
            print(p.stdout[-4000:], file=sys.stderr)
            fail("compilation failed")
        with open(os.path.join(tmp, "STAMP"), "w") as f:
            f.write(stamp)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
        return classes


# ---------------------------------------------------------------------------
# host probes (the same two axes as graft.Bench's st and io probes)
# ---------------------------------------------------------------------------

def cpu_probe():
    """Seconds to sha256-chain 256 MiB on one core; min of two passes."""
    buf = bytes((i * 31 + 7) & 0xFF for i in range(1 << 20))
    best = float("inf")
    for _ in range(2):
        md = hashlib.sha256()
        t0 = time.perf_counter()
        for _ in range(256):
            md.update(buf)
        md.digest()
        best = min(best, time.perf_counter() - t0)
    return best


def io_probe(directory):
    """Seconds to write 128 MiB to the run directory, fsync, read it back."""
    path = os.path.join(directory, "_ioprobe")
    buf = bytes((i * 13 + 11) & 0xFF for i in range(1 << 20))
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        for _ in range(128):
            f.write(buf)
        f.flush()
        os.fsync(f.fileno())
    with open(path, "rb") as f:
        while f.read(1 << 20):
            pass
    dt = time.perf_counter() - t0
    os.remove(path)
    return dt


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def pct(values, q):
    """Percentile q (0..100) by linear interpolation between order statistics."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def end_to_end(r):
    timed = [o for o in r["ops"] if o["phase"] == "timed"]
    q = [o["wall_ms"] for o in timed if o["kind"] == "query" and o["ok"]]
    return {
        "setup_s": (r["setup_s"], "s"),
        "query_ms_p50": (pct(q, 50), "ms"),
        "queries_per_s": (len(q) / r["timed_s"], "1/s"),
        "heap_retained_mb": (r["heap_retained_mb"], "MB"),
    }


def etl_figures(r, truth, input_bytes):
    timed = [o for o in r["ops"] if o["phase"] == "timed"]
    per_pass = {}
    for o in timed:
        if o["kind"] == "etl" and o["ok"]:
            per_pass[o["pass"]] = per_pass.get(o["pass"], 0.0) + o["wall_ms"]
    rates = [truth["input_records"] / (ms / 1000.0) for ms in per_pass.values()]
    return statistics.median(rates) if rates else float("nan"), r["etl_bytes"] / input_bytes


def per_layer(r, workload, truth, input_bytes):
    """Per-layer figures from the traced passes of a --trace 1 run."""
    ops = [o for o in r["ops"] if o["phase"] == "timed" and o["traced"]]
    work = r["work"]
    queries = [o for o in ops if o["kind"] == "query"]
    nq = max(1, len(queries))

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def total(key):
        return sum(work.get(str(o["span"]), {}).get(key, 0) for o in ops)

    m = {}
    etl = workload == "sparkify_etl"
    rows_per_s, ratio = etl_figures(r, truth, input_bytes) if etl else (0.0, 0.0)
    m["etl.open_ms"] = (mean(o["wall_ms"] for o in ops if o["layer"] == "etl.open"), "ms")
    m["etl.song_side_ms"] = (mean(o["wall_ms"] for o in ops if o["layer"] == "etl.song_side"), "ms")
    m["etl.log_side_ms"] = (mean(o["wall_ms"] for o in ops if o["layer"] == "etl.log_side"), "ms")
    m["etl.files_written"] = (r["etl_files"], "count")
    m["etl.bytes_written"] = (r["etl_bytes"], "bytes")
    m["etl.readme_ms"] = (mean(o["wall_ms"] for o in ops if o["layer"] == "etl.readme"), "ms")
    m["etl.rows_per_s"] = (rows_per_s, "rows/s")
    m["etl.bytes_written_per_input_byte"] = (ratio, "ratio")
    for mod in ("relational", "text", "vector"):
        mine = [o for o in queries if o["layer"] == mod]
        m[f"{mod}.build_ms"] = (mean(o["build_ms"] for o in mine), "ms")
        m[f"{mod}.exec_ms"] = (mean(o["exec_ms"] for o in mine), "ms")
    m["tables.open_ms"] = (mean(o["wall_ms"] for o in ops if o["layer"] == "tables"), "ms")
    warm = [o for o in r["ops"] if o["phase"] == "warm"]
    m["scratch.builds_setup"] = (r["builds_setup"], "count")
    m["scratch.build_ms"] = (sum(o["wall_ms"] for o in warm if o["new_builds"] > 0), "ms")
    m["scratch.bytes"] = (r["scratch_bytes"], "bytes")
    m["scratch.builds_timed"] = (r["builds_timed"], "count")
    m["plan.analysis_ms"] = (total("analysis_ms") / nq, "ms")
    m["plan.optimization_ms"] = (total("optimization_ms") / nq, "ms")
    m["plan.planning_ms"] = (total("planning_ms") / nq, "ms")
    m["sched.jobs"] = (total("jobs") / nq, "count")
    m["sched.stages"] = (total("stages") / nq, "count")
    m["sched.tasks"] = (total("tasks") / nq, "count")
    wall = sum(o["wall_ms"] for o in ops if o["ok"])
    m["sched.driver_gap_ms"] = ((wall - total("task_union_ms")) / nq, "ms")
    m["exec.run_ms"] = (total("run_ms") / nq, "ms")
    m["exec.cpu_ms"] = (total("cpu_ms") / nq, "ms")
    m["exec.core_util"] = (total("run_ms") / (wall * r["cores"]) if wall else 0.0, "ratio")
    m["exec.bytes_read"] = (total("bytes_read") / nq, "bytes")
    m["exec.records_read"] = (total("records_read") / nq, "count")
    m["shuffle.write_bytes"] = (total("shuffle_write") / nq, "bytes")
    m["shuffle.read_bytes"] = (total("shuffle_read") / nq, "bytes")
    m["shuffle.fetch_wait_ms"] = (total("fetch_wait_ms") / nq, "ms")
    m["spill.disk_bytes"] = (total("spill_disk") / nq, "bytes")
    m["codegen.compiles"] = (r["setup_compiles"], "count")
    m["codegen.compile_ms"] = (r["setup_compile_ms"], "ms")
    all_timed = [o for o in r["ops"] if o["phase"] == "timed"]
    m["codegen.compiles_warm"] = (sum(o["compiles"] for o in all_timed), "count")
    m["jvm.gc_ms"] = (sum(o["gc_ms"] for o in ops) / nq, "ms")
    m["jvm.peak_rss_mb"] = (r["peak_rss_mb"], "MB")
    m["trace.overhead_pct"] = (overhead_pct(r), "%")
    return m


def overhead_pct(r):
    """Traced against untraced passes of one run, per operation name."""
    by = {}
    for o in r["ops"]:
        if o["phase"] == "timed" and o["ok"] and o["kind"] != "open":
            by.setdefault(o["name"], ([], []))[0 if o["traced"] else 1].append(o["wall_ms"])
    pairs = [(statistics.median(t), statistics.median(u)) for t, u in by.values() if t and u]
    if not pairs:
        return float("nan")
    return 100.0 * (sum(t for t, _ in pairs) / sum(u for _, u in pairs) - 1.0)


def self_times(spans):
    """Self time per layer over the timed traced passes: a span's duration
    minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}

    def visit(s):
        st, en = s["start"], s["end"] if s["end"] is not None else s["start"]
        iv = sorted((max(st, c["start"]), min(en, c["end"] if c["end"] is not None else c["start"]))
                    for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(0.0, en - st - covered)
        for c in kids.get(s["id"], []):
            visit(c)

    for s in spans:
        if s["layer"] == "pass":
            visit(s)
    return out


# ---------------------------------------------------------------------------
# run
# ---------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    wl = SPEC["workloads"][args.workload]

    jars = spark_jars()
    classes = build(jars)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    run_dir = os.path.join(BUILD, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work, scratch, tmp = (os.path.join(run_dir, d) for d in ("data", "work", "scratch", "tmp"))
    for d in (data, work, scratch, tmp):
        os.makedirs(d)
    try:
        return run(args, wl, jars, classes, run_id, run_dir, data, work, scratch, tmp, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, wl, jars, classes, run_id, run_dir, data, work, scratch, tmp, t_start):
    # ---- inputs (not part of set-up) ----
    phases = {}
    t_phase = time.time()
    truth, input_bytes = None, 0
    harness_args = [f"workload={args.workload}", f"data={data}", f"work={work}",
                    f"seconds={args.seconds}", f"trace={args.trace}", f"seed={args.seed}",
                    f"warm={wl['warm_passes']}"]
    if args.workload == "sparkify_etl":
        truth = gen.write_sparkify_lake(data, args.seed, wl["song_records"], wl["log_events"])
        input_bytes = sum(os.path.getsize(os.path.join(d, f))
                          for d, _, fs in os.walk(data) for f in fs)
        harness_args.append(f"user={truth['sessions_user']}")
    else:
        gen.write_tables(data, args.seed, wl["sf"])
        harness_args.append("groups=" + ";".join(
            f"{','.join(g['registries'])}:{g['every']}" for g in wl["groups"]))

    phases["generate"] = time.time() - t_phase
    probes = {"cpu_pre": cpu_probe(), "io_pre": io_probe(run_dir)}
    t_phase = time.time()

    # ---- one JVM: set-up, timed passes, untimed output dumps ----
    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=scratch, SPARK_LOCAL_DIRS=tmp,
               SPARK_GRAFT_CPUS=str(cores))
    cp = os.pathsep.join([classes, RESOURCES, os.path.join(jars, "*")])
    cmd = (["java", f"-Xmx{SPEC['jvm']['heap']}", f"-Djava.io.tmpdir={tmp}"]
           + SPEC["jvm"]["java_options"] + ["-cp", cp, "perfbench.Harness"] + harness_args)
    log_path = os.path.join(run_dir, "jvm.log")
    budget = JVM_DEADLINE_S - (time.time() - t_start)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10.0, budget))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            print(f.read()[-4000:], file=sys.stderr)
        fail(f"harness JVM ended with {rc}")
    r = json.load(open(result_path))
    phases["jvm"] = time.time() - t_phase

    probes.update(cpu_post=cpu_probe(), io_post=io_probe(run_dir))
    disagree = [k for k in ("cpu", "io")
                if abs(probes[f"{k}_post"] / probes[f"{k}_pre"] - 1.0) > 0.10]

    # ---- output checks ----
    t_phase = time.time()
    errors = r["check_errors"]
    if truth is not None:
        results = checks.check_sparkify(r["checks"], errors, truth)
    else:
        results = checks.check_queries(data, os.path.join(work, "check"), r["queries"],
                                       r["checks"]["oracle_sql"], errors, tmp)
    bad_checks = [(n, e) for n, e in results if e]
    phases["check"] = time.time() - t_phase
    timed = [o for o in r["ops"] if o["phase"] == "timed"]
    failed_ops = [o for o in timed if not o["ok"]]
    attempted = len(timed) + len(results)
    failed = len(failed_ops) + len(bad_checks)

    # ---- report ----
    e2e = end_to_end(r)
    q = sorted(o["wall_ms"] for o in timed if o["kind"] == "query" and o["ok"])
    p90 = pct(q, 90)
    say = lambda s: print(s, flush=True)  # noqa: E731
    passes = len({o["pass"] for o in timed})
    say(f"perfbench {args.workload} seed={args.seed} trace={args.trace} cores={r['cores']} "
        f"timed={r['timed_s']:.1f}s passes={passes} queries/pass={len(q) // max(1, passes)}")
    for name, (v, unit) in e2e.items():
        say(f"  {name:<30} {v:12.4f} {unit}")
    say(f"  {'query_ms_p90':<30} {p90:12.4f} ms   (n={len(q)}, {sum(1 for x in q if x > p90)} beyond)")
    say(f"  {'peak_rss_mb':<30} {r['peak_rss_mb']:12.4f} MB")
    say(f"  {'failed_frac':<30} {failed / attempted:12.4f} ratio ({failed}/{attempted})")
    if truth is not None:
        rows_per_s, ratio = etl_figures(r, truth, input_bytes)
        say(f"  {'etl_rows_per_s':<30} {rows_per_s:12.1f} rows/s")
        say(f"  {'bytes_written_per_input_byte':<30} {ratio:12.4f} ratio")
    say(f"  host probes: cpu {probes['cpu_pre']:.3f}/{probes['cpu_post']:.3f}s "
        f"io {probes['io_pre']:.3f}/{probes['io_post']:.3f}s (pre/post)"
        + (f"  WINDOW DISAGREES on {','.join(disagree)}" if disagree else "  window ok"))
    say("  run phases: " + " ".join(f"{k} {v:.1f}s" for k, v in phases.items())
        + f" total {time.time() - t_start:.1f}s")
    for o in failed_ops[:10]:
        say(f"  FAILED op {o['name']}: {o['err']}")
    for n, e in bad_checks[:20]:
        say(f"  FAILED check {n}: {e}")

    metrics = e2e
    spans_file = None
    if args.trace:
        metrics = per_layer(r, args.workload, truth, input_bytes)
        for name, (v, unit) in metrics.items():
            say(f"  {name:<34} {v:14.4f} {unit}")
        spans = json.load(open(os.path.join(work, "spans.json")))
        selft = self_times(spans)
        tot = sum(selft.values()) or 1.0
        say("  self time per layer over the traced passes:")
        for layer, ms in sorted(selft.items(), key=lambda kv: -kv[1]):
            say(f"    {layer:<22} {ms:10.1f} ms  {100 * ms / tot:5.1f}%")
        say(f"  tracing overhead against the untraced passes: {metrics['trace.overhead_pct'][0]:+.2f}%")
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        spans_file = os.path.join(BUILD, "traces", run_id + ".json")
        shutil.copyfile(os.path.join(work, "spans.json"), spans_file)

    record = {"run": run_id, "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "probes": probes, "window_disagrees": disagree, "failed": failed,
              "attempted": attempted, "bad_checks": bad_checks,
              "metrics": {k: v for k, (v, _) in metrics.items()}, "trace_file": spans_file}
    with open(os.path.join(BUILD, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")

    def num(v):
        return None if v != v else v  # NaN is not JSON

    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": num(v), "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
