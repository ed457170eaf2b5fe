#!/usr/bin/env python3
"""graft benchmark: one workload run, one JSON verdict line.

Usage (from the repository root):

    python3 perfbench/run.py --workload live_reference --seed 1 --seconds 8 --trace 0

Builds the engine and the harness from this checkout's sources (sbt, once
per source change; output under .bench_build/), runs the workload in its
own JVM, checks the outputs, and prints the metrics named in
BENCHMARK.json as the last line of standard output. `--trace 0` prints the
end-to-end metrics, `--trace 1` the per-layer metrics of a run with
listeners attached (plus, on the line before, the tracing overhead against
the untraced run of the same workload and seed, when one was made).
"""
import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 175.0

sys.path.insert(0, HERE)
import oracle  # noqa: E402

# JVM flags the engine's own build runs Spark with (see build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    # a fixed, pre-touched heap: peak RSS then reads the engine's off-heap
    # use (RocksDB state, code cache, metaspace, threads), not how far the
    # collector happened to grow the heap
    "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
    "-XX:PerMethodRecompilationCutoff=10000",
    "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.sql.codegen.cache.maxEntries=8192",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- statistics ---------------------------------------------------------

def percentile(values, p):
    """Linear-interpolated percentile (p in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_rank(n, want, beyond=10):
    """The percentile to report for a tail metric named p`want`: `want`
    itself when at least `beyond` samples lie above it, else the highest
    percentile that still has `beyond` samples above it (never below the
    median). With n samples, n * (1 - p/100) >= beyond.
    """
    if n <= 0:
        return None
    return max(50.0, min(float(want), 100.0 * (1.0 - beyond / n)))


def tail(values, want):
    """(value, percentile used, sample count) for a tail metric."""
    p = tail_rank(len(values), want)
    if p is None:
        return None, None, 0
    return percentile(values, p), p, len(values)


# ---- metric catalogue ---------------------------------------------------

def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def end_to_end(res):
    """Every end-to-end metric, plus notes on the tail percentiles used."""
    s = res["samples"]
    notes = {}

    def tailed(name, key, want):
        v, p, n = tail(s[key], want)
        notes[name] = {"percentile": p, "samples": n}
        return v

    m = {
        "setup_s": res["setup_s"],
        "rss_peak_mb": res["rss_peak_mb"],
        "catchup_eps": res["catchup"]["events"] / res["catchup"]["seconds"],
        "sse_gap_p90_ms": tailed("sse_gap_p90_ms", "sse_gap_ms", 90),
        "batch_s": res["driver"]["batch_s"],
        "replay_s": res["driver"]["replay_s"],
    }
    return m, notes


def per_layer(res, failed, attempted):
    """Every per-layer metric of a traced run."""
    lay = dict(res["layers"])
    m = {}
    for k, v in lay.items():
        if isinstance(v, list):
            if k.startswith("streaming."):
                base = k[:-3]  # drop "_ms"
                m[f"{base}_p50_ms"] = percentile(v, 50) if v else 0.0
                m[f"{base}_total_ms"] = float(sum(v))
            elif k == "serve.snapshot_ms":
                m["serve.snapshot_p50_ms"] = percentile(v, 50) if v else 0.0
                m["serve.snapshot_p99_ms"] = tail(v, 99)[0] if v else 0.0
            elif k == "sources.publish_job_ms":
                m["sources.publish_job_p50_ms"] = percentile(v, 50) if v else 0.0
        else:
            m[k] = v
    vis = res["samples"]["visible_ms"]
    m["visible_p50_ms"] = percentile(vis, 50) if vis else 0.0
    m["visible_p99_ms"] = tail(vis, 99)[0] if vis else 0.0
    pub = res["samples"]["publish_ms"]
    m["publish_p50_ms"] = percentile(pub, 50) if pub else 0.0
    m["publish_p99_ms"] = tail(pub, 99)[0] if pub else 0.0
    late = res["samples"]["gen_late_ms"]
    m["sources.gen_late_p99_ms"] = tail(late, 99)[0] if late else 0.0
    m["failed_frac"] = failed / attempted
    for k, v in res["jvm"].items():
        m[f"jvm.{k}"] = v
    m["canary.st_s"] = statistics.median(res["canary"]["st_s"])
    m["canary.mt_s"] = statistics.median(res["canary"]["mt_s"])
    return m


def report(catalogue, values):
    """The `metrics` object of the verdict line: every metric the catalogue
    names, with its unit; plus the names that have no value."""
    metrics = {m["name"]: {"value": values.get(m["name"]), "unit": m["unit"]}
               for m in catalogue}
    return metrics, [n for n, v in metrics.items() if v["value"] is None]


# ---- build --------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    return env


def classpath():
    """The harness classpath, building first when the sources changed."""
    stamp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            old, cp = f.read().split("\n", 1)
        if old == stamp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Compile/fullClasspath"],
        cwd=HERE, env=sbt_env(), capture_output=True, text=True, timeout=800)
    lines = [l for l in out.stdout.splitlines() if l.startswith(BUILD)]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed", 3)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1])
    return lines[-1]


# ---- run ----------------------------------------------------------------

def query_list(workload):
    """The workload's driver rows, in a fixed order: warm times depend on
    which row runs first."""
    with open(os.path.join(HERE, "queries.json")) as f:
        return [q["name"] for q in json.load(f)["workloads"][workload]]


def _die_with_parent():
    # the workload JVM must not outlive this process, however it ends
    ctypes.CDLL("libc.so.6", use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def run_jvm(cp, args, run_dir, budget):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cmd = ["java", *JVM_FLAGS,
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dspark.local.dir={run_dir}/tmp",
           "-cp", cp, "perfbench.Main", *args, "--out", run_dir,
           "--data", os.path.join(HERE, "data")]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True, preexec_fn=_die_with_parent)
        try:
            code = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"workload run exceeded {budget:.0f} s (log: {run_dir}/jvm.log)", 4)
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"workload JVM exited with {code}", 5)
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def verdict(res):
    """(correct, attempted, failed, details) for one run's outputs."""
    details = []
    with open(os.path.join(HERE, "oracle_hashes.json")) as f:
        pinned = json.load(f)
    mismatched = 0
    for q in res["driver"]["queries"]:
        if q["error"]:
            details.append(f"{q['name']}: {q['error']}")
            continue
        got = oracle.parquet_hash(os.path.join(res["_dir"], "results", q["name"]))
        if got != pinned.get(q["name"]):
            mismatched += 1
            details.append(f"{q['name']}: result hash {got} != oracle {pinned.get(q['name'])}")
    checks_bad = [c for c in res["checks"] if not c["ok"]]
    details += [f"{c['name']}: {c['detail']}" for c in checks_bad]
    ops = res["ops"]
    attempted = ops["publishes"] + ops["frames"] + ops["query_runs"]
    failed = (ops["publish_failed"] + ops["not_visible"] + ops["frames_missed"]
              + ops["query_failed"] + mismatched)
    correct = not checks_bad and mismatched == 0 and ops["query_failed"] == 0 \
        and ops["not_visible"] == 0 and ops["publish_failed"] == 0
    return correct, max(attempted, 1), failed, details


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    ap.add_argument("--deadline", type=float, default=DEADLINE_S,
                    help="seconds the workload JVM may take")
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) are not in this checkout")
    spec = load_spec()
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")

    cp = classpath()
    t0 = time.time()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(a.cores),
            "--queries", ",".join(query_list(a.workload))]
    res = run_jvm(cp, args, run_dir, a.deadline)
    res["_dir"] = run_dir
    correct, attempted, failed, details = verdict(res)
    e2e, notes = end_to_end(res)

    last = os.path.join(BUILD, "last")
    os.makedirs(last, exist_ok=True)
    keep = {k: v for k, v in res.items() if k not in ("_dir",)}
    keep.update(end_to_end=e2e, notes=notes, correct=correct, details=details)
    if a.trace:
        metrics, missing = report(spec["per_layer"], per_layer(res, failed, attempted))
        base_file = os.path.join(last, f"{a.workload}-s{a.seed}-t0.json")
        if os.path.exists(base_file):
            with open(base_file) as f:
                base = json.load(f)["end_to_end"]
            overhead = {k: e2e[k] - base[k] for k in e2e
                        if e2e[k] is not None and base.get(k) is not None}
            keep["tracing_overhead"] = overhead
            print("tracing overhead (traced - untraced): " + json.dumps(
                {k: round(v, 4) for k, v in overhead.items()}))
        else:
            print("tracing overhead: no untraced run of this workload and seed yet")
        shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                    os.path.join(last, f"{tag}-spans.jsonl"))
    else:
        metrics, missing = report(spec["end_to_end"], e2e)
    with open(os.path.join(last, f"{tag}.json"), "w") as f:
        json.dump(keep, f, indent=1)
    shutil.copy(os.path.join(run_dir, "jvm.log"), os.path.join(last, f"{tag}.log"))
    shutil.rmtree(run_dir, ignore_errors=True)

    if missing:
        details.append(f"metrics not measured: {', '.join(missing)}")
        correct = False
    print(f"canary (s, never used to rescale): single-thread {res['canary']['st_s']}, "
          f"all-cores {res['canary']['mt_s']}")
    print("tail percentiles used: " + json.dumps(notes))
    if res["samples"]["gen_late_ms"] and tail(res["samples"]["gen_late_ms"], 99)[0] > 100.0:
        print("warning: the open-loop sender fell behind its schedule "
              f"(p99 lateness {tail(res['samples']['gen_late_ms'], 99)[0]:.0f} ms)")
    for d in details:
        print(f"FAIL {d}")
    print(f"run took {time.time() - t0:.1f} s", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
