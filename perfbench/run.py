"""The repository benchmark: one workload, one seed, one line of metrics.

    python3 perfbench/run.py --workload surface --seed 1 --seconds 10 --trace 0

Builds the engine from source (perfbench/build.py), generates the seeded
corpus (perfbench/gen.py), runs the workload in one JVM
(perfbench/scala/PerfBench.scala), checks its outputs, prints every
metric by name with its unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. Exits 1 when any
operation failed or any output is wrong; 2 when the benchmark cannot run.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = {
    # corpus scale factor, and the K of the replicated corpus (None = the
    # generated corpus as is)
    "surface": (0.01, None),
    "heavy_k3": (0.01, 3),
}
# Row-group size of the K=3 corpus (SCALING_r13.json: 2048-row groups, so
# a scan has production-like split counts at this size).
K3_ROW_GROUP = 2048
LANDED_TABLES = ["lift_edges_v2", "lsh_pairs_v2", "ngram_pairs_v2", "embed_pairs_v2",
                 "own_pairs_v2", "dedup_clusters_v1", "perceptron_w_v1"]
PIPELINES = ["ingest", "neardup_gate", "sessionize", "cdc_latest", "quality_gate"]
# heavy_k3's per-pass landing step, recorded as an operation of its own
LANDING = "landing"
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
JVM_TIMEOUT_S = 140
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def fingerprint(corpus):
    """sha256 over the corpus files' names and bytes."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(corpus)):
        h.update(name.encode())
        with open(os.path.join(corpus, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))]


def tail(xs):
    """The highest of p99/p95/p90/p75/p50 with at least 10 samples beyond
    it, as (value, percentile, sample count)."""
    for p in (99, 95, 90, 75, 50):
        if len(xs) * (100 - p) / 100 >= 10:
            return percentile(xs, p), p, len(xs)
    return percentile(xs, 50), 50, len(xs)


def union_us(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def end_to_end(raw):
    timed = [p for p in raw["passes"] if not p["traced"]]
    samples = [s["wall_s"] for s in raw["samples"]
               if s["pass"] >= 0 and not s["traced"] and s["op"] not in PIPELINES + [LANDING]]
    t, tp, tn = tail(samples)
    return {
        "run_s": (statistics.median(p["wall_s"] for p in timed), "s",
                  f"median of {len(timed)} passes"),
        "query_p50_s": (statistics.median(samples), "s"),
        "query_tail_s": (t, "s", f"p{tp} of {tn} operations"),
        "setup_s": (raw["setup_s"], "s", "JVM start to the end of the warm-up pass"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB", "JVM VmHWM"),
    }


def stream_metrics(raw, traced):
    batches = [b for b in raw["batches"] if b["pass"] >= 0 and b["traced"] == traced]
    drains = [s for s in raw["samples"]
              if s["pass"] >= 0 and s["traced"] == traced and s["op"] in PIPELINES]
    n_pass = max(1, len({b["pass"] for b in batches}))
    trig = [b["durations_ms"].get("triggerExecution", 0) / 1000.0 for b in batches]
    rows = sum(b["rows"] for b in batches)
    out = {
        "stream.rows_per_s": (rows / max(1e-9, sum(s["wall_s"] for s in drains)), "1/s"),
        "stream.batch_p50_s": (statistics.median(trig) if trig else 0.0, "s"),
        "stream.batches": (len(batches) / n_pass, "count"),
    }
    for key, name in (("addBatch", "add_batch_s"), ("queryPlanning", "query_planning_s"),
                      ("getBatch", "get_batch_s"), ("walCommit", "wal_commit_s")):
        out[f"stream.{name}"] = (
            sum(b["durations_ms"].get(key, 0) for b in batches) / 1000.0 / n_pass, "s")
    out["stream.state_rows_max"] = (max((b["state_rows"] for b in batches), default=0), "count")
    out["stream.state_mem_mb"] = (
        max((b["state_mem_b"] for b in batches), default=0) / 2**20, "MB")
    for p in PIPELINES:
        pb = [b for b in batches if b["pipeline"] == p]
        wall = sum(s["wall_s"] for s in drains if s["op"] == p)
        out[f"stream.{p}.rows_per_s"] = (sum(b["rows"] for b in pb) / max(1e-9, wall), "1/s")
    return out


def per_layer(raw):
    """Per-pass layer totals over the traced passes of a traced run."""
    cores = raw["cores"]
    traced = [p for p in raw["passes"] if p["traced"]]
    # The untraced passes between traced ones: the first pass is still
    # warming up and has no traced pass before it.
    untraced = [p for p in raw["passes"] if not p["traced"] and p["pass"] > 0]
    n = max(1, len(traced))
    samples = [s for s in raw["samples"] if s["traced"]]
    groups = raw["groups"]

    def g(op, kind):
        return groups.get(f"{op}#{kind}", {})

    ops = sorted({s["op"] for s in samples})

    def tot(key, kinds=("build", "sink")):
        return sum(g(op, k).get(key, 0) for op in ops for k in kinds)

    sinks = [s for s in samples if s["sink_end_us"] > 0]
    between = sum((s["sink_end_us"] - s["sink_start_us"]) - union_us(
        g(s["op"], "sink").get("stage_intervals_us", []), s["sink_start_us"], s["sink_end_us"])
        for s in sinks) / 1e6
    sink_core_s = sum(s["sink_end_us"] - s["sink_start_us"] for s in sinks) / 1e6 * cores
    sink_task_s = tot("run_ms", ("sink",)) / 1000.0
    phases = raw["sink_phases"]
    landed = {}
    for p in traced:
        for k, v in p["landings"].items():
            landed[k] = landed.get(k, 0.0) + v
    out = {
        "ops.build_s": (sum(s["build_s"] for s in samples) / n, "s"),
        "ops.eager_jobs": (tot("jobs", ("build",)) / n, "count"),
        "plan.analysis_s": (sum(p.get("analysis", 0) for p in phases) / n, "s"),
        "plan.optimization_s": (sum(p.get("optimization", 0) for p in phases) / n, "s"),
        "plan.planning_s": (sum(p.get("planning", 0) for p in phases) / n, "s"),
        "plan.codegen_compile_s": (raw["codegen_compile_s"], "s", "cold set-up"),
        "plan.codegen_compiles": (raw["codegen_compiles"], "count", "cold set-up"),
        "exec.jobs": (tot("jobs", ("sink",)) / n, "count"),
        "exec.stages": (tot("stages", ("sink",)) / n, "count"),
        "exec.tasks": (tot("tasks", ("sink",)) / n, "count"),
        "exec.between_stages_s": (between / n, "s"),
        "exec.idle_core_share": (1.0 - sink_task_s / sink_core_s if sink_core_s else 0.0,
                                 "share"),
        "exec.task_s": (tot("run_ms") / 1000.0 / n, "s"),
        "exec.cpu_s": (tot("cpu_ns") / 1e9 / n, "s"),
        "exec.gc_s": (tot("gc_ms") / 1000.0 / n, "s"),
        "exec.deser_s": (tot("deser_ms") / 1000.0 / n, "s"),
        "exec.shuffle_read_mb": (tot("shuffle_read_b") / 2**20 / n, "MB"),
        "exec.shuffle_write_mb": (tot("shuffle_write_b") / 2**20 / n, "MB"),
        "exec.spill_mb": (tot("spill_b") / 2**20 / n, "MB"),
        "exec.failed_tasks": (tot("failed_tasks") / n, "count"),
        "scan.input_mb": (tot("input_b") / 2**20 / n, "MB"),
        "scan.input_rows": (tot("input_rows") / n, "count"),
        "landing.total_s": (sum(landed.values()) / n, "s"),
        "landing.output_mb": (tot("output_b", ("build",)) / 2**20 / n, "MB"),
    }
    for kind in LANDED_TABLES:
        out[f"landing.{kind}_s"] = (landed.get(kind, 0.0) / n, "s")
    out.update(stream_metrics(raw, traced=True))
    tr = statistics.mean(p["wall_s"] for p in traced) if traced else 0.0
    un = statistics.mean(p["wall_s"] for p in untraced) if untraced else 0.0
    out["trace.overhead_share"] = (tr / un - 1.0 if un else 0.0, "share",
                                   f"{len(traced)} traced vs {len(untraced)} untraced passes")
    return out


def stream_check(o, expected):
    """Why a drain's counts differ from the staged input's, or None."""
    p, rows, users = o["pipeline"], expected["rows"][o["pipeline"]], expected["users"]
    want = {"input_rows": rows}
    if p == "ingest":  # time-ordered input: nothing is late, nothing dropped
        want.update(output_rows=rows, dead_letters=expected["dead_letters"])
    elif p == "cdc_latest":  # one current row per key
        want["state_rows_last"] = users
    elif p in ("neardup_gate", "quality_gate"):  # stateless
        want["state_rows_peak"] = 0
    bad = [f"{k} {o[k]} != {v}" for k, v in want.items() if o[k] != v]
    if p == "sessionize" and not 0 < o["state_rows_peak"] <= users:
        bad.append(f"state_rows_peak {o['state_rows_peak']} not in 1..{users} (one per user)")
    return "; ".join(bad) or None


def oracle_check(corpus, dump, names, tmp):
    """Compares each dumped query output with its DuckDB oracle through
    scripts/check_oracle.py; returns {query: None if it matches, else why}."""
    env = dict(os.environ, GRAFT_MIN_FREE_GB="1")
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts/check_oracle.py"), corpus, dump,
         *names, "--tmp", tmp, "--threads", str(os.cpu_count() or 1)],
        capture_output=True, text=True, env=env, timeout=30)
    verdict = {n: "no oracle result" for n in names}
    for line in proc.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("PASS", "FAIL", "SKIP"):
            name = parts[1].rstrip(":")
            verdict[name] = None if parts[0] == "PASS" else line.strip()
    return verdict


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="corpus scale factor (default: the workload's)")
    ap.add_argument("--inject-failure", action="store_true",
                    help="add an operation that throws (the benchmark's own test)")
    args = ap.parse_args()
    started = time.time()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build.build(build_dir)
    sf, k = WORKLOADS[args.workload]
    sf = args.sf or sf

    work = os.path.join(build_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        corpus = os.path.join(work, "corpus")
        gen.write(corpus, args.seed, sf)
        if k:
            base, corpus = corpus, os.path.join(work, f"corpus_k{k}")
            subprocess.run([sys.executable, os.path.join(ROOT, "scripts/make_sf_probe.py"),
                            base, corpus, str(k), str(K3_ROW_GROUP)],
                           check=True, capture_output=True, timeout=60)
        streams = os.path.join(work, "streams")
        expected = (gen.stage_streams(corpus, streams, args.seed)
                    if args.workload == "surface" else None)
        out = os.path.join(work, "raw.json")
        jars = os.path.join(build.spark_jars(), "*")
        cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={work}/tmp"] +
               [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
               ["-cp", os.pathsep.join([classes, jars]), "perfbench.PerfBench",
                "--workload", args.workload, "--corpus", corpus, "--streams", streams,
                "--work", work,
                "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--out", out,
                "--inject-failure", "1" if args.inject_failure else "0"])
        os.makedirs(os.path.join(work, "tmp"))
        t_jvm = time.time()
        log = os.path.join(work, "jvm.log")
        with open(log, "w") as lf:
            rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                timeout=JVM_TIMEOUT_S).returncode
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(open(log).read()[-3000:])
            build.die(f"engine run exited with {rc}")
        raw = json.load(open(out))
        t_jvm = time.time() - t_jvm
        spans = out[:-len(".json")] + ".spans.json"
        if os.path.exists(spans):
            os.makedirs(os.path.join(build_dir, "traces"), exist_ok=True)
            shutil.move(spans, os.path.join(build_dir, "traces",
                                            f"{args.workload}-{args.seed}.spans.json"))

        # Every operation run (warm-up and timed) is attempted once; it fails
        # if it threw, if its dumped output differs from the DuckDB oracle
        # (queries, checked on the warm-up dump), or if its counts differ
        # from the staged input's (pipeline drains).
        ops = raw["samples"]
        failures = {s["op"]: s["error"] for s in ops if s["error"]}
        failed = sum(1 for s in ops if s["error"])
        names = sorted({s["op"] for s in ops})
        t_check = time.time()
        verdict = oracle_check(corpus, os.path.join(work, "dump"),
                               [n for n in names
                                if n not in failures and n not in PIPELINES + [LANDING]],
                               os.path.join(work, "duck_tmp"))
        t_check = time.time() - t_check
        for n, why in verdict.items():
            if why:
                failures[n] = f"wrong output: {why}"
                failed += 1
        for o in raw["observations"]:
            why = stream_check(o, expected)
            if why:
                failures[o["pipeline"]] = f"wrong output: {why}"
                failed += 1
        attempted = len(ops)
        timed_ops = [s for s in ops if s["pass"] >= 0]

        ctx = dict(raw["context"], git_commit=git_commit(),
                   source_hash=open(os.path.join(classes, ".source-hash")).read()[:16],
                   corpus=fingerprint(corpus),
                   corpus_sf=str(sf), corpus_k=str(k or 1), workload=args.workload)
        print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
              f"trace={args.trace}")
        for key in sorted(ctx):
            print(f"  context {key} = {ctx[key]}")
        metrics = end_to_end(raw) if args.trace == 0 else per_layer(raw)
        declared = {m["name"] for m in BENCH[
            "end_to_end" if args.trace == 0 else "per_layer"]}
        extra = stream_metrics(raw, traced=False) if args.trace == 0 else {}
        print(f"  failed_share = {failed / max(1, attempted):.4f} share "
              f"({failed} of {attempted} operations)")
        for name, v in list(metrics.items()) + list(extra.items()):
            note = f"  ({v[2]})" if len(v) > 2 else ""
            print(f"  {name} = {v[0]:.6g} {v[1]}{note}")
        for op in names:
            walls = [s["wall_s"] for s in timed_ops if s["op"] == op and not s["traced"]]
            if walls:
                print(f"  op {op}: median {statistics.median(walls):.3f} s of {len(walls)}")
        for op, why in sorted(failures.items()):
            print(f"  FAILED {op}: {why}")
        print(f"  wall {time.time() - started:.1f} s (engine JVM {t_jvm:.1f} s, output check "
              f"{t_check:.1f} s; set-up {raw['setup_s']:.2f} s; "
              f"passes {', '.join('%.2f' % p['wall_s'] for p in raw['passes'])} s)")
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": {k2: {"value": v[0], "unit": v[1]} for k2, v in metrics.items()
                              if k2 in declared}}
        print(json.dumps(result))
        sys.exit(0 if failed == 0 else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
