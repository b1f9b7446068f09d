#!/usr/bin/env python3
"""Benchmark of the graft engine: one seeded workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py compare BASE_RESULTS_DIR CHANGE_RESULTS_DIR

Run from the repository root. A run builds the engine and the harness from
source when either changed, writes the seeded input copies, times a cold
set-up in a JVM of its own, runs the harness JVM (a second cold set-up,
warm-up passes over two warm-up copies, the first two of which dump every
result, then for each of three measured copies a first pass and a third of
S seconds of warm passes), checks every dumped result against its DuckDB
oracle, and prints every metric with its unit and sample count.
The last stdout line is one JSON object with correct, attempted, failed and
metrics: the end-to-end metrics untraced, the per-layer metrics traced. All
output stays under target/perfbench/ of the checkout; each run leaves its
record in target/perfbench/results/.

`compare` pairs the records of two sets of runs by workload and seed and
prints each side's median and quartiles and the share of pairs the change
(the second set) wins.
"""
import argparse
import glob
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, "target", "perfbench")
CPUS = os.cpu_count() or 1
HEAP = "2g"
JVM_TIMEOUT_S = 150
# Cold set-ups timed in a JVM that only sets up, besides the harness's own.
EXTRA_SETUPS = 1
# Measured copies, each with a first pass of its own; first_pass_s is their median.
FIRST_PASSES = 3
BUILD_TIMEOUT_S = 800
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# Per-layer counters summed over a pass, reported as the median over warm passes.
PASS_SUMS = [
    "tables.scan_mb", "tables.scan_rows", "sources.scan_rows",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "catalyst.executions", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
    "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_read_mb", "exec.shuffle_write_mb",
    "exec.spill_mb", "op.exchanges", "op.broadcasts", "op.scans", "op.sort_ms", "op.agg_ms",
    "op.graft_nodes", "sink.writes", "sink.write_s", "sink.files", "sink.out_mb",
    "stream.batches", "stream.input_rows", "stream.add_batch_ms", "stream.planning_ms",
    "stream.commit_ms", "stream.offsets_ms", "stream.state_rows", "stream.state_mb"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def source_hash():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            paths += [os.path.join(d, f) for f in fs]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness with sbt unless the last build saw
    the same sources; returns (classpath, source hash)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout: build.sbt or src/ is missing")
    src = source_hash()
    stamp_path = os.path.join(WORK, "build", "classpath.json")
    try:
        stamp = load_json(stamp_path)
        if stamp["source"] == src:
            return stamp["classpath"], src
    except (OSError, ValueError, KeyError):
        pass
    os.makedirs(os.path.dirname(stamp_path), exist_ok=True)
    log = os.path.join(WORK, "build", "sbt.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    with open(log) as f:
        lines = f.read().splitlines()
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed; see {log}")
    with open(stamp_path, "w") as f:
        json.dump({"source": src, "classpath": lines[-1]}, f)
    return lines[-1], src


def run_java(classpath, main, args, log, timeout=JVM_TIMEOUT_S):
    """Runs `main` in a JVM with the benchmark's flags, output to `log`."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap and the throughput collector keep GC work and resident
    # memory alike from run to run (G1's adaptive sizing moved peak RSS by
    # 10-20% between runs of the same workload).
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, main] + args
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{main} timed out after {timeout}s; see {log}")
    with open(log) as f:
        lines = f.read().splitlines()
    if code != 0:
        fail(f"{main} exited with {code}; see {log}\n" + "\n".join(lines[-20:]))
    return lines


def cold_setup(classpath, log):
    """Seconds from JVM start until a session with the engine is usable."""
    lines = run_java(classpath, "perfbench.Setup", [str(CPUS)], log, timeout=60)
    return next(float(x.split()[1]) for x in reversed(lines) if x.startswith("setup_s "))


def passes(rec, kind):
    return [p for p in rec["passes"] if p["kind"] == kind]


def clean(ps):
    """The passes the host did not steal from, or all when none is clean."""
    return [p for p in ps if p["clean"]] or ps


def slices(p):
    """Every counter slice of a pass: each call's build and action, and what
    the cut at the pass end caught."""
    return [c[s] for c in p["calls"] for s in ("build", "action")] + [p["counts"]]


def pass_sum(p, key):
    return sum(s.get(key, 0.0) for s in slices(p))


def end_to_end(rec):
    """{metric: (value, samples)} from the untraced record."""
    warm = clean(passes(rec, "warm"))
    first = clean(passes(rec, "first"))
    qs = [c["build_s"] + c["action_s"] for p in warm for c in p["calls"]]
    return {
        "setup_s": (stats.median(rec["setups_s"]), len(rec["setups_s"])),
        "first_pass_s": (stats.median([p["wall_s"] for p in first]), len(first)),
        "warm_pass_s": (stats.median([p["wall_s"] for p in warm]), len(warm)),
        "query_s.p50": (stats.percentile(qs, 50), len(qs)),
        "peak_rss_mb": (rec["peak_rss_mb"], 1),
    }


def per_layer(rec, rows_out):
    """{metric: (value, samples)} from the traced record."""
    warm = clean(passes(rec, "warm"))
    firsts = passes(rec, "first")
    n = len(warm)

    def warm_median(f):
        return stats.median([f(p) for p in warm]), n

    batch_ms = [b for p in warm for s in slices(p) for b in s.get("batch_ms", [])]
    batches = sum(pass_sum(p, "stream.job_batches") for p in warm)
    loads = [x for p in firsts + warm for x in p["load1"]]
    out = {k: warm_median(lambda p, k=k: pass_sum(p, k)) for k in PASS_SUMS}
    out.update({
        "tables.load_s": (sum(rec["table_load_s"].values()), len(rec["table_load_s"])),
        "query.build_s": (stats.median([sum(c["build_s"] for c in p["calls"]) for p in firsts]),
                          len(firsts)),
        "query.build_jobs": (stats.median([sum(c["build"].get("exec.jobs", 0) for c in p["calls"])
                                           for p in firsts]), len(firsts)),
        "query.action_s": warm_median(lambda p: sum(c["action_s"] for c in p["calls"])),
        "query.rows_out": (rows_out, 1),
        "staging.build_s": (stats.median([sum(s.values()) for s in rec["staging"]]),
                            len(rec["staging"])),
        "staging.artifacts": (stats.median([len(s) for s in rec["staging"]]), len(rec["staging"])),
        "staging.cached_mb": (warm[-1]["cached_mb"], 1),
        "exec.core_util": warm_median(
            lambda p: pass_sum(p, "exec.task_run_s") / (p["wall_s"] * rec["cpus"])),
        "exec.task_skew": (max(s.get("exec.task_skew", 1.0) for p in warm for s in slices(p)), n),
        "stream.jobs_per_batch": (
            sum(pass_sum(p, "stream.batch_jobs") for p in warm) / batches if batches else 0.0,
            int(batches)),
        "stream.batch_ms.p50": (stats.percentile(batch_ms, 50) if batch_ms else 0.0, len(batch_ms)),
        "setup.jvm_s": (rec["main_s"], 1),
        "setup.session_s": (rec["setup_s"] - rec["main_s"], 1),
        "setup.warmup_s": (rec["warmup_s"], len(passes(rec, "warmup"))),
        "jvm.gc_s": (rec["jvm_gc_s"], 1),
        "jvm.cpu_s": warm_median(lambda p: p["cpu_s"]),
        "jvm.heap_peak_mb": (rec["heap_peak_mb"], 1),
        "host.load1": (stats.median(loads), len(loads)),
        "host.steal_s": (sum(p["steal_s"] for k in ("first", "warm") for p in passes(rec, k)),
                         len(passes(rec, "first")) + len(passes(rec, "warm"))),
    })
    return out


def merged(call):
    """A call's build and action counters together (skew: the worse one)."""
    out = {}
    for side in (call["build"], call["action"]):
        for k, v in side.items():
            if isinstance(v, (int, float)):
                out[k] = max(out.get(k, v), v) if k == "exec.task_skew" else out.get(k, 0) + v
    return out


def query_breakdown(rec):
    """Per query: median first-pass and median warm-pass times and counters."""
    def medians(calls):
        ms = [merged(c) for c in calls]
        return dict({k: stats.median([m.get(k, 0) for m in ms]) for k in ms[0]},
                    build_s=stats.median([c["build_s"] for c in calls]),
                    action_s=stats.median([c["action_s"] for c in calls]))

    return {c0["q"]: {kind: medians([p["calls"][i] for p in passes(rec, kind)])
                      for kind in ("first", "warm")}
            for i, c0 in enumerate(passes(rec, "first")[0]["calls"])}


def worst(verdicts, labels):
    """{query: None if every check passed, else the failed checks' reasons,
    each after its label}."""
    out = {}
    for q in verdicts[0]:
        bad = [f"{label}: {v[q]}" for v, label in zip(verdicts, labels) if v[q] is not None]
        out[q] = "; ".join(bad) or None
    return out


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def run(args):
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    spec = load_json(os.path.join(HERE, "workloads.json"))
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload}; choose one of {sorted(spec['workloads'])}")
    names = spec["workloads"][args.workload]
    classpath, src = build()

    data = os.path.join(WORK, "data")
    base = gen.ensure_base(data, spec["sf"])
    warmups = ["warmup1", "warmup2"]
    measured = [f"measured{i}" for i in range(1, FIRST_PASSES + 1)]
    copies = {role: os.path.join(data, role) for role in warmups + measured}
    for role, path in copies.items():
        gen.ensure_copy(base, path, args.seed, role)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    check_dir = os.path.join(WORK, "check", args.workload)
    record_path = os.path.join(WORK, f"raw-{tag}.json")
    setups = [cold_setup(classpath, os.path.join(WORK, f"setup{i}-{tag}.log"))
              for i in range(EXTRA_SETUPS)]
    run_java(classpath, "perfbench.Harness", [
        "--queries", ",".join(names), "--warmup", ",".join(copies[r] for r in warmups),
        "--measured", ",".join(copies[r] for r in measured),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--cpus", str(CPUS),
        "--check", check_dir, "--out", record_path],
        os.path.join(WORK, f"harness-{tag}.log"))
    rec = load_json(record_path)
    rec["setups_s"] = setups + [rec["setup_s"]]

    # Each dump is checked: the first warm-up pass's results came from calls
    # that built the staged artifacts, the second pass's from calls that probed them.
    cache = oracle.OracleCache(os.path.join(WORK, "oracle_cache.json"))
    dumps = [p for p in passes(rec, "warmup") if p["check"]]
    verdicts = worst([oracle.check(
        names, rec["oracle_sql"], base, gen.read_stamp(base), os.path.join(check_dir, p["check"]),
        cache, {c["q"]: c["error"] for c in p["calls"] if c["error"]}) for p in dumps],
        [p["check"] for p in dumps])
    cache.save()
    last = os.path.join(check_dir, dumps[-1]["check"])
    rows_out = sum(oracle.result_rows(last, q) for q in names if verdicts[q] is None)

    calls = [c for p in passes(rec, "first") + passes(rec, "warm") for c in p["calls"]]
    failed = sum(1 for c in calls if c["error"] or verdicts[c["q"]] is not None)
    for c in calls:
        if c["error"]:
            print(f"FAILED {c['q']}: {c['error']}")
    for q in names:
        if verdicts[q] is not None:
            print(f"FAILED {q}: {verdicts[q]}")

    load = [x for p in rec["passes"] for x in p["load1"]]
    measured = passes(rec, "first") + passes(rec, "warm")
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"commit {commit() or 'src:' + src[:12]} N {rec['cpus']} sf {spec['sf']} "
          f"queries {len(names)} host.load1 {min(load):.2f}..{max(load):.2f} "
          f"clean passes {sum(p['clean'] for p in measured)} of {len(measured)}")
    e2e = end_to_end(rec)
    print(f"fail_ratio {failed / len(calls):.4f} ({failed} of {len(calls)} calls)")
    declared = {m["name"]: m for m in bench["end_to_end" if args.trace == 0 else "per_layer"]}
    if args.trace == 0:
        values = e2e
    else:
        values = per_layer(rec, rows_out)
        layers = {"workload": args.workload, "seed": args.seed, "metrics": values,
                  "queries": query_breakdown(rec)}
        untraced = os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-t0.json")
        if os.path.exists(untraced):
            base_warm = load_json(untraced)["metrics"]["warm_pass_s"]["value"]
            over = e2e["warm_pass_s"][0] / base_warm - 1
            layers["trace_overhead"] = over
            print(f"tracing overhead {over:+.1%} on warm_pass_s "
                  f"({e2e['warm_pass_s'][0]:.3f} s traced, {base_warm:.3f} s untraced)")
        else:
            print("tracing overhead: no untraced run of this workload and seed to compare with")
        with open(os.path.join(WORK, f"layers-{args.workload}.json"), "w") as f:
            json.dump(layers, f, indent=1)
    metrics = {}
    for name, m in declared.items():
        v, n = values[name]
        note = f"  # {spec['layers'][name]}" if args.trace else ""
        print(f"{name} = {v:.6g} {m['unit']} ({n} samples){note}")
        metrics[name] = {"value": v, "unit": m["unit"]}
    if args.trace == 0:
        qs = [c["build_s"] + c["action_s"] for p in clean(passes(rec, "warm")) for c in p["calls"]]
        tail = [p for p in (99, 90, 75) if stats.supported(len(qs), p)]
        print(f"query_s.p{tail[0]} = {stats.percentile(qs, tail[0]):.6g} s ({len(qs)} samples)"
              if tail else f"query_s: no percentile above p50 has {stats.MIN_TAIL} of "
              f"{len(qs)} samples beyond it")
    result = {"correct": failed == 0, "attempted": len(calls), "failed": failed,
              "metrics": metrics}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump(dict(result, workload=args.workload, seed=args.seed, trace=args.trace), f)
    print(json.dumps(result))


def compare(base_dir, change_dir):
    """Prints, per workload and metric, each side's median, quartiles and
    spread over the runs both sets made (same workload, seed and trace), the
    change of the median against the metric's bound, and the share of pairs
    the change wins."""
    declared = [m for sec in ("end_to_end", "per_layer")
                for m in load_json(os.path.join(ROOT, "BENCHMARK.json"))[sec]]
    better = {m["name"]: m["better"] for m in declared}
    bound = {m["name"]: m.get("bound") for m in declared}

    def records(d):
        return {(r["workload"], r["trace"], r["seed"]): r["metrics"]
                for r in map(load_json, glob.glob(os.path.join(d, "*.json")))}

    a, b = records(base_dir), records(change_dir)
    groups = {}
    for key in sorted(set(a) & set(b)):
        groups.setdefault(key[:2], []).append(key)
    if not groups:
        fail("the two sets share no (workload, trace, seed) run")
    for (workload, trace), keys in sorted(groups.items()):
        print(f"{workload} trace {trace}: {len(keys)} pairs")
        for name in a[keys[0]]:
            xs = [a[k][name]["value"] for k in keys]
            ys = [b[k][name]["value"] for k in keys]
            if len(keys) >= 2:
                q = lambda v: "%.4g [%.4g, %.4g] spread %s" % (
                    stats.median(v), *stats.quartiles(v)[::2],
                    "%.3f" % stats.spread(v) if stats.median(v) else "-")
            else:
                q = lambda v: "%.4g" % v[0]
            mb, mc = stats.median(xs), stats.median(ys)
            worse = ((mc - mb) if better[name] == "lower" else (mb - mc)) / mb if mb else 0.0
            limit = f" (bound {bound[name]:.0%})" if bound[name] is not None else ""
            print(f"  {name:24} base {q(xs):44} change {q(ys):44} "
                  f"worse by {worse:+.1%}{limit}, change wins "
                  f"{stats.pairs_won(xs, ys, better[name]):.0%} of pairs")


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "compare":
        if len(sys.argv) != 4:
            fail("usage: run.py compare BASE_RESULTS_DIR CHANGE_RESULTS_DIR")
        compare(sys.argv[2], sys.argv[3])
        return
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    run(p.parse_args())


if __name__ == "__main__":
    main()
