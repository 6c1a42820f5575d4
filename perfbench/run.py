"""Run one benchmark workload and print its metrics.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
      [--ops q1,q2,...]

Builds the program from source if needed (see build.py), generates the
inputs from the seed (gen.py), runs the closed-loop benchmark program
(src/graft/perfbench/PerfBench.scala) in one JVM, checks every
operation's result against the DuckDB oracle (check.py), and prints:

  - one `metric <name> <value> <unit>` line per metric: the end-to-end
    metrics with `--trace 0`, the per-layer metrics with `--trace 1`
    (then also the per-layer self-time table of the spans);
  - a `{"perfbench": {...}}` line with the full record and its context;
  - as the last line, `{"correct", "attempted", "failed", "metrics"}`.

The exit code is 0 only when every operation succeeded and matched the
oracle. Build outputs, inputs and work files go under
`$CARGO_TARGET_DIR/perfbench` (default `.bench_build/perfbench`).
"""
import argparse
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
sys.path.insert(0, HERE)

import build  # noqa: E402

# every run must end within this many seconds, build included
RUN_LIMIT_S = 170
# input scale factor: lineitem has 6,000 rows
SF = 0.001
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# (name, unit) of every metric, in BENCHMARK.json order
END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("op_geomean_ms", "ms"),
              ("op_slowest_ms", "ms"), ("cpu_s", "s")]
PER_PASS_LAYERS = [
    ("tables.bytes_read", "B"), ("tables.rows_read", "count"),
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("catalyst.plan_s", "s"), ("catalyst.plan_nodes", "count"),
    ("catalyst.codegen_compiles", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.job_s", "s"), ("spark.driver_gap_s", "s"), ("spark.driver_cpu_s", "s"),
    ("spark.task_cpu_s", "s"), ("spark.task_run_s", "s"), ("spark.task_wait_s", "s"),
    ("spark.gc_s", "s"), ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.task_failures", "count")]
PER_RUN_LAYERS = [
    ("operators.memo_warm_s", "s"), ("operators.memo_build_s", "s"),
    ("operators.memo_build_in_pass_s", "s"), ("operators.cold_pass_excess_s", "s"),
    ("operators.graft_caches", "count"), ("operators.cache_mb", "MB"),
    ("trace.overhead_s", "s")]
PER_LAYER = PER_PASS_LAYERS + PER_RUN_LAYERS


def op_medians(rec):
    """Median latency in ms of each operation over the timed passes; an
    operation that failed in any pass has none."""
    by_op = {}
    for p in rec["passes"]:
        for op in p["ops"]:
            by_op.setdefault(op["name"], []).append(op["ms"] if op["error"] is None else None)
    return {n: statistics.median(ms) for n, ms in by_op.items() if None not in ms}


def end_to_end(rec):
    meds = list(op_medians(rec).values())
    return {
        "setup_s": statistics.median(s["total_s"] for s in rec["setups"]),
        "pass_s": statistics.median(p["wall_s"] for p in rec["passes"]),
        "op_geomean_ms": statistics.geometric_mean(meds) if meds else None,
        "op_slowest_ms": max(meds) if meds else None,
        "cpu_s": statistics.median(p["cpu_s"] for p in rec["passes"]),
    }


def per_layer(rec):
    traced = [p for p in rec["passes"] if p["traced"]]
    plain = [p for p in rec["passes"] if not p["traced"]]
    out = {name: statistics.median(p["layers"][name] for p in traced)
           for name, _ in PER_PASS_LAYERS}
    warm = rec["memo_warm"]
    out["operators.memo_warm_s"] = warm["total_s"]
    out["operators.memo_build_s"] = sum(warm["kinds"].values())
    out["operators.memo_build_in_pass_s"] = rec["memo_build_in_pass_s"]
    out["operators.cold_pass_excess_s"] = (
        statistics.median(s["cold_pass_s"] for s in rec["setups"])
        - statistics.median(p["wall_s"] for p in plain))
    out["operators.graft_caches"] = rec["graft_caches"]
    out["operators.cache_mb"] = rec["cache_mb"]
    out["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                               - statistics.median(p["wall_s"] for p in plain))
    return out


def self_times(spans_path, n_passes):
    """Per-layer (count, total s, self s) per traced pass, from the span file.

    A span's self time is its duration minus the part of it that its
    child spans cover."""
    spans = [json.loads(line) for line in open(spans_path)]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    table = {}
    for s in spans:
        a, b = s["start_us"], s["end_us"]
        covered, cur = 0, None
        for c0, c1 in sorted((max(a, c["start_us"]), min(b, c["end_us"]))
                             for c in kids.get(s["id"], [])):
            if c1 <= c0:
                continue
            if cur is None or c0 > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [c0, c1]
            else:
                cur[1] = max(cur[1], c1)
        if cur:
            covered += cur[1] - cur[0]
        layer = "op" if s["name"].startswith("op:") else s["name"]
        row = table.setdefault(layer, [0, 0.0, 0.0])
        row[0] += 1
        row[1] += (b - a) / 1e6
        row[2] += (b - a - covered) / 1e6
    return {k: (v[0] / n_passes, v[1] / n_passes, v[2] / n_passes) for k, v in table.items()}


def git_revision():
    try:
        res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return res.stdout.strip() if res.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classes, args, work, deadline):
    """Run the benchmark JVM in its own process group; kill the group on timeout."""
    # a fixed heap and the stop-the-world throughput collector: G1's
    # concurrent threads compete with four task threads on four CPUs and
    # widen the run-to-run spread of every timing. No hsperfdata file: the
    # run writes only inside the checkout.
    cmd = (["java", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in JAVA_OPENS]
           + ["-cp", build.classpath(classes), "graft.perfbench.PerfBench"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return None
        finally:
            # timed out, or this process is being stopped: take the JVM down too
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def fmt(v):
    return "null" if v is None else repr(float(v))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--ops", default=None, help="comma-separated queries replacing the workload's")
    a = ap.parse_args(argv)
    # SIGTERM unwinds like Ctrl-C, so run_jvm's cleanup stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S

    build_dir = build.default_build_dir()
    os.makedirs(build_dir, exist_ok=True)
    try:
        classes, src_digest = build.build(build_dir)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    import gen
    with open(gen.__file__, "rb") as f:
        gen_digest = hashlib.sha256(f.read()).hexdigest()[:12]
    data = os.path.join(build_dir, "data", f"{gen_digest}-sf{SF}-seed{a.seed}")
    if not os.path.exists(os.path.join(data, "_done")):
        shutil.rmtree(data, ignore_errors=True)
        gen.write(data, a.seed, SF)
        open(os.path.join(data, "_done"), "w").close()

    work = os.path.join(build_dir, "work", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    args = ["--workload", a.workload, "--data", data, "--work", work, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out]
    if a.ops:
        args += ["--ops", a.ops]
    code = run_jvm(classes, args, work, deadline)
    if code != 0 or not os.path.exists(out):
        tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-3000:]
        why = "timed out" if code is None else f"exited with {code}"
        print(f"perfbench: benchmark JVM {why}\n{tail}", file=sys.stderr)
        return 3
    with open(out) as f:
        rec = json.load(f)

    import check
    thrown = {}
    for p in rec["passes"]:
        for op in p["ops"]:
            if op["error"] is not None:
                thrown.setdefault(op["name"], op["error"])
    thrown.update(rec["check_errors"])
    verdicts = check.check(data, work, rec["ops"], thrown)
    bad = {n for n, v in verdicts.items() if v != "OK"}
    timed = [op for p in rec["passes"] for op in p["ops"]]
    failed = [op for op in timed if op["error"] is not None or op["name"] in bad]
    correct = not bad and not failed

    if a.trace:
        metrics = per_layer(rec)
        units = PER_LAYER
    else:
        metrics = end_to_end(rec)
        units = END_TO_END
    for name, unit in units:
        print(f"metric {name} {fmt(metrics[name])} {unit}")
    print(f"metric failed_frac {len(failed) / max(1, len(timed))!r} ratio")
    print(f"info timed_ops {len(timed)} passes {len(rec['passes'])} setups {len(rec['setups'])}")
    if a.trace:
        for kind, secs in sorted(rec["memo_warm"]["kinds"].items()):
            print(f"metric operators.memo_build_s.{kind} {secs!r} s")
        n_traced = sum(1 for p in rec["passes"] if p["traced"])
        print(f"self-time per traced pass ({n_traced} passes): layer spans total_s self_s")
        for layer, (n, tot, own) in sorted(self_times(os.path.join(work, "spans.jsonl"),
                                                       n_traced).items()):
            print(f"  {layer:16s} {n:8.1f} {tot:9.3f} {own:9.3f}")
        print(f"tracing overhead {metrics['trace.overhead_s']:+.3f} s per pass "
              f"(traced minus untraced median pass)")
    for name in sorted(bad):
        print(f"failed {name}: {verdicts[name]}")

    context = dict(rec["context"], workload=a.workload, seed=a.seed, sf=SF, trace=a.trace,
                   git_revision=git_revision(), source_digest=src_digest,
                   wall_s=round(time.time() - t_start, 3))
    print(json.dumps({"perfbench": {
        "context": context, "metrics": metrics, "verdicts": verdicts,
        "failed_ops": sorted({op["name"] for op in failed}),
        "setups": rec["setups"],
        "passes": [{k: p[k] for k in ("traced", "wall_s", "cpu_s")} for p in rec["passes"]],
    }}))
    print(json.dumps({
        "correct": correct, "attempted": len(timed), "failed": len(failed),
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in units}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
