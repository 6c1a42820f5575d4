"""Smoke test of the benchmark itself.

Run from the repository root: python3 perfbench/smoke_test.py

  1. An untraced run at sf0.001 with one timed pass, over
     two real queries and one unknown name: every end-to-end metric of
     BENCHMARK.json prints with its unit, the unknown query counts as a
     failed operation (not as a fast one), and the exit code says the
     correctness check failed.
  2. A traced run: every per-layer metric prints with its unit, with the
     self-time table and the tracing-overhead line.
  3. The verdict rules of compare.py on fixed numbers.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import compare  # noqa: E402

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
QUERIES = "join_inner_hash,agg_rollup"


def run(*args):
    res = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                          "relational_mix", "--seed", "7",
                          *args], cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = res.stdout.strip().splitlines()
    assert lines, f"no output; stderr:\n{res.stderr[-3000:]}"
    return res.returncode, lines, json.loads(lines[-1])


def assert_metrics(lines, result, specs):
    assert set(result["metrics"]) == {m["name"] for m in specs}, result["metrics"].keys()
    for m in specs:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float)), (m, got)
        assert any(line.startswith(f"metric {m['name']} ") and line.endswith(f" {m['unit']}")
                   for line in lines), f"metric line for {m['name']} missing"


def test_unknown_query_fails():
    code, lines, result = run("--seconds", "0", "--trace", "0", "--ops", QUERIES + ",no_such_query")
    assert code == 1, f"exit code {code}, want 1 (correctness failed)"
    assert result["correct"] is False
    assert result["attempted"] == 3 and result["failed"] == 1, result
    assert "failed no_such_query: THREW NoSuchElementException: no query named no_such_query" in lines
    assert_metrics(lines, result, BENCH["end_to_end"])


def test_traced_run_prints_every_layer():
    code, lines, result = run("--seconds", "0", "--trace", "1", "--ops", QUERIES)
    assert code == 0, f"exit code {code}\n" + "\n".join(lines[-20:])
    assert result["correct"] is True and result["failed"] == 0
    assert_metrics(lines, result, BENCH["per_layer"])
    assert any(line.startswith("self-time per traced pass") for line in lines)
    assert any(line.startswith("tracing overhead") for line in lines)


def test_compare_verdicts():
    parent = {s: 10.0 + 0.1 * s for s in range(10)}
    assert compare.verdict(parent, {s: v * 0.5 for s, v in parent.items()}, "lower", 0.1)[0] == "gain"
    assert compare.verdict(parent, {s: v * 1.5 for s, v in parent.items()}, "lower", 0.1)[0] == "regression"
    assert compare.verdict(parent, dict(parent), "lower", 0.1)[0] == "same"
    noisy = {s: 10.0 * (1 + s % 2) for s in range(10)}
    assert compare.verdict(noisy, dict(noisy), "lower", 0.1)[0] == "unresolved"
    assert compare.verdict(parent, {s: v * 1.5 for s, v in parent.items()}, "higher", 0.1)[0] == "gain"


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"ok {name}")
