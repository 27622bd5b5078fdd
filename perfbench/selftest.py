#!/usr/bin/env python3
"""Self-test of the benchmark: python3 perfbench/selftest.py

Runs every workload (ingest_loop on a 2 s ladder), untraced and
traced, and asserts that the outputs checked correct, that the result
names each end-to-end and per-layer metric of BENCHMARK.json with its
unit, and that the runner itself reported every metric of the layers
the workload calls (the `metric <name> = <value> <unit>` lines). Then
two negative controls must fail the command: a corrupted expected
query hash and a delivery the subscriber drops.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def bench(workload, trace, *extra):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "2", "--trace", str(trace), *extra],
                       cwd=ROOT, capture_output=True, text=True, timeout=400)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p


def main():
    spec = run.spec()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == spec, "BENCHMARK.json is not run.spec()"
    failures = []
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, kind in [(0, "end_to_end"), (1, "per_layer")]:
            code, out, p = bench(w, trace)
            want = {m["name"]: m["unit"] for m in spec[kind]}
            if code != 0 or not out or not out["correct"]:
                failures.append(f"{w} trace={trace}: exit {code}\n{p.stdout[-3000:]}\n{p.stderr[-3000:]}")
                continue
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != want:
                failures.append(f"{w} trace={trace}: metrics differ: missing "
                                f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                                f"units {[(k, got[k], want[k]) for k in want if k in got and got[k] != want[k]]}")
            if not all(isinstance(v["value"], float) for v in out["metrics"].values()):
                failures.append(f"{w} trace={trace}: non-numeric metric values")
            reported = {}
            for line in p.stdout.splitlines():
                if line.startswith("metric "):
                    name, _, rest = line[len("metric "):].partition(" = ")
                    reported[name] = rest.split()[-1]
            mine = [m["name"] for m in spec["end_to_end"]] if trace == 0 else run.own_layers(w)
            missing = [n for n in mine if reported.get(n) != want[n]]
            if missing:
                failures.append(f"{w} trace={trace}: not reported by the runner: {missing}")
            ok = "ok" if not missing and got == want else "FAILED"
            print(f"{ok} {w} trace={trace}: {len(got)} metrics, attempted {out['attempted']}", flush=True)

    for w, extra in [("queries_cold", ["--corrupt-hash", run.PANEL[0]]),
                     ("ingest_loop", ["--drop-delivery"])]:
        code, out, p = bench(w, 0, *extra)
        if code == 0 or not out or out["correct"] or out["failed"] < 1:
            failures.append(f"negative control {w} {extra} did not fail: exit {code}, {out}")
        else:
            print(f"ok {w} {extra[0]}: failed as it must ({out['failed']} failed)", flush=True)

    for f in failures:
        print("FAIL", f)
    print("selftest", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
