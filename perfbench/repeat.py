"""Steadiness tooling: run the benchmark over several seeds and summarize,
or compare two sets of runs.

    python3 perfbench/repeat.py run --workload serve --seeds 1-10 --seconds 30 \\
        --out .bench_out/serve.jsonl [--trace 0]
    python3 perfbench/repeat.py summary .bench_out/serve.jsonl [--bounds BENCHMARK.json]
    python3 perfbench/repeat.py compare A.jsonl B.jsonl [--bounds BENCHMARK.json]

``run`` appends one JSON line per run (seed, fingerprint, result, detail).
``summary`` prints each metric's median, quartiles, spread (IQR / median)
and sample count, and flags a spread above a third of the metric's bound.
``compare`` pairs the runs of two sets by (workload, seed) and refuses
to compare when a pair's input fingerprints differ; it prints each
metric's medians and their change. Comparing a trace-0 set with a
trace-1 set of the same seeds gives the tracing overhead on each
end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from perfbench.harness import quartiles, spread  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    rec = {"workload": workload, "seed": seed, "trace": trace, "rc": p.returncode,
           "wall_s": time.perf_counter() - t0}
    if len(lines) >= 2:
        detail = json.loads(lines[-2])["detail"]
        rec.update(fingerprint=detail["fingerprint"], detail=detail,
                   result=json.loads(lines[-1]))
    else:
        rec["stderr_tail"] = p.stderr[-2000:]
    return rec


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def bounds_of(path: str | None) -> dict[str, float]:
    if not path:
        return {}
    with open(path) as f:
        spec = json.load(f)
    return {m["name"]: m["bound"] for m in spec.get("end_to_end", []) if "bound" in m}


def metric_values(recs: list[dict]) -> dict[str, list[float]]:
    """name -> values over the runs: each run's end-to-end figures (a
    traced run keeps its own in the detail line) and its result metrics."""
    vals: dict[str, list[float]] = {}
    for r in recs:
        if "result" not in r:
            continue
        got = dict(r["detail"]["e2e"])
        got.update({k: v["value"] for k, v in r["result"]["metrics"].items()})
        for k, v in got.items():
            vals.setdefault(k, []).append(float(v))
    return vals


def summary(recs: list[dict], bounds: dict[str, float]) -> None:
    for key in sorted({(r["workload"], r["trace"]) for r in recs}):
        group = [r for r in recs if (r["workload"], r["trace"]) == key]
        bad = [r["seed"] for r in group if r["rc"] != 0 or "result" not in r]
        print(f"== workload={key[0]} trace={key[1]} runs={len(group)} failed_runs={bad}")
        print(f"{'metric':40s} {'n':>3s} {'q1':>12s} {'median':>12s} {'q3':>12s} {'spread':>7s}")
        for name, vs in sorted(metric_values(group).items()):
            if len(vs) < 2:
                continue
            q1, q2, q3 = quartiles(vs)
            sp = spread(vs)
            flag = ""
            if name in bounds and not sp <= bounds[name] / 3:
                flag = f"  > bound/3 ({bounds[name] / 3:.3f})"
            print(f"{name:40s} {len(vs):3d} {q1:12.4f} {q2:12.4f} {q3:12.4f} {sp:7.3f}{flag}")


def compare(a: list[dict], b: list[dict], bounds: dict[str, float]) -> int:
    fa = {(r["workload"], r["seed"]): r.get("fingerprint") for r in a}
    clash = sorted({k for r in b if (k := (r["workload"], r["seed"])) in fa
                    and fa[k] != r.get("fingerprint")})
    if clash:
        print(f"refusing to compare: input fingerprints differ for {clash}")
        return 2
    for wl in sorted({r["workload"] for r in a} & {r["workload"] for r in b}):
        va = metric_values([r for r in a if r["workload"] == wl])
        vb = metric_values([r for r in b if r["workload"] == wl])
        print(f"== workload={wl}")
        print(f"{'metric':40s} {'median A':>12s} {'median B':>12s} {'B/A':>7s}")
        for name in sorted(set(va) & set(vb)):
            if len(va[name]) < 2 or len(vb[name]) < 2:
                continue
            ma, mb = quartiles(va[name])[1], quartiles(vb[name])[1]
            bound = f"  bound {bounds[name]}" if name in bounds else ""
            print(f"{name:40s} {ma:12.4f} {mb:12.4f} {mb / ma if ma else float('nan'):7.3f}{bound}")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="run the benchmark over seeds; summarize; compare")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    r.add_argument("--seconds", type=int, required=True)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True)
    s = sub.add_parser("summary")
    s.add_argument("path")
    s.add_argument("--bounds")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    c.add_argument("--bounds")
    args = ap.parse_args(argv)

    if args.cmd == "run":
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        for seed in parse_seeds(args.seeds):
            rec = run_one(args.workload, seed, args.seconds, args.trace)
            with open(args.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(f"seed {seed}: rc={rec['rc']} wall={rec['wall_s']:.1f}s", flush=True)
        summary(load(args.out), {})
        return 0
    if args.cmd == "summary":
        summary(load(args.path), bounds_of(args.bounds))
        return 0
    return compare(load(args.a), load(args.b), bounds_of(args.bounds))


if __name__ == "__main__":
    sys.exit(main())
