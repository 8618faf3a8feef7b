"""Run every workload untraced and traced and print one readable report:
each end-to-end metric by name and unit, the error rate, the run context,
the tracing overhead and the per-layer self times of the traced run.

    python3 perfbench/summary.py --seed 1 --seconds 30
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

# end-to-end metrics measured again, as trace.<name>, in the traced run
TRACED = ("ingest_turns_per_s", "routed_turns_per_s", "decode_turns_per_s", "search_p50_ms")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=False)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace} failed with exit code {p.returncode}")
    return json.loads(lines[-1]), json.loads(lines[-2])["context"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    args = ap.parse_args()
    report = {}
    for wl in WORKLOADS:
        plain, ctx = run_once(wl, args.seed, args.seconds, 0)
        traced, tctx = run_once(wl, args.seed, args.seconds, 1)
        e2e = {k: v["value"] for k, v in plain["metrics"].items()}
        layers = {k: v["value"] for k, v in traced["metrics"].items()}
        # how much slower the traced run was: a rate falls, a latency rises
        overhead = {}
        for k in TRACED:
            plain_v, traced_v = e2e.get(k), layers.get(f"trace.{k}")
            if plain_v and traced_v:
                ratio = traced_v / plain_v if k.endswith("_ms") else plain_v / traced_v
                overhead[k] = ratio - 1.0
        with open(os.path.join(ROOT, tctx["trace_file"])) as f:
            trace = json.load(f)
        print(f"== {wl} (seed {args.seed}, {args.seconds} s, local[{ctx['local_n']}] on {ctx['nproc']} cpus)")
        for k, v in plain["metrics"].items():
            value = "null" if v["value"] is None else f"{v['value']:.4f}"
            print(f"  {k:32s} {value:>14s} {v['unit']}")
        print(f"  {'op_error_rate':32s} {ctx['op_error_rate']:>14.4f} ratio "
              f"({plain['failed']} of {plain['attempted']} ops failed; traced run "
              f"{traced['failed']} of {traced['attempted']})")
        print(f"  {'gen_s':32s} {ctx['gen_s']:>14.4f} s (corpus generation, not in setup_s)")
        print(f"  steal {ctx['cpu_steal_share']:.3f}, load {ctx['loadavg1_mean']}, "
              f"op seconds {ctx['op_secs']}, input {ctx['input']}")
        for k, o in overhead.items():
            print(f"  tracing overhead {k:24s} {o:+.1%} (positive: slower when traced)")
        print("  self time by layer (traced run, s):")
        for name, secs in sorted(trace["self_time_s"].items(), key=lambda kv: -kv[1]):
            print(f"    {name:30s} {secs:10.3f}")
        attribution = trace["ingest_attribution"]
        shares = [a["manifest_steps_s"] / a["wall_s"] for a in attribution]
        print(f"  ingest ops whose layers explain their wall time within 15%: "
              f"{sum(a['ok'] for a in attribution)} of {len(attribution)}; "
              f"the manifest's steps alone explain {min(shares):.0%}-{max(shares):.0%}")
        report[wl] = {"end_to_end": e2e, "context": ctx, "tracing_overhead": overhead}
    print(json.dumps(report, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
