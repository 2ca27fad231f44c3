"""Reconcile the traced run of one workload against itself and against
the untraced run.

    python3 perfbench/reconcile.py --workload serving_lifecycle --seed 7

Runs ``run.py`` three times with one seed — untraced, traced, traced —
and checks:

* every op's leaf layers account for its wall time to within 10%: the
  union of its ``queries.build``, ``TableStore`` and result-stream
  spans, its py4j calls and its Spark job intervals, each taken from
  its own instrument (``Tracer.leaf_share``); the module wrapper spans
  are left out, so Python time outside every leaf makes this fail;
* the count metrics of each op (Spark jobs, stages and tasks; files
  and hardlinks written under the lake) repeat exactly across the two
  traced runs; bytes written are compared too and their largest
  relative difference reported — the engine stamps appends with random
  uuid4 tokens and audit rows with the wall clock, so compressed file
  sizes can move by a few bytes between runs of one seed;
* the tracing overhead, as traced ÷ untraced ``read_p50_s`` and
  ``write_p50_s`` (reported, not bounded).

Prints one JSON report and exits non-zero when a check fails.
"""

from __future__ import annotations

import argparse
import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench_out"
COUNTS = (("spark", "jobs"), ("spark", "stages"), ("spark", "tasks"),
          ("lake", "files_written"), ("lake", "hardlinked_files"))


def run(workload: str, seed: int, seconds: float, trace: int, tag: str) -> dict:
    subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    src = OUT / f"{workload}-seed{seed}-trace{trace}.json"
    dst = OUT / f"reconcile-{workload}-seed{seed}-{tag}.json"
    shutil.move(src, dst)
    return json.loads(dst.read_text())


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    args = ap.parse_args()

    plain = run(args.workload, args.seed, args.seconds, 0, "untraced")
    traced = [run(args.workload, args.seed, args.seconds, 1, f"traced{i}") for i in (1, 2)]

    shares = [op["leaf_share"] for rec in traced for op in rec["ops"]]
    off = [{"op": op["id"], "name": op["name"], "leaf_share": op["leaf_share"]}
           for rec in traced for op in rec["ops"] if abs(op["leaf_share"] - 1.0) > 0.1]
    a, b = (rec["ops"] for rec in traced)
    mismatches = [
        {"op": x["id"], "name": x["name"], "count": f"{layer}.{key}",
         "run1": x[layer][key], "run2": y[layer][key]}
        for x, y in zip(a, b) for layer, key in COUNTS
        if x["name"] == y["name"] and x[layer][key] != y[layer][key]
    ]
    same_ops = [x["name"] for x in a] == [y["name"] for y in b]
    byte_diffs = [
        abs(x["lake"]["bytes_written"] - y["lake"]["bytes_written"]) / max(x["lake"]["bytes_written"], 1)
        for x, y in zip(a, b)
    ]

    def overhead(metric: str) -> float | None:
        base = plain["end_to_end"][metric]
        return traced[0]["end_to_end"][metric] / base if base else None

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "ops": len(a),
        "leaf_share_min": min(shares),
        "leaf_share_max": max(shares),
        "ops_outside_10pct": off,
        "layer_sums_within_10pct": not off,
        "same_op_sequence": same_ops,
        "count_mismatches": mismatches,
        "counts_repeat_exactly": same_ops and not mismatches,
        "bytes_written_max_rel_diff": max(byte_diffs, default=0.0),
        "tracing_overhead": {m: overhead(m) for m in ("read_p50_s", "write_p50_s")},
        "all_correct": all(r["self_test_rejects_corrupted_expectation"]
                           and all(op["ok"] for op in r["ops"]) for r in (plain, *traced)),
    }
    (OUT / f"reconcile-{args.workload}-seed{args.seed}.json").write_text(json.dumps(report, indent=1))
    print(json.dumps(report))
    ok = report["layer_sums_within_10pct"] and report["counts_repeat_exactly"] and report["all_correct"]
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
