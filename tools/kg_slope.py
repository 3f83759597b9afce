"""Per-stage data-scaling slopes for the full KG pipeline (VERDICT r4 #5).

The ops families have 2M->8M slope tables; this closes the same gap for
the 11-stage KG chain: run the COMPLETE pipeline on the 28.7M-turn input
(the bench_scaling x32 corpus) and on a quarter of it (x8, same
synthesis), same parallelism and shuffle config at both sizes,
interleaved reps with min-per-(size, stage) — then report each stage's
wall ratio against the 4x data ratio. A stage whose ratio exceeds
~1.3 x 4 = 5.2 is leaving linearity and needs investigation before
anyone trusts the 100x story; ratios well BELOW 4 mean fixed per-stage
latency still dominates that stage at this size.

Usage:
    python tools/kg_slope.py [reps]      # default 2

Env:
    SLOPE_CPUS      parallelism for both sizes (default 32)
    SLOPE_INPUT_BIG prepared x32 input (default /dev/shm/pq_scaling_input)
    SLOPE_INPUT_Q   quarter input path (default /dev/shm/pq_slope_q,
                    prepared on first run via bench_scaling.prepare_input)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sys.path.insert(0, os.path.join(ROOT, "tools"))
sys.path.insert(0, ROOT)
from bench_scaling import prepare_input  # noqa: E402


def run_pipeline(cpus: int, transcripts: str) -> dict[str, dict]:
    """One full-pipeline run in a fresh JVM; returns stage -> {rows, wall_ms}."""
    wh = tempfile.mkdtemp(prefix="pq_slope_wh_", dir="/dev/shm")
    try:
        subprocess.run(
            [
                "taskset", "-c", f"0-{cpus - 1}", sys.executable,
                "-m", "progquery_spark.run",
                "--transcripts", transcripts,
                "--warehouse", wh,
                "--no-lineage",
                "--no-resume",
                "--master", f"local[{cpus}]",
                "--shuffle-partitions", str(4 * cpus),
            ],
            capture_output=True,
            text=True,
            check=True,
            cwd=ROOT,
            timeout=3600,
        )
        with open(os.path.join(wh, "_pipeline_state.json")) as f:
            stages = json.load(f)["stages"]
        return {
            s: {"rows": r["rows"], "wall_ms": r["wall_ms"]}
            for s, r in stages.items()
            if not s.startswith("_")
        }
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    cpus = int(os.environ.get("SLOPE_CPUS", "32"))
    big = os.environ.get("SLOPE_INPUT_BIG", "/dev/shm/pq_scaling_input")
    quarter = os.environ.get("SLOPE_INPUT_Q", "/dev/shm/pq_slope_q")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.exists(os.path.join(big, "_SUCCESS")):
        print(f"preparing x32 input -> {big}", file=sys.stderr)
        prepare_input(sf_dir, 32, big)
    if not os.path.exists(os.path.join(quarter, "_SUCCESS")):
        print(f"preparing x8 (quarter) input -> {quarter}", file=sys.stderr)
        prepare_input(sf_dir, 8, quarter)

    best: dict[str, dict[str, float]] = {}  # size -> stage -> min wall_ms
    rows: dict[str, dict[str, int]] = {}
    for i in range(reps):
        for size, path in (("quarter", quarter), ("full", big)):
            t0 = time.time()
            res = run_pipeline(cpus, path)
            print(
                f"rep {i} {size}: e2e {time.time() - t0:.1f}s "
                + json.dumps({s: r["wall_ms"] for s, r in res.items()}),
                file=sys.stderr,
            )
            b = best.setdefault(size, {})
            rows[size] = {s: r["rows"] for s, r in res.items()}
            for s, r in res.items():
                b[s] = min(b.get(s, float("inf")), r["wall_ms"])

    out = {
        "cpus": cpus,
        "reps": reps,
        "data_ratio": 4,
        "stages": {
            s: {
                "quarter_s": round(best["quarter"][s] / 1000, 2),
                "full_s": round(best["full"][s] / 1000, 2),
                "ratio": round(best["full"][s] / max(best["quarter"][s], 1), 2),
                "rows_full": rows["full"][s],
                "flag": best["full"][s] / max(best["quarter"][s], 1) > 5.2,
            }
            for s in best["full"]
        },
    }
    print(json.dumps(out, indent=1))
    # markdown table for BENCH/BASELINE.md
    print("\n| stage | 7.2M turns (s) | 28.7M turns (s) | wall ratio (4x data) |")
    print("|---|---|---|---|")
    for s, r in out["stages"].items():
        flag = " **(superlinear!)**" if r["flag"] else ""
        print(f"| {s} | {r['quarter_s']} | {r['full_s']} | {r['ratio']}{flag} |")


if __name__ == "__main__":
    main()
