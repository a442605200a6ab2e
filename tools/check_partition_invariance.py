"""Parallelism-invariance gate: every registry qkey must produce the SAME
canonical result under different cluster shapes.

The north-rule criterion is throughput scaling from N to 4N executors; this
gate pins the correctness half of that claim — results must not depend on
task parallelism, shuffle-partition count, or input split sizing. Each
child process runs the FULL registry at one shape and prints per-qkey
(rows, sha256) canonical hashes (the same normalization the DuckDB oracle
compare uses, so "invariant" here means invariant at oracle strength); the
orchestrator diffs the two maps.

    python tools/check_partition_invariance.py [sf_dir]          # orchestrator
    python tools/check_partition_invariance.py --run local[8] 7 <sf_dir>

Shapes compared: local[8] with 7 shuffle partitions vs local[32] with 32 —
deliberately unequal and non-divisible so any partition-count-sensitive
operator (unstable tiebreaks, per-partition sampling, accumulation-order
floats) hashes differently.

Excluded (documented, rows-only by design in the registry):
* partition_metrics — reports per-partition/timing facts; partition-scoped
  BY PURPOSE.
* agg_approx — percentile_approx / HLL sketch outputs vary with merge
  order; its exactness contract is covered by the hash-verified sibling
  agg_approx_check (which IS swept here).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

EXCLUDE = {"partition_metrics", "agg_approx"}


def child(master: str, shuffle: str, sf_dir: str) -> None:
    import __spark_entry__ as ent
    from caraspark.oracle_compare import table_hash
    from caraspark.session import get_spark

    spark = get_spark(
        f"pinv-{master}-{shuffle}",
        master=master,
        extra_conf={"spark.sql.shuffle.partitions": shuffle},
    )
    out = {}
    for k, fn in ent.queries().items():
        if k in EXCLUDE:
            continue
        try:
            df = fn(spark, sf_dir)
            n, h = table_hash(df.columns, [tuple(r) for r in df.collect()])
            out[k] = f"{n}:{h}"
        except Exception as e:  # noqa: BLE001 — report, don't die mid-sweep
            out[k] = f"ERR:{type(e).__name__}"
    print(json.dumps(out))


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--run":
        child(sys.argv[2], sys.argv[3], sys.argv[4])
        return 0
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    shapes = [("local[8]", "7"), ("local[32]", "32")]
    maps = []
    for master, shuffle in shapes:
        r = subprocess.run(
            [sys.executable, __file__, "--run", master, shuffle, sf_dir],
            capture_output=True, text=True, timeout=3600,
        )
        if r.returncode != 0:
            # surface the child's Spark traceback — a swallowed stderr
            # makes a crashed shape-run undiagnosable
            print(r.stderr[-4000:], file=sys.stderr)
            raise SystemExit(
                f"shape run {master}/shuffle={shuffle} failed "
                f"(exit {r.returncode})"
            )
        maps.append(json.loads(r.stdout.strip().splitlines()[-1]))
        print(f"{master}/shuffle={shuffle}: {len(maps[-1])} keys hashed",
              file=sys.stderr)

    a, b = maps
    diff = sorted(
        k for k in a if a[k] != b.get(k) or a[k].startswith("ERR")
    ) + sorted(k for k in b if k not in a)
    print(
        json.dumps(
            {
                "metric": "parallelism_invariance",
                "sf_dir": sf_dir,
                "shapes": [f"{m}/shuffle={s}" for m, s in shapes],
                "keys_checked": len(a),
                "excluded": sorted(EXCLUDE),
                "mismatches": diff,
                "pass": not diff,
            }
        )
    )
    # gate semantics like check_oracle.py: non-zero exit on failure so
    # scripted batteries and check=True callers can't mistake a FAIL
    return 1 if diff else 0


if __name__ == "__main__":
    raise SystemExit(main())
