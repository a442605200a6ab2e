"""Attribute simjoin_prefix's cross-session wall variance (r4: 4.8 s vs
8.0 s between two sessions on the same sf0.1 pin).

The r4 verdict asks for ONE session with the pair interleaved: alternate
runs of `simjoin_prefix` with a stable reference query (`dedup_minhash`,
same corpus, similar shuffle profile) so any co-tenant noise window hits
both lanes. Verdict rule:

* both lanes' walls tight and simjoin near its fast number → the 8.0 s
  was VM noise, nothing to fix;
* simjoin consistently slow while the reference is tight → the
  candidate-verify join genuinely got heavier with the corpus re-pin.

Usage:  python tools/bench_simjoin_variance.py [sf_dir] [rounds]
Prints one JSON line with per-round walls for both lanes.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 6

    from caraspark.relational import load
    from caraspark.session import get_spark
    from caraspark.textops import minhash_candidates, simjoin_prefix

    spark = get_spark("simjoin-variance")

    def run(df) -> float:
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 2)

    # warmup both lanes once (JIT, python workers, parquet footers)
    run(simjoin_prefix(spark, sf))
    run(minhash_candidates(load(spark, sf, "documents")))

    sim, ref = [], []
    for _ in range(rounds):
        sim.append(run(simjoin_prefix(spark, sf)))
        ref.append(run(minhash_candidates(load(spark, sf, "documents"))))

    print(
        json.dumps(
            {
                "metric": "simjoin_prefix_interleaved_variance",
                "sf_dir": sf,
                "simjoin_walls": sim,
                "reference_minhash_walls": ref,
                "simjoin_best": min(sim),
                "simjoin_worst": max(sim),
                "reference_best": min(ref),
                "reference_worst": max(ref),
            }
        )
    )


if __name__ == "__main__":
    main()
