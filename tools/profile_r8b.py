"""Round-8 follow-up profiling: small-scale (sf0.01) fixed overhead of the
jaccard_pairs / dup_clusters family.

The r8 rewrite wins 3.6x at sf1.0 but pays ~0.5s of extra scheduler
round-trips at sf0.01 (see OPTIMIZATION_r08.md "Not yet optimized" #1).
This measures the per-query floor over N reps in one session and prints
the Spark job count per query so structural overhead (job round-trips)
separates from host noise.

Run: python tools/profile_r8b.py [sf_dir] [reps]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 4
ONLY = sys.argv[3].split(",") if len(sys.argv) > 3 else [
    "jaccard_pairs", "dup_clusters", "dedup_corpus_lsh", "minhash_signatures",
]


def main():
    import __spark_entry__ as e
    from deep_ner_spark.session import get_spark

    spark = get_spark("profile-r8b", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    qs = e.queries()

    # warm the session (JIT, codegen cache, parquet footer cache)
    for name in ONLY:
        qs[name](spark, SF).count()

    tracker = sc.statusTracker()
    for name in ONLY:
        best, jobs_per = None, None
        for _ in range(REPS):
            ids0 = set(tracker.getJobIdsForGroup() or [])
            sc.setJobDescription(f"r8b:{name}")
            t0 = time.time()
            n = qs[name](spark, SF).count()
            dt = time.time() - t0
            ids1 = set(tracker.getJobIdsForGroup() or [])
            jobs = len(ids1 - ids0)
            best = dt if best is None else min(best, dt)
            jobs_per = jobs
        print(f"{name:28s} floor={best:7.3f}s  jobs/rep={jobs_per}  rows={n}",
              flush=True)


if __name__ == "__main__":
    main()
