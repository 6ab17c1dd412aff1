"""Clean-steal slow-mode variance study (VERDICT r6 #1).

The r5/r6 driver benches measured individual heavy queries (parse_extract,
dedup_decisions, pipeline_decisions) 30-60% over their clean bests at
near-zero steal — a bimodal "session mode" the steal-based reconciliation
could not explain. This tool reruns one or more declared queries many times
in ONE session and records, per rep:

  * wall seconds and /proc/stat steal (as bench.py does),
  * JVM GC time delta (all GarbageCollectorMXBeans) — if a slow rep's
    excess wall time is GC time, the mechanism is heap pressure;
  * JIT compilation time delta (CompilationMXBean) and code-cache pool
    occupancy (CodeHeap MemoryPoolMXBeans) — if slow reps coincide with
    compilation bursts or a near-full code cache, the mechanism is the
    code-cache/JIT pressure BENCH/PLANS.md's 1g code-cache finding points
    at;
  * the number of cached/checkpointed RDD blocks (storage status) — if
    slow reps follow block accumulation, the mechanism is localCheckpoint
    lifetime / ContextCleaner lag.

Usage:
  python tools/variance_study.py --sf-dir /root/testdata/sf0.1 \
      --reps 10 dedup_decisions pipeline_decisions

Writes one JSON line per query to stdout; redirect to BENCH/ for evidence.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _read_steal() -> tuple[int, int]:
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except Exception:
        return 0, 0


def _jvm_probe(spark):
    """GC ms, JIT compile ms, code-cache and heap used MB, persistent RDD count."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    gc_ms = 0
    for b in mf.getGarbageCollectorMXBeans():
        t = b.getCollectionTime()
        if t > 0:
            gc_ms += t
    comp = mf.getCompilationMXBean()
    jit_ms = comp.getTotalCompilationTime() if comp is not None else 0
    code_used = 0
    heap_used = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    for p in mf.getMemoryPoolMXBeans():
        if "CodeHeap" in p.getName() or "Code Cache" in p.getName():
            code_used += p.getUsage().getUsed()
    return {
        "gc_ms": int(gc_ms),
        "jit_ms": int(jit_ms),
        "code_cache_mb": round(code_used / 1048576.0, 1),
        "heap_used_mb": round(heap_used / 1048576.0, 1),
        "persistent_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--warm-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--reps", type=int, default=10)
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        help="extra k=v session confs (A/B the mechanism hypotheses)",
    )
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from tempeh_spark.session import build_session

    extra = dict(kv.split("=", 1) for kv in args.conf)
    spark = build_session(app_name="tempeh-variance-study", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    for name in args.queries:
        if name not in qs:
            print(f"unknown query {name}", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"warm {name}")
        qs[name](spark, args.warm_dir).write.format("noop").mode("overwrite").save()
        reps = []
        for r in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name} rep{r}")
            j0 = _jvm_probe(spark)
            s0, t0 = _read_steal()
            t = time.perf_counter()
            qs[name](spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t
            s1, t1 = _read_steal()
            j1 = _jvm_probe(spark)
            reps.append(
                {
                    "sec": round(dt, 3),
                    "steal_pct": round(100.0 * (s1 - s0) / max(1, t1 - t0), 1),
                    "gc_delta_ms": j1["gc_ms"] - j0["gc_ms"],
                    "jit_delta_ms": j1["jit_ms"] - j0["jit_ms"],
                    "code_cache_mb": j1["code_cache_mb"],
                    "heap_used_mb": j1["heap_used_mb"],
                    "persistent_rdds": j1["persistent_rdds"],
                }
            )
            print(json.dumps({name: reps[-1]}), flush=True)
        secs = [x["sec"] for x in reps]
        print(
            json.dumps(
                {
                    "query": name,
                    "sf_dir": args.sf_dir,
                    "reps": reps,
                    "best": min(secs),
                    "worst": max(secs),
                    "spread": round(max(secs) / min(secs), 2),
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
