"""Suite profiler: where each benchmarked query spends its Spark work.

For each query of the frozen ``bench.SUITE`` (or each query named on the
command line) at ``--sf-dir`` (default: bench.py's, sf0.1), two steps run under their own job groups:

* ``build:<q>`` — build the query's DataFrame. A lazy builder runs no job
  here; builders that materialize upstream stages while building (a
  ``localCheckpoint`` on a shuffled plan, a driver-side collect) show up.
* ``action:<q>`` — a noop write of that DataFrame: the whole computation,
  without a sink.

Jobs, stages, SQL operator metrics and Python-boundary bytes are read back
from Spark's status stores through ``perfbench.sparktrace``. Times are the
first run of each query in one session (no warm-up), so they include plan
compilation; the job, stage and byte counts do not depend on it.

Usage:
  python tools/profile_suite.py [--sf-dir DIR] [--tag TAG] [query ...]

Writes BENCH/profile_<tag>.json: a header (cpus, sf, git sha) and one
record per query. ``SPARK_GRAFT_CPUS`` sets the local core count (default:
every core of the machine).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TOP_OPERATORS = 5


def _git_sha() -> str:
    """HEAD's sha, suffixed ``-dirty`` when tracked files differ from it."""
    try:
        return subprocess.run(
            ["git", "describe", "--always", "--dirty", "--abbrev=40", "--exclude=*"],
            cwd=REPO, capture_output=True, text=True, check=True,
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "unknown"


def _codegen_members(spark, execution_id: int) -> dict[str, list[str]]:
    """The operators fused into each WholeStageCodegen node of an execution."""
    store = spark._jsparkSession.sharedState().statusStore()
    members = {}
    nodes = store.planGraph(execution_id).nodes().iterator()
    while nodes.hasNext():
        node = nodes.next()
        if node.getClass().getSimpleName() == "SparkPlanGraphCluster":
            inner = node.nodes().iterator()
            names = members[node.name()] = []
            while inner.hasNext():
                names.append(inner.next().name().strip())
    return members


def profile_query(tracer, query, name: str, sf_dir: str) -> dict:
    """Build ``query(spark, sf_dir)`` under ``build:<name>``, run a noop write
    under ``action:<name>``, and return the query's profile record."""
    from perfbench.sparktrace import cpu_times, steal_pct

    cpu0 = cpu_times()
    with tracer.group(f"build:{name}") as build_span:
        df = query(tracer.spark, sf_dir)
    with tracer.group(f"action:{name}") as action_span:
        df.write.format("noop").mode("overwrite").save()
    cpu1 = cpu_times()
    build, action = tracer.report(build_span), tracer.report(action_span)

    operators = []
    for phase, rep in (("build", build), ("action", action)):
        for e in rep.executions:
            fused = _codegen_members(tracer.spark, e.execution_id)
            operators += [
                {
                    "operator": node,
                    "fuses": fused.get(node, []),
                    "duration_s": round(metrics["duration"], 3),
                    "phase": phase,
                }
                for node, metrics in e.nodes
                if metrics.get("duration")
            ]
    operators.sort(key=lambda op: -op["duration_s"])
    spans = (build_span.attrs, action_span.attrs)
    return {
        "query": name,
        "build_jobs": len(build.jobs),
        "build_s": round(build.wall_s, 3),
        "action_jobs": len(action.jobs),
        "action_s": round(action.wall_s, 3),
        "stages": len(build.stages) + len(action.stages),
        "top_operators": operators[:TOP_OPERATORS],
        "shuffle_bytes": int(sum(s["shuffle_bytes"] for s in spans)),
        "python_bytes_sent": int(sum(s["python_bytes_sent"] for s in spans)),
        "python_bytes_received": int(sum(s["python_bytes_received"] for s in spans)),
        "steal_pct": round(steal_pct(cpu0, cpu1), 2),
    }


def main() -> None:
    from bench import SF_DIR, SUITE

    ap = argparse.ArgumentParser(description="Per-query Spark profile of the bench suite.")
    ap.add_argument("queries", nargs="*", help="query names (default: bench.SUITE)")
    ap.add_argument("--sf-dir", default=SF_DIR, help=f"table directory (default: {SF_DIR})")
    ap.add_argument("--tag", default=time.strftime("%Y%m%d-%H%M%S"))
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from perfbench.sparktrace import SparkTracer
    from tempeh_spark.session import build_session

    queries = entrymod.queries()
    names = args.queries or list(SUITE)
    unknown = [n for n in names if n not in queries]
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark = build_session(app_name="tempeh-profile", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    tracer = SparkTracer(spark)
    sf = re.search(r"sf(\d+(?:\.\d+)?)/?$", args.sf_dir)
    profile = {
        "cpus": cpus,
        "sf": float(sf.group(1)) if sf else None,
        "sf_dir": args.sf_dir,
        "git_sha": _git_sha(),
        "queries": [],
    }
    try:
        for name in names:
            record = profile_query(tracer, queries[name], name, args.sf_dir)
            profile["queries"].append(record)
            print(json.dumps(record), flush=True)
    finally:
        spark.stop()
    out = REPO / "BENCH" / f"profile_{args.tag}.json"
    out.write_text(json.dumps(profile, indent=1) + "\n")
    print(f"wrote {out.relative_to(REPO)}")


if __name__ == "__main__":
    main()
