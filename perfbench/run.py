"""Extraction-job benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload extract_full --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates the workload's input from
the seed, sets up a ``local[nproc]`` session, then submits one rep at a
time for ``--seconds`` seconds (at least two reps) and checks the output
of every rep.

``--trace 0`` reports the end-to-end metrics (medians over reps).
``setup_s`` is the median of three set-up passes (input generation,
session build, parquet write, committed-state prep) plus one warm-up rep.
``--trace 1`` runs traced and untraced reps in blocks of four (traced,
untraced, untraced, traced) and reports the per-layer metrics, including
the tracing overhead (median traced minus median untraced rep wall).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. A result file with
the machine's nproc, CPU steal over the run, git sha, seed, input sizes
and all spans goes to ``perfbench/.work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_PASSES = 3
MIN_REPS = 2  # a gated run must stay near a minute; more reps overrun its budget

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "1/s",
    "mb_per_s": "MB/s",
    "worker_peak_rss_mb": "MB",
}
PER_LAYER = {
    "chardecode.s_per_mb": "s/MB",
    "tokenizer.s_per_mb": "s/MB",
    "tree.s_per_mb": "s/MB",
    "extract.s_per_mb": "s/MB",
    "tokenizer.tokens": "count",
    "tree.nodes": "count",
    "extract.spans": "count",
    "chardecode.errors": "count",
    "tokenizer.errors": "count",
    "tree.errors": "count",
    "extract.errors": "count",
    "parser.dump_nodes.s_per_mb": "s/MB",
    "parser.nodes_json_bytes": "B",
    "udf.parse_batch.s_per_mb": "s/MB",
    "udf.overhead_share": "ratio",
    "udf.to_arrow.s_per_mb": "s/MB",
    "udf.worker_init_s": "s",
    "udf.worker_run_s": "s",
    "udf.python_bytes_sent": "B",
    "udf.python_bytes_received": "B",
    "udf.error_rows.oversize": "count",
    "udf.error_rows.null_html": "count",
    "udf.error_rows.decode": "count",
    "udf.error_rows.invalid_code_point": "count",
    "udf.error_rows.tree": "count",
    "pipeline.jobs": "count",
    "pipeline.antijoin_s": "s",
    "pipeline.parse_stage_s": "s",
    "pipeline.write_s": "s",
    "pipeline.metrics_s": "s",
    "pipeline.metrics_read_bytes": "B",
    "pipeline.task_run_s": "s",
    "pipeline.task_cpu_s": "s",
    "pipeline.shuffle_bytes": "B",
    "pipeline.spill_bytes": "B",
    "pipeline.gc_s": "s",
    "pipeline.task_skew": "ratio",
    "pipeline.slot_busy_frac": "ratio",
    "pipeline.scaling_eff": "ratio",
    "featurize.text_embedding_s": "s",
    "featurize.ngram_rows": "count",
    "dedup.shingle_rows_s": "s",
    "dedup.minhash_lsh_s": "s",
    "dedup.lsh_candidates": "count",
    "dedup.lsh_verified": "count",
    "dedup.lsh_precision": "ratio",
    "dedup.components_s": "s",
    "dedup.components_iters": "count",
    "dedup.build_jobs": "count",
    "similarity.embedding_lsh_s": "s",
    "similarity.candidates": "count",
    "similarity.verified": "count",
    "similarity.precision": "ratio",
    "session.build_s": "s",
    "session.conf_ignored": "count",
    "session.persistent_rdds": "count",
    "trace.overhead_s": "s",
}


def _environment(work: Path) -> None:
    """Keep every file the run writes inside ``work``; let the Spark Python
    workers import the engine and the benchmark from the repository root."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path.insert(0, str(ROOT))


class Runner:
    def __init__(self, args, work: Path):
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        self.wl = WORKLOADS[args.workload](work / "data", args.seed, self.nproc)
        self.spark = None
        self.build_s: list[float] = []
        self.conf_ignored: list[str] = []
        self.attempted = 0
        self.failures: list[str] = []
        self.sampler_cpu_s: list[float] = []
        self.jvm_peak_rss_mb: float | None = None

    # -- session --------------------------------------------------------
    def start(self, cpus: int) -> None:
        from perfbench.sparktrace import recorded_confs
        from tempeh_spark.session import build_session

        self.stop()
        extra = {
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        with recorded_confs() as confs:
            t0 = time.perf_counter()
            self.spark = build_session(app_name="perfbench", cpus=cpus, extra=extra)
            self.build_s.append(time.perf_counter() - t0)
        self.conf_ignored = sorted(
            k for k, v in confs.items() if k not in extra and self.spark.conf.get(k, None) != v
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM it runs in, and wait for the JVM."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            self.jvm_peak_rss_mb = _peak_rss_mb(proc.pid)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- reps -----------------------------------------------------------
    def setup(self, cpus: int, wl=None) -> float:
        """One set-up pass: input generation, session build, parquet write
        and committed-state prep. Returns its wall time."""
        wl = wl or self.wl
        t0 = time.perf_counter()
        wl.generate()
        self.start(cpus)
        wl.setup(self.spark)
        return time.perf_counter() - t0

    def warm_up(self, wl=None) -> float:
        """One unchecked rep for the Python workers, JIT and codegen. Returns
        its wall time. Run once per JVM: a later session in the same JVM
        keeps the compiled code, so a second warm-up would time a plain rep."""
        wl = wl or self.wl
        t0 = time.perf_counter()
        wl.restore()
        wl.rep(self.spark)
        return time.perf_counter() - t0

    def one_rep(self, wl=None, traced=None):
        """Restore, run and check one rep. Returns (wall, peak worker RSS,
        layer metrics) or None when the rep failed."""
        from perfbench.sparktrace import WorkerRss

        wl = wl or self.wl
        wl.restore()
        self.attempted += 1
        try:
            with WorkerRss() as mem:
                if traced is None:
                    t0 = time.perf_counter()
                    result = wl.rep(self.spark)
                    wall, layers = time.perf_counter() - t0, {}
                else:
                    result, layers, wall = wl.traced_rep(self.spark, traced)
            problem = wl.check(self.spark, result)
        except Exception:  # a failed rep is counted, and the loop goes on
            problem = traceback.format_exc(limit=4)
        if problem:
            self.failures.append(problem)
            print(f"rep failed: {problem}", file=sys.stderr)
            return None
        self.sampler_cpu_s.append(mem.cpu_s)
        return wall, mem.peak_bytes, layers

    def loop(self, traced=None) -> tuple[list, list, list, list]:
        """Closed loop for --seconds. With a tracer, reps run in whole blocks
        of traced, untraced, untraced, traced, so a drift over the loop (the
        JIT still warming) weighs on both kinds alike."""
        walls: list[float] = []
        rss: list[int] = []
        traced_walls: list[float] = []
        layers: list[dict] = []
        start = time.perf_counter()
        block = 1 if traced is None else 4
        i = 0
        while i < MIN_REPS or i % block or time.perf_counter() - start < self.args.seconds:
            tracer = traced if traced is not None and i % 4 in (0, 3) else None
            i += 1
            out = self.one_rep(traced=tracer)
            if out is None:
                continue
            if tracer is None:
                walls.append(out[0])
                rss.append(out[1])
            else:
                traced_walls.append(out[0])
                layers.append(out[2])
        return walls, rss, traced_walls, layers

    # -- the two kinds of run ---------------------------------------------
    def plain(self) -> dict:
        setups = [self.setup(self.nproc) for _ in range(SETUP_PASSES)]
        warm = self.warm_up()
        self.wl.expected()
        walls, rss, _, _ = self.loop()
        wall = statistics.median(walls) if walls else 0.0
        return {
            "setup_s": statistics.median(setups) + warm,
            "wall_s": wall,
            "docs_per_s": self.wl.docs / wall if wall else 0.0,
            "mb_per_s": self.wl.input_bytes / 1e6 / wall if wall else 0.0,
            "worker_peak_rss_mb": statistics.median(rss) / 2**20 if rss else 0.0,
            "_reps": walls,
            "_setups": setups,
            "_warm_up": warm,
        }

    def traced(self) -> dict:
        from perfbench.sparktrace import SparkTracer

        self.setup(self.nproc)
        self.warm_up()
        self.wl.expected()
        tracer = SparkTracer(self.spark)
        walls, _, traced_walls, layers = self.loop(traced=tracer)
        m: dict = {}
        for key in {k for d in layers for k in d}:
            m[key] = statistics.median(d[key] for d in layers if key in d)
        m["trace.overhead_s"] = (
            statistics.median(traced_walls) - statistics.median(walls)
            if walls and traced_walls else 0.0
        )
        m.update(self.wl.kernel_trace())
        if hasattr(self.wl, "layer_trace"):
            m.update(self.wl.layer_trace(self.spark, tracer))
        tracer.finish()
        m["session.build_s"] = self.build_s[0]
        m["session.conf_ignored"] = len(self.conf_ignored)
        m["_conf_ignored"] = self.conf_ignored
        m["session.persistent_rdds"] = tracer.persistent_rdds()
        if self.wl.name == "extract_full" and walls:
            m["pipeline.scaling_eff"] = self.scaling_eff(statistics.median(walls))
        m["_reps"] = walls
        m["_traced_reps"] = traced_walls
        m["_spans"] = [vars(s) for s in tracer.spans]
        return m

    def scaling_eff(self, wall_n: float) -> float:
        """Weak scaling: 1 slot over 1/nproc of the corpus, in its own
        session, against nproc slots over all of it. 1.0 is perfect."""
        small = type(self.wl)(self.work / "data-1slot", self.args.seed, 1)
        small.n_pages = self.wl.n_pages // self.nproc
        self.setup(1, small)
        self.warm_up(small)
        small.expected()
        walls = [out[0] for out in (self.one_rep(small) for _ in range(2)) if out]
        return statistics.median(walls) / wall_n if walls else 0.0


def _peak_rss_mb(pid: int) -> float | None:
    """A process's peak RSS so far (VmHWM), in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return None


def _git_sha() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    out = subprocess.run(
        ["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True
    )
    return out.stdout.strip() or None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["extract_full", "extract_resume", "train_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    _environment(work)
    import tempeh_spark  # noqa: F401  (fail before any output without the engine)

    from perfbench.sparktrace import cpu_times, steal_pct

    cpu0 = cpu_times()
    t0 = time.time()
    runner = Runner(args, work)
    try:
        raw = runner.traced() if args.trace else runner.plain()
    finally:
        runner.shutdown()
        shutil.rmtree(work, ignore_errors=True)

    table = PER_LAYER if args.trace else END_TO_END
    metrics = {k: {"value": float(raw.get(k, 0.0)), "unit": u} for k, u in table.items()}
    failed = len(runner.failures)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "nproc": runner.nproc,
        "steal_pct": steal_pct(cpu0, cpu_times()),
        "git_sha": _git_sha(),
        "python": platform.python_version(),
        "driver_memory": os.environ.get("SPARK_DRIVER_MEM", "session default"),
        "jvm_peak_rss_mb": runner.jvm_peak_rss_mb,
        "rss_sampler_cpu_s": runner.sampler_cpu_s,
        "started": t0,
        "inputs": runner.wl.sizes(),
        "attempted": runner.attempted,
        "failed": failed,
        "failures": runner.failures,
        "metrics": metrics,
        **{k[1:]: v for k, v in raw.items() if k.startswith("_")},
    }
    results = HERE / ".work" / "results"
    results.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(t0)}.json"
    (results / name).write_text(json.dumps(record, indent=1, default=str))

    for k, m in metrics.items():
        print(f"{args.workload} {k} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} failed_frac = {failed / max(1, runner.attempted):.6g}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
