"""The three benchmark workloads.

Each workload generates its input from the seed, writes it as a parquet
table during setup, and runs one closed-loop rep at a time: the driver
submits the next job only after the previous one has returned. Every rep
is checked; ``check`` returns an error message or ``None``.

* ``extract_full``: the extraction job into a fresh output, full profile,
  crawl-like page sizes.
* ``extract_resume``: the extraction job resuming over a committed output,
  text-only profile, small pages.
* ``train_dedup``: the ``pipeline_decisions`` composition (featurize ->
  embedding LSH -> dedup decisions) over a documents table; no parse.
"""

from __future__ import annotations

import hashlib
import json
import random
import re
import shutil
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.kernel import trace_batch
from perfbench.sparktrace import SparkTracer
from tempeh_spark.options import DEFAULT_OPTIONS
from tempeh_spark.parser import parse_bytes
from tempeh_spark.pipeline import PipelineConfig, run_extraction_job

ERROR_CLASSES = ("oversize", "null_html", "decode", "invalid_code_point", "tree")


def error_class(error: str | None) -> str:
    """The class of a parse error message, or "ok"."""
    if error is None:
        return "ok"
    if error == "oversize document skipped":
        return "oversize"
    if error == "null html":
        return "null_html"
    if "Invalid UTF-8" in error:
        return "decode"
    if error.startswith("Invalid code point"):
        return "invalid_code_point"
    return "tree"


def _digest(value) -> str:
    return hashlib.md5(json.dumps(value, ensure_ascii=False).encode("utf-8")).hexdigest()


class Extract:
    """Shared shape of the two extraction-job workloads."""

    name: str
    cfg: PipelineConfig
    resume: bool
    kernel_rows: int
    sample_size = 8

    def __init__(self, work: Path, seed: int, nproc: int):
        self.work = work
        self.seed = seed
        self.nproc = nproc
        self.source = work / "pages"
        self.out = work / "out"
        self.pages: gen.Pages | None = None
        self.new_rows = range(0)  # rows a rep parses
        self.prior_classes: dict[str, int] = {}
        self.snapshot: set[str] = set()

    # -- inputs ---------------------------------------------------------
    def generate(self) -> None:
        raise NotImplementedError

    @property
    def docs(self) -> int:
        return len(self.new_rows)

    @property
    def input_bytes(self) -> int:
        return self.pages.html_bytes(self.new_rows)

    def sizes(self) -> dict:
        return {
            "rows": len(self.pages),
            "rows_per_rep": self.docs,
            "html_bytes": self.pages.html_bytes(),
            "html_bytes_per_rep": self.input_bytes,
            "size_histogram": gen.size_histogram(len(h or b"") for h in self.pages.html),
            "error_pages": self.pages.errors,
        }

    # -- setup and reps -------------------------------------------------
    def setup(self, spark: SparkSession) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        self.pages.write(self.source)
        self.prepare(spark)

    def prepare(self, spark: SparkSession) -> None:
        """Bring the output to its committed state before the first rep."""

    def restore(self) -> None:
        """Undo the previous rep's output (untimed)."""
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.rmtree(str(self.out) + "_metrics", ignore_errors=True)

    def rep(self, spark: SparkSession) -> dict:
        return run_extraction_job(spark, str(self.source), str(self.out), self.cfg, self.resume)

    # -- output check ---------------------------------------------------
    def expected(self) -> None:
        """Reference outputs for a seeded url sample, from ``parse_bytes``."""
        rng = random.Random(f"sample:{self.seed}")
        rows = rng.sample(list(self.new_rows), self.sample_size)
        self.sample = {self.pages.url[i]: self._reference(self.pages.html[i]) for i in rows}

    def _reference(self, html: bytes | None) -> str:
        if html is None:
            return _digest([None, None, None, None])
        r = parse_bytes(html, DEFAULT_OPTIONS)
        if r.error is not None:
            return _digest([None, None, None, None])
        ex = r.extraction
        return _digest(
            [
                ex.text,
                ex.main_text,
                r.nodes_json() if self.cfg.with_nodes_json else None,
                [list(s) for s in ex.spans] if self.cfg.with_spans else None,
            ]
        )

    def classes(self, spark: SparkSession) -> dict[str, int]:
        """Committed output rows per error class."""
        rows = spark.read.parquet(str(self.out)).groupBy("error").count().collect()
        out: dict[str, int] = {}
        for r in rows:
            k = error_class(r["error"])
            out[k] = out.get(k, 0) + r["count"]
        return out

    def check(self, spark: SparkSession, result: dict) -> str | None:
        total = len(self.pages)
        errors = sum(self.pages.errors.values())
        if result["rows"] != total or result["errors"] != errors:
            return f"job metrics {result} != rows {total}, errors {errors}"
        classes = self.classes(spark)
        want = {"ok": total - errors, **self.pages.errors}
        if classes != want:
            return f"error classes {classes} != {want}"
        out = spark.read.parquet(str(self.out))
        if out.select("url", "warc_ts").distinct().count() != total:
            return "duplicate (url, warc_ts) in the committed output"
        cols = [
            "text",
            "main_text",
            "nodes_json" if self.cfg.with_nodes_json else F.lit(None),
            "spans" if self.cfg.with_spans else F.lit(None),
        ]
        got = out.where(F.col("url").isin(list(self.sample))).select("url", *cols).collect()
        if len(got) != len(self.sample):
            return f"sample rows {len(got)} != {len(self.sample)}"
        for r in got:
            spans = [list(s) for s in r[4]] if r[4] is not None else None
            if _digest([r[1], r[2], r[3], spans]) != self.sample[r["url"]]:
                return f"output of {r['url']} differs from parse_bytes"
        return None

    # -- traces ---------------------------------------------------------
    def kernel_trace(self) -> dict:
        """Kernel layers over a sample batch: every error page plus seeded pages."""
        rng = random.Random(f"kernel:{self.seed}")
        errors = [i for i in self.pages.error_rows if i in self.new_rows]
        others = sorted(set(self.new_rows) - set(errors))
        rows = errors + rng.sample(others, min(len(others), self.kernel_rows))
        batch = [self.pages.html[i] for i in rows]
        return trace_batch(batch, self.cfg.with_nodes_json, self.cfg.with_spans)

    def traced_rep(self, spark: SparkSession, tracer: SparkTracer) -> tuple[dict, dict, float]:
        """One rep under a job group. Returns (job result, layer metrics, wall)."""
        with tracer.group(f"{self.name}.run_extraction_job") as span:
            result = self.rep(spark)
        rep = tracer.report(span)
        wall = span.end - span.start
        write = next(
            e for e in rep.executions
            if e.has("Execute InsertIntoHadoopFsRelationCommand") and e.has("ArrowEvalPython")
        )
        after = [e for e in rep.executions if e.execution_id > write.execution_id]
        write_stages = {s for j in write.jobs for s in rep.job_stages.get(j, [])}
        parse = max((s for s in rep.stages if s.stage_id in write_stages), key=lambda s: s.stage_id)
        classes = self.classes(spark)
        m = {
            "pipeline.jobs": len(rep.jobs),
            "pipeline.antijoin_s": parse.submitted - write.submitted,
            "pipeline.parse_stage_s": parse.wall_s,
            "pipeline.write_s": write.completed - parse.completed,
            "pipeline.metrics_s": span.end - write.completed,
            "pipeline.metrics_read_bytes": sum(
                e.metric("Scan parquet", "size of files read") for e in after
            ),
            "pipeline.task_run_s": rep.total("run_s"),
            "pipeline.task_cpu_s": rep.total("cpu_s"),
            "pipeline.shuffle_bytes": rep.total("shuffle_bytes"),
            "pipeline.spill_bytes": rep.total("spill_bytes"),
            "pipeline.gc_s": rep.total("gc_s"),
            "pipeline.task_skew": parse.task_max_s / parse.task_median_s
            if parse.task_median_s > 0 else 0.0,
            "pipeline.slot_busy_frac": parse.run_s / (self.nproc * parse.wall_s)
            if parse.wall_s > 0 else 0.0,
            "udf.worker_init_s": write.metric(
                "ArrowEvalPython", "time to initialize Python workers"
            ),
            "udf.worker_run_s": write.metric("ArrowEvalPython", "time to run Python workers"),
            "udf.python_bytes_sent": write.metric("ArrowEvalPython", "data sent to Python workers"),
            "udf.python_bytes_received": write.metric(
                "ArrowEvalPython", "data returned from Python workers"
            ),
        }
        for cls in ERROR_CLASSES:
            m[f"udf.error_rows.{cls}"] = classes.get(cls, 0) - self.prior_classes.get(cls, 0)
        return result, m, wall


class ExtractFull(Extract):
    name = "extract_full"
    cfg = PipelineConfig()
    resume = False
    n_pages = 256
    kernel_rows = 24

    def generate(self) -> None:
        self.pages = gen.crawl_pages(self.seed, self.n_pages)
        self.new_rows = range(len(self.pages))


class ExtractResume(Extract):
    name = "extract_resume"
    cfg = PipelineConfig(with_nodes_json=False, with_spans=False)
    resume = True
    n_prior = 3000
    n_new = 1000
    sample_size = 16
    kernel_rows = 400

    def generate(self) -> None:
        self.pages = gen.small_pages(self.seed, self.n_prior + self.n_new)
        self.new_rows = range(self.n_prior, len(self.pages))

    def prepare(self, spark: SparkSession) -> None:
        """Commit the prior pages with the same job and profile."""
        prior = self.work / "prior"
        self.pages.write(prior, range(self.n_prior))
        run_extraction_job(spark, str(prior), str(self.out), self.cfg, resume=False)
        self.snapshot = {p.name for p in self.out.iterdir()}
        self.prior_classes = self.classes(spark)

    def restore(self) -> None:
        for p in self.out.iterdir():
            if p.name not in self.snapshot:
                p.unlink()


class TrainDedup:
    """``pipeline_decisions`` over a generated documents table."""

    name = "train_dedup"
    # a fifth of the sf0.1 table's 5,000 documents: at 5,000 a run takes
    # ~116 s on 4 cores, and the gated runs would overrun their time budget
    n_docs = 1000

    def __init__(self, work: Path, seed: int, nproc: int):
        self.work = work
        self.seed = seed
        self.nproc = nproc
        self.sf_dir = work / "sf"
        self.table = None
        self.want: str | None = None

    def generate(self) -> None:
        self.table = gen.documents(self.seed, self.n_docs)

    @property
    def docs(self) -> int:
        return self.table.num_rows

    @property
    def input_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.table.column("text").to_pylist())

    def sizes(self) -> dict:
        return {
            "rows": self.docs,
            "rows_per_rep": self.docs,
            "text_bytes": self.input_bytes,
            "text_bytes_per_rep": self.input_bytes,
            "size_histogram": gen.size_histogram(self.table.column("n_chars").to_pylist()),
        }

    def setup(self, spark: SparkSession) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        self.sf_dir.mkdir(parents=True)
        pq.write_table(self.table, self.sf_dir / "documents.parquet")

    def restore(self) -> None:
        pass

    def _query(self, spark: SparkSession):
        import __spark_entry__

        return __spark_entry__.q_pipeline_decisions(spark, str(self.sf_dir))

    def rep(self, spark: SparkSession) -> list:
        return [tuple(r) for r in self._query(spark).collect()]

    def expected(self) -> None:
        """The DuckDB twin over the same table, once per run."""
        import duckdb

        import __spark_entry__

        sql = __spark_entry__.oracle_sql()["pipeline_decisions"]
        # Materialize every named CTE: the recursive closure otherwise
        # re-evaluates the whole edge subtree on each iteration (minutes,
        # not seconds, at a thousand documents). Same query, same result.
        sql = re.sub(r"(?m)^(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)
        con = duckdb.connect()
        try:
            con.register("documents", self.table)
            self.want = _digest(sorted(list(r) for r in con.execute(sql).fetchall()))
        finally:
            con.close()

    def check(self, spark: SparkSession, result: list) -> str | None:
        if len(result) != self.docs:
            return f"{len(result)} decisions for {self.docs} documents"
        if _digest(sorted(list(r) for r in result)) != self.want:
            return "decisions differ from the DuckDB twin"
        return None

    def kernel_trace(self) -> dict:
        return {}

    def traced_rep(self, spark: SparkSession, tracer: SparkTracer) -> tuple[list, dict, float]:
        """The full composition, timed with its build and action in two groups."""
        with tracer.group("train_dedup.build") as build:
            df = self._query(spark)
        with tracer.group("train_dedup.collect") as act:
            result = [tuple(r) for r in df.collect()]
        return result, {"dedup.build_jobs": tracer.jobs(build)}, act.end - build.start

    def layer_trace(self, spark: SparkSession, tracer: SparkTracer) -> dict:
        """Each layer call of the composition on its own, in its own group,
        with the parameters ``q_pipeline_decisions`` passes."""
        from tempeh_spark.dedup import duplicate_components, minhash_lsh_pairs, shingle_rows
        from tempeh_spark.featurize import text_embedding
        from tempeh_spark.similarity import embedding_lsh_near_pairs

        docs = spark.read.parquet(str(self.sf_dir / "documents.parquet"))
        m: dict = {}

        with tracer.group("featurize.text_embedding") as s:
            text_embedding(docs).write.format("noop").mode("overwrite").save()
        rep = tracer.report(s)
        m["featurize.text_embedding_s"] = rep.wall_s
        m["featurize.ngram_rows"] = sum(e.metric("Generate", "number of output rows") for e in rep.executions)
        vecs = (
            text_embedding(docs)
            .select(F.col("id").alias("vec_id"), "embedding")
            .localCheckpoint(eager=True)
        )

        def emb_pairs(threshold: float):
            return embedding_lsh_near_pairs(
                vecs, dim=64, threshold=threshold, n_bands=12, planes_per_band=16, center=True
            ).select("id_a", "id_b")

        with tracer.group("similarity.embedding_lsh_near_pairs") as s:
            near_emb = emb_pairs(0.98).localCheckpoint(eager=True)
            verified = near_emb.count()
        m["similarity.embedding_lsh_s"] = s.end - s.start
        # threshold -1 keeps every candidate pair the bands produce
        candidates = emb_pairs(-1.0).count()
        m["similarity.candidates"] = candidates
        m["similarity.verified"] = verified
        m["similarity.precision"] = verified / candidates if candidates else 0.0

        mh = dict(num_perm=16, bands=4, ngram=8, max_chars=300)
        with tracer.group("dedup.shingle_rows") as s:
            shingle_rows(docs, ngram=8, max_chars=300).write.format("noop").mode("overwrite").save()
        m["dedup.shingle_rows_s"] = s.end - s.start
        with tracer.group("dedup.minhash_lsh_pairs") as s:
            near_mh = minhash_lsh_pairs(docs, verify_threshold=0.3, **mh).select("id_a", "id_b")
            near_mh = near_mh.localCheckpoint(eager=True)
            lsh_verified = near_mh.count()
        m["dedup.minhash_lsh_s"] = s.end - s.start
        # a 0.0 threshold verifies nothing away: every banded candidate
        lsh_candidates = minhash_lsh_pairs(docs, verify_threshold=0.0, **mh).count()
        m["dedup.lsh_candidates"] = lsh_candidates
        m["dedup.lsh_verified"] = lsh_verified
        m["dedup.lsh_precision"] = lsh_verified / lsh_candidates if lsh_candidates else 0.0

        edges = near_mh.unionByName(near_emb).localCheckpoint(eager=True)
        with tracer.group("dedup.duplicate_components") as s:
            duplicate_components(edges).write.format("noop").mode("overwrite").save()
        m["dedup.components_s"] = s.end - s.start
        m["dedup.components_iters"] = label_rounds([tuple(r) for r in edges.collect()])
        return m


def label_rounds(edges: list[tuple[int, int]]) -> int:
    """Rounds of synchronous min-label propagation until no label changes,
    the final unchanged round included: the distributed components loop's
    iteration count on this edge set."""
    nbrs: dict[int, list[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    label = {v: v for v in nbrs}
    rounds = 0
    while True:
        rounds += 1
        new = {v: min([label[v], *(label[u] for u in us)]) for v, us in nbrs.items()}
        if new == label:
            return rounds
        label = new


WORKLOADS = {w.name: w for w in (ExtractFull, ExtractResume, TrainDedup)}
