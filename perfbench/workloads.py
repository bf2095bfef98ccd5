"""The benchmark's workloads. Why each exists is in README.md."""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics

import checks
import inputs
import sparkstats
from harness import (Workload, extraction_rows, noop, observe_extraction)

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT_SEED = 1


def expected(workload: str) -> dict:
    """Committed figures of ``workload`` at the default seed."""
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f).get(workload, {})


class _Extraction(Workload):
    """Shared checks of the workloads that extract pages."""

    def check_input(self, lo: int, hi: int) -> None:
        if not lo <= self.input_bytes <= hi:
            raise inputs.InputError(
                f"{self.name}: {self.input_bytes} input bytes outside "
                f"[{lo}, {hi}]")
        want = expected(self.name)
        if self.run.seed == DEFAULT_SEED and want and (
                want["input_bytes"] != self.input_bytes
                or want["signature"] != self.signature):
            raise inputs.InputError(
                f"{self.name}: default-seed input {self.input_bytes} bytes "
                f"/ {self.signature}, committed {want['input_bytes']} / "
                f"{want['signature']}")

    def set_digest(self, obs: dict, label: str) -> None:
        """Take the warm-up's observed output as the reference digest."""
        self.digest = checks.spark_digest(obs["rows"], obs["hash_sum"])
        print(f"output digest {self.digest}", flush=True)
        bad = int(obs["errors"] or 0) + abs(int(obs["rows"]) - self.docs)
        if bad:
            self.run.problem(f"{label}: {bad} failed documents")
        want = expected(self.name).get("digest")
        if self.run.seed == DEFAULT_SEED and want and want != self.digest:
            self.run.problem(f"digest {self.digest} != committed {want}")

    def check_pass(self, obs: dict, label: str) -> int:
        """Per-pass check from the observed metrics; returns the number
        of failed documents (a wrong digest fails the whole pass)."""
        failed = int(obs["errors"] or 0) + abs(int(obs["rows"]) - self.docs)
        got = checks.spark_digest(obs["rows"], obs["hash_sum"])
        if failed:
            self.run.problem(f"{label}: {failed} failed documents")
        elif got != self.digest:
            self.run.problem(f"{label}: digest {got} != {self.digest}")
            failed = self.docs
        return failed

    def check_sample(self, outputs: dict) -> None:
        errors = [u for u, o in outputs.items() if o[3] is not None]
        if errors:
            self.run.problem(f"in-process errors on {errors[:3]}")
        mine = {u: o[:3] for u, o in outputs.items() if u in self.reference}
        spark = {u: self.reference[u] for u in mine}
        if not mine:
            self.run.problem("no sampled page is in the Spark output")
        for msg in checks.compare_rows(mine, spark)[:5]:
            self.run.problem(f"spark vs in-process: {msg}")

    def arrow_metrics(self, source_df) -> dict:
        """Identity mapInArrow over (url, html): the Python boundary's
        round trip without the kernel, with batches counted on the
        workers."""
        run = self.run
        sc = run.spark.sparkContext
        batches = sc.accumulator(0)

        def identity(it):
            for rb in it:
                batches.add(1)
                yield rb

        df = source_df.select("url", "html")
        _, secs, _ = run.action("job.arrow_roundtrip", lambda: noop(
            df.mapInArrow(identity, df.schema)))
        return {"job.arrow_roundtrip_s": secs,
                "job.arrow_batches": batches.value}

    def extraction_layers(self, out, label: str) -> dict:
        """One observed extraction pass with Spark's stage and SQL
        metrics: kernel share, partition skew, Arrow volume."""
        run = self.run
        df, obs = observe_extraction(out, f"{label}-layers")
        _, secs, group = run.action(label, lambda: noop(df))
        self.check_pass(obs.get, label)
        stages = sparkstats.stages_of(run.spark, group)
        kernel_stage = max(stages, key=lambda s: s["run_ms"])
        durs = kernel_stage["task_ms"]
        arrow = sparkstats.sql_node_metrics(run.spark, "MapInArrow")
        return {
            "job.run_extraction_s": secs,
            "job.kernel_busy_share":
                obs.get["kernel_us"] / 1e6 / (secs * run.cpus),
            "job.partition_skew": max(durs) / statistics.mean(durs),
            "job.arrow_in_mb":
                arrow.get("data sent to Python workers", 0) / 2 ** 20,
            "job.arrow_out_mb":
                arrow.get("data returned from Python workers", 0) / 2 ** 20,
        }


# --- pages_large ------------------------------------------------------------

class PagesLarge(_Extraction):
    """Seeded tag-soup pages, 15-250 KB, through ``run_extraction`` on a
    pre-spread parquet table into the noop sink."""

    name = "pages_large"
    N = 64
    FILES = 16
    SAMPLE = 16
    MIN_PASSES = 3

    def generate(self) -> None:
        docs = inputs.load_documents()
        self.rows = inputs.pages_large(docs, self.run.seed, self.N)
        self.docs = len(self.rows)
        self.input_bytes = sum(len(h) for _, h in self.rows)
        self.signature = inputs.signature(self.rows)
        target = sum(inputs.large_page_sizes(self.N))
        self.check_input(int(target * 0.9), int(target * 1.1))

    def materialize(self) -> None:
        """Pre-spread layout: pages are dealt to FILES parquet files by
        size rank, so every read task holds the same size mix whatever
        the seed, and a pass needs no exchange (``num_partitions=0``)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        self.table = self.run.path("pages.parquet")
        shutil.rmtree(self.table, ignore_errors=True)
        os.makedirs(self.table)
        ranked = sorted(self.rows, key=lambda r: (-len(r[1]), r[0]))
        for k in range(self.FILES):
            rows = ranked[k::self.FILES]
            pq.write_table(pa.table({
                "url": pa.array([u for u, _ in rows], pa.string()),
                "html": pa.array([h for _, h in rows], pa.binary())}),
                os.path.join(self.table, f"part-{k:05d}.parquet"))

    def _extraction(self, where=None):
        from nreadability_spark.spark.job import run_extraction
        pages = self.run.spark.read.parquet(self.table)
        if where is not None:
            pages = pages.where(where)
        return run_extraction(self.run.spark, pages, num_partitions=0)

    def warmup(self) -> None:
        """The same observed noop pass as a timed one, so the timed passes
        find its code generated; the sampled pages are then extracted on
        their own and collected for the in-process comparison."""
        from pyspark.sql import functions as F
        df, obs = observe_extraction(self._extraction(), "warm-up")
        noop(df)
        self.set_digest(obs.get, "warm-up")
        urls = [u for u, _ in self.sample_pages()]
        self.reference = {r[0]: r[1:4] for r in extraction_rows(
            self._extraction(F.col("url").isin(urls)))}

    def one_pass(self):
        df, obs = observe_extraction(self._extraction(), "pass")
        _, secs, _ = self.run.action("job.run_extraction",
                                     lambda: noop(df))
        return self.docs, self.check_pass(obs.get, "pass"), secs

    def sample_pages(self):
        """The SAMPLE pages around the median size: their median latency
        estimates the workload's at a fraction of the cost of timing
        every page, and the tail pages' cost (or a hostile page landing
        in a thin sample) cannot move it."""
        by_size = sorted(self.rows, key=lambda r: (len(r[1]), r[0]))
        lo = (self.N - self.SAMPLE) // 2
        return by_size[lo:lo + self.SAMPLE]

    def layer_metrics(self) -> dict:
        run = self.run
        pages = run.spark.read.parquet(self.table).select("url", "html")
        _, scan_s, group = run.action("job.scan", lambda: noop(pages))
        scan_tasks = sum(s["tasks"] for s in
                         sparkstats.stages_of(run.spark, group))
        out = {"job.scan_s": scan_s, "job.scan_tasks": scan_tasks}
        out.update(self.arrow_metrics(pages))
        out.update(self.extraction_layers(self._extraction(),
                                          "job.run_extraction"))
        covered = (out["job.arrow_roundtrip_s"]
                   + out["job.kernel_busy_share"] * out["job.run_extraction_s"])
        out["bench.unattributed_share"] = \
            1 - covered / out["job.run_extraction_s"]
        return out


# --- warc_job ---------------------------------------------------------------

class WarcJob(_Extraction):
    """Per-record-gzip WARC segments of template pages through
    ``read_pages_warc`` and ``run_job`` (salted exchange, run_id-
    partitioned parquet sink, metrics rollup). The traced run adds a
    resume and the ops layer."""

    name = "warc_job"
    N = 400
    FILES = 8
    MIN_PASSES = 2
    RUN_ID = "bench"

    def generate(self) -> None:
        from nreadability_spark.spark.pages import (template_html_py,
                                                    template_url_py)
        docs = inputs.load_documents()
        self.sample = inputs.sample_documents(docs, self.run.seed, self.N)
        self.pages = [(template_url_py(d), template_html_py(d, t)
                       .encode("utf-8")) for d, t in self.sample]
        self.docs = len(self.pages)
        self.input_bytes = sum(len(h) for _, h in self.pages)
        self.signature = inputs.signature(self.pages)
        self.check_input(1200 * self.N, 2400 * self.N)
        self.passes = 0
        self.pass_s: list[float] = []

    def materialize(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from nreadability_spark.spark.pages import synthesize_warc_dir
        sf = self.run.path("sf")
        os.makedirs(sf, exist_ok=True)
        pq.write_table(pa.table({
            "doc_id": [d for d, _ in self.sample],
            "text": [t for _, t in self.sample]}),
            os.path.join(sf, "documents.parquet"))
        self.warc = self.run.path("warc")
        shutil.rmtree(self.warc, ignore_errors=True)  # defeat its cache
        synthesize_warc_dir(sf, n_files=self.FILES, out_dir=self.warc)
        self.glob = os.path.join(self.warc, "*.warc.gz")

    def _read(self):
        from nreadability_spark.spark.sources import read_pages_warc
        return read_pages_warc(self.run.spark, self.glob)

    def _run_job(self, sink: str):
        from nreadability_spark.spark.job import run_job
        return run_job(self.run.spark, self._read(), sink, self.RUN_ID)

    def _sink_rows(self, sink: str):
        from pyspark.sql import functions as F
        df = self.run.spark.read.parquet(os.path.join(sink, "extracted"))
        return df.where(F.col("run_id") == self.RUN_ID)

    def _sink_agg(self, sink: str) -> dict:
        """Rows, error rows and the digest's hash sum of a committed sink."""
        from pyspark.sql import functions as F
        return self._sink_rows(sink).agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("error").isNotNull().cast("long")).alias("errors"),
            F.sum(checks.spark_row_hash()).alias("hash_sum")
        ).collect()[0].asDict()

    def _check_summary(self, summary: dict, label: str) -> int:
        if summary["docs"] == self.docs and not summary["failures"]:
            return 0
        self.run.problem(f"{label}: run_job summary {summary['docs']} docs, "
                         f"{summary['failures']} failures; input {self.docs}")
        return summary["failures"] + abs(summary["docs"] - self.docs)

    def warmup(self) -> None:
        """One run_job; its sink's Spark-side digest is the reference,
        and the in-process sweep over every page must reproduce it."""
        self.warm_sink = self.run.path("sink-warm")
        summary = self._run_job(self.warm_sink)
        self._check_summary(summary, "warm-up")
        self.set_digest(self._sink_agg(self.warm_sink), "warm-up sink")

    def check_sample(self, outputs: dict) -> None:
        errors = [u for u, o in outputs.items() if o[3] is not None]
        if errors:
            self.run.problem(f"in-process errors on {errors[:3]}")
        mine = checks.digest((u, *o[:3]) for u, o in outputs.items())
        if mine != self.digest:
            rows = extraction_rows(self._sink_rows(self.warm_sink))
            spark = {r[0]: r[1:4] for r in rows}
            mine_rows = {u: o[:3] for u, o in outputs.items()}
            for msg in checks.compare_rows(mine_rows, spark)[:5]:
                self.run.problem(f"spark vs in-process: {msg}")
            self.run.problem(f"in-process digest {mine} != {self.digest}")
        shutil.rmtree(self.warm_sink, ignore_errors=True)

    def one_pass(self):
        self.passes += 1
        sink = self.run.path(f"sink-{self.passes}")
        summary, secs, _ = self.run.action(
            "job.run_job", lambda: self._run_job(sink))
        failed = self._check_summary(summary, "run_job") \
            or self.check_pass(self._sink_agg(sink), "run_job sink")
        if self.passes > 1:
            shutil.rmtree(self.run.path(f"sink-{self.passes - 1}"))
        self.sink = sink
        self.pass_s.append(secs)
        return self.docs, failed, secs

    def after_passes(self) -> dict:
        if not self.run.trace:
            return {}
        summary, secs, _ = self.run.action(
            "job.resume", lambda: self._run_job(self.sink))
        if summary["docs"] != self.docs or summary["failures"]:
            self.run.problem(f"resume: summary {summary['docs']} docs, "
                             f"{summary['failures']} failures")
        return {"resume_s": secs}

    def sample_pages(self):
        return self.pages

    def layer_metrics(self) -> dict:
        from pyspark.sql import Observation, functions as F
        run = self.run
        sc_par = run.spark.sparkContext.defaultParallelism
        obs = Observation("records")
        src = self._read().observe(obs, F.count(F.lit(1)).alias("n"))
        _, read_s, group = run.action("sources.read_pages_warc",
                                      lambda: noop(src))
        read_tasks = sum(s["tasks"] for s in
                         sparkstats.stages_of(run.spark, group))
        salted = self._read().repartition(sc_par * 4, F.xxhash64("url"))
        _, _, group = run.action("job.exchange", lambda: noop(salted))
        stages = sparkstats.stages_of(run.spark, group)
        from nreadability_spark.spark.job import run_extraction
        out = {
            "sources.read_pages_warc_s": read_s,
            "sources.records": obs.get["n"],
            "sources.tasks": read_tasks,
            "sources.warc_mb": sum(os.path.getsize(p) for p in
                                   glob.glob(self.glob)) / 2 ** 20,
            # task time spent writing and waiting for shuffle blocks
            "job.exchange_s": sum(s["shuffle_write_s"] + s["fetch_wait_s"]
                                  for s in stages),
            "job.exchange_mb": sum(s["shuffle_write_bytes"]
                                   for s in stages) / 2 ** 20,
        }
        out.update(self.arrow_metrics(self._read()))
        out.update(self.extraction_layers(
            run_extraction(run.spark, self._read()), "job.run_extraction"))
        job_s = statistics.median(self.pass_s)
        files = [os.path.join(d, f) for d, _, fs in os.walk(self.sink)
                 for f in fs if f.endswith(".parquet")]
        out.update({
            "job.run_job_s": job_s,
            "job.sink_overhead_s": job_s - out["job.run_extraction_s"],
            "job.sink_files": len(files),
            "job.sink_mb": sum(os.path.getsize(f) for f in files) / 2 ** 20,
        })
        covered = (read_s + out["job.exchange_s"] / run.cpus
                   + out["job.kernel_busy_share"] * out["job.run_extraction_s"]
                   + max(0.0, out["job.sink_overhead_s"]))
        out["bench.unattributed_share"] = 1 - covered / job_s
        out.update(OpsLayer(run).measure())
        return out


# --- the ops layer -------------------------------------------------------------

class OpsLayer:
    """The ``ops.py`` operators over a seeded 200-document copy of the
    documents table, measured in ``warc_job``'s traced run (the
    documents behind its pages) in the session that run has warmed.

    Every operator in ``CHECKED`` is collected once: the reference
    outputs. Those in ``ORACLE_EACH_SEED`` are compared with their DuckDB
    oracle (``SQL_OPS[name][1]``); ``dedup_clusters``' oracle takes
    minutes at this size, so it is compared through the committed
    default-seed digest of all five, which DuckDB produced. Then each
    operator in ``TIMED`` runs once into the noop sink, and the checked
    ones must reproduce their row counts."""

    N = 200
    CHECKED = ("minhash_signatures", "dedup_clusters", "lm_bigram_score",
               "quality_repetition", "decontaminate")
    ORACLE_EACH_SEED = ("minhash_signatures", "lm_bigram_score",
                        "quality_repetition", "decontaminate")
    TIMED = ("minhash_signatures", "dedup_minhash_lsh", "ngram_jaccard",
             "dedup_clusters", "bpe_encode", "lm_bigram_score",
             "quality_repetition", "decontaminate")

    def __init__(self, run):
        self.run = run

    def measure(self) -> dict:
        self.generate()
        self.collect()
        self.check_oracles()
        return self.time_operators()

    def generate(self) -> None:
        """The seeded table, written where the operators read it."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        docs = inputs.load_documents()
        sample = inputs.sample_documents(docs, self.run.seed, self.N)
        ids = pa.array([d for d, _ in sample], pa.int64())
        full = pq.read_table(inputs.DOCUMENTS)
        table = full.filter(pc.is_in(full["doc_id"], value_set=ids)) \
            .sort_by("doc_id")
        signature = inputs.signature(sample)
        print(f"input ops: seed {self.run.seed}, {table.num_rows} "
              f"documents, signature {signature}", flush=True)
        if table.num_rows != self.N:
            raise inputs.InputError(f"ops: {table.num_rows} rows")
        want = expected("ops")
        if self.run.seed == DEFAULT_SEED and want and \
                want["signature"] != signature:
            raise inputs.InputError(f"ops: signature {signature} != "
                                    "committed")
        self.sf = self.run.path("ops-sf")
        os.makedirs(self.sf, exist_ok=True)
        pq.write_table(table, os.path.join(self.sf, "documents.parquet"))

    def collect(self) -> None:
        from nreadability_spark.spark.ops import SQL_OPS
        self.outputs, self.rows = {}, {}
        for op in self.CHECKED:
            sdf = SQL_OPS[op][0](self.run.spark, self.sf)
            got = [tuple(r) for r in sdf.collect()]
            self.outputs[op] = checks.table_digest(sdf.columns, got)
            self.rows[op] = len(got)
        digest = checks.digest(
            (op, self.outputs[op], None, None) for op in self.CHECKED)
        print(f"ops output digest {digest}", flush=True)
        want = expected("ops").get("digest")
        if self.run.seed == DEFAULT_SEED and want and want != digest:
            self.run.problem(f"ops digest {digest} != committed {want}")

    def check_oracles(self) -> None:
        import duckdb
        from nreadability_spark.spark.ops import SQL_OPS
        con = duckdb.connect()
        try:
            con.execute("create view documents as select * from "
                        f"'{os.path.join(self.sf, 'documents.parquet')}'")
            for op in self.ORACLE_EACH_SEED:
                res = con.execute(SQL_OPS[op][1])
                want = checks.table_digest([d[0] for d in res.description],
                                           res.fetchall())
                if want != self.outputs[op]:
                    self.run.problem(f"{op}: spark {self.outputs[op]} != "
                                     f"duckdb {want}")
        finally:
            con.close()

    def time_operators(self) -> dict:
        from pyspark.sql import Observation, functions as F
        from nreadability_spark.spark.ops import SQL_OPS
        out = {}
        for op in self.TIMED:
            obs = Observation(op)

            def build_and_sink(fn=SQL_OPS[op][0], obs=obs):
                # some operators run Spark jobs while building the plan
                noop(fn(self.run.spark, self.sf)
                     .observe(obs, F.count(F.lit(1)).alias("n")))

            _, out[f"ops.{op}_s"], _ = self.run.action(f"ops.{op}",
                                                       build_and_sink)
            if op in self.rows and obs.get["n"] != self.rows[op]:
                self.run.problem(f"{op}: {obs.get['n']} rows, collected "
                                 f"{self.rows[op]}")
        out["ops.output_rows"] = sum(self.rows.values())
        return out


WORKLOADS = {w.name: w for w in (PagesLarge, WarcJob)}
