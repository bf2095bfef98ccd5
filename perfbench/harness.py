"""Shared machinery of one benchmark run.

``Workload.execute`` is the run's whole life: generate inputs, set up
once from cold, warm up, time closed-loop passes, time the kernel
in-process, and (traced run only) measure the layers. The subclasses
in ``workloads.py`` fill in the workload-specific steps.
"""

from __future__ import annotations

import os
import platform
import statistics
import time

import checks
import host
from spans import Tracer

DRIVER_MEMORY = "1g"


def summarize(values: list[float]) -> dict:
    """Median plus the highest percentile that leaves at least ten
    samples beyond it (none below 100 samples)."""
    out = {"n": len(values), "median": statistics.median(values)}
    for p in (99, 95, 90):
        if len(values) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = statistics.quantiles(values, n=100,
                                                method="inclusive")[p - 1]
            break
    return out


class Run:
    """State of one benchmark invocation: the Spark session, the work
    directory inside the checkout, the tracer and the tallies."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work_root: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = host.cpus()
        self.work_root = work_root
        self.dir = os.path.join(work_root, f"{workload}-{os.getpid()}")
        self.tracer = Tracer()
        self.spark = None
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def problem(self, msg: str) -> None:
        self.problems.append(msg)
        print(f"CHECK FAILED: {msg}", flush=True)

    def start_spark(self):
        """The program's own session (``get_spark``: its Arrow, shuffle
        and join settings) with a fixed driver heap ceiling, and Spark's
        files kept in the work directory."""
        from nreadability_spark.spark.session import get_spark
        self.spark = get_spark(
            f"perfbench-{self.workload}", master=f"local[{self.cpus}]",
            extra_conf={
                # a ceiling only: the heap starts small and grows as the
                # work needs (see README.md, "End-to-end metrics")
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.local.dir": self.path("spark-local"),
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.ui.showConsoleProgress": "false",
            })
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for every child process."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        host.wait_for_children(timeout_s=60)

    def action(self, label: str, fn):
        """Run ``fn`` (one or more Spark actions) under its own job group
        and span; returns (result, seconds, job group)."""
        group = f"{label}-{len(self.tracer.spans)}"
        self.spark.sparkContext.setJobGroup(group, label)
        t0 = time.perf_counter()
        with self.tracer.span(label):
            result = fn()
        return result, time.perf_counter() - t0, group


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def observe_extraction(out, name: str):
    """Attach the per-pass checks to an extraction output: row count,
    error rows, kernel time and the whole-output digest, gathered while
    the rows stream into the sink."""
    from pyspark.sql import Observation, functions as F
    obs = Observation(name)
    df = out.observe(
        obs, F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("error").isNotNull().cast("long")).alias("errors"),
        F.sum("elapsed_us").alias("kernel_us"),
        F.sum(checks.spark_row_hash()).alias("hash_sum"))
    return df, obs


def extraction_rows(df):
    """Collect (url, content md5, title, next_page_url, has error) of an
    extraction output."""
    from pyspark.sql import functions as F
    return [tuple(r) for r in df.select(
        "url", F.coalesce(F.md5("content"), F.lit(checks.MISSING)),
        "title", "next_page_url", F.col("error").isNotNull()).collect()]


# --- the kernel, in-process -------------------------------------------------

def kernel_targets():
    """(owner, attribute, span name) of the kernel's public entry points
    the traced run wraps."""
    from nreadability_spark.readability import (dom, encoding, parser,
                                                transcoder)
    return [
        (parser, "build_document", "parser.build_document"),
        (transcoder, "set_inner_html", "transcoder.set_inner_html"),
        (transcoder.Transcoder, "transcode_to_xml",
         "transcoder.transcode_to_xml"),
        (transcoder, "serialize_document", "transcoder.serialize_document"),
        (dom.Element, "get_elements_by_tag_name", "dom.tag_walk"),
        (dom.Document, "get_elements_by_tag_name", "dom.tag_walk"),
        (encoding, "decode_html_bytes", "encoding.decode_html_bytes"),
    ]


def run_kernel_sample(pages, tracer: Tracer | None = None):
    """Single-thread ``job.transcode_row`` over (url, html) pages.
    Returns (per-document ms, url -> (md5, title, next_page_url, error))."""
    from nreadability_spark.spark.job import transcode_row
    times, outputs = [], {}
    for url, html in pages:
        t0 = time.perf_counter()
        if tracer is None:
            row = transcode_row(url, html)
        else:
            with tracer.span("job.transcode_row"):
                row = transcode_row(url, html)
        times.append((time.perf_counter() - t0) * 1000)
        outputs[url] = (checks.content_md5(row["content"]), row["title"],
                        row["next_page_url"], row["error"])
    return times, outputs


def kernel_layers(pages, untraced_s: float, run_id: str) -> tuple:
    """Traced rerun of the kernel sample; returns (metrics, tracer)."""
    from nreadability_spark.readability.encoding import decode_html_bytes
    from nreadability_spark.readability.parser import build_document
    t = Tracer(run_id)
    with t.patched(kernel_targets()):
        t0 = time.perf_counter()
        run_kernel_sample(pages, t)
        traced_s = time.perf_counter() - t0
    n = len(pages)
    kb = sum(len(h) for _, h in pages) / 1024
    # node counts come from an untimed parse outside every span
    nodes = sum(sum(1 for _ in build_document(
        decode_html_bytes(h)).descendant_nodes()) for _, h in pages)
    row_s = t.total_s("job.transcode_row")
    return {
        "parser.build_document_ms": 1000 * t.total_s(
            "parser.build_document", "transcoder.transcode_to_xml") / n,
        "parser.calls_per_doc": t.calls("parser.build_document") / n,
        "parser.reparse_ms": 1000 * t.total_s(
            "parser.build_document", "transcoder.set_inner_html") / n,
        "transcoder.self_ms": 1000 * t.self_s(
            "transcoder.transcode_to_xml") / n,
        "transcoder.set_inner_html_calls_per_doc":
            t.calls("transcoder.set_inner_html") / n,
        "transcoder.serialize_ms": 1000 * t.total_s(
            "transcoder.serialize_document") / n,
        "transcoder.rerun_ratio":
            n / max(1, t.calls("transcoder.transcode_to_xml")),
        "dom.tag_walks_per_doc": t.calls("dom.tag_walk") / n,
        "dom.walk_ms": 1000 * t.total_s("dom.tag_walk") / n,
        "dom.nodes_per_doc": nodes / n,
        "encoding.decode_ms": 1000 * t.total_s(
            "encoding.decode_html_bytes") / n,
        "job.transcode_row_ms": 1000 * row_s / n,
        "job.transcode_row_ms_per_kb": 1000 * row_s / kb,
        "bench.trace_overhead": traced_s / untraced_s - 1,
    }, t


def print_metric(name: str, unit: str, values: list[float],
                 what: str) -> None:
    s = summarize(values)
    tail = [f"{k} {v:.6g}" for k, v in s.items() if k.startswith("p")]
    tail = "; ".join(tail) if tail else "no tail percentile (n < 100)"
    print(f"metric {name} = {s['median']:.6g} {unit} (median of {s['n']} "
          f"{what}; {tail})", flush=True)


# --- one workload -------------------------------------------------------------

class Workload:
    """One workload's steps. ``docs`` is the input size a pass processes;
    subclasses set it in ``generate``."""

    name = ""
    MIN_PASSES = 1

    def __init__(self, run: Run):
        self.run = run
        self.docs = 0
        self.input_bytes = 0
        self.signature = ""

    # hooks ----------------------------------------------------------------

    def generate(self) -> None:
        """Build the seeded inputs in Python and check their size."""
        raise NotImplementedError

    def materialize(self) -> None:
        """Write the inputs where Spark reads them."""
        raise NotImplementedError

    def warmup(self) -> None:
        """One untimed pass; keeps its output as the reference."""
        raise NotImplementedError

    def one_pass(self) -> tuple[int, int, float]:
        """One timed pass: (operations attempted, failed, seconds)."""
        raise NotImplementedError

    def after_passes(self) -> dict:
        """Work after the timed window (e.g. a resume); extra metrics."""
        return {}

    def sample_pages(self) -> list[tuple[str, bytes]]:
        raise NotImplementedError

    def check_sample(self, outputs: dict) -> None:
        raise NotImplementedError

    def layer_metrics(self) -> dict:
        """Traced run only: the workload's Spark-side layer passes."""
        return {}

    # the run --------------------------------------------------------------

    def execute(self) -> dict:
        from nreadability_spark.spark.job import ensure_package_shipped
        run, t = self.run, self.run.tracer
        t0 = time.perf_counter()
        with t.span("bench.generate"):
            self.generate()
        gen_s = time.perf_counter() - t0
        print(f"input {self.name}: seed {run.seed}, {self.docs} documents, "
              f"{self.input_bytes} bytes, signature {self.signature}",
              flush=True)

        # On a shared host the CPU speed can change for minutes at a time.
        # The kernel sample is timed in sweeps before each timed pass and
        # after the last; each sampled page keeps its fastest time. Spark
        # is idle during each sweep.
        pages = self.sample_pages()
        sweeps, sweep_s = [], []

        def sweep(check: bool = False) -> None:
            k0 = time.perf_counter()
            times, outputs = run_kernel_sample(pages)
            sweep_s.append(time.perf_counter() - k0)
            sweeps.append(times)
            if check:
                self.check_sample(outputs)

        # One cold set-up, as a fresh job has: this process has no JVM
        # yet, and the run's temp directory is new, so
        # ensure_package_shipped builds its package zip.
        a = time.perf_counter()
        with t.span("session.get_spark"):
            run.start_spark()
        b = time.perf_counter()
        with t.span("job.ensure_package_shipped"):
            ensure_package_shipped(run.spark)
        c = time.perf_counter()
        with t.span("bench.materialize"):
            self.materialize()
        d = time.perf_counter()
        with t.span("bench.warmup"):
            self.warmup()
        warm_s = time.perf_counter() - d
        parts = {"session.get_spark_s": b - a,
                 "job.ensure_package_shipped_s": c - b,
                 "bench.materialize_s": d - c}
        setup = gen_s + (d - a) + warm_s
        print(f"setup parts: generate {gen_s:.3f} s, "
              + ", ".join(f"{k[:-2]} {v:.3f} s" for k, v in parts.items())
              + f", warm-up {warm_s:.3f} s", flush=True)

        pass_s: list[float] = []
        peak = 0
        start = time.perf_counter()
        while len(pass_s) < self.MIN_PASSES or \
                time.perf_counter() - start < run.seconds:
            sweep(check=not pass_s)
            with host.RssPeak() as rss:
                attempted, failed, secs = self.one_pass()
            peak = max(peak, rss.peak)
            run.attempted += attempted
            run.failed += failed
            pass_s.append(secs)
        sweep()
        extra = self.after_passes()
        doc_ms = [min(ts) for ts in zip(*sweeps)]
        load, control = host.loadavg_1m(), host.control_s()

        rates = [self.docs / s for s in pass_s]
        print("pass seconds " + " ".join(f"{s:.3f}" for s in pass_s))
        print_metric("docs_per_s", "docs/s", rates, "passes")
        print_metric("doc_ms_p50", "ms", doc_ms,
                     f"documents, fastest of {len(sweeps)} sweeps each")
        print(f"metric setup_s = {setup:.6g} s (one cold set-up and "
              "warm-up)")
        print(f"metric peak_rss_mb = {peak / 2 ** 20:.6g} MB (peak over "
              f"{len(pass_s)} passes, sampled every 0.1 s)")
        ratio = run.failed / max(1, run.attempted)
        print(f"metric failed_ratio = {ratio:.6g} ({run.failed} of "
              f"{run.attempted} operations)")
        for k, v in extra.items():
            print(f"metric {k} = {v:.6g}")
        print(f"context cpus {run.cpus}, loadavg_1m {load}, control_s "
              f"{control:.4f}, python {platform.python_version()}, "
              f"pyspark {_pyspark_version()}", flush=True)

        result = {
            "docs_per_s": statistics.median(rates),
            "doc_ms_p50": statistics.median(doc_ms),
            "setup_s": setup,
            "peak_rss_mb": peak / 2 ** 20,
            "failed_ratio": ratio,
            "bench.loadavg_1m": load,
            "bench.control_s": control,
            **extra,
        }
        if not run.trace:
            return result

        kernel, ktrace = kernel_layers(pages, min(sweep_s), t.run_id)
        result.update(kernel)
        result.update(parts)
        result.update(self.layer_metrics())
        os.makedirs(os.path.join(run.work_root, "traces"), exist_ok=True)
        path = os.path.join(run.work_root, "traces",
                            f"{self.name}-{run.seed}-{t.run_id}.json")
        t.dump(path, {"workload": self.name, "seed": run.seed,
                      "layer": "spark", "metrics": result})
        ktrace.dump(path[:-5] + "-kernel.json",
                    {"workload": self.name, "seed": run.seed,
                     "layer": "kernel"})
        print(f"trace written to {os.path.relpath(path, os.getcwd())}")
        for k in sorted(result):
            print(f"layer {k} = {result[k]:.6g}")
        return result


def _pyspark_version() -> str:
    import pyspark
    return pyspark.__version__

