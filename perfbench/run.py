"""End-to-end ``Pipeline.run`` benchmark over seeded pages tables.

    python3 perfbench/run.py --workload crawl_html --seed 1 --seconds 10 --trace 0

One process starts a ``local[<cores>]`` session, generates the workload's
inputs from ``--seed``, warms the JVM with one untimed build, then times
whole pipeline iterations until ``--seconds`` have passed (at least one)
and checks every iteration's outputs.  The last line of stdout is one JSON
object: the end-to-end metrics with ``--trace 0``; with ``--trace 1`` the
per-layer metrics of a traced iteration, whose span dump is written to
``.perfbench/trace-<workload>-<seed>.json``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path
from statistics import median

ROOT = Path(__file__).resolve().parents[1]
OUT = ROOT / ".perfbench"
WORK = OUT / "work"
sys.path.insert(0, str(ROOT))

# Fail fast, before any output, in a tree that lacks the program.
from agenticknowledgegraphconstructionsystem_spark.plans.pipeline import Pipeline  # noqa: E402
from agenticknowledgegraphconstructionsystem_spark.session import get_spark  # noqa: E402
from agenticknowledgegraphconstructionsystem_spark.sources.pages import (  # noqa: E402
    pages_from_documents,
    synthetic_pages_rows,
)

import checks  # noqa: E402
import workloads as W  # noqa: E402
from tracing import MB, Tracer, per_layer_units  # noqa: E402

_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


END_TO_END_UNITS = {
    "wall_s": "s",
    "triples_per_s": "1/s",
    "setup_s": "s",
    "triple_precision": "ratio",
    "triple_recall": "ratio",
    "store_mb": "MB",
}


class CrawlHtml:
    """HTML-only crawl pages through the default pipeline (linking on):
    per-row extraction and mention detection dominate, the hot concept
    skews the joins, and there is no graph stage."""

    docs = 8000
    #: the warm-up build runs on this many of the pages: a cold build costs
    #: ~15 s more than a warm one at any size, and the plans are the same
    warm_docs = 300

    def __init__(self, spark, seed: int, n: int | None):
        self.spark = spark
        self.rows = synthetic_pages_rows(n or self.docs, seed)
        W.write_pages(self.rows, str(WORK / "pages.parquet"))
        W.write_pages(self.rows[: self.warm_docs], str(WORK / "warm_pages.parquet"))
        self.pages = spark.read.parquet(str(WORK / "pages.parquet"))

    def pipeline(self, out_dir: str) -> Pipeline:
        return Pipeline(self.spark, out_dir)

    def warm_up(self) -> None:
        warm_pages = self.spark.read.parquet(str(WORK / "warm_pages.parquet"))
        self.pipeline(str(WORK / "warm")).run(warm_pages)

    def oracle(self) -> None:
        self.expected = checks.oracle_triples(self.rows)

    def timed(self, out_dir: str) -> tuple[float, dict, Pipeline]:
        p = self.pipeline(out_dir)
        t0 = time.perf_counter()
        out = p.run(self.pages)
        return time.perf_counter() - t0, out, p

    def check(self, out: dict) -> tuple[bool, float, float, set]:
        got = checks.emitted_triples(out["triples"])
        precision, recall = checks.precision_recall(got, self.expected)
        return precision >= checks.MIN_TRIPLE_PRECISION, precision, recall, got


class ComentionResume:
    """sf0.1-shaped documents (pre-extracted text, linking off, graph
    metrics on), built once without a 2 % delta; each iteration restores
    that committed store and times ``ingest_increment`` + ``run`` over all
    documents.  Extract and mentions see only the delta, every later
    stage — the wedge-heavy graph stage above all — reruns in full, and
    the store serves appends and multi-snapshot reads beside writes."""

    docs = 4000

    def __init__(self, spark, seed: int, n: int | None):
        self.spark = spark
        self.docs_all = W.sf_documents(n or self.docs, seed)
        base, _delta = W.split_delta(self.docs_all, seed)
        self.all_dir, base_dir = str(WORK / "docs_all"), str(WORK / "docs_base")
        W.write_documents(self.docs_all, self.all_dir)
        W.write_documents(base, base_dir)
        self.base_pages = pages_from_documents(spark, base_dir)
        self.pages = pages_from_documents(spark, self.all_dir)
        self.pristine = str(WORK / "pristine")

    def pipeline(self, out_dir: str) -> Pipeline:
        return Pipeline(self.spark, out_dir, link=False, graph_metrics=True)

    def warm_up(self) -> None:
        """The base commit, which also compiles every downstream plan, then
        one untimed ``ingest_increment`` on a copy for the increment's own
        plans (the first timed resume ran 3-4 s slower without it)."""
        self.pipeline(self.pristine).run(self.base_pages)
        warm = str(WORK / "warm")
        shutil.copytree(self.pristine, warm)
        self.pipeline(warm).ingest_increment(self.pages)

    def oracle(self) -> None:
        self.expected = checks.oracle_triples(W.document_page_rows(self.docs_all))
        self.expected_graph = checks.oracle_graph_metrics(self.all_dir)

    def timed(self, out_dir: str) -> tuple[float, dict, Pipeline]:
        shutil.copytree(self.pristine, out_dir)
        p = self.pipeline(out_dir)
        t0 = time.perf_counter()
        p.ingest_increment(self.pages)
        out = p.run(self.pages)
        return time.perf_counter() - t0, out, p

    def check(self, out: dict) -> tuple[bool, float, float, set]:
        got = checks.emitted_triples(out["triples"])
        precision, recall = checks.precision_recall(got, self.expected)
        graph_ok = checks.emitted_graph_metrics(out["graph_metrics"]) == self.expected_graph
        return got == self.expected and graph_ok, precision, recall, got


WORKLOADS = {"crawl_html": CrawlHtml, "comention_resume": ComentionResume}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, files in os.walk(path) for f in files
    )


class Bench:
    def __init__(self):
        self.cores = len(os.sched_getaffinity(0))
        self._t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            cores=self.cores,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.local.dir": str(WORK / "spark-local"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'}",
                "spark.sql.warehouse.dir": str(WORK / "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # the traced pass reads every stage of its own iteration back
                # from the status store: keep them all
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.attempted = 0
        self.failed = 0

    def set_up(self, workload: str, seed: int, n: int | None) -> None:
        """Inputs and warm-up; ``setup_s`` also counts the session start."""
        log("session started")
        self.wl = WORKLOADS[workload](self.spark, seed, n)
        log("inputs written")
        self.wl.warm_up()
        self.setup_s = time.perf_counter() - self._t0
        log(f"warmed up: setup_s={self.setup_s:.2f}")
        self.wl.oracle()
        log("oracle computed")

    def iteration(self, traced: bool) -> dict | None:
        """One timed pipeline iteration plus its output check; None if it
        raised (counted as failed)."""
        out_dir = str(WORK / f"run-{self.attempted}")
        self.attempted += 1
        tracer = Tracer(self.spark, f"run-{self.attempted}") if traced else None
        try:
            with tracer or nullcontext():
                wall, out, p = self.wl.timed(out_dir)
            log(f"iteration {self.attempted}: {wall:.2f}s")
            ok, precision, recall, got = self.wl.check(out)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        if not ok:
            print(f"output check failed: precision={precision} recall={recall}", file=sys.stderr)
            self.failed += 1
        return {
            "wall_s": wall,
            "triples_per_s": len(got) / wall,
            "triple_precision": precision,
            "triple_recall": recall,
            "store_mb": dir_bytes(out_dir) / MB,
            "store": p.store,
            "tracer": tracer,
        }

    def measure(self, seconds: float, traced: bool = False) -> list[dict]:
        done = []
        t_end = time.perf_counter() + seconds
        while True:
            r = self.iteration(traced)
            if r is not None:
                done.append(r)
            if time.perf_counter() >= t_end:
                return done

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def end_to_end(bench: Bench, seconds: float) -> dict:
    runs = bench.measure(seconds)
    metrics = {"setup_s": bench.setup_s}
    for name in END_TO_END_UNITS:
        if name != "setup_s":
            metrics[name] = median(r[name] for r in runs)
    return metrics


def per_layer(bench: Bench, workload: str, seed: int, seconds: float) -> dict:
    """Traced iterations; the per-layer metrics are those of the last one.
    The untraced wall of the same workload is ``wall_s`` of a ``--trace 0``
    run."""
    last = bench.measure(seconds, traced=True)[-1]
    metrics, dump = last["tracer"].report(last["wall_s"], last["store"], bench.cores)
    dump.update(workload=workload, seed=seed, wall_s=last["wall_s"], cores=bench.cores)
    with open(OUT / f"trace-{workload}-{seed}.json", "w") as f:
        json.dump(dump, f, indent=1)
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None, help="input size override (smoke test)")
    args = ap.parse_args(argv)

    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    bench = None
    try:
        bench = Bench()
        bench.set_up(args.workload, args.seed, args.docs)
        if args.trace:
            metrics = per_layer(bench, args.workload, args.seed, args.seconds)
            units = per_layer_units()
        else:
            metrics = end_to_end(bench, args.seconds)
            units = END_TO_END_UNITS
    finally:
        if bench is not None:
            bench.stop()
            log("session stopped")
        shutil.rmtree(WORK, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
