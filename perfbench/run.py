"""Repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload {ingest,aggregate,catalog} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  Inputs are generated from the seed
and cached under ``.perfbench/`` (never timed).  The session is set up
(JVM launch included; ``setup_s``), then runs untimed warm-up ops and
timed ops for ``--seconds``.  Every op's output is checked against an
independent oracle; an op that raises or mismatches counts as failed.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  Diagnostics go to stderr and
to ``.perfbench/out/``.  See NOTES.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

PROCESS_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

CORES = 4
MASTER = f"local[{CORES}]"
ROWS_PER_FILE = 6_250
TOKEN_FILES = 16              # aggregate: 100k sequences
INGEST_ROWS_PER_FILE = 12_500
INGEST_FILES = 4              # ingest: 50k sequences, one unit per file
# Untimed warm-up cycles (one op; one catalog pass), counted rather
# than timed so every run starts timing from the same amount of work.
# Ops keep getting faster for about 20 s of ops (JIT, codegen caches):
# with 2 warm-up ops the run-to-run spread of aggregate seq_per_s was
# 13%, with 10-12 about 5%.  Ingest ops level off after three; a
# catalog pass after one cold pass is still ~10% slower than the next.
WARM_CYCLES = {"ingest": 3, "aggregate": 10, "catalog": 2}
CATALOG_SF = 0.01
CATALOG_DATA_SEED = 42         # fixed tables; --seed permutes the query order
DRIVER_MEM = "6g"
WORKLOADS = ("ingest", "aggregate", "catalog")

END_TO_END = {
    "setup_s": "s", "seq_per_s": "1/s", "cpu_us_per_seq": "us",
    "queries_per_s": "1/s", "query_p50_s": "s", "query_p90_s": "s",
}


def configure_environment() -> None:
    """Point every scratch path of Spark, the JVM, Python and the
    product at the checkout's own work directory."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # earlier runs' package zips and temp files
    for d in (tmp, os.path.join(WORK, "cache"), os.path.join(WORK, "out")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SNELLER_SPARK_INDEX_DIR"] = os.path.join(WORK, "indexes")
    os.environ["SNELLER_SPARK_FLAGSHIP_DIR"] = os.path.join(WORK, "flagship")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # The product's 48g default let the heap grow past 10 GB on a 15 GB
    # host; 6g keeps the JVM well inside it and still never spills on
    # these inputs.
    os.environ["SNELLER_SPARK_DRIVER_MEM"] = DRIVER_MEM


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - PROCESS_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def stop_jvm(spark) -> None:
    """Stop the session, shut its JVM down and wait for the process."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Bench:
    def __init__(self, args):
        from .stats import Tracer

        self.args = args
        self.workload = args.workload
        self.trace = bool(args.trace)
        self.tracer = Tracer(self.trace)   # records only in traced runs
        self.untraced = Tracer(False)
        self.ops = []          # (phase, OpResult, traced, timed cycle or -1)
        self.calib_ms: list[float] = []
        self.load1: list[float] = []
        self.metrics: dict[str, float] = {}
        self.run_dir = os.path.join(WORK, "runs", str(os.getpid()))

    # ---- inputs (never timed) ---------------------------------------
    def prepare_inputs(self) -> None:
        from .inputs import TokensInput, ensure_catalog, link_subset
        from .workloads import Catalog

        cache = os.path.join(WORK, "cache")
        need_catalog = self.workload == "catalog" or self.trace
        if self.workload == "aggregate" or self.trace:
            self.tokens = TokensInput(cache, self.args.seed, ROWS_PER_FILE, TOKEN_FILES)
            self.tokens.ensure(CORES)
            self.expected_all = self.tokens.expected()
        if self.workload == "ingest" or self.trace:
            units = TokensInput(cache, self.args.seed, INGEST_ROWS_PER_FILE, INGEST_FILES)
            units.ensure(CORES)
            self.ingest_dir = link_subset(units.files(), os.path.join(self.run_dir, "in"))
            self.expected_ingest = units.expected()
        if need_catalog:
            sf_dir = ensure_catalog(cache, CATALOG_DATA_SEED, CATALOG_SF)
            self.catalog = Catalog(sf_dir, os.path.join(WORK, "tmp"))
            import random

            self.query_order = list(self.catalog.queries)
            random.Random(self.args.seed).shuffle(self.query_order)

    def open_inputs(self, spark) -> None:
        if self.workload == "catalog":
            self.catalog.open_inputs(spark)
        elif self.workload == "ingest":
            spark.read.parquet(self.ingest_dir).schema
        else:
            spark.read.parquet(*self.tokens.files()).schema

    # ---- set-up ------------------------------------------------------
    def setup(self):
        """get_spark (imports, JVM launch, package ship) plus opening the
        inputs; one per run, since a set-up takes about 8 s."""
        t0 = time.monotonic()
        from sneller_spark.session import get_spark

        spark = get_spark(app_name="perfbench", master=MASTER)
        t1 = time.monotonic()
        self.open_inputs(spark)
        self.metrics["setup_s"] = time.monotonic() - t0
        self.metrics["session.get_spark_s"] = t1 - t0
        log(f"setup_s {self.metrics['setup_s']:.3f}")
        zips = [os.path.join(WORK, "tmp", f) for f in os.listdir(os.path.join(WORK, "tmp"))
                if f.endswith(".zip")]
        self.metrics["session.pyfiles_bytes"] = os.path.getsize(max(zips, key=os.path.getmtime))
        return spark

    # ---- ops ---------------------------------------------------------
    def run_op(self, phase: str, fn, traced: bool = False, cycle: int = -1):
        from .stats import calibration_ms
        from .workloads import OpResult

        t0 = time.monotonic()
        try:
            res = fn(self.tracer if traced else self.untraced)
        except Exception as exc:  # an op that raises is a failed op; keep measuring
            traceback.print_exc(file=sys.stderr)
            res = OpResult(time.monotonic() - t0, 0, False, f"{type(exc).__name__}: {exc}")
        if not res.ok:
            log(f"FAILED {phase} op: {res.error}")
        self.ops.append((phase, res, traced, cycle))
        if phase == "timed":
            self.calib_ms.append(calibration_ms())
            self.load1.append(os.getloadavg()[0])
        return res

    def op_fns(self, spark):
        """(warm-up cycle, timed cycle) for this workload: lists of
        ``fn(tracer) -> OpResult``; a catalog cycle is one pass."""
        from .workloads import aggregate_op, ingest_op

        if self.workload == "aggregate":
            files, exp = self.tokens.files(), self.expected_all
            fn = lambda tr: aggregate_op(spark, files, exp, tr)  # noqa: E731
            return [fn], [fn]
        if self.workload == "ingest":
            out = os.path.join(self.run_dir, "out")
            fn = lambda tr: ingest_op(spark, self.ingest_dir, out, self.expected_ingest, tr)  # noqa: E731
            return [fn], [fn]
        pass_fns = [
            (lambda tr, q=q: self.catalog.op(spark, q, tr)) for q in self.query_order
        ]
        return pass_fns, pass_fns

    def measure(self, spark) -> None:
        warm, cycle = self.op_fns(spark)
        t0 = time.monotonic()
        for _ in range(WARM_CYCLES[self.workload]):
            for fn in warm:
                self.run_op("warm", fn)
        self.metrics["session.warmup_s"] = time.monotonic() - t0

        # A catalog op is one query, but the loop stops only at the end
        # of a whole pass, so every cycle weighs all twenty queries.
        # Traced runs alternate untraced and traced cycles and run at
        # least one of each, which gives trace.overhead_pct.
        start, n = time.monotonic(), 0
        while True:
            traced = self.trace and n % 2 == 1
            for fn in cycle:
                self.run_op("timed", fn, traced, cycle=n)
            n += 1
            if time.monotonic() - start >= self.args.seconds and (not self.trace or n >= 2):
                break

    # ---- traced sweep --------------------------------------------------
    def sweep(self, spark) -> None:
        from .layers import catalog_metrics, pipeline_prefixes, runner_metrics
        from .workloads import ingest_op

        self.metrics.update(pipeline_prefixes(
            spark, self.tokens.files(), os.path.join(self.run_dir, "write"), self.tracer))
        ingest = self.run_op("sweep", lambda tr: ingest_op(
            spark, self.ingest_dir, os.path.join(self.run_dir, "out"), self.expected_ingest, tr), True)
        if ingest.ok:
            self.metrics.update(runner_metrics(ingest))
        passes = {q: self.run_op("sweep", lambda tr, q=q: self.catalog.op(spark, q, tr), True)
                  for q in self.catalog.queries}
        self.metrics.update(catalog_metrics(passes))

    # ---- results -------------------------------------------------------
    def end_to_end(self) -> dict:
        """Rates are medians over timed cycles (one op; one catalog
        pass), latencies percentiles over every timed op."""
        from .stats import median, percentile

        cycles: dict[int, list] = {}
        for phase, r, _, c in self.ops:
            if phase == "timed":
                cycles.setdefault(c, []).append(r)
        per_cycle = [
            (sum(r.seconds for r in rs), sum(r.seqs for r in rs), sum(r.cpu for r in rs), len(rs))
            for rs in cycles.values()
        ]
        lat = [r.seconds for rs in cycles.values() for r in rs]
        return {
            "seq_per_s": median([seqs / secs for secs, seqs, _, _ in per_cycle]),
            "cpu_us_per_seq": median([cpu / seqs * 1e6 for _, seqs, cpu, _ in per_cycle]),
            "queries_per_s": median([n / secs for secs, _, _, n in per_cycle]),
            "query_p50_s": median(lat),
            "query_p90_s": percentile(lat, 90),
        }

    def per_layer(self, spark) -> dict:
        from .layers import host_metrics, overhead_pct
        from .stats import peak_rss_mb

        timed = [(r.seconds, tr) for phase, r, tr, _ in self.ops if phase == "timed"]
        m = dict(self.metrics)
        m.pop("setup_s")
        m["session.jvm_peak_rss_mb"] = peak_rss_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
        m.update(host_metrics(self.calib_ms, self.load1))
        m["trace.overhead_pct"] = overhead_pct(
            [s for s, tr in timed if tr], [s for s, tr in timed if not tr])
        return m

    def run(self) -> dict:
        from .stats import highest_supported_percentile

        self.prepare_inputs()
        log(f"inputs ready for {self.workload} seed {self.args.seed}")
        spark = self.setup()
        try:
            self.measure(spark)
            if self.trace:
                self.sweep(spark)
                metrics = self.per_layer(spark)
            else:
                metrics = {"setup_s": self.metrics["setup_s"], **self.end_to_end()}
        finally:
            stop_jvm(spark)
            shutil.rmtree(self.run_dir, ignore_errors=True)
        n_timed = sum(1 for phase, *_ in self.ops if phase == "timed")
        q = highest_supported_percentile(n_timed)
        log(f"{n_timed} timed ops; highest percentile with 10 samples beyond it: {q}")
        result = self.result(metrics)
        self.write_record(result)
        return result

    def result(self, metrics: dict) -> dict:
        """The result line: every op run (warm-up, timed, sweep) is
        attempted; one that raised or mismatched its oracle failed."""
        failed = sum(1 for _, r, _, _ in self.ops if not r.ok)
        return {
            "correct": failed == 0,
            "attempted": len(self.ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
        }

    def write_record(self, result: dict) -> None:
        rec = {
            "workload": self.workload, "seed": self.args.seed, "seconds": self.args.seconds,
            "trace": self.trace, "result": result,
            "ops": [{"phase": p, "seconds": r.seconds, "seqs": r.seqs, "cpu_s": r.cpu,
                     "ok": r.ok, "error": r.error, "traced": tr, "cycle": c}
                    for p, r, tr, c in self.ops],
            "calib_ms": self.calib_ms, "load1": self.load1,
            "spans": self.tracer.to_json(),
        }
        name = f"{self.workload}-seed{self.args.seed}-trace{int(self.trace)}.json"
        with open(os.path.join(WORK, "out", name), "w") as f:
            json.dump(rec, f, indent=1)


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms") or "_ms_" in name:
        return "ms"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("bytes_per_seq"):
        return "B/seq"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith("cores_busy"):
        return "cores"
    if name == "host.load1":
        return "load"
    return "count"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("sneller_spark", "bench.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a checkout of the repository",
                  file=sys.stderr)
            return 2
    from .procs import become_subreaper, reap_children

    become_subreaper()
    try:
        configure_environment()
        sys.path.insert(0, ROOT)
        result = Bench(args).run()
    finally:
        reap_children()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from perfbench.run import main as _main  # run as a package module so relative imports resolve

    sys.exit(_main())
