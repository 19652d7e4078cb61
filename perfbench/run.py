#!/usr/bin/env python3
"""Benchmark of the quality-filter engine, driven from outside through
its public entry points.

    python3 perfbench/run.py --workload filter_pii --seed 1 \\
        --seconds 10 --trace 0

Run it from the repository root. Each run generates the workload's input
from the seed (cached under perfbench/_work/inputs), starts one Spark
session on local[<cores this process may use>], and runs passes back to
back (a closed loop with one client). A pass is one full call of
``scripts/run_filter.run_job`` (filter workloads) or
``scripts/build_corpus.build`` (corpus_build) into a fresh output
directory. The first pass is cold; warm passes follow until --seconds
have passed (at least three). Every pass's output is checked outside
the timed region; a pass that raises or fails a check counts as failed.

Workloads:
  filter_pii    16k web pages in 32 parquet files (one batch),
                ~4/7 carrying an email, phone number, IPv4 address
                or SSN.
  filter_clean  the same pages with no PII: the scrub probe misses on
                every row.
  corpus_build  a 4k-record WET crawl in 4 files with 5% exact and 5%
                near-duplicate copies, through filter, exact dedup,
                MinHash near-dup, packing and the parquet sink. Not in
                BENCHMARK.json: every pass fails today, because
                dedup.near_dup_clusters sums the xxhash64 doc ids that
                read_wet assigns and the sum overflows under ANSI mode.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(see trace.py and BENCHMARK.json). Before the last line the run prints
the host shape and one ``metric <name> <value> <unit>`` line per
metric; the last line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

WORKLOADS = ("filter_pii", "filter_clean", "corpus_build")
# 32 files, so 32 tasks per stage on a few cores: with one file per
# core, one core slowed by other load held up every stage (a busy core
# made passes ~30% slower); with many the other cores take up its share.
# One batch per pass: a second batch added ~1 s of job planning and
# commits to a ~3.5 s pass, work that does not grow with the docs.
FILTER_DOCS, FILTER_FILES, BATCH_SIZE = 16_000, 32, 32
CRAWL_DOCS, CRAWL_FILES = 4_000, 4
ORACLE_SAMPLE = 200
# the JIT still compiles through the first warm passes, which run up to
# ~25% slower than later ones; a count, not a time, keeps the timed
# passes at the same point of that curve on a slow or a fast host
WARMUP_PASSES = 2
MIN_WARM_PASSES = 3
TRACE_PAIRS = 2
PREFIX_ROUNDS = 4
PREFIX_TOLERANCE = 0.15
DRIVER_MEMORY, YOUNG_GEN = "2g", "512m"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def metric_line(name: str, value: float, unit: str) -> str:
    return f"metric {name} {value!r} {unit}"


def parse_metric_line(line: str) -> tuple[str, float, str]:
    tag, name, value, unit = line.split(" ")
    if tag != "metric":
        raise ValueError(f"not a metric line: {line!r}")
    return name, float(value), unit


def cli_args(module, argv: list[str]) -> argparse.Namespace:
    """The Namespace a script's own parser builds from argv, so passes
    see the CLI defaults."""
    saved = sys.argv
    sys.argv = [module.__file__, *argv]
    try:
        return module.build_args()
    finally:
        sys.argv = saved


# ---------------------------------------------------------------- inputs

def prepare_inputs(workload: str, seed: int) -> dict:
    """Generate the workload input for a seed once, with what its checks
    expect; later runs with the same (workload, seed, size) reuse it."""
    import gen
    from checks import oracle_sample
    size = CRAWL_DOCS if workload == "corpus_build" else FILTER_DOCS
    base = os.path.join(WORK, "inputs", f"{workload}-s{seed}-n{size}")
    meta_path = os.path.join(base, "expected.json")
    if not os.path.exists(meta_path):
        shutil.rmtree(base, ignore_errors=True)
        data = os.path.join(base, "data")
        if workload == "corpus_build":
            rows = gen.write_wet(data, size, CRAWL_FILES, seed)
            groups: dict[str, list[str]] = {}
            for r in rows:
                if r["planted"] == "exact":
                    groups.setdefault(r["of"], [r["of"]]).append(r["url"])
            expected = {"exact_groups": sorted(groups.values())}
        else:
            import numpy as np
            rows = gen.write_pages(data, size, FILTER_FILES, seed,
                                   pii=workload == "filter_pii")
            pick = np.random.default_rng(seed).choice(
                len(rows), size=ORACLE_SAMPLE, replace=False)
            expected = {"sample": oracle_sample(
                [rows[int(i)] for i in sorted(pick)])}
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"n_docs": size, **expected}, f)
        os.replace(tmp, meta_path)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["dir"] = os.path.join(base, "data")
    return meta


# ---------------------------------------------------------------- spark

def start_spark(cores: int):
    from pyspark.sql import SparkSession

    from luzzu_spark.session import DEFAULT_CONFS
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = dict(DEFAULT_CONFS)
    # a fixed heap and young generation: with adaptive sizing the JVM's
    # resident set wandered by ~14% between identical runs
    confs.update({
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            f"-XX:-UsePerfData -Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN}",
    })
    builder = SparkSession.builder.appName("perfbench").master(
        f"local[{cores}]")
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers it started, and
    wait until each has exited."""
    from pyspark import SparkContext

    from measure import process_tree
    started = process_tree()[1:]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        # the JVM exits when its stdin closes
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 20
    for pid in started:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


class Passes:
    """Runs and checks the passes of one workload on one session."""

    def __init__(self, spark, workload: str, inputs: dict):
        import checks
        self.spark = spark
        self.workload = workload
        self.inputs = inputs
        self.tally = checks.Tally()
        self.count = 0
        self.last_out: str | None = None

    def run(self) -> tuple[float, float]:
        """One timed pass; returns (wall s, process-tree CPU s)."""
        from measure import process_tree, tree_cpu_s
        out = os.path.join(WORK, "out", f"pass{self.count}")
        self.count += 1
        shutil.rmtree(out, ignore_errors=True)
        cpu0 = tree_cpu_s(process_tree())
        t0 = time.perf_counter()
        try:
            result = self._call(out)
        except Exception as e:  # a failed pass is a measurement
            wall = time.perf_counter() - t0
            self.tally.record([f"pass raised {type(e).__name__}: "
                               f"{str(e).splitlines()[0][:300]}"], None)
            return wall, tree_cpu_s(process_tree()) - cpu0
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s(process_tree()) - cpu0
        print(f"# pass {self.count - 1} wall_s={wall:.3f} cpu_s={cpu:.2f}")
        self._check(out, result)
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = out
        return wall, cpu

    def _call(self, out: str):
        d = self.inputs["dir"]
        if self.workload == "corpus_build":
            import scripts.build_corpus as bc
            return bc.build(self.spark, cli_args(
                bc, ["--input", d, "--output", out]))
        import scripts.run_filter as rf
        return rf.run_job(self.spark, cli_args(
            rf, ["--input", d, "--output", out,
                 "--batch-size", str(BATCH_SIZE)]))

    def _check(self, out: str, result) -> None:
        import checks
        try:
            if self.workload == "corpus_build":
                errors, dig = checks.check_corpus_pass(
                    out, result, self.inputs["exact_groups"])
            else:
                errors, dig = checks.check_filter_pass(
                    out, self.inputs["sample"], self.inputs["n_docs"])
        except Exception as e:  # unreadable output fails the pass
            errors, dig = [f"check raised {type(e).__name__}: {e}"], None
        self.tally.record(errors, dig)

    def check_assess_sample(self) -> list[str]:
        """QualityPipeline.assess on the sampled input rows against the
        oracle's keep / drop_reasons / text_scrubbed (filter only)."""
        if self.workload == "corpus_build":
            return []
        import checks
        from pyspark.sql import functions as F

        from luzzu_spark.pipeline import QualityPipeline
        from luzzu_spark.sources import read_corpus
        sample = self.inputs["sample"]
        pages = read_corpus(self.spark, self.inputs["dir"]).where(
            F.col("url").isin([r["url"] for r in sample]))
        got = {r["url"]: {"keep": r["keep"],
                          "drop_reasons": list(r["drop_reasons"]),
                          "text_scrubbed": r["text_scrubbed"]}
               for r in QualityPipeline().assess(pages).select(
                   "url", "keep", "drop_reasons", "text_scrubbed").collect()}
        return checks.check_assessment(got, sample)

    def cleanup(self) -> None:
        shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)


# ---------------------------------------------------------------- runs

def end_to_end(passes: Passes, seconds: float, setup_s: float) -> dict:
    """Unmeasured warm-up passes, then timed passes until `seconds` have
    passed (at least MIN_WARM_PASSES)."""
    from measure import process_tree, tree_peak_rss_mb
    for _ in range(WARMUP_PASSES):
        passes.run()
    warm = []
    t0 = time.perf_counter()
    while (len(warm) < MIN_WARM_PASSES
           or time.perf_counter() - t0 < seconds):
        warm.append(passes.run())
    n = passes.inputs["n_docs"]
    return {
        "docs_per_s": (n / statistics.median(w for w, _ in warm), "docs/s"),
        "cpu_s_per_kdoc": (statistics.median(c for _, c in warm) / n * 1000,
                           "s/kdoc"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (tree_peak_rss_mb(process_tree()), "MiB"),
        "error_rate": (passes.tally.error_rate, "ratio"),
    }


def noop(df) -> float:
    t0 = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def per_layer(passes: Passes, cores: int) -> tuple[dict, list[str]]:
    """The traced run: tracing overhead, Spark task and SQL-node metrics
    of a pass, and the assess layer timings.

    Each metric, and the end-to-end metric it should move:
      sources.scan_s, sources.bytes_read   docs_per_s, setup_s when the
                                           ingest format changes; little
                                           on the parquet filter inputs
      heuristics.tokens_s, registry.scores_s, registry.verdict_s
                                           docs_per_s, cpu_s_per_kdoc on
                                           both filter workloads alike
      plugins.udf_s, .py_worker_s, .bytes_to_py, .bytes_from_py
                                           docs_per_s on both; .py_init_s
                                           also setup_s; .arrow_eval_nodes
                                           must read 1
      scrub.chain_s, .probe_hit_frac, .changed_frac
                                           docs_per_s, strongly on
                                           filter_pii, weakly on
                                           filter_clean
      checkpoint.after_assess_s (pass minus the full-assess noop:
        persist, sinks, manifest)          docs_per_s, peak_rss_mb
      pipeline.sink_bytes, .sink_files     docs_per_s
      spark.gc_s, .spill_bytes             cpu_s_per_kdoc, peak_rss_mb
      spark.task_skew, .shuffle_write_bytes, .jobs, .tasks,
        .executor_run_s, .executor_cpu_s   docs_per_s, cpu_s_per_kdoc
      spark.parallel_efficiency            explains docs_per_s
      trace.overhead                       none: the cost of the spans
    """
    from pyspark.sql import functions as F

    import trace
    from luzzu_spark.pipeline import QualityPipeline
    from luzzu_spark.rules.scrub import COMBINED_PROBE, scrub_expr
    from luzzu_spark.sources import read_corpus
    from measure import StatusStore
    spark, n = passes.spark, passes.inputs["n_docs"]
    store = StatusStore(spark)
    tracer = trace.Tracer()
    targets = trace.program_targets()
    m: dict[str, tuple[float, str]] = {}

    # alternate untraced and traced passes; keep the task metrics of the
    # last untraced one
    walls: dict[bool, list[float]] = {False: [], True: []}
    task = {}
    for _ in range(TRACE_PAIRS):
        for traced in (False, True):
            if traced:
                with tracer.instrument(targets), \
                        tracer.span("pass", workload=passes.workload):
                    walls[True].append(passes.run()[0])
            else:
                mark = store.mark()
                walls[False].append(passes.run()[0])
                task = store.task_totals(mark)
    untraced = statistics.median(walls[False])
    traced = statistics.median(walls[True])
    m["trace.untraced_docs_per_s"] = (n / untraced, "docs/s")
    m["trace.traced_docs_per_s"] = (n / traced, "docs/s")
    m["trace.overhead"] = (traced / untraced - 1, "ratio")
    for k, unit in (("jobs", "count"), ("tasks", "count"),
                    ("executor_run_s", "s"), ("executor_cpu_s", "s"),
                    ("gc_s", "s"), ("shuffle_write_bytes", "bytes"),
                    ("spill_bytes", "bytes"), ("task_skew", "ratio")):
        m[f"spark.{k}"] = (float(task[k]), unit)
    files = [os.path.join(d, f) for d, _, fs in os.walk(passes.last_out)
             for f in fs if f.startswith("part-")] if passes.last_out else []
    m["pipeline.sink_files"] = (float(len(files)), "count")
    m["pipeline.sink_bytes"] = (float(sum(map(os.path.getsize, files))),
                                "bytes")

    # assess layers: cumulative prefixes, each forced into a noop sink,
    # timed round-robin after one warm-up round
    pages = read_corpus(spark, passes.inputs["dir"])
    frames = trace.assess_prefixes(pages) + [
        ("assess", QualityPipeline().assess(pages))]
    times: dict[str, list[float]] = {k: [] for k, _ in frames}
    for rnd in range(PREFIX_ROUNDS + 1):
        for name, df in frames:
            mark = store.mark() if (rnd, name) == (PREFIX_ROUNDS,
                                                   "assess") else None
            t = noop(df)
            if rnd:
                times[name].append(t)
            if mark:
                udf = store.sql_nodes(mark, "ArrowEvalPython")
                scans = store.sql_nodes(mark, "Scan ")
    med = {k: statistics.median(v) for k, v in times.items()}
    layer = dict(zip(trace.ASSESS_LAYERS,
                     [med["scan"]] + [med[b] - med[a] for a, b in zip(
                         trace.ASSESS_LAYERS, trace.ASSESS_LAYERS[1:])]))
    prefix_sum = sum(layer.values())
    m["sources.scan_s"] = (layer["scan"], "s")
    m["sources.bytes_read"] = (sum(node.get("size of files read", 0.0)
                                   for node in scans), "bytes")
    m["heuristics.tokens_s"] = (layer["tokens"], "s")
    m["registry.scores_s"] = (layer["scores"], "s")
    m["plugins.udf_s"] = (layer["udf"], "s")
    m["registry.verdict_s"] = (layer["verdict"], "s")
    m["scrub.chain_s"] = (layer["scrub"], "s")
    m["pipeline.assess_noop_s"] = (med["assess"], "s")
    m["trace.prefix_sum_ratio"] = (prefix_sum / med["assess"], "ratio")
    m["checkpoint.after_assess_s"] = (untraced - med["assess"], "s")
    sums = {k: sum(node.get(k, 0.0) for node in udf) for k in (
        "time to run Python workers", "time to start Python workers",
        "time to initialize Python workers", "data sent to Python workers",
        "data returned from Python workers")}
    m["plugins.arrow_eval_nodes"] = (float(len(udf)), "count")
    m["plugins.py_worker_s"] = (sums["time to run Python workers"], "s")
    m["plugins.py_init_s"] = (sums["time to start Python workers"]
                              + sums["time to initialize Python workers"],
                              "s")
    m["plugins.bytes_to_py"] = (sums["data sent to Python workers"],
                                "bytes")
    m["plugins.bytes_from_py"] = (sums["data returned from Python workers"],
                                  "bytes")
    text = F.coalesce(F.col("text"), F.lit(""))
    row = pages.select(
        F.avg(text.rlike(COMBINED_PROBE).cast("double")).alias("hit"),
        F.avg((scrub_expr("text") != text).cast("double")).alias("chg")
    ).first()
    m["scrub.probe_hit_frac"] = (row["hit"], "ratio")
    m["scrub.changed_frac"] = (row["chg"], "ratio")

    # the same assess as one task at a time (one partition, no spread):
    # the work of local[1], on this session
    single = QualityPipeline(auto_spread=False).assess(pages.coalesce(1))
    noop(single)                                   # warm-up
    t1 = noop(single)
    m["spark.parallel_efficiency"] = (t1 / (cores * med["assess"]),
                                      "ratio")

    tracer.dump(os.path.join(WORK, f"trace-{passes.workload}.json"))
    errors = []
    if abs(m["trace.prefix_sum_ratio"][0] - 1) > PREFIX_TOLERANCE:
        errors.append(f"assess prefix deltas sum to "
                      f"{prefix_sum:.3f}s, full assess takes "
                      f"{med['assess']:.3f}s")
    if m["plugins.arrow_eval_nodes"][0] != 1:
        errors.append(f"{len(udf)} ArrowEvalPython nodes in assess")
    return m, errors


def main(argv=None) -> int:
    from measure import since_process_start
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "")
                        .split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    import pyspark

    import luzzu_spark  # noqa: F401  (fail fast outside a checkout)
    from measure import host_probe_ms, host_ram_mb

    t = time.perf_counter()
    inputs = prepare_inputs(args.workload, args.seed)
    t_gen = time.perf_counter() - t

    cores = len(os.sched_getaffinity(0))
    spark = start_spark(cores)
    passes = Passes(spark, args.workload, inputs)
    try:
        passes.run()                                   # cold pass
        setup_s = since_process_start() - t_gen
        passes.tally.fail_last(passes.check_assess_sample())
        if args.trace:
            metrics, trace_errors = per_layer(passes, cores)
            passes.tally.errors.extend(trace_errors)
        else:
            metrics = end_to_end(passes, args.seconds, setup_s)
            trace_errors = []
        print(f"# host cores={cores} ram_mb={host_ram_mb():.0f} "
              f"probe_ms={host_probe_ms():.1f} "
              f"master=local[{cores}] spark={passes.spark.version} "
              f"pyspark={pyspark.__version__} "
              f"python={sys.version.split()[0]} "
              f"heap={DRIVER_MEMORY} young={YOUNG_GEN} "
              f"docs={inputs['n_docs']} "
              f"input_gen_s={t_gen:.3f}")
    finally:
        passes.cleanup()
        stop_spark(passes.spark)
    tally = passes.tally
    for err in tally.errors:
        print(f"# check failed: {err}")
    for name, (value, unit) in metrics.items():
        print(metric_line(name, value, unit))
    print(json.dumps(result(metrics, declared(args.trace), tally,
                            trace_errors)))
    return 0


def declared(trace: int) -> list[dict]:
    """The metrics BENCHMARK.json declares for this kind of run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def result(metrics: dict, spec: list[dict], tally, extra_errors) -> dict:
    """The last output line: the declared metrics, in declared order.
    Metrics outside the declaration (error_rate, which the contract
    carries as attempted/failed, and trace diagnostics) are printed
    only as metric lines."""
    missing = [d["name"] for d in spec if d["name"] not in metrics
               or metrics[d["name"]][1] != d["unit"]]
    if missing:
        raise KeyError(f"run produced no value (or another unit) for "
                       f"declared metrics {missing}")
    return {"correct": tally.failed == 0 and not extra_errors,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": {d["name"]: {"value": metrics[d["name"]][0],
                                    "unit": d["unit"]} for d in spec}}


if __name__ == "__main__":
    sys.exit(main())
