"""Pages-table extraction benchmark.

    python3 perfbench/run.py --workload web_small --seed 1 --seconds 8 --trace 0

Run from the repository root.  One run:

1. generates the workload's seeded pages table and expected-output table
   under ``.perfbench_work/`` (gen.py);
2. sets up ``SETUP_REPS`` times, each on a fresh JVM: ``build_session``
   on ``local[N]`` (N = the CPUs this process may use, at most 4, pinned)
   plus one pass of the job over the first ``SETUP_ROWS`` rows, which
   starts the Python worker pool; ``setup_s`` is the median;
3. runs the job once into parquet and checks that output against the
   expected table (check.py); writes the corpus through ``run_pipeline``
   (the checkpointed write path) and checks its extracted output the same
   way; then runs ``WARMUP_PASSES`` untimed passes;
4. repeats the workload's job into the noop sink for ``--seconds`` (at
   least ``MIN_PASSES`` passes) with the worker-RSS sampler on, timing
   the host-speed reference job (probes.reference_seconds) before each
   pass.  Throughput is documents completed per pass over the median pass
   wall time (docs_per_s, printed on its own line); ``docs_per_ref`` is
   that times the median reference time: the documents completed in the
   time this host takes for one reference job, which cancels the host's
   speed drift.

``failed`` counts the mismatching documents of both checked outputs.

``--trace 1`` runs the same steps and reports the per-layer ledger
instead: status-store numbers per pass and for the checkpointed write,
``RESUME_REPS`` timed resume calls on the finished directory, the
scan/prefilter ladder, kernel latency and harness share from one more
(warm) pass into parquet, a single-thread layer replay with spans
(spans.py) and the local[1] vs local[N] scaling pair.  Spans and ledger go to
``.perfbench_work/traces/<workload>-<seed>.json``.

The last line of stdout is one JSON object: correct, attempted, failed
and metrics (name -> value, unit).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

WORKLOADS = ("web_small", "pdf_heavy")
MAX_CORES = 4
SETUP_REPS = 2
SETUP_ROWS = 64
WARMUP_PASSES = 4
MIN_PASSES = 3
REF_SAMPLES = 2
RESUME_REPS = 5
LADDER_REPS = 3
SCALING_PASSES = 2
TRACE_SAMPLE_DOCS = 400
WORK_DIR = ".perfbench_work"

ERROR_CODES = ("encrypted", "predefined-cmap", "xref")


def _units() -> dict:
    """metric name -> unit, as BENCHMARK.json lists them."""
    spec = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    with open(spec) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def _dir_stats(path: str) -> tuple:
    """(files, bytes) below ``path``."""
    files = size = 0
    for base, _, names in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(base, name))
    return files, size


class Bench:
    """One benchmark run: inputs, Spark session and the workload's job."""

    def __init__(self, workload: str, seed: int, root: str,
                 scale: float = 1.0) -> None:
        self.workload, self.seed, self.root, self.scale = workload, seed, root, scale
        self.base = os.path.join(root, WORK_DIR)
        self.work = os.path.join(self.base, f"run-{workload}-{seed}-{os.getpid()}")
        self.inputs = os.path.join(self.work, "inputs")
        self.pages_dir = os.path.join(self.inputs, "pages")
        self.setup_file = os.path.join(self.inputs, "setup.parquet")
        self.out = os.path.join(self.work, "out")
        cpus = sorted(os.sched_getaffinity(0))[:MAX_CORES]
        os.sched_setaffinity(0, cpus)
        self.cores = len(cpus)
        self.spark = None
        self.summary: dict = {}

    # ------------------------------------------------------------ environment

    def prepare(self) -> None:
        """Generate inputs and point every scratch path into the work dir
        (before the JVM starts, so it inherits the environment)."""
        import pyarrow.parquet as pq

        from perfbench import gen

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(self.out, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        # every JVM (the launcher too): no hsperfdata files, temp files here
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        self.summary = gen.generate(self.workload, self.seed, self.inputs, self.scale)
        print("corpus " + json.dumps(self.summary, sort_keys=True))
        first = os.path.join(self.pages_dir, sorted(os.listdir(self.pages_dir))[0])
        pq.write_table(pq.read_table(first).slice(0, SETUP_ROWS), self.setup_file)

    def session(self, cores: int):
        from pdfspark.pipeline import build_session

        return build_session(
            cores=cores, app="perfbench",
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            })

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python worker
        daemon) to exit: the JVM ends when its stdin closes."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    def group(self, name: str) -> str:
        self.spark.sparkContext.setJobGroup(name, name)
        return name

    # -------------------------------------------------------------- the jobs

    def extracted(self, source: str):
        """The workload's extraction DataFrame over ``source``."""
        from pdfspark.pipeline import extract_pages, filter_supported_rows, read_pages

        pages = read_pages(self.spark, source)
        if self.workload == "pdf_heavy":
            return extract_pages(pages)
        return extract_pages(filter_supported_rows(pages, "all"), prefilter=False)

    def run_pass(self, source: str) -> None:
        self.extracted(source).write.format("noop").mode("overwrite").save()

    def setup_once(self, cores: int) -> float:
        """build_session plus one pass over the first ``SETUP_ROWS`` rows,
        which starts the Python worker pool."""
        t0 = time.perf_counter()
        self.spark = self.session(cores)
        self.run_pass(self.setup_file)
        return time.perf_counter() - t0

    def setup(self, reps: int) -> list:
        """``reps`` set-ups, each on a fresh JVM."""
        times = []
        for k in range(reps):
            if k:
                self.close()
            times.append(self.setup_once(self.cores))
        return times

    def warm_up(self, resume_reps: int = 0) -> tuple:
        """The check pass, the checkpointed write and ``WARMUP_PASSES`` more
        untimed passes, so the timed ones run on a warmed-up JIT.  Returns
        (check result, check output directory, checkpoint result)."""
        checked, path = self.check()
        ckpt = self.checkpoint(resume_reps)
        for _ in range(WARMUP_PASSES):
            self.run_pass(self.pages_dir)
        return checked, path, ckpt

    def passes(self, seconds: float, min_passes: int, on_pass=None,
               refs=None) -> list:
        """Repeat the job for ``seconds``; returns pass wall times.  With a
        ``refs`` list, ``REF_SAMPLES`` reference timings are appended to it
        before each pass."""
        from perfbench.probes import reference_seconds

        walls = []
        deadline = time.perf_counter() + seconds
        while len(walls) < min_passes or time.perf_counter() < deadline:
            if refs is not None:
                refs.extend(reference_seconds(self.cores) for _ in range(REF_SAMPLES))
            group = self.group(f"pass-{len(walls)}")
            t0 = time.perf_counter()
            self.run_pass(self.pages_dir)
            walls.append(time.perf_counter() - t0)
            if on_pass is not None:
                on_pass(group)
        return walls

    def compare(self, path: str) -> dict:
        """The (url, text, error) parquet under ``path`` against the
        expected table."""
        import pyarrow.parquet as pq

        from perfbench.check import compare

        output = pq.read_table(path, columns=["url", "text", "error"]).to_pandas()
        expected = pq.read_table(os.path.join(self.inputs, "expected.parquet")).to_pandas()
        result = compare(output, expected)
        result["completed"] = len(output)
        return result

    def check(self) -> tuple:
        """One more pass into parquet, checked against the expected table.
        Returns (checker result, output directory)."""
        path = os.path.join(self.out, "check")
        self.extracted(self.pages_dir).write.mode("overwrite").parquet(path)
        return self.compare(path), path

    def checkpoint(self, resume_reps: int = 0) -> dict:
        """The corpus through run_pipeline into a fresh directory (job group
        ``checkpoint-write``), its extracted output checked against the
        expected table; with ``resume_reps``, one untimed and that many
        timed resume calls on the finished directory follow."""
        from pdfspark.pipeline import read_pages, run_pipeline

        done = os.path.join(self.out, "checkpoint")
        self.group("checkpoint-write")
        run_pipeline(self.spark, read_pages(self.spark, self.pages_dir), done)
        files, size = _dir_stats(done)
        checked = self.compare(os.path.join(done, "extracted"))
        self.group("resume")
        resumes = []
        for _ in range(resume_reps + 1 if resume_reps else 0):
            t0 = time.perf_counter()
            run_pipeline(self.spark, read_pages(self.spark, self.pages_dir), done)
            resumes.append(time.perf_counter() - t0)
        return {"resume_s": resumes[1:], "files": files, "checked": checked,
                "out_ratio": size / self.summary["payload_bytes"]}


def _merge(*results: dict) -> dict:
    """One checker result over several checked outputs."""
    return {"attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "examples": [e for r in results for e in r["examples"]][:10]}


# ------------------------------------------------------------------ untraced

def measure(bench: Bench, seconds: float) -> tuple:
    from perfbench.probes import RssSampler

    phases, t0 = {}, time.perf_counter()

    def phase(name: str) -> None:
        phases[name] = time.perf_counter() - t0 - sum(phases.values())

    setup = bench.setup(SETUP_REPS)
    phase("setup")
    checked, _, ckpt = bench.warm_up()
    phase("check+checkpoint+warm-up")
    sampler = RssSampler().start()
    refs: list = []
    try:
        walls = bench.passes(seconds, MIN_PASSES, refs=refs)
    finally:
        sampler.stop()
    phase("passes")
    docs = checked["completed"]
    checked = _merge(checked, ckpt["checked"])
    rates = sorted(docs / w for w in walls)
    q1, med, q3 = statistics.quantiles(rates, n=4)
    ref = statistics.median(refs)
    print("docs_per_s " + json.dumps({
        "median": med, "q1": q1, "q3": q3, "passes": len(walls),
        "docs_per_pass": docs, "pass_walls_s": walls, "reference_s": refs,
        "setup_s": setup, "phase_s": phases,
        "check_examples": checked["examples"]}))
    metrics = {
        "docs_per_ref": med * ref,
        "setup_s": statistics.median(setup),
        "matched_docs_frac": 1.0 - checked["failed"] / checked["attempted"],
        "worker_peak_rss_mb": sampler.peak_mb,
        "out_bytes_per_in_byte": ckpt["out_ratio"],
    }
    return checked, metrics


# -------------------------------------------------------------------- traced

def _ladder(bench: Bench) -> dict:
    """Scan-only and scan+prefilter rungs through the public calls."""
    from pdfspark.pipeline import filter_pdf_rows, filter_supported_rows, read_pages

    def rung(build) -> float:
        times = []
        for _ in range(LADDER_REPS):
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        return statistics.median(times)

    def pages():
        return read_pages(bench.spark, bench.pages_dir)

    def filtered():
        if bench.workload == "pdf_heavy":
            return filter_pdf_rows(pages())
        return filter_supported_rows(pages(), "all")

    return {"scan_s": rung(pages), "prefilter_s": rung(filtered)}


def _kernel_latency(bench: Bench, output_dir: str) -> tuple:
    """partition_metrics rows, kernel_ms p50/p99/max/sum and error counts
    over the extraction output."""
    from pyspark.sql import functions as F

    from pdfspark.pipeline import partition_metrics

    out = bench.spark.read.parquet(output_dir)
    parts = [r.asDict() for r in partition_metrics(out).collect()]
    lat = out.agg(
        F.percentile_approx("kernel_ms", 0.5, 10000).alias("p50"),
        F.percentile_approx("kernel_ms", 0.99, 10000).alias("p99"),
        F.max("kernel_ms").alias("max"),
        F.sum("kernel_ms").alias("sum"),
    ).collect()[0].asDict()
    errors = {r["error"]: r["n"] for r in
              out.filter("error is not null").groupBy("error")
              .agg(F.count("*").alias("n")).collect()}
    return parts, lat, errors


def _sample_docs(bench: Bench) -> list:
    import pyarrow.parquet as pq

    table = pq.read_table(bench.pages_dir, columns=["url", "html"])
    rows = sorted(zip(table.column("url").to_pylist(), table.column("html").to_pylist()))
    random.Random(f"trace:{bench.seed}").shuffle(rows)
    return rows[:TRACE_SAMPLE_DOCS]


def trace_run(bench: Bench, seconds: float) -> tuple:
    from perfbench import spans
    from perfbench.probes import job_stats, summarize

    bench.setup(1)
    checked, _, ckpt = bench.warm_up(RESUME_REPS)
    per_pass = []
    walls = bench.passes(seconds, MIN_PASSES,
                         lambda group: per_pass.append(job_stats(bench.spark, group)))
    wall = statistics.median(walls)
    summaries = [summarize(p) for p in per_pass]
    pipe = {k: statistics.median(s[k] for s in summaries) for k in summaries[0]}
    docs = checked["completed"]
    checked = _merge(checked, ckpt["checked"])
    write_stats = job_stats(bench.spark, "checkpoint-write")
    ladder = _ladder(bench)
    # kernel time and the wall it is set against come from one warm pass
    latency_dir = os.path.join(bench.out, "latency")
    t0 = time.perf_counter()
    bench.extracted(bench.pages_dir).write.mode("overwrite").parquet(latency_dir)
    latency_wall = time.perf_counter() - t0
    parts, lat, errors = _kernel_latency(bench, latency_dir)

    sample = _sample_docs(bench)
    rec = spans.SpanRecorder()
    counts = spans.replay(sample, rec)
    total = rec.total_seconds()
    overhead = spans.overhead_frac(sample)

    bench.stop()
    bench.setup_once(1)
    walls_1 = bench.passes(0, SCALING_PASSES)
    scaling = statistics.median(walls_1) / (bench.cores * wall)

    layer = {k: total.get(k, 0.0) for k in spans.LAYERS}
    # extract_text's own share: everything it does beyond the replayed layers
    replays = sum(layer[k] for k in spans.REPLAYED)
    interp_self = max(0.0, layer["kernel.extract"] - replays)
    pdf_layers = (layer["kernel.filters.decode"] + layer["kernel.fonts.load"]
                  + layer["kernel.content.tokenize"] + interp_self)
    kernel_total = layer["kernel.extract"] + layer["kernel.html_extract"]
    metrics = {
        "pipeline.scan_s": ladder["scan_s"],
        "pipeline.prefilter_s": ladder["prefilter_s"],
        **{f"pipeline.{k}": pipe[k] for k in (
            "tasks", "task_max_over_median", "scheduler_delay_s",
            "shuffle_write_mb", "spill_mb", "gc_s", "python_in_mb",
            "python_out_mb", "python_init_s", "python_run_s")},
        "pipeline.kernel_ms_p50": lat["p50"],
        "pipeline.kernel_ms_p99": lat["p99"],
        "pipeline.kernel_ms_max": lat["max"],
        "pipeline.harness_share": 1.0 - lat["sum"] / 1e3 / (bench.cores * latency_wall),
        "pipeline.write_s": summarize(write_stats)["write_s"],
        "pipeline.resume_s": statistics.median(ckpt["resume_s"]),
        "pipeline.files_written": ckpt["files"],
        "pipeline.scaling_eff_1to4": scaling,
        "kernel.document.open_s": layer["kernel.document.open"],
        "kernel.document.pages_s": layer["kernel.document.pages"],
        "kernel.document.objects": counts["objects"],
        "kernel.filters.decode_s": layer["kernel.filters.decode"],
        "kernel.filters.decoded_mb": counts["decoded_bytes"] / 1e6,
        "kernel.fonts.load_s": layer["kernel.fonts.load"],
        "kernel.fonts.loads": counts["font_loads"],
        "kernel.fonts.cacheable_ratio": (counts["fonts_cacheable"] / counts["font_loads"]
                                         if counts["font_loads"] else 0.0),
        "kernel.content.tokenize_s": layer["kernel.content.tokenize"],
        "kernel.content.ops": counts["ops"],
        "kernel.extract.total_s": layer["kernel.extract"],
        "kernel.extract.interp_self_s": interp_self,
        "kernel.extract.errors.total": sum(errors.values()),
        **{f"kernel.extract.errors.{c}": errors.get(c, 0) for c in ERROR_CODES},
        "kernel.extract.errors.other": sum(n for c, n in errors.items()
                                           if c not in ERROR_CODES),
        "kernel.html_extract.s": layer["kernel.html_extract"],
        "kernel.pdf_layers_share": pdf_layers / kernel_total if kernel_total else 0.0,
        "trace.docs_per_s": docs / wall,
        "trace.span_overhead_frac": overhead,
    }
    record = {
        "workload": bench.workload, "seed": bench.seed, "cores": bench.cores,
        "corpus": bench.summary, "pass_walls_s": walls,
        "scaling_local1_walls_s": walls_1, "per_pass": per_pass,
        "checkpoint_write": write_stats, "resume_s": ckpt["resume_s"],
        "ladder": ladder, "latency_pass_wall_s": latency_wall,
        "partition_metrics": parts, "kernel_latency": lat,
        "errors": errors, "replay_counts": counts,
        "self_seconds": rec.self_seconds(), "metrics": metrics,
        "spans": rec.as_dicts(),
    }
    traces = os.path.join(bench.base, "traces")
    os.makedirs(traces, exist_ok=True)
    path = os.path.join(traces, f"{bench.workload}-{bench.seed}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, default=str)
    print(f"trace written to {os.path.relpath(path, bench.root)}")
    return checked, metrics


# ---------------------------------------------------------------------- main

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="pages-table extraction benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="corpus size factor; below 1 only for self-tests")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pdfspark", "pipeline.py")):
        print("perfbench: pdfspark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    units = _units()
    bench = Bench(args.workload, args.seed, root, args.scale)
    try:
        bench.prepare()
        run = trace_run if args.trace else measure
        checked, metrics = run(bench, args.seconds)
    finally:
        bench.close()
        shutil.rmtree(bench.work, ignore_errors=True)
    result = {
        "correct": checked["failed"] == 0,
        "attempted": checked["attempted"],
        "failed": checked["failed"],
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
