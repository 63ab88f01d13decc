"""Extraction benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The run

1. generates the workload's corpus from the seed (``gen.py``) and writes it
   as parquet under ``.perfbench_work/`` in the checkout;
2. sets up three times -- session build, ``tune_session_for_extraction``
   (package zip build and ship, in a fresh private ``TMPDIR`` each time)
   and a warm-up pass of the extraction operator over 32 fixed pages --
   and reports the median as ``setup_s``.  The first set-up also launches
   the JVM, so the median is a set-up in a running JVM;
3. checks that the Python workers import the checkout's sources;
4. times ``run_extract_job`` calls over the corpus: three, and more while
   they fit in ``--seconds``; the metrics are medians over the calls;
5. checks the output and prints the metrics.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` prints its per-layer metrics instead: it adds one traced
``run_extract_job`` call (Spark event log plus driver-side spans), parses
the event log, and runs the kernel in this process over a sample of the
corpus with spans around each layer.  ``LAYERS.md`` maps each per-layer
metric to the end-to-end metric it should move.

The process exits non-zero when an output check or the stale-code guard
fails, and when the working directory holds no program to measure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402
import spark_env  # noqa: E402

SETUPS = 3
MIN_CALLS = 3
WARM_PAGES = 32
NUM_BUCKETS_PER_CORE = 4
SALT_SEED = 42
JOB_TAG = "perfbench:timed"
DEFAULT_SEED = 1
#: a job's output, manifest and snapshot log directories
OUTPUT_SUFFIXES = ("", "_manifest", "_snapshots")
#: files the run needs from the checkout besides its own
CHECKOUT_FILES = (spark_env.PKG, "bench.py", "tools/check_oracles.py")


@dataclass(frozen=True)
class Workload:
    waves: int = 1
    resume: bool = False
    #: the crash falls after this wave's data commit and before its
    #: manifest commit
    crash_after_wave: int | None = None
    #: the traced kernel pass takes every n-th page (pages come in size order)
    trace_stride: int = 1


WORKLOADS = {
    "crawl_mix": Workload(trace_stride=4),
    "short_pages": Workload(trace_stride=4),
    # runs by hand; BENCHMARK.json leaves it out to fit the run budget
    "resume_after_crash": Workload(waves=8, resume=True, crash_after_wave=6),
}


def _config():
    from readability_php_spark.config import Configuration

    return Configuration(fix_relative_urls=True, article_byline=True, substitute_entities=True)


def _clear(output_path: str) -> None:
    for suffix in OUTPUT_SUFFIXES:
        shutil.rmtree(output_path + suffix, ignore_errors=True)


class Bench:
    def __init__(self, root: str, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.root = root
        self.name = workload
        self.wl = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = os.cpu_count() or 1
        self.num_buckets = self.cores * NUM_BUCKETS_PER_CORE
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        self.input_path = os.path.join(self.work, "input")
        self.warm_path = os.path.join(self.work, "warm_in")
        self.output_path = os.path.join(self.work, "out")
        self.crash_dir = os.path.join(self.work, "crash_state")
        self.event_log_dir = os.path.join(self.work, "eventlog") if trace else None
        self.spark = None

    # --- inputs ------------------------------------------------------------
    def make_inputs(self) -> dict:
        self.pages = gen.generate(self.name, self.seed)
        files = gen.placement(self.name, self.seed, len(self.pages))
        gen.write_corpus(self.pages, files, self.input_path)
        warm = gen.generate("short_pages", 0, limit=WARM_PAGES)
        gen.write_corpus(warm, [list(range(i, WARM_PAGES, 4)) for i in range(4)], self.warm_path)
        info = gen.describe(self.pages, files)
        info["corpus_digest"] = gen.corpus_digest(self.pages, files)
        return info

    # --- set-up ------------------------------------------------------------
    def set_up(self, i: int) -> float:
        from readability_php_spark.operators.extract import extract_operator
        from readability_php_spark.plans.pipeline import tune_session_for_extraction

        if self.spark is not None:
            self.spark.stop()  # a new context in the running JVM
        spark_env.use_private_tmpdir(os.path.join(self.work, "tmp", f"setup{i}"))
        t0 = time.perf_counter()
        self.spark = spark_env.build_session(self.work, self.cores, self.event_log_dir)
        tune_session_for_extraction(self.spark)
        # the warm-up pass: the Python workers start and import the kernel
        warm = self.spark.read.parquet(self.warm_path)
        extract_operator(warm, _config()).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def prime(self) -> None:
        """Untimed: one whole job on the warm-up pages, so the JVM has
        compiled the shuffle and write path before the timed calls."""
        from readability_php_spark.plans.pipeline import run_extract_job

        warm_out = os.path.join(self.work, "warm_out")
        run_extract_job(self.spark, self.spark.read.parquet(self.warm_path), warm_out,
                        config=_config(), num_buckets=self.num_buckets, resume=False)
        _clear(warm_out)

    def prepare_crash_state(self) -> None:
        """Untimed: the state a crash leaves after wave k's data commit and
        before its manifest commit, built with the program's own API, then
        parked so every timed call starts from a copy of it.

        One single-wave job commits the pages of waves 0..k (one snapshot
        instead of k+1; the resume reads the same manifest, bucket
        directories and logged file set), then the manifest is cut back
        to waves 0..k-1.  Being a whole job, it primes the JVM too."""
        from pyspark.sql import functions as F

        from readability_php_spark.plans.pipeline import run_extract_job, with_bucket

        k = self.wl.crash_after_wave
        wave_size = -(-self.num_buckets // self.wl.waves)
        pages = self.spark.read.parquet(self.input_path)
        committed = (with_bucket(pages, self.num_buckets, SALT_SEED)
                     .filter(F.col("part_id") < (k + 1) * wave_size).drop("part_id"))
        run_extract_job(self.spark, committed, self.output_path, config=_config(),
                        num_buckets=self.num_buckets, salt_seed=SALT_SEED, resume=True)
        manifest = self.output_path + "_manifest"
        m = self.spark.read.parquet(manifest)
        kept = m.filter(F.col("part_id") < k * wave_size).collect()
        shutil.rmtree(manifest)
        self.spark.createDataFrame(kept, m.schema).write.parquet(manifest)
        os.makedirs(self.crash_dir)
        for suffix in OUTPUT_SUFFIXES:
            os.rename(self.output_path + suffix, os.path.join(self.crash_dir, "out" + suffix))

    # --- timed calls -------------------------------------------------------
    def reset_output(self) -> None:
        _clear(self.output_path)
        if self.wl.crash_after_wave is not None:
            # the snapshot log names files by absolute path, so the state
            # goes back to the path it was built at
            for suffix in OUTPUT_SUFFIXES:
                shutil.copytree(os.path.join(self.crash_dir, "out" + suffix),
                                self.output_path + suffix)

    def timed_call(self):
        from readability_php_spark.plans.pipeline import run_extract_job

        pages = self.spark.read.parquet(self.input_path)
        with spark_env.WorkerRssSampler(spark_env.jvm_pid()) as rss:
            t0 = time.perf_counter()
            res = run_extract_job(self.spark, pages, self.output_path, config=_config(),
                                  num_buckets=self.num_buckets, salt_seed=SALT_SEED,
                                  waves=self.wl.waves, resume=self.wl.resume)
            wall = time.perf_counter() - t0
        return wall, rss.peak_mb, res

    def measure(self) -> dict:
        from bench import _ambient_spin

        spin = _ambient_spin()
        walls, peaks = [], []
        # at least MIN_CALLS, so the median drops a slow first call or a
        # one-off memory spike; more while they fit the budget
        while len(walls) < MIN_CALLS or sum(walls) + statistics.median(walls) <= 1.25 * self.seconds:
            self.reset_output()
            wall, peak, _res = self.timed_call()
            walls.append(wall)
            peaks.append(peak)
        rows = len(self.pages)
        mb = sum(len(p.html) for p in self.pages) / 1e6
        return {
            "walls": walls,
            "docs_per_s": statistics.median(rows / w for w in walls),
            "html_mb_per_s": statistics.median(mb / w for w in walls),
            "worker_rss_peak_mb": statistics.median(peaks),
            "ambient_spin_s": spin,
        }

    # --- traced call -------------------------------------------------------
    def layer_metrics(self, untraced_wall: float) -> dict:
        from readability_php_spark.plans.pipeline import ARROW_BATCH_FOR_HTML

        self.reset_output()
        plan_spans = spans.PlanSpans(self.output_path, self.output_path + "_manifest")
        sc = self.spark.sparkContext
        sc.setJobDescription(JOB_TAG)
        try:
            with plan_spans.patched():
                wall, _peak, res = self.timed_call()
        finally:
            sc.setJobDescription(None)
        m = plan_spans.metrics()
        m["plans.pipeline.waves_run"] = res.waves_run
        m["trace.overhead_s"] = wall - untraced_wall
        log = os.path.join(self.event_log_dir, sc.applicationId)
        spark_env.stop_session(self.spark)  # closes the event log
        self.spark = None
        m.update(eventlog.layer_metrics(eventlog.read(log), JOB_TAG, wall, self.cores))
        m.update(spans.kernel_pass(self.pages[::self.wl.trace_stride], _config(), ARROW_BATCH_FOR_HTML))
        return m

    # --- checks ------------------------------------------------------------
    def check(self) -> tuple[list[str], int, dict]:
        out = checks.read_output(self.spark, self.output_path)
        failed = checks.failed_urls(self.pages, out)
        problems = [f"{len(failed)} input rows without exactly one error-free output row"] if failed else []
        extra = checks.unexpected_urls(self.pages, out)
        if extra:
            problems.append(f"{len(extra)} output urls that no input row has")
        sample = checks.sample(self.pages, self.seed, n=8, max_bytes=256 * 1024)
        problems += [f"pipeline != kernel.extract: {b}" for b in checks.kernel_mismatches(sample, out, _config())]
        digest = checks.output_digest(out)
        want = checks.recorded_digest(self.name, self.seed)
        if want is not None and want != digest:
            problems.append(f"output digest {digest} != recorded {want}")
        attempts = out["attempts"].value_counts().sort_index()
        return problems, len(failed), {
            "output_digest": digest,
            "attempts_histogram": {int(k): int(v) for k, v in attempts.items()},
            "retry_share": float((out["attempts"] > 1).mean()),
        }

    # --- whole run ---------------------------------------------------------
    def run(self) -> tuple[dict, bool]:
        phases: dict[str, float] = {}
        clock = [time.perf_counter()]

        def lap(name: str) -> None:
            now = time.perf_counter()
            phases[name] = now - clock[0]
            clock[0] = now

        info = self.make_inputs()
        lap("inputs")
        setups = [self.set_up(i) for i in range(SETUPS)]
        lap("setups")
        info["stale_guard"] = spark_env.stale_guard(self.spark, os.path.join(self.root, spark_env.PKG))
        if self.wl.crash_after_wave is not None:
            self.prepare_crash_state()
        else:
            self.prime()
        lap("guard_and_prime")
        e2e = self.measure()
        lap("timed")
        problems, failed, checked = self.check()
        lap("checks")
        bj = _benchmark_json(self.root)
        if self.trace:
            metrics = self.layer_metrics(statistics.median(e2e["walls"]))
            metrics["host.ambient_spin_s"] = e2e["ambient_spin_s"]
            lap("traced")
            units = {m["name"]: m["unit"] for m in bj["per_layer"]}
        else:
            metrics = dict(e2e, setup_s=statistics.median(setups))
            units = {m["name"]: m["unit"] for m in bj["end_to_end"]}
        rows = len(self.pages)
        info.update({
            "workload": self.name, "seed": self.seed, "cores": self.cores,
            "setup_s_each": setups, "timed_walls_s": e2e["walls"], "phase_s": phases,
            "ambient_spin_s": e2e["ambient_spin_s"],
            "failed_share": failed / rows, "problems": problems, **checked,
        })
        print(json.dumps(info, sort_keys=True))
        result = {
            "correct": not problems,
            "attempted": rows,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
        return result, not problems

    def close(self) -> None:
        if self.spark is not None:
            spark_env.stop_session(self.spark)
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))  # only when no other run uses it
        except OSError:
            pass


def _benchmark_json(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    missing = [p for p in CHECKOUT_FILES if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from a checkout root; missing {', '.join(missing)}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    bench = Bench(root, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result, ok = bench.run()
    finally:
        bench.close()
    print(json.dumps(result))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
