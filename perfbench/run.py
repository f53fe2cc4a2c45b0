"""Benchmark of the production extraction job, `run_with_manifest`.

    python3 perfbench/run.py --workload pages_batch --seed 1 --seconds 8 --trace 0

Run from the repository root.  One run starts one Spark driver sized to this
host (see host.py), pays the set-up a submit pays (imports, JVM and session
start, the first job on a small fixed input), warms up, then times whole
`run_with_manifest` calls for `--seconds` and gates every call's output
against the input and the serial oracle (gate.py) outside the timing.

The last stdout line is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with `--trace 0`; the per-layer metrics of
layers.py with `--trace 1`).  The line before it records the host sizing, the
CPU probe and every call.  Inputs are cached under `.perfbench_work/inputs`;
each run's Spark dirs, event log and outputs live under `.perfbench_work` and
are removed, with every process the run started, before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
if __name__ == "__main__":
    sys.path[0] = ROOT  # the engine and this package import from the root

from perfbench import host, inputs  # noqa: E402

# Workloads.  Calls are sized so that a run (about 22 s of set-up, two
# warm-up calls, `--seconds` of timed calls) fits the time the whole
# benchmark may take, and each call still does seconds of work.
WORKLOADS = {
    # kernel-heavy: about 34 words a turn to parse, order and assemble
    "pages_batch": {"kind": "pages", "turns": 6_000},
    # kernel-free: scan, shuffle, Arrow boundary, output build and write
    "tiny_batch": {"kind": "tiny", "turns": 45_000},
}
SETUP_TURNS = 512  # the small fixed input of set-up's first job
SETUP_SEED = 0
WARMUP_CALLS = 2
LADDER_ROUNDS = 2
KERNEL_SAMPLE = 400
MAX_CONSECUTIVE_CRASHES = 2
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END_UNITS = {
    "turns_per_s": "turns/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "out_bytes_per_in_byte": "B/B",
    "pass_ratio": "ratio",
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.first_job_s": "s",
    "session.scale_eff_1toN": "ratio",
    "sources.scan_s": "s",
    "sources.in_bytes": "B",
    "manifest.shuffle_s": "s",
    "manifest.commit_s": "s",
    "manifest.write_s": "s",
    "manifest.append_s": "s",
    "manifest.bucket_skew": "ratio",
    "manifest.out_bytes": "B",
    "manifest.out_files": "count",
    "pipeline.boundary_s": "s",
    "pipeline.extract_s": "s",
    "pipeline.arrow_build_us": "us/turn",
    "kernel.parse_us": "us/turn",
    "kernel.order_us": "us/turn",
    "kernel.codes_us": "us/turn",
    "kernel.prune_us": "us/turn",
    "kernel.assembly_us": "us/turn",
    "kernel.words_parsed": "count",
    "kernel.keep_ratio": "ratio",
    "kernel.errors_ocr": "count",
    "kernel.errors_codes": "count",
    "streaming.turns_per_s": "turns/s",
    "streaming.batches": "count",
    "streaming.turns_per_batch": "turns",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.planning_s": "s",
    "streaming.batch_p50_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.python_rss_peak_mb": "MB",
    "spark.jvm_heap_peak_mb": "MB",
    "spark.task_failures": "count",
    "host.cpu_probe_s": "s",
    "host.steal_pct": "%",
    "trace.overhead_pct": "%",
}


def _seed(text: str) -> int:
    seed = int(text)
    if seed < 0:  # numpy's generators, which synth uses, take no negative seed
        raise argparse.ArgumentTypeError("the seed must be 0 or more")
    return seed


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=_seed, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Run:
    """One benchmark run: its Spark session, directories and records."""

    def __init__(self, args, sizing: dict):
        from perfbench.layers import Spans

        self.args = args
        self.sizing = sizing
        self.dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.spans = Spans(f"{args.workload}-s{args.seed}-t{args.trace}")
        self.spark = None
        self.n_calls = 0
        self.gate_failures: list[str] = []
        self.counted: list[bool] = []  # gate result of each counted attempt
        for sub in ("local", "tmp", "eventlog", "out"):
            os.makedirs(os.path.join(self.dir, sub), exist_ok=True)
        # inherited by the JVM and, through it, by the Python workers
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "local")
        os.environ["TMPDIR"] = os.path.join(self.dir, "tmp")
        # the JVM that spark-submit runs first, to build the driver's command
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.dir}/tmp"

    def conf(self, traced: bool) -> dict:
        d = self.dir
        conf = {
            "spark.driver.memory": f"{self.sizing['heap_mb']}m",
            # a fixed young generation: G1's adaptive young sizing otherwise
            # settles at a different heap footprint in each JVM, which is
            # most of the run-to-run spread of peak_rss_mb
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={d}/tmp -XX:-UsePerfData -Xmn{self.sizing['young_mb']}m"
            ),
            "spark.local.dir": f"{d}/local",
            "spark.sql.warehouse.dir": f"{d}/warehouse",
            "spark.ui.showConsoleProgress": "false",
        }
        if traced:  # the spark.* layer metrics; end-to-end calls pay none of it
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": f"file://{d}/eventlog",
                "spark.executor.processTreeMetrics.enabled": "true",
                # poll executor metrics every second, so that a task shorter
                # than a heartbeat still carries its process-tree peaks
                "spark.executor.metrics.pollingInterval": "1s",
            })
        return conf

    def start(self, master: str, traced: bool = False):
        """A session on `master`; in the same JVM after a `spark.stop()`."""
        from ocr_mini_service_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", master=master, extra_conf=self.conf(traced))
        self.spark.sparkContext.setLogLevel("FATAL")

    def restart(self, master: str, warm_input: str):
        """A new untraced session in the same JVM, its Python workers
        started by one small job."""
        self.spark.stop()
        self.start(master)
        out = self.out_dir()
        self.job(warm_input, out)
        shutil.rmtree(out, ignore_errors=True)

    def out_dir(self) -> str:
        self.n_calls += 1
        return os.path.join(self.dir, "out", f"call-{self.n_calls}")

    def job(self, input_path: str, out: str, n_buckets=None) -> tuple[float, dict]:
        """One whole `run_with_manifest` call; (wall seconds, its stats)."""
        from ocr_mini_service_spark.manifest import load_transcripts, run_with_manifest

        t0 = time.perf_counter()
        stats = run_with_manifest(self.spark, load_transcripts(self.spark, input_path), out, n_buckets=n_buckets)
        return time.perf_counter() - t0, stats

    def gate(self, failures: list[str], counted: bool) -> None:
        self.gate_failures += failures
        if counted:
            self.counted.append(not failures)

    def stop(self) -> list[int]:
        """Stop Spark and its JVM; wait until every process this run started
        has ended.  Returns pids that had to be killed."""
        pids = host.descendants(os.getpid())
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None
            self.spark = None
        return host.reap(pids)


def call(run: Run, input_path: str, exp, n_buckets=None, counts=False) -> dict:
    """One whole call, gated after its timing; a crash is a failed attempt."""
    from perfbench import gate

    out = run.out_dir()
    try:
        with host.PeakRss() as rss:
            wall, stats = run.job(input_path, out, n_buckets)
    except Exception:
        traceback.print_exc()
        run.gate(["call crashed"], counted=True)
        return {"crashed": True, "wall": 0.0}
    failures = gate.gate_batch(out, exp)
    run.gate(failures, counted=True)
    out_bytes, out_files = gate.data_bytes(out)
    rec = {
        "wall": wall, "turns_per_s": exp.n_turns / wall, "peak_rss_mb": rss.mb, "rss_by_command": rss.by_command(),
        "passed": not failures, "out_bytes": out_bytes, "out_files": out_files,
        "write_s": stats["t_write"], "n_buckets": stats["n_buckets"],
    }
    if counts:
        rec["counts"] = gate.output_counts(out)
    shutil.rmtree(out, ignore_errors=True)
    return rec


def timed_calls(run: Run, input_path: str, exp, seconds: float) -> list[dict]:
    """Whole calls until `seconds` of call time have passed."""
    calls: list[dict] = []
    while not calls or sum(c["wall"] for c in calls) < seconds:
        calls.append(call(run, input_path, exp))
        recent = calls[-MAX_CONSECUTIVE_CRASHES:]
        if len(recent) == MAX_CONSECUTIVE_CRASHES and all(c.get("crashed") for c in recent):
            break
    return calls


def completed(calls: list[dict]) -> list[dict]:
    ok = [c for c in calls if not c.get("crashed")]
    if not ok:
        raise RuntimeError("every timed call crashed")
    return ok


def end_to_end(calls: list[dict], setup_s: float, run: Run, in_bytes: int) -> dict:
    ok = completed(calls)
    return {
        "turns_per_s": statistics.median(c["turns_per_s"] for c in ok),
        "setup_s": setup_s,
        "peak_rss_mb": statistics.median(c["peak_rss_mb"] for c in ok),
        "out_bytes_per_in_byte": statistics.median(c["out_bytes"] for c in ok) / in_bytes,
        "pass_ratio": sum(run.counted) / len(run.counted),
    }


def per_layer(
    run: Run, setup: dict, input_path: str, setup_path: str, exp, n_buckets: int
) -> tuple[dict, list[dict]]:
    """The traced run, in a session with the event log on: the interleaved
    ladder, whose L4 rungs are traced calls.  Then, in an untraced session
    in the same JVM: as many untraced calls, for the tracing overhead, and
    one stream drain.  Then the in-process kernel and the 1-slot job.
    Returns (metrics, calls)."""
    import pyarrow.parquet as pq

    from ocr_mini_service_spark import manifest
    from perfbench import gate, layers

    spans, spark = run.spans, run.spark
    traced: list[dict] = []
    with layers.spanned(spans, manifest, "_append_manifest", "manifest.append"):
        for rung in layers.ladder_order(LADDER_ROUNDS):
            if rung != "L4":
                with spans.span(f"ladder.{rung}"):
                    layers.ladder_rung(spark, rung, input_path, n_buckets)
                continue
            with spans.span("ladder.L4"):
                traced.append(call(run, input_path, exp, n_buckets, counts=not traced))
    ok = completed(traced)
    counts = ok[0]["counts"]
    parsed = counts["words_kept"] + counts["words_dropped"]
    rung_s = {r: spans.durations(f"ladder.{r}") for r in layers.LADDER[:-1]}
    rung_s["L4"] = [c["wall"] for c in ok]  # the job alone, without the gate
    m: dict[str, float] = {
        "session.start_s": setup["start_s"],
        "session.first_job_s": setup["first_job_s"],
        "sources.in_bytes": float(os.path.getsize(input_path)),
        "manifest.write_s": statistics.median(c["write_s"] for c in ok),
        "manifest.append_s": statistics.median(spans.durations("manifest.append")),
        "manifest.out_bytes": float(ok[0]["out_bytes"]),
        "manifest.out_files": float(ok[0]["out_files"]),
        "manifest.bucket_skew": max(counts["bucket_turns"]) / statistics.median(counts["bucket_turns"]),
        "kernel.words_parsed": float(parsed),
        "kernel.keep_ratio": counts["words_kept"] / parsed if parsed else 0.0,
        "kernel.errors_ocr": float(counts["errors_ocr"]),
        "kernel.errors_codes": float(counts["errors_codes"]),
        **layers.ladder_metrics(rung_s),
    }

    # what the traced session's event log and executor-metric polling cost:
    # the same calls in a session configured as the end-to-end runs are
    run.restart(run.sizing["master"], setup_path)
    untraced = [call(run, input_path, exp, n_buckets) for _ in traced]
    m["trace.overhead_pct"] = 100.0 * (
        statistics.median(c["turns_per_s"] for c in completed(untraced))
        / statistics.median(c["turns_per_s"] for c in ok)
        - 1.0
    )

    from ocr_mini_service_spark.streaming import run_incremental

    stream_in = inputs.cached_stream_input(input_path)
    out = run.out_dir()
    with spans.span("stream.drain") as sp:
        q = run_incremental(run.spark, stream_in, f"{out}/data", f"{out}/checkpoint")
    m.update(layers.stream_metrics(q.recentProgress))
    m["streaming.turns_per_s"] = exp.n_turns / (sp["end"] - sp["start"])
    run.gate(gate.gate_stream(f"{out}/data", exp), counted=True)
    shutil.rmtree(out, ignore_errors=True)

    sample = pq.read_table(input_path).to_pandas().sample(
        n=min(KERNEL_SAMPLE, exp.n_turns), random_state=run.args.seed
    )
    with spans.span("kernel.in_process"):
        m.update(layers.kernel_metrics(sample))

    # the same job, same bucket count, on one task slot in the same JVM
    run.restart("local[1]", setup_path)
    with spans.span("scale.job_1slot"):
        one = call(run, input_path, exp, n_buckets)
    n = run.sizing["slots"]
    m["session.scale_eff_1toN"] = (  # against the N-slot calls of the same (untraced) conf
        one["wall"] / (n * statistics.median(c["wall"] for c in completed(untraced)))
        if not one.get("crashed") else 0.0
    )
    return m, traced + untraced + [one]


def spark_log_metrics(run: Run) -> dict:
    from perfbench import layers

    lines: list[str] = []
    for d, _, files in os.walk(os.path.join(run.dir, "eventlog")):
        for name in sorted(files):
            with open(os.path.join(d, name)) as f:
                lines += f.readlines()
    return layers.parse_event_log(lines, run.spans.windows("ladder.L4"))


def run_workload(args) -> tuple[dict, dict, Run]:
    """Measure one (workload, seed); returns (metrics, record, run)."""
    from perfbench import gate

    sizing = host.this_host()
    wl = WORKLOADS[args.workload]
    os.makedirs(WORK, exist_ok=True)
    input_path = inputs.cached_input(WORK, wl["kind"], wl["turns"], args.seed)
    setup_path = inputs.cached_input(WORK, wl["kind"], SETUP_TURNS, SETUP_SEED)
    run = Run(args, sizing)
    try:
        try:
            # set-up: what each submit pays before steady state
            t0 = time.perf_counter()
            with run.spans.span("setup"):
                run.start(sizing["master"], traced=bool(args.trace))
                t1 = time.perf_counter()
                setup_out = run.out_dir()
                first_job_s, _ = run.job(setup_path, setup_out)
            setup = {"setup_s": time.perf_counter() - t0, "start_s": t1 - t0, "first_job_s": first_job_s}
            run.gate(gate.gate_batch(setup_out, gate.Expected(setup_path, SETUP_SEED)), counted=False)
            shutil.rmtree(setup_out, ignore_errors=True)

            exp = gate.Expected(input_path, args.seed)
            for _ in range(WARMUP_CALLS):
                out = run.out_dir()
                _, stats = run.job(input_path, out)
                run.gate(gate.gate_batch(out, exp), counted=False)
                shutil.rmtree(out, ignore_errors=True)

            probes, stat0 = [host.cpu_probe_s()], host.cpu_times()
            in_bytes = os.path.getsize(input_path)
            if args.trace:
                metrics, calls = per_layer(run, setup, input_path, setup_path, exp, stats["n_buckets"])
            else:
                calls = timed_calls(run, input_path, exp, args.seconds)
                metrics = end_to_end(calls, setup["setup_s"], run, in_bytes)
            probes.append(host.cpu_probe_s())
            steal = host.steal_share(stat0, host.cpu_times())
            if args.trace:
                metrics["host.cpu_probe_s"] = statistics.median(probes)
                metrics["host.steal_pct"] = 100.0 * steal
        finally:
            killed = run.stop()
        if args.trace:
            metrics.update(spark_log_metrics(run))
            run.spans.write(os.path.join(WORK, f"spans-{args.workload}-s{args.seed}.json"))
    finally:
        shutil.rmtree(run.dir, ignore_errors=True)
    record = {
        "workload": args.workload, "seed": args.seed, "input_turns": exp.n_turns,
        "input_bytes": in_bytes, "host": sizing, "cpu_probe_s": probes, "steal": steal, "setup": setup,
        "calls": [{k: v for k, v in c.items() if k != "counts"} for c in calls],
        "gate_failures": run.gate_failures, "killed_pids": killed,
        "span_s": {n: round(sum(run.spans.durations(n)), 2) for n in dict.fromkeys(s["name"] for s in run.spans.spans)},
    }
    return metrics, record, run


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ocr_mini_service_spark")):
        print("perfbench: run from the repository root; ocr_mini_service_spark/ is missing", file=sys.stderr)
        return 2
    metrics, record, run = run_workload(args)
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    if set(metrics) != set(units):
        raise RuntimeError(f"metric set mismatch: {sorted(set(metrics) ^ set(units))}")
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": not run.gate_failures and all(run.counted),
        "attempted": len(run.counted),
        "failed": run.counted.count(False),
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
