"""Per-layer measurement for the traced run.

Spans are recorded only by the benchmark's own code, around the calls it
makes and, with `spanned`, around one engine function it wraps for the
traced calls; they are kept in memory and written once when the run ends.
The layer ladder runs
the job's prefixes into Spark's `noop` sink, so that each rung adds one
layer of `run_with_manifest`:

    L0 scan            pruned columns of the input
    L1 + shuffle       salted bucket column, `repartition(n_buckets)`
    L2 + boundary      identity `mapInArrow` over the pruned columns
    L3 + kernel        `extract_fused`, the production kernel driver
    L4 full job        `run_with_manifest`: sort, parquet write, manifest

Rounds alternate direction (L0..L4, then L4..L0) so host drift cancels.
"""

from __future__ import annotations

import json
import math
import statistics
import time
from contextlib import contextmanager

LADDER = ("L0", "L1", "L2", "L3", "L4")


class Spans:
    """In-memory spans: name, start, end (epoch s), parent index, attrs."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"run": self.run_id, "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def windows(self, name: str) -> list[tuple[float, float]]:
        return [(s["start"], s["end"]) for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(len(s) * p / 100.0) - 1))]


# ---------------------------------------------------------------------------
# Ladder
# ---------------------------------------------------------------------------


def _identity(batches):
    yield from batches


def ladder_rung(spark, rung: str, input_path: str, n_buckets: int) -> None:
    """Run one of the rungs L0-L3 into the `noop` sink (L4 is the job itself)."""
    from ocr_mini_service_spark.manifest import _BucketMetricsParam, bucket_expr, load_transcripts
    from ocr_mini_service_spark.pipeline import extract_fused

    df = load_transcripts(spark, input_path).select("conv_id", "turn_idx", "text", "tool")
    if rung != "L0":
        df = df.withColumn("bucket", bucket_expr(n_buckets)).repartition(n_buckets, "bucket")
    if rung == "L2":
        df = df.mapInArrow(_identity, schema=df.schema)
    elif rung == "L3":
        df = extract_fused(df, bucket_accum=spark.sparkContext.accumulator({}, _BucketMetricsParam()))
    df.write.format("noop").mode("overwrite").save()


def ladder_order(rounds: int) -> list[str]:
    order: list[str] = []
    for r in range(rounds):
        order += list(LADDER) if r % 2 == 0 else list(reversed(LADDER))
    return order


def ladder_metrics(rung_s: dict[str, list[float]]) -> dict[str, float]:
    """Differences of the rungs' median seconds.  L4 must be timed around
    the job alone, like L0-L3, not around the gate that follows it."""
    med = {r: statistics.median(rung_s[r]) for r in LADDER}
    return {
        "sources.scan_s": med["L0"],
        "manifest.shuffle_s": med["L1"] - med["L0"],
        "pipeline.boundary_s": med["L2"] - med["L1"],
        "pipeline.extract_s": med["L3"] - med["L2"],
        "manifest.commit_s": med["L4"] - med["L3"],
    }


# ---------------------------------------------------------------------------
# Kernel, in process
# ---------------------------------------------------------------------------


@contextmanager
def served(module, **answers):
    """Replace functions of `module` for the duration of the block."""
    real = {name: getattr(module, name) for name in answers}
    for name, fn in answers.items():
        setattr(module, name, fn)
    try:
        yield
    finally:
        for name, fn in real.items():
            setattr(module, name, fn)


@contextmanager
def spanned(spans: Spans, module, name: str, span_name: str):
    """Record a span around every call of `module.name` made in the block."""
    real = getattr(module, name)

    def wrapped(*args, **kwargs):
        with spans.span(span_name):
            return real(*args, **kwargs)

    with served(module, **{name: wrapped}):
        yield


def _each(fn, args):
    """fn over each argument; a raised exception is kept as the result, as
    `extract_turn` isolates each branch."""
    out = []
    for a in args:
        try:
            out.append(fn(a))
        except Exception as e:
            out.append(e)
    return out


def _answer(results: dict):
    def fn(key):
        v = results[key]
        if isinstance(v, Exception):
            raise v
        return v

    return fn


def kernel_metrics(sample, reps: int = 5) -> dict[str, float]:
    """Per-turn µs of each kernel step over `sample` (a pandas frame of
    turns), median of `reps` passes.  Each step is timed over the whole
    sample on the previous step's outputs.  Assembly (the rest of
    `extract_turn`) and the production batch driver's own work (Arrow input
    read and output build) are timed with the steps before them answered
    from memory, so no time is found by subtraction."""
    import pyarrow as pa

    from ocr_mini_service_spark import kernel
    from ocr_mini_service_spark.pipeline import _fused_arrow_batches

    rows = list(zip(sample["conv_id"], sample["turn_idx"].astype(int), sample["text"], sample["tool"]))
    batch = pa.RecordBatch.from_pandas(sample[["conv_id", "turn_idx", "text", "tool"]], preserve_index=False)
    texts, tools = [r[2] for r in rows], [r[3] for r in rows]

    def timed(fn):
        t0 = time.perf_counter()
        res = fn()
        return time.perf_counter() - t0, res

    steps: dict[str, list[float]] = {k: [] for k in ("parse", "order", "codes", "prune", "assembly", "build")}
    for _ in range(reps):
        dt, words = timed(lambda: _each(kernel.parse_tsv_words, texts))
        steps["parse"].append(dt)
        ok_words = [w for w in words if not isinstance(w, Exception)]
        dt, ordered = timed(lambda: [kernel.reading_order(w) for w in ok_words])
        steps["order"].append(dt)
        dt, codes = timed(lambda: _each(kernel.parse_codes, tools))
        steps["codes"].append(dt)
        order_of = {id(w): o for w, o in zip(ok_words, ordered)}
        pairs = [
            (order_of[id(w)], [] if isinstance(c, Exception) else c)
            for w, c in zip(words, codes)
            if not isinstance(w, Exception)
        ]
        dt, kept = timed(lambda: [kernel.filter_overlapping(o, c) for o, c in pairs])
        steps["prune"].append(dt)
        kept_of = {id(o): k for (o, _), k in zip(pairs, kept)}
        with served(
            kernel,
            parse_tsv_words=_answer(dict(zip(texts, words))),
            reading_order=lambda w: order_of[id(w)],
            parse_codes=_answer(dict(zip(tools, codes))),
            filter_overlapping=lambda o, c: kept_of.get(id(o), o),
        ):
            dt, done = timed(lambda: [kernel.extract_turn(c, t, x, tl) for c, t, x, tl in rows])
        steps["assembly"].append(dt)
        by_key = {(r["conv_id"], r["turn_idx"]): r for r in done}
        with served(kernel, extract_turn=lambda c, t, x, tl, lg=None: by_key[(c, t)]):
            dt, _ = timed(lambda: list(_fused_arrow_batches(iter([batch]))))
        steps["build"].append(dt)
    us = {k: statistics.median(v) / len(rows) * 1e6 for k, v in steps.items()}
    return {
        "kernel.parse_us": us["parse"],
        "kernel.order_us": us["order"],
        "kernel.codes_us": us["codes"],
        "kernel.prune_us": us["prune"],
        "kernel.assembly_us": us["assembly"],
        "pipeline.arrow_build_us": us["build"],
    }


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------


def stream_metrics(progress: list[dict]) -> dict[str, float]:
    """From `StreamingQuery.recentProgress` entries of the measured drains."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = [p["durationMs"] for p in batches]

    def med(key):
        return statistics.median(d.get(key, 0) for d in dur) / 1000.0

    trig = [d["triggerExecution"] / 1000.0 for d in dur]
    return {
        "streaming.batches": float(len(batches)),
        "streaming.turns_per_batch": statistics.median(p_["numInputRows"] for p_ in batches),
        "streaming.add_batch_s": med("addBatch"),
        "streaming.wal_commit_s": med("walCommit"),
        "streaming.planning_s": med("queryPlanning"),
        "streaming.batch_p50_s": percentile(trig, 50.0),
    }


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def parse_event_log(lines, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Task-level runtime metrics of the tasks that finished inside
    `windows` (epoch seconds), summed per window and reported per window.

    Reads `SparkListenerTaskEnd` events: executor CPU, GC, shuffle write,
    spill, failures, and the peak JVM heap and Python process-tree RSS of
    the executor metrics each task end carries."""
    ms = [(a * 1000.0, b * 1000.0) for a, b in windows]
    cpu_ns = gc_ms = shuffle = spill = failures = 0
    heap = py_rss = 0
    for line in lines:
        if '"SparkListenerTaskEnd"' not in line:
            continue
        ev = json.loads(line)
        info = ev.get("Task Info", {})
        fin = info.get("Finish Time", 0)
        if not any(a <= fin <= b for a, b in ms):
            continue
        if ev.get("Task End Reason", {}).get("Reason") != "Success" or info.get("Failed"):
            failures += 1
        m = ev.get("Task Metrics") or {}
        cpu_ns += m.get("Executor CPU Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        em = ev.get("Task Executor Metrics") or {}
        heap = max(heap, em.get("JVMHeapMemory", 0))
        py_rss = max(py_rss, em.get("ProcessTreePythonRSSMemory", 0))
    k = max(1, len(windows))
    return {
        "spark.executor_cpu_s": cpu_ns / 1e9 / k,
        "spark.gc_s": gc_ms / 1e3 / k,
        "spark.shuffle_write_bytes": shuffle / k,
        "spark.spill_bytes": spill / k,
        "spark.task_failures": float(failures),
        "spark.jvm_heap_peak_mb": heap / 2**20,
        "spark.python_rss_peak_mb": py_rss / 2**20,
    }
