"""Pure logic of the benchmark: no Spark session is started here."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from perfbench import gate, host, layers

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# --- stream metrics --------------------------------------------------------


def test_stream_metrics_skip_empty_batches_and_take_the_median():
    progress = [
        {"numInputRows": 10, "durationMs": {"triggerExecution": 3000, "addBatch": 2000, "walCommit": 40}},
        {"numInputRows": 0, "durationMs": {"triggerExecution": 9000}},
        {"numInputRows": 30, "durationMs": {"triggerExecution": 1000, "addBatch": 800, "walCommit": 20}},
        {"numInputRows": 20, "durationMs": {"triggerExecution": 2000, "addBatch": 1000, "walCommit": 30}},
    ]
    m = layers.stream_metrics(progress)
    assert m["streaming.batches"] == 3
    assert m["streaming.turns_per_batch"] == 20
    assert m["streaming.batch_p50_s"] == 2.0
    assert m["streaming.add_batch_s"] == 1.0
    assert m["streaming.wal_commit_s"] == 0.03
    assert m["streaming.planning_s"] == 0.0


# --- host sizing -----------------------------------------------------------


def test_slots_follow_cpus_and_cgroup_quota():
    assert host.size_host(4, None, 16070)["slots"] == 4
    assert host.size_host(4, None, 16070)["master"] == "local[4]"
    assert host.size_host(8, 2, 16070)["slots"] == 2
    assert host.cpu_quota("max 100000") is None
    assert host.cpu_quota("150000 100000") == 2
    assert host.cpu_quota(None) is None


def test_heap_is_a_clamped_share_of_memory():
    assert host.size_host(4, None, 16070)["heap_mb"] == 16070 // host.HEAP_SHARE
    assert host.size_host(4, None, 2000)["heap_mb"] == host.HEAP_MIN_MB
    assert host.size_host(4, None, 256_000)["heap_mb"] == host.HEAP_MAX_MB
    assert "no local-cluster" in host.size_host(4, None, 16070)["reason"]


def test_mem_total_parses_meminfo():
    assert host.mem_total_mb("MemTotal:       16456384 kB\nMemFree: 1 kB\n") == 16070
    with pytest.raises(ValueError):
        host.mem_total_mb("MemFree: 1 kB\n")


# --- event log -------------------------------------------------------------


def _task_end(finish_ms, reason="Success", cpu_ns=2_000_000_000, gc_ms=100, heap=2**30, py=2**29):
    return json.dumps({
        "Event": "SparkListenerTaskEnd",
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Finish Time": finish_ms, "Failed": reason != "Success"},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 7,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1000},
        },
        "Task Executor Metrics": {"JVMHeapMemory": heap, "ProcessTreePythonRSSMemory": py},
    })


def test_event_log_sums_tasks_inside_windows_per_window():
    lines = [
        json.dumps({"Event": "SparkListenerJobStart"}),
        _task_end(10_500),
        _task_end(20_500, heap=2**31),
        _task_end(20_600, reason="ExceptionFailure"),
        _task_end(99_000, cpu_ns=10**12),  # outside both windows
    ]
    m = layers.parse_event_log(lines, [(10.0, 11.0), (20.0, 21.0)])
    assert m["spark.executor_cpu_s"] == pytest.approx(3 * 2.0 / 2)
    assert m["spark.gc_s"] == pytest.approx(0.3 / 2)
    assert m["spark.shuffle_write_bytes"] == 1500
    assert m["spark.spill_bytes"] == 18
    assert m["spark.task_failures"] == 1
    assert m["spark.jvm_heap_peak_mb"] == 2048
    assert m["spark.python_rss_peak_mb"] == 512


# --- gate ------------------------------------------------------------------


@pytest.fixture(scope="module")
def job_output(tmp_path_factory):
    """A correct output written with pyarrow from the serial oracle, in the
    job's layout: bucket=K/ files sorted by key, plus a manifest."""
    from ocr_mini_service_spark import synth
    from ocr_mini_service_spark.oracle import golden_extracted
    from ocr_mini_service_spark.pipeline import _arrow_extracted_schema

    d = tmp_path_factory.mktemp("gate")
    df = synth.gen_transcripts(60, seed=3)
    path = str(d / "in.parquet")
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    golden = golden_extracted(df)
    table = pa.Table.from_pandas(golden, schema=_arrow_extracted_schema(), preserve_index=False)
    return path, table


def _write(out, table, n_buckets=4, manifest_turns=None):
    bucket = pa.array(table["turn_idx"].to_numpy() % n_buckets)
    counts = []
    for b in range(n_buckets):
        part = table.filter(pc.equal(bucket, b)).sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
        os.makedirs(f"{out}/bucket={b}")
        pq.write_table(part, f"{out}/bucket={b}/part-0.parquet")
        counts.append(part.num_rows)
    os.makedirs(f"{out}/_manifest")
    n = manifest_turns if manifest_turns is not None else counts
    pq.write_table(pa.table({"bucket": list(range(n_buckets)), "n_turns": pa.array(n, pa.int64())}),
                   f"{out}/_manifest/part-0.parquet")


def test_gate_passes_a_correct_output(job_output, tmp_path):
    path, table = job_output
    exp = gate.Expected(path, seed=3)
    _write(tmp_path / "out", table)
    assert gate.gate_batch(str(tmp_path / "out"), exp) == []
    assert gate.gate_stream(str(tmp_path / "out"), exp) == []
    assert len(exp.golden) > 15  # the sample plus every conv_edge turn
    assert gate.data_bytes(str(tmp_path / "out"))[1] == 4


def test_gate_flags_a_planted_duplicate(job_output, tmp_path):
    path, table = job_output
    exp = gate.Expected(path, seed=3)
    _write(tmp_path / "out", pa.concat_tables([table, table.slice(5, 1)]))
    failures = gate.gate_batch(str(tmp_path / "out"), exp)
    assert any("1 duplicated, 0 missing" in f for f in failures)
    assert any(f.startswith("manifest:") for f in failures)


def test_gate_flags_a_missing_turn(job_output, tmp_path):
    path, table = job_output
    exp = gate.Expected(path, seed=3)
    _write(tmp_path / "out", table.slice(1), manifest_turns=[table.num_rows, 0, 0, 0])
    failures = gate.gate_batch(str(tmp_path / "out"), exp)
    assert failures and "0 duplicated, 1 missing" in failures[0]


def test_gate_flags_one_wrong_oracle_cell(job_output, tmp_path):
    path, table = job_output
    exp = gate.Expected(path, seed=3)
    key = sorted(exp.golden)[0]
    rows = table.to_pylist()
    for r in rows:
        if (r["conv_id"], r["turn_idx"]) == key:
            r["confidence"] = (r["confidence"] or 0.0) + 1e-9
    _write(tmp_path / "out", pa.Table.from_pylist(rows, schema=table.schema))
    assert gate.gate_batch(str(tmp_path / "out"), exp) == [f"oracle: {key} column confidence differs"]


def test_gate_flags_rows_out_of_order():
    t = pa.table({"conv_id": ["a", "b", "a"], "turn_idx": pa.array([0, 0, 1], pa.int32())})
    assert gate.check_sorted(t, "f") == ["order: 1 rows out of (conv_id, turn_idx) order in f"]


# --- the benchmark definition ----------------------------------------------


def test_benchmark_json_names_what_the_code_reports():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER_UNITS


# --- inputs and spans ------------------------------------------------------


def test_tiny_input_has_the_synth_shape_and_tiny_pages():
    from ocr_mini_service_spark import synth
    from perfbench import inputs

    pages, tiny = synth.gen_transcripts(300, seed=5), inputs.gen_tiny(300, seed=5)
    assert tiny[["conv_id", "turn_idx", "role", "ts"]].equals(pages[["conv_id", "turn_idx", "role", "ts"]])
    edge = tiny["conv_id"] == "conv_edge"
    assert tiny[edge].equals(pages[edge])
    assert (tiny.loc[~edge, "tool"] == "").all()
    assert tiny.loc[~edge, "text"].str.count("\n").between(1, 3).all()  # header, page row, 0-2 words
    assert synth._gen_turn_text is not inputs._tiny_page


def test_spanned_records_each_call_and_restores_the_function():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    real = mod.f
    spans = layers.Spans("t")
    with layers.spanned(spans, mod, "f", "f.call"):
        assert mod.f(1) == 2 and mod.f(2) == 3
    assert mod.f is real
    assert len(spans.durations("f.call")) == 2


def test_ladder_differences_rung_medians():
    m = layers.ladder_metrics({"L0": [1.0, 3.0, 2.0], "L1": [3.0], "L2": [6.0], "L3": [7.0], "L4": [9.0, 10.0]})
    assert m == {"sources.scan_s": 2.0, "manifest.shuffle_s": 1.0, "pipeline.boundary_s": 3.0,
                 "pipeline.extract_s": 1.0, "manifest.commit_s": 2.5}


# --- in-process kernel timing ----------------------------------------------


def test_kernel_metrics_time_every_step_and_restore_the_kernel():
    from ocr_mini_service_spark import kernel, synth

    real = {n: getattr(kernel, n) for n in ("parse_tsv_words", "reading_order", "parse_codes",
                                             "filter_overlapping", "extract_turn")}
    m = layers.kernel_metrics(synth.gen_transcripts(30, seed=4), reps=1)
    assert set(m) == {"kernel.parse_us", "kernel.order_us", "kernel.codes_us", "kernel.prune_us",
                      "kernel.assembly_us", "pipeline.arrow_build_us"}
    assert all(v > 0 for v in m.values())
    assert all(getattr(kernel, n) is f for n, f in real.items())
