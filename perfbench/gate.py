"""Correctness gate, run after every timed call and outside its timing.

It reads the committed output with pyarrow, not Spark, and checks:

- each input (conv_id, turn_idx) appears exactly once;
- rows are sorted by (conv_id, turn_idx) within each written file, which
  holds one bucket (batch only);
- the manifest's `n_turns` sums to the input count (batch only);
- a seeded sample plus every `conv_edge` turn equals
  `oracle.golden_extracted` on every output column.

A gate returns the list of failures it found; an empty list is a pass.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench.inputs import gate_sample

KEY_SCHEMA = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32())])
_KEY_SORT = [("conv_id", "ascending"), ("turn_idx", "ascending")]
MAX_REPORTED = 5


def _keys(table: pa.Table) -> pa.Table:
    return table.select(["conv_id", "turn_idx"]).cast(KEY_SCHEMA).sort_by(_KEY_SORT)


def _norm(v):
    """NaN and null compare equal: pandas turns a null float into NaN."""
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, list):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items()}
    return v


class Expected:
    """What every output of one input must hold: its sorted keys and the
    oracle's rows for the gate sample."""

    def __init__(self, input_path: str, seed: int):
        from ocr_mini_service_spark.oracle import golden_extracted
        from ocr_mini_service_spark.schema import EXTRACTED

        table = pq.read_table(input_path, columns=["conv_id", "turn_idx", "text", "tool"])
        table = table.cast(pa.schema(list(KEY_SCHEMA) + [("text", pa.string()), ("tool", pa.string())]))
        self.keys = _keys(table)
        self.n_turns = table.num_rows
        self.columns = [f.name for f in EXTRACTED.fields]
        sample = gate_sample(self.keys.to_pandas(), seed)
        wanted = pa.Table.from_pandas(sample, preserve_index=False).cast(KEY_SCHEMA)
        rows = table.join(wanted, ["conv_id", "turn_idx"], join_type="inner")
        golden = golden_extracted(rows.to_pandas())
        self.golden = {
            (r["conv_id"], r["turn_idx"]): _norm(r) for r in golden.to_dict("records")
        }


def check_keys(out_keys: pa.Table, exp: Expected) -> list[str]:
    got = _keys(out_keys)
    if got.equals(exp.keys):
        return []
    counts = got.group_by(["conv_id", "turn_idx"]).aggregate([([], "count_all")])
    dup = counts.filter(pc.greater(counts["count_all"], 1)).num_rows
    missing = exp.keys.join(got, ["conv_id", "turn_idx"], join_type="left anti").num_rows
    extra = got.join(exp.keys, ["conv_id", "turn_idx"], join_type="left anti").num_rows
    return [f"keys: {dup} duplicated, {missing} missing, {extra} unexpected"]


def check_sorted(table: pa.Table, where: str) -> list[str]:
    conv = table.column("conv_id").to_numpy(zero_copy_only=False)
    turn = table.column("turn_idx").to_numpy()
    ok = (conv[:-1] < conv[1:]) | ((conv[:-1] == conv[1:]) & (turn[:-1] <= turn[1:]))
    bad = int(np.count_nonzero(~ok))
    return [f"order: {bad} rows out of (conv_id, turn_idx) order in {where}"] if bad else []


def check_oracle(out: pa.Table, exp: Expected) -> list[str]:
    got = {(r["conv_id"], r["turn_idx"]): r for r in out.to_pylist()}
    failures = []
    for key, want in exp.golden.items():
        row = got.get(key)
        if row is None:
            failures.append(f"oracle: {key} absent")
            continue
        for col in exp.columns:
            if _norm(row[col]) != want[col]:
                failures.append(f"oracle: {key} column {col} differs")
    return failures[:MAX_REPORTED]


def _sample_rows(dataset: ds.Dataset, exp: Expected) -> pa.Table:
    """A superset of the sample rows: their conversations x their turn ids."""
    convs = pa.array(sorted({k[0] for k in exp.golden}))
    turns = pa.array(sorted({k[1] for k in exp.golden}), pa.int32())
    where = pc.field("conv_id").isin(convs) & pc.field("turn_idx").isin(turns)
    return dataset.to_table(columns=exp.columns, filter=where)


def gate_batch(out_dir: str, exp: Expected) -> list[str]:
    """Gate a `run_with_manifest` output directory."""
    data = ds.dataset(out_dir, format="parquet", partitioning="hive")
    failures = check_keys(data.to_table(columns=["conv_id", "turn_idx"]), exp)
    for frag in data.get_fragments():
        failures += check_sorted(frag.to_table(columns=["conv_id", "turn_idx"]), frag.path)
    manifest = ds.dataset(f"{out_dir}/_manifest", format="parquet").to_table(columns=["n_turns"])
    total = pc.sum(manifest["n_turns"]).as_py() or 0
    if total != exp.n_turns:
        failures.append(f"manifest: n_turns sums to {total}, input has {exp.n_turns}")
    failures += check_oracle(_sample_rows(data, exp), exp)
    return failures[:MAX_REPORTED]


def gate_stream(out_dir: str, exp: Expected) -> list[str]:
    """Gate a `run_incremental` file-sink output directory."""
    data = ds.dataset(out_dir, format="parquet")
    failures = check_keys(data.to_table(columns=["conv_id", "turn_idx"]), exp)
    failures += check_oracle(_sample_rows(data, exp), exp)
    return failures[:MAX_REPORTED]


def data_bytes(out_dir: str) -> tuple[int, int]:
    """(bytes, files) of the committed data files, manifest excluded."""
    files = ds.dataset(out_dir, format="parquet", partitioning="hive").files
    return sum(os.path.getsize(f) for f in files), len(files)


def output_counts(out_dir: str) -> dict:
    """Word and error tallies of the whole output, and turns per bucket."""
    data = ds.dataset(out_dir, format="parquet", partitioning="hive")
    t = data.to_table(columns=["n_blocks_kept", "n_blocks_dropped", "error"])
    err = t["error"]
    manifest = ds.dataset(f"{out_dir}/_manifest", format="parquet").to_table(columns=["n_turns"])
    return {
        "words_kept": pc.sum(t["n_blocks_kept"]).as_py() or 0,
        "words_dropped": pc.sum(t["n_blocks_dropped"]).as_py() or 0,
        "errors_ocr": pc.sum(pc.match_substring(err, "ocr_failed")).as_py() or 0,
        "errors_codes": pc.sum(pc.match_substring(err, "codes_failed")).as_py() or 0,
        "bucket_turns": manifest["n_turns"].to_pylist(),
    }
