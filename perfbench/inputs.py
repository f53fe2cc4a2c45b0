"""Seeded benchmark inputs, cached on disk by (kind, size, seed).

Two kinds of turn, both in the engine's `transcripts` schema:

- ``pages``: `synth.gen_transcripts` pages (about 34 words per turn, a fifth
  of turns with codes, one long conversation for bucket skew).
- ``tiny``: the same generator with each page cut to a TSV header, a page
  row and 0-2 words, and no tool payload, so per-turn kernel work is near
  zero and scan, shuffle, the Arrow boundary, output build and the write
  dominate.

Both carry the `conv_edge` fixture turns, which the correctness gate checks
against the serial oracle on every call.  Inputs are generated before any
timed region and reused by later runs of the same seed.
"""

from __future__ import annotations

import os
import random

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROW_GROUP = 2048  # the engine's own input layout (synth.write_transcripts_parquet)
# files per restaged stream input: 8 micro-batches of the engine's 16 files.
# A tail percentile above the median needs 40 (ten samples beyond p75), and
# a drain of 40 takes 27-33 s, which a traced run cannot hold.
STREAM_FILES = 128
_VOCAB = ["Amt", "online", "jump", "page", "über", "groß,", "SALE", "query;", "100", "(note)"]


def _tiny_page(rng: random.Random) -> tuple[str, int, int]:
    """A TSV header, a page row and 0-2 words, with the signature of
    `synth._gen_turn_text`: (tsv, page width, page height)."""
    from ocr_mini_service_spark.synth import TSV_HEADER, _tsv_row

    pw, ph = rng.randrange(800, 3000), rng.randrange(800, 3000)
    rows = [TSV_HEADER, _tsv_row(1, 0, 0, 0, 0, 0, 0, pw, ph, -1, "")]
    for w in range(rng.randint(0, 2)):
        rows.append(_tsv_row(5, 0, 0, 0, w, 10 + 100 * w, rng.randrange(10, ph - 100), 80, 30,
                             rng.randrange(0, 101), rng.choice(_VOCAB)))
    return "\n".join(rows), pw, ph


def gen_tiny(n: int, seed: int) -> pd.DataFrame:
    """`synth.gen_transcripts` (its conversation shape, roles, stamps and
    edge turns) with each page replaced by a tiny one and no tool payload."""
    from ocr_mini_service_spark import synth
    from perfbench.layers import served

    with served(synth, _gen_turn_text=_tiny_page, _gen_tool=lambda rng, pw, ph: ""):
        return synth.gen_transcripts(n, seed=seed)


def cached_input(work: str, kind: str, n: int, seed: int) -> str:
    """Path of the single-file parquet input for (kind, n, seed); generated
    on first use, published by an atomic rename."""
    path = f"{work}/inputs/{kind}-n{n}-s{seed}.parquet"
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        from ocr_mini_service_spark import synth

        gen = gen_tiny if kind == "tiny" else synth.gen_transcripts
        table = pa.Table.from_pandas(gen(n, seed=seed), preserve_index=False)
        tmp = f"{path}.tmp{os.getpid()}"
        pq.write_table(table, tmp, row_group_size=ROW_GROUP)
        os.replace(tmp, path)
    return path


def cached_stream_input(path: str) -> str:
    """`path` restaged as STREAM_FILES small files: the file-source listing
    and `maxFilesPerTrigger` micro-batches of the stream path."""
    d = path[: -len(".parquet")] + ".files"
    done = f"{d}/_DONE"
    if not os.path.exists(done):
        os.makedirs(d, exist_ok=True)
        table = pq.read_table(path)
        cuts = [i * table.num_rows // STREAM_FILES for i in range(STREAM_FILES + 1)]
        for i in range(STREAM_FILES):
            pq.write_table(table.slice(cuts[i], cuts[i + 1] - cuts[i]), f"{d}/part-{i:04d}.parquet")
        open(done, "w").close()
    return d


def gate_sample(keys: pd.DataFrame, seed: int, k: int = 64) -> pd.DataFrame:
    """A seeded sample of k input keys plus every `conv_edge` turn."""
    edge = keys[keys["conv_id"] == "conv_edge"]
    rest = keys[keys["conv_id"] != "conv_edge"]
    pick = rest.sample(n=min(k, len(rest)), random_state=seed)
    return pd.concat([pick, edge], ignore_index=True)
