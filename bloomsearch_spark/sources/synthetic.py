"""Deterministic synthetic source-code table (BASELINE.json input_hint).

Columns ``(repo, path, commit, lang, content)``; generation is seeded and
*chunked* — chunk ``i`` is produced by an RNG seeded from ``(seed, i)`` —
so the local and the distributed (mapInPandas) paths produce bit-identical
tables for any row count (FIXTURES.md F1).  Skew is built in: one
"monorepo" holds ~30% of rows to exercise salted block assignment.
Needle tokens are planted at known absolute rows so hit/miss golden tests
have exact expected answers; one needle is mixed-case to exercise the
lowercasing tokenizer.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

LANGS = ["go", "py", "js", "rs", "java", "md"]

_WORDS = [
    "func", "return", "import", "Class", "def", "SELECT", "from", "WHERE",
    "parse", "Handler", "buffer", "Index", "token", "bloom", "filter",
    "merge", "partition", "shuffle", "executor", "Query", "commit", "branch",
    "vector", "hash", "encode", "decode", "stream", "batch", "arrow",
    "column", "schema", "manifest", "block", "file.go", "x+=1", "err!=nil",
]

# token -> (step, offset): planted at absolute rows r where r % step == offset
NEEDLES = {
    "needle_alpha": (101, 7),
    "needle_beta": (499, 11),
    "Needle_Gamma": (997, 13),  # stored mixed-case; queries use lowercase
}

CHUNK = 100_000
SCHEMA = "repo string, path string, commit string, lang string, content string"


def needle_rows(token: str, n_rows: int) -> list[int]:
    """Absolute rows where ``token`` was planted (oracle for golden tests)."""
    step, offset = NEEDLES[token]
    return list(range(offset, n_rows, step))


def generate_chunk(chunk_idx: int, n_rows_total: int, seed: int = 42) -> pd.DataFrame:
    lo = chunk_idx * CHUNK
    size = min(CHUNK, n_rows_total - lo)
    rng = np.random.RandomState((seed * 1_000_003 + chunk_idx) % (2**31 - 1))
    row = np.arange(lo, lo + size)

    is_mono = rng.rand(size) < 0.30
    repo_idx = rng.randint(1, 41, size=size)
    repo = np.where(
        is_mono,
        "org0/monorepo",
        np.char.add(
            "org",
            np.char.add((repo_idx % 8).astype(str), np.char.add("/repo", repo_idx.astype(str))),
        ),
    )
    lang = np.array(LANGS, dtype=object)[rng.randint(0, len(LANGS), size=size)]
    path = np.array(
        [f"src/pkg{r % 13}/mod{r % 7}/file{r}.{l}" for r, l in zip(row, lang)],
        dtype=object,
    )
    commit = np.array(
        [hashlib.sha1(f"commit-{seed}-{r}".encode()).hexdigest() for r in row],
        dtype=object,
    )
    n_tok = rng.randint(5, 120, size=size)
    words = np.array(_WORDS, dtype=object)
    content: list[str] = []
    for j, r in enumerate(row):
        toks = list(words[rng.randint(0, len(words), size=n_tok[j])])
        for needle, (step, offset) in NEEDLES.items():
            if r % step == offset:
                toks.insert(int(rng.randint(0, len(toks) + 1)), needle)
        content.append(" ".join(toks))

    return pd.DataFrame(
        {
            "repo": repo.astype(object),
            "path": path,
            "commit": commit,
            "lang": lang,
            "content": np.array(content, dtype=object),
        }
    )


def generate_pdf(n_rows: int, seed: int = 42) -> pd.DataFrame:
    chunks = [
        generate_chunk(i, n_rows, seed) for i in range((n_rows + CHUNK - 1) // CHUNK)
    ]
    return pd.concat(chunks, ignore_index=True)


def synthesize_probe_manifest(
    spark: SparkSession,
    root: str,
    n_blocks: int,
    blocks_per_file: int = 1_000,
    match_every: int = 100_000,
    token: str = "needle",
    block_expected: int = 100,
    file_expected: int = 1_000,
    fpr: float = 0.01,
):
    """Manifest-ONLY synthetic index (no data files) for probe-path
    benchmarking: ``n_blocks`` block rows whose token blooms are per-row
    UNIQUE random bitsets at ~50% bit fill (a correctly-sized bloom at
    capacity — incompressible bytes, real ~fill^k false-positive rate);
    every ``match_every``-th block additionally carries ``token`` (and its
    file's file bloom does too).  ``block_expected`` sets bitset bytes
    (~1.2 B/item at p=0.01): small params reach 10^6 blocks in a few
    hundred MB, production-size params (10k) measure the real per-block
    scan cost.  Committed as a normal manifest version — used by
    scripts/probe_scale_bench.py and tests/test_probe_scale.py to measure
    the prune walk at manifest scales the data-backed tests cannot
    reach.  Returns the committed BloomIndex."""
    import pyarrow as pa

    from .. import bloom
    from ..config import IndexConfig
    from . import fs as fsx
    from . import manifest as mf

    bp = bloom.BloomParams(block_expected, fpr)
    fp = bloom.BloomParams(file_expected, fpr)
    tok = np.asarray([token], dtype=object)

    def _tok_positions(params):
        h1, h2 = bloom._base_hashes(tok)
        pos = bloom._positions(h1, h2, *params.mk).reshape(-1)
        return (pos >> np.uint64(3)).astype(np.int64), (
            np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)
        )

    b_pos, f_pos = _tok_positions(bp), _tok_positions(fp)

    def _bitsets(n, nbytes, hit_mask, positions, seed):
        """Per-row UNIQUE bitsets at ~50% bit fill (a correctly-sized bloom
        at capacity) — incompressible, so the cached/stored manifest costs
        what a real one costs (constant bitsets would let columnar
        compression fake the manifest scan), and probe false positives
        occur at the real ~fill^k rate.  Planted rows get the token's k
        bits OR'd on top."""
        rng = np.random.default_rng(seed)
        arr = rng.integers(0, 256, size=(n, nbytes), dtype=np.uint8)
        idx = np.flatnonzero(hit_mask)
        for b_i, bit in zip(*positions):
            arr[idx, b_i] |= bit
        return pa.array([r.tobytes() for r in arr], pa.binary())

    empty_map = pa.array([[]], type=pa.map_(pa.string(), pa.int64()))
    bpf, me = blocks_per_file, match_every

    zero_b = bloom.new_bitset(bp).tobytes()
    zero_f = bloom.new_bitset(fp).tobytes()

    def gen_blocks(batches):
        for batch in batches:
            ids = batch.column("id").to_numpy()
            n = len(ids)
            hit = (ids % me) == 0
            cols = {
                "file_id": pa.array([f"f{int(i) // bpf:08d}" for i in ids]),
                "block_id": pa.array([f"b{int(i):09d}" for i in ids]),
                "partition_id": pa.array(["p"] * n),
                "data_path": pa.array(
                    [f"file_id=f{int(i) // bpf:08d}/block_id=b{int(i):09d}" for i in ids]
                ),
                "row_count": pa.array([block_expected] * n, pa.int64()),
                "token_count": pa.array([block_expected] * n, pa.int64()),
                "byte_size": pa.array([4096] * n, pa.int64()),
                "minmax_min": pa.concat_arrays([empty_map] * n),
                "minmax_max": pa.concat_arrays([empty_map] * n),
                "expected_items": pa.array([block_expected] * n, pa.int64()),
                "fpr": pa.array([fpr] * n, pa.float64()),
                # token_bloom is the probed column: unique realistic
                # bitsets; the never-probed field/fieldtoken columns stay
                # zeroed (the prune reads only the columns a query tests)
                "field_bloom": pa.array([zero_b] * n, pa.binary()),
                "token_bloom": _bitsets(
                    n, bp.nbytes, hit, b_pos, seed=int(ids[0]) + 1 if n else 1
                ),
                "fieldtoken_bloom": pa.array([zero_b] * n, pa.binary()),
            }
            yield pa.RecordBatch.from_pydict(cols)

    n_files = (n_blocks + bpf - 1) // bpf

    def gen_files(batches):
        for batch in batches:
            ids = batch.column("id").to_numpy()
            n = len(ids)
            # file i holds blocks [i*bpf, (i+1)*bpf): it matches when any
            # multiple of match_every falls in that range
            hit = np.array([(-(int(i) * bpf) % me) < bpf for i in ids])
            cols = {
                "file_id": pa.array([f"f{int(i):08d}" for i in ids]),
                "partition_id": pa.array(["p"] * n),
                "block_count": pa.array([bpf] * n, pa.int64()),
                "row_count": pa.array([block_expected * bpf] * n, pa.int64()),
                "token_count": pa.array([block_expected * bpf] * n, pa.int64()),
                "byte_size": pa.array([4096 * bpf] * n, pa.int64()),
                "minmax_min": pa.concat_arrays([empty_map] * n),
                "minmax_max": pa.concat_arrays([empty_map] * n),
                "expected_items": pa.array([file_expected] * n, pa.int64()),
                "fpr": pa.array([fpr] * n, pa.float64()),
                "field_bloom": pa.array([zero_f] * n, pa.binary()),
                "token_bloom": _bitsets(
                    n, fp.nbytes, hit, f_pos, seed=int(ids[0]) + 7 if n else 7
                ),
                "fieldtoken_bloom": pa.array([zero_f] * n, pa.binary()),
            }
            yield pa.RecordBatch.from_pydict(cols)

    seg = "v00000001-synth"
    seg_dir = mf.segment_dir(root, seg)
    tasks = max(1, min(64, n_blocks // 50_000 + 1))
    (
        spark.range(n_blocks).repartition(tasks)
        .mapInArrow(gen_blocks, mf.BLOCKS_SCHEMA)
        .write.mode("overwrite").parquet(fsx.join(seg_dir, "blocks.parquet"))
    )
    (
        spark.range(n_files).coalesce(1)
        .mapInArrow(gen_files, mf.FILES_SCHEMA)
        .write.mode("overwrite").parquet(fsx.join(seg_dir, "files.parquet"))
    )
    spark.createDataFrame([], mf.LINEAGE_SCHEMA).write.mode("overwrite").parquet(
        fsx.join(seg_dir, "lineage.parquet")
    )
    cfg = IndexConfig(
        indexed_fields=("text",),
        partition_expr="'p'",
        max_block_rows=block_expected,
        blocks_per_file=blocks_per_file,
        block_fpr=fpr,
        file_fpr=fpr,
        file_expected_items=file_expected,
    )

    v = mf.publish_meta(root, cfg, {
        "source_desc": "synthetic-probe-manifest",
        "source_columns": ["text"],
        "uniform_params": {
            "blocks": [block_expected, fpr],
            "files": [file_expected, fpr],
        },
        "tables": {t: [mf.segment_ref(seg, t)] for t in mf.TABLES},
    })
    return mf.BloomIndex(spark, root, v)


def generate_df(spark: SparkSession, n_rows: int, seed: int = 42) -> DataFrame:
    """Distributed deterministic generation: one task per chunk."""
    n_chunks = (n_rows + CHUNK - 1) // CHUNK
    if n_chunks == 1:
        return spark.createDataFrame(generate_pdf(n_rows, seed), schema=SCHEMA)

    def gen(it):
        for pdf in it:
            for i in pdf["id"]:
                yield generate_chunk(int(i), n_rows, seed)

    idx = spark.range(n_chunks).repartition(min(n_chunks, 64))
    return idx.mapInPandas(gen, schema=SCHEMA)
