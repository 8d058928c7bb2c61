"""The manifest-row fold (``sources.segments.fold``).

Every rollup of block or file rows — a build's file rows, an external
build's split partials, merged files, consolidated blocks — runs this
one Arrow function, on the driver or as a Spark ``applyInArrow`` body.
Pins it against a plain-Python reference fold over seeded random rows,
the M4 size check, and an external build whose source file is read in
several input splits.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bloomsearch_spark import IndexConfig, build_external_index
from bloomsearch_spark.sources import segments as seg
from bloomsearch_spark.sources.synthetic import generate_pdf

MAP = pa.map_(pa.string(), pa.int64())
BIG = 2**53


def _ref_fold(rows: list[dict], key: str) -> dict:
    """``{key value: folded row}`` — counters add, maps widen, blooms OR
    as Python ints, other columns from the first row."""
    out: dict = {}
    for r in rows:
        acc = out.get(r[key])
        if acc is None:
            acc = out[r[key]] = {
                **r,
                "row_count": r["row_count"] or 0,
                "block_count": r["block_count"] or 0,
                "minmax_min": {}, "minmax_max": {},
                "token_bloom": None, "file_token_bloom": None,
            }
        else:
            acc["row_count"] += r["row_count"] or 0
            acc["block_count"] += r["block_count"] or 0
        for f, v in (r["minmax_min"] or []):
            acc["minmax_min"][f] = min(acc["minmax_min"].get(f, v), v)
        for f, v in (r["minmax_max"] or []):
            acc["minmax_max"][f] = max(acc["minmax_max"].get(f, v), v)
        for col in ("token_bloom", "file_token_bloom"):
            raw = r[col]
            if not raw:
                continue
            if acc[col] is None:
                acc[col] = raw
                continue
            if len(acc[col]) != len(raw):
                raise ValueError("size mismatch")
            acc[col] = (
                int.from_bytes(acc[col], "big") | int.from_bytes(raw, "big")
            ).to_bytes(len(raw), "big")
    return out


def _random_rows(seed: int, n: int = 300) -> list[dict]:
    rng = np.random.RandomState(seed)
    keys = [f"k{i}" for i in range(40)] + [None]
    values = [-(2**63), -BIG - 1, -5, 0, 7, BIG, BIG + 1, BIG + 3, 2**62, 2**63 - 1]
    rows = []
    for _ in range(n):
        k = keys[rng.randint(len(keys))] if rng.randint(20) else f"solo{len(rows)}"
        kh = sum(map(ord, str(k)))
        size = 8 if kh % 2 else 16  # one bitset size per group

        def mmap():
            r = rng.randint(4)
            if r == 0:
                return None
            if r == 1:
                return []
            fields = rng.choice(["a", "b", "c"], rng.randint(1, 4), replace=False)
            return [(str(f), int(values[rng.randint(len(values))])) for f in fields]

        def bits():
            r = rng.randint(5)
            if r == 0:
                return None
            if r == 1:
                return b""
            return rng.randint(0, 256, size).astype(np.uint8).tobytes()

        rows.append({
            "file_id": k,
            "partition_id": f"p{kh % 3}",
            "row_count": None if rng.randint(10) == 0 else int(rng.randint(0, 1000)),
            "block_count": int(rng.randint(1, 4)),
            "minmax_min": mmap(),
            "minmax_max": mmap(),
            "expected_items": 100 + kh % 2,
            "token_bloom": bits(),
            "file_token_bloom": bits(),
        })
    return rows


SCHEMA = pa.schema([
    ("file_id", pa.string()), ("partition_id", pa.string()),
    ("row_count", pa.int64()), ("block_count", pa.int64()),
    ("minmax_min", MAP), ("minmax_max", MAP), ("expected_items", pa.int64()),
    ("token_bloom", pa.binary()), ("file_token_bloom", pa.binary()),
])


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_fold_matches_reference(seed):
    rows = _random_rows(seed)
    want = _ref_fold(rows, "file_id")
    tbl = pa.Table.from_pylist(rows, schema=SCHEMA)
    # a table of several chunks folds like one
    tbl = pa.concat_tables([tbl.slice(0, 100), tbl.slice(100)])
    got = seg.fold(tbl, "file_id")
    assert got.schema == SCHEMA
    assert got.num_rows == len(want)
    assert sum(1 for r in rows if r["file_id"] is None) > 0
    for r in got.to_pylist():
        exp = want[r["file_id"]]
        assert {**r, "minmax_min": dict(r["minmax_min"]),
                "minmax_max": dict(r["minmax_max"])} == exp
    # singleton groups occur and re-folding folded rows is the identity
    assert any(sum(1 for x in rows if x["file_id"] == k) == 1 for k in want)
    again = seg.fold(got, "file_id")
    assert again.to_pylist() == got.to_pylist()


def test_fold_refuses_mismatched_bitset_sizes():
    rows = [
        {"file_id": "f", "row_count": 1, "token_bloom": b"\x01" * 8},
        {"file_id": "f", "row_count": 1, "token_bloom": b"\x01" * 16},
        {"file_id": "g", "row_count": 1, "token_bloom": b"\x01" * 16},
    ]
    schema = pa.schema([("file_id", pa.string()), ("row_count", pa.int64()),
                        ("token_bloom", pa.binary())])
    with pytest.raises(ValueError, match="different sizes"):
        seg.fold(pa.Table.from_pylist(rows, schema=schema), "file_id")
    # different sizes in DIFFERENT groups fold fine
    ok = seg.fold(pa.Table.from_pylist(rows[1:] + [{**rows[0], "file_id": "h"}],
                                       schema=schema), "file_id")
    assert sorted(len(b) for b in ok["token_bloom"].to_pylist()) == [8, 16, 16]


def test_external_build_of_split_source_equals_unsplit(spark, tmp_path):
    """A source file read in several input splits stages one partial per
    (split, partition); the fold makes the same blocks and files as one
    split per file.  ``token_count`` is left out: it counts the distinct
    entries of each partial, and partials of one block share entries."""
    pdf = generate_pdf(2_000)
    src = str(tmp_path / "src")
    os.makedirs(src)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(src, "part-0.parquet"), row_group_size=100)
    cfg = IndexConfig(indexed_fields=("repo", "path", "lang", "content"),
                      partition_expr="lang", max_block_rows=100, blocks_per_file=2)
    whole = build_external_index(spark, src, str(tmp_path / "whole"), cfg)
    conf = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16k")
    try:
        assert spark.read.parquet(src).rdd.getNumPartitions() > 1
        split = build_external_index(spark, src, str(tmp_path / "split"), cfg)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", conf)

    def rows(df):
        return sorted(
            (tuple(v for k, v in sorted(r.asDict().items()) if k != "token_count")
             for r in df.collect()), key=str,
        )

    assert rows(split.blocks(cache=False)) == rows(whole.blocks(cache=False))
    assert rows(split.files(cache=False)) == rows(whole.files(cache=False))
    per_file = {r.file_id: r["count"] for r in
                split.blocks(cache=False).groupBy("file_id").count().collect()}
    assert {r.file_id: r.block_count for r in split.files(cache=False).collect()} == per_file
