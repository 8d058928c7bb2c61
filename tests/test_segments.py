"""The one segment writer (``sources/segments.py``).

Every commit writes its manifest delta segment through one module, which
picks the Arrow face (driver-side) or the Spark face from the footer size
of what it reads.  Pins:

- parity: each commit op — and each op whose rows come from the
  manifest-row fold (clustered and external builds, ``merge_files``,
  ``compact_blocks``) — writes identical blocks/files/lineage rows
  (``committed_at`` aside), column types and query results on the driver
  face and on the forced Spark face;
- DSv2 writer segments carry page checksums and small row groups, like
  every other driver-written segment;
- Spark jobs per commit op, on the 2,000-row synthetic table with
  ``max_block_rows=100`` and ``blocks_per_file=2`` on local[4]: exact for
  the build, append and row-mutation ops, a ceiling for the rest.
"""

import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bloomsearch_spark import (
    BloomIndex,
    IndexConfig,
    build_external_index,
    build_index,
    compact_blocks,
    delete_where,
    merge_files,
    new_query,
    purge_deletion_vectors,
    search,
    upsert_keys,
)
from bloomsearch_spark.plans import merge as merge_mod
from bloomsearch_spark.sources import fs as fsx
from bloomsearch_spark.sources import segments as seg
from bloomsearch_spark.sources.synthetic import generate_df, generate_pdf
from tests.test_prune_engine import _job_counter

N = 2_000
CFG = IndexConfig(
    indexed_fields=("repo", "path", "lang", "content"),
    partition_expr="lang",
    max_block_rows=100,
    blocks_per_file=2,
    sha_col="content",
)
OPS = ("build", "append", "delete", "dv_delete", "upsert", "upsert_dv", "purge")
FOLD_OPS = ("clustered", "merge_files", "compact_blocks", "external")
QUERIES = [
    new_query().token("needle_alpha").build(),
    new_query().token("needle_beta").build(),
    new_query().token("upserted_marker").build(),
    new_query().field("content").build(),
]
# the Spark jobs each op takes: the map build and append (one staging
# job, segments on the driver); the clustered and external builds (one
# staging job and the fold on the driver); the row mutations: a match job
# over the scan (DV-masked in its own map body) and a rewrite job, the
# manifest half on the driver — upsert adds its key collect, its key
# broadcast and its staging job, the DV ops write no block and purge has
# nothing to match; ceilings for merge_files and compact_blocks (their
# planners still run as Spark jobs)
MAX_JOBS = {
    "build": 1, "append": 1, "delete": 2, "dv_delete": 1,
    "upsert": 5, "upsert_dv": 4, "purge": 1, "dsv2_write": 1,
    "clustered": 2, "external": 2, "merge_files": 14, "compact_blocks": 12,
}
EXACT_JOBS = ("build", "append", "delete", "dv_delete", "upsert", "upsert_dv", "purge")


class _SeqUUID:
    """Deterministic ``uuid4`` for the commit nonces, so two runs of one
    op chain mint the same segment names, block ids and data paths."""

    def __init__(self):
        self.n = 0

    def uuid4(self):
        self.n += 1
        return uuid.UUID(int=self.n)


def _upsert_src(spark, lo: int, hi: int):
    pdf = generate_pdf(N).iloc[lo:hi].copy()
    pdf["content"] = [f"upserted_marker row{i}" for i in range(lo, hi)]
    return spark.createDataFrame(pdf)


def _state(spark, ix: BloomIndex) -> dict:
    def rows(df, drop=()):
        out = [
            {k: v for k, v in r.asDict().items() if k not in drop}
            for r in df.collect()
        ]
        return sorted(out, key=lambda d: tuple(str(d[k]) for k in sorted(d)))

    def types(name):
        return [
            [(f.name, f.dataType) for f in spark.read.parquet(p).schema]
            for p in ix.table_paths(name)
        ]

    return {
        "blocks": rows(ix.blocks(cache=False)),
        "files": rows(ix.files(cache=False)),
        "lineage": rows(ix.lineage(), drop=("committed_at",)),
        "dvs": rows(ix.dvs(cache=False)) if ix.dvs_refs() else [],
        "types": {t: types(t) for t in ("blocks", "files", "lineage")},
        "results": [
            sorted(tuple(r) for r in search(spark, ix, q).collect())
            for q in QUERIES
        ],
    }


def _run_chain(spark, root: str) -> tuple[dict, dict]:
    """Build, append, rewrite delete, DV delete, upsert, DV upsert and
    DV purge on one root; returns each op's resulting state and Spark job
    count."""
    last_id = _job_counter(spark)
    base = generate_df(spark, N)
    more = generate_df(spark, 200, seed=7)
    src1, src2 = _upsert_src(spark, 0, 20), _upsert_src(spark, 20, 40)
    alpha_py = new_query().token("needle_alpha").field_token("lang", "py").build()
    steps = {
        "build": lambda ix: build_index(spark, base, root, CFG),
        "append": lambda ix: build_index(spark, more, root, CFG, mode="append"),
        "delete": lambda ix: delete_where(spark, ix, alpha_py)[0],
        "dv_delete": lambda ix: delete_where(
            spark, ix, QUERIES[1], use_deletion_vectors=True
        )[0],
        "upsert": lambda ix: upsert_keys(spark, ix, src1, "path")[0],
        "upsert_dv": lambda ix: upsert_keys(
            spark, ix, src2, "path", use_deletion_vectors=True
        )[0],
        "purge": lambda ix: purge_deletion_vectors(spark, ix)[0],
    }
    states, jobs, ix = {}, {}, None
    for op in OPS:
        before = last_id()
        ix = steps[op](ix)
        jobs[op] = last_id() - before
        states[op] = _state(spark, BloomIndex.load(spark, root))
    return states, jobs


def _run_fold_chain(spark, root: str, src: str) -> tuple[dict, dict]:
    """A clustered build, ``merge_files`` and ``compact_blocks`` on it,
    and an external build of ``src``; each op's state and Spark jobs."""
    last_id = _job_counter(spark)
    docs = spark.createDataFrame(generate_pdf(N).assign(doc_id=np.arange(N)))
    clustered = IndexConfig.from_dict({**CFG.to_dict(), "block_expr": "doc_id % 8"})
    steps = {
        "clustered": lambda ix: build_index(spark, docs, f"{root}/c", clustered),
        "merge_files": lambda ix: merge_files(spark, ix)[0],
        "compact_blocks": lambda ix: compact_blocks(spark, ix)[0],
        "external": lambda ix: build_external_index(spark, src, f"{root}/x", CFG),
    }
    states, jobs, ix = {}, {}, None
    for op in FOLD_OPS:
        before = last_id()
        ix = steps[op](ix)
        jobs[op] = last_id() - before
        states[op] = _state(spark, BloomIndex.load(spark, ix.root))
    return states, jobs


def _both_faces(run) -> dict:
    out = {}
    for face in ("driver", "spark"):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(merge_mod, "uuid", _SeqUUID())
            if face == "spark":
                mp.setattr(seg, "DRIVER_SEGMENT_MAX_BYTES", 0)
            out[face] = run(face)
    return out


@pytest.fixture(scope="module")
def chains(spark, tmp_path_factory):
    return _both_faces(lambda face: _run_chain(spark, str(tmp_path_factory.mktemp(face))))


@pytest.fixture(scope="module")
def fold_chains(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("src"))
    generate_df(spark, N).write.mode("overwrite").parquet(src)
    return _both_faces(
        lambda face: _run_fold_chain(spark, str(tmp_path_factory.mktemp(face)), src)
    )


@pytest.mark.parametrize("op", OPS + FOLD_OPS)
def test_driver_and_spark_faces_write_identical_segments(chains, fold_chains, op):
    both = chains if op in OPS else fold_chains
    driver, spark_face = both["driver"][0][op], both["spark"][0][op]
    assert driver["blocks"] and driver["results"][3]
    prev = {"merge_files": "clustered", "compact_blocks": "merge_files"}.get(op)
    if prev:  # the maintenance op merged something
        assert driver != both["driver"][0][prev]
    for key in ("blocks", "files", "lineage", "dvs", "types", "results"):
        assert driver[key] == spark_face[key], key


def test_jobs_per_commit_op(spark, chains, fold_chains, tmp_path):
    jobs = {**chains["driver"][1], **fold_chains["driver"][1]}
    last_id = _job_counter(spark)

    df = generate_df(spark, N)
    before = last_id()
    _dsv2_write(spark, df, str(tmp_path / "ds"))
    jobs["dsv2_write"] = last_id() - before

    off = {
        op: (n, MAX_JOBS[op]) for op, n in jobs.items()
        if n > MAX_JOBS[op] or (op in EXACT_JOBS and n != MAX_JOBS[op])
    }
    assert not off, off


# ---------------------------------------------------------------------------
# sliced row-mutation commits

SLICED_OPS = ("build", "delete", "upsert", "delete_again")


def _run_sliced_chain(spark, root: str) -> dict:
    """Build, a rewrite delete, an upsert and a second delete; each op's
    state plus its version's blocks refs."""
    base, src = generate_df(spark, N), _upsert_src(spark, 0, 20)
    steps = {
        "build": lambda ix: build_index(spark, base, root, CFG),
        "delete": lambda ix: delete_where(spark, ix, QUERIES[0])[0],
        "upsert": lambda ix: upsert_keys(spark, ix, src, "path")[0],
        "delete_again": lambda ix: delete_where(spark, ix, QUERIES[1])[0],
    }
    out, ix = {}, None
    for op in SLICED_OPS:
        ix = steps[op](ix)
        fresh = BloomIndex.load(spark, root)
        out[op] = {**_state(spark, fresh), "refs": fresh.table_refs()["blocks"]}
    return out


@pytest.fixture(scope="module")
def sliced_chains(spark, tmp_path_factory):
    """The chain with 2-row slices on both faces, and with one slice a
    commit on the driver face."""
    out = {}
    for name, rows in (("driver", 2), ("spark", 2), ("one_slice", 10**9)):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(merge_mod, "uuid", _SeqUUID())
            mp.setattr(seg, "SLICE_ROWS", rows)
            if name == "spark":
                mp.setattr(seg, "DRIVER_SEGMENT_MAX_BYTES", 0)
            out[name] = _run_sliced_chain(spark, str(tmp_path_factory.mktemp(name)))
    return out


@pytest.mark.parametrize("op", SLICED_OPS[1:])
def test_sliced_commits_keep_the_rows(sliced_chains, op):
    """Slices change where block rows live, not which rows: 2-row slices
    read back the blocks, files, lineage and query results of one-slice
    commits, and both faces cut the same slices."""
    driver, spark_face, one = (sliced_chains[k][op] for k in ("driver", "spark", "one_slice"))
    assert len(driver["refs"]) > len(one["refs"])
    for key in ("blocks", "files", "lineage", "dvs", "results"):
        assert driver[key] == one[key], key
    for key in ("blocks", "files", "lineage", "dvs", "types", "results", "refs"):
        assert driver[key] == spark_face[key], key


def test_mutation_copies_only_the_slices_it_changes(sliced_chains):
    """A delete replaces only the slices that held a block it changed;
    every other blocks ref of its parent stays referenced."""
    parent, child = sliced_chains["driver"]["upsert"], sliced_chains["driver"]["delete_again"]
    gone = set(parent["refs"]) - set(child["refs"])
    changed = {b["data_path"] for b in parent["blocks"]} - {b["data_path"] for b in child["blocks"]}
    assert 1 <= len(gone) <= len(changed)
    assert len(gone) < len(parent["refs"]) / 2


def test_rewrite_repoints_rows_of_unaligned_chunks():
    """The manifest half of a rewrite keeps every untouched row as it
    was, whatever the chunk layout of the rows it reads: here its
    ``block_id`` is one chunk and its counters five, as when the rows of
    several segments are concatenated."""
    ids = [f"b{i}" for i in range(13)]
    rows = [[80, 63], [88, 86, 100, 3, 80], [88], [82, 87, 84], [61, 96]]
    blocks = pa.Table.from_arrays(
        [
            pa.chunked_array([ids]),
            pa.chunked_array([[f"d/{b}" for b in ids]]),
            pa.chunked_array([["p"] * 13]),
            pa.chunked_array(rows, pa.int64()),
            pa.chunked_array(rows, pa.int64()),
        ],
        names=["block_id", "data_path", "partition_id", "row_count", "byte_size"],
    )
    hit = ["b1", "b4", "b7", "b10", "b11", "b12"]
    plan = pa.table({
        "block_id": hit, "new_block_id": [f"{b}x" for b in hit],
        "new_data_path": [f"d/{b}x" for b in hit], "new_rows": [61, 97, 83, 81, 59, 92],
        "new_bytes": [1] * 6, "n_deleted": [1] * 6,
    }, schema=merge_mod._PLAN)
    out = {r["block_id"]: r for r in merge_mod._apply_rewrites(blocks, plan).to_pylist()}
    flat = [n for chunk in rows for n in chunk]
    want = {b: n for b, n in zip(ids, flat) if b not in hit}
    assert {b: r["row_count"] for b, r in out.items() if not b.endswith("x")} == want
    assert out["b1x"]["row_count"] == 61 and out["b1x"]["data_path"] == "d/b1x"


def _dsv2_write(spark, df, root: str) -> None:
    from bloomsearch_spark.sources.datasource import BloomSearchDataSource

    spark.dataSource.register(BloomSearchDataSource)
    (
        df.write.format("bloomsearch")
        .option("root", root)
        .option("indexed_fields", "repo,path,lang,content")
        .option("partition_col", "lang")
        .option("max_block_rows", "100")
        .option("blocks_per_file", "2")
        .mode("overwrite").save()
    )


def _first_page_has_crc(path: str) -> bool:
    """Whether the first page header of the file's first column chunk
    carries the optional ``crc`` field (PageHeader field 4; fields 1-3
    are the required i32 type and sizes, thrift compact encoding)."""
    col = pq.ParquetFile(path).metadata.row_group(0).column(0)
    off = col.dictionary_page_offset if col.has_dictionary_page else col.data_page_offset
    with open(path, "rb") as f:
        f.seek(off)
        buf = f.read(64)
    pos = field = 0
    while True:
        head = buf[pos]
        pos += 1
        field += head >> 4
        if field >= 4:
            return field == 4 and head & 0x0F == 5  # i32
        while buf[pos] & 0x80:  # skip the varint value
            pos += 1
        pos += 1


def test_dsv2_segments_have_checksums_and_small_row_groups(spark, tmp_path):
    root = str(tmp_path / "ds")
    _dsv2_write(spark, generate_df(spark, N), root)
    ix = BloomIndex.load(spark, root)
    built = build_index(spark, generate_df(spark, 200), str(tmp_path / "b"), CFG)
    (bpart,) = fsx.list_parquet_files(built.table_paths("blocks")[0])
    assert _first_page_has_crc(fsx.resolve(bpart)[1])  # the reference layout
    for name in ("blocks", "files", "lineage"):
        (seg_dir,) = ix.table_paths(name)
        assert fsx.exists(fsx.join(seg_dir, "_SUCCESS"))
        (part,) = fsx.list_parquet_files(seg_dir)
        local = fsx.resolve(part)[1]
        md = pq.ParquetFile(local).metadata
        assert md.num_rows > 0
        assert all(md.row_group(g).num_rows <= 4096 for g in range(md.num_row_groups))
        assert _first_page_has_crc(local), name
