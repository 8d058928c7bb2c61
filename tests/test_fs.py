"""Storage abstraction (sources/fs.py) — the DataStore/MetaStore contract
(data_store.go:12-22, meta_store.go:8-22): every engine-side byte goes
through a scheme-agnostic fs layer.

Two axes:
- the full build -> query -> merge -> vacuum engine path over a ``file://``
  URI root (same bytes as a plain path, but resolved through the layer);
- the write/commit primitives over a SECOND scheme — pyarrow's in-memory
  mock filesystem registered as ``mock://`` — proving no hidden POSIX
  assumption (no os.* escape hatch) in the manifest/block write path.
"""

import pyarrow as pa
import pytest
from pyarrow import fs as pafs

from bloomsearch_spark import IndexConfig, build_index, new_query, search
from bloomsearch_spark.sources import fs as fsx
from bloomsearch_spark.sources import manifest as mf
from bloomsearch_spark.sources.synthetic import generate_df, generate_pdf

CFG = IndexConfig(
    indexed_fields=("repo", "path", "lang", "content"),
    partition_expr="lang",
    max_block_rows=200,
    blocks_per_file=4,
    sha_col="content",
)


def test_file_uri_root_end_to_end(spark, tmp_path):
    """build/search/merge/vacuum against a file:// URI root."""
    root = f"file://{tmp_path}/idx"
    df = generate_df(spark, 1_000)
    index = build_index(spark, df, root, CFG)
    pdf = generate_pdf(1_000)

    got = search(spark, index, new_query().token("needle_alpha").build())
    exp = pdf[pdf["content"].str.lower().str.split().map(lambda t: "needle_alpha" in t)]
    assert {r.commit for r in got.collect()} == set(exp["commit"])

    from bloomsearch_spark.plans.merge import merge_files, vacuum

    merged, stats = merge_files(spark, index, max_blocks_per_file=64)
    assert stats.files_after <= stats.files_before
    got2 = search(spark, merged, new_query().token("needle_alpha").build())
    assert {r.commit for r in got2.collect()} == set(exp["commit"])
    # nothing stale yet: metadata-only merge leaves all dirs referenced
    assert vacuum(merged) == 0


def test_mock_scheme_manifest_commit_cycle():
    """CURRENT swap + meta.json + block parquet write/read over an
    in-memory (non-POSIX) filesystem."""
    mock = pafs._MockFileSystem()
    fsx.register_scheme("mock", mock)
    try:
        root = "mock://idx"
        version, vdir = mf.next_version_dir(root)
        assert version == "v00000001"
        assert mf.current_version(root) is None

        mf.write_meta(vdir, CFG, extra={"build_id": version})
        mf.commit_version(root, version)
        assert mf.current_version(root) == version

        # meta round-trips through the layer
        import json

        meta = json.loads(fsx.read_bytes(fsx.join(vdir, "meta.json")))
        assert meta["build_id"] == version
        assert meta["config"]["partition_expr"] == "lang"

        # second commit: version bumps, CURRENT re-points
        v2, vdir2 = mf.next_version_dir(root)
        assert v2 == "v00000002"
        mf.write_meta(vdir2, CFG)
        mf.commit_version(root, v2)
        assert mf.current_version(root) == v2

        # block data write + dir read + size
        tbl = pa.table({"x": [1, 2, 3], "content": ["a b", "c d", "e f"]})
        d = fsx.join(root, "data", "file_id=f0", "block_id=b0")
        size = fsx.write_parquet_atomic(d, tbl, "part-0.parquet", compression="snappy")
        assert size > 0 and fsx.exists(fsx.join(d, "part-0.parquet"))
        back = fsx.read_parquet_dir(d)
        assert back.num_rows == 3 and back.column("x").to_pylist() == [1, 2, 3]

        # listing + conditional delete
        assert fsx.list_subdirs(fsx.join(root, "data")) == ["file_id=f0"]
        assert fsx.list_subdirs("mock://nonexistent") == []
        assert not fsx.delete_dir_if_empty(fsx.join(root, "data", "file_id=f0"))
        fsx.delete_dir(d)
        assert fsx.delete_dir_if_empty(fsx.join(root, "data", "file_id=f0"))
    finally:
        fsx.unregister_scheme("mock")


def test_mock_scheme_atomic_overwrite():
    """write_bytes_atomic must fully replace existing content (the CURRENT
    pointer contract: readers see old or new, never a mix)."""
    mock = pafs._MockFileSystem()
    fsx.register_scheme("mock", mock)
    try:
        fsx.mkdirs("mock://m")
        fsx.write_bytes_atomic("mock://m/CURRENT", b"v00000001")
        fsx.write_bytes_atomic("mock://m/CURRENT", b"v2")
        assert fsx.read_bytes("mock://m/CURRENT") == b"v2"
    finally:
        fsx.unregister_scheme("mock")


def test_resolve_forms():
    fs1, p1 = fsx.resolve("/tmp/x")
    fs2, p2 = fsx.resolve("file:///tmp/x")
    fs3, p3 = fsx.resolve("file:/tmp/x")
    assert p1 == p2 == p3 == "/tmp/x"
    assert all(isinstance(f, pafs.LocalFileSystem) for f in (fs1, fs2, fs3))
    with pytest.raises(Exception):
        fsx.resolve("unknownscheme://x")
    # a relative local path containing a colon stays local (ADVICE r03)...
    fs4, p4 = fsx.resolve("run:3/data")
    assert isinstance(fs4, pafs.LocalFileSystem) and p4 == "run:3/data"
    # ...but a single-slash scheme spelling fails LOUDLY instead of
    # silently scattering bytes across executor-local disks (r04 review)
    with pytest.raises(ValueError, match="single-slash"):
        fsx.resolve("hdfs:/nn/path")


@pytest.mark.parametrize(
    "body", [b"not json", b"\xff\xfe", b"[1, 2]", b"42"],
    ids=["bad-json", "bad-utf8", "list", "number"],
)
def test_cas_lease_takes_over_an_unreadable_lease(body):
    """A lease object that is not a JSON object names no holder and never
    expires: acquiring takes it over (conditional put on its etag)
    instead of waiting out the timeout, and the release frees it."""
    import json

    store = {"casbad://idx.lock": (body, 1)}

    def get(path):
        return store.get(path, (None, None))

    def put_if(path, data, etag):
        if store.get(path, (None, None))[1] != etag:
            return False
        store[path] = (data, (etag or 0) + 1)
        return True

    fsx.register_cas_commit_lock("casbad", get, put_if, poll=0.001, timeout=2.0)
    try:
        with fsx.commit_lock("casbad://idx"):
            assert json.loads(store["casbad://idx.lock"][0])["owner"]
        assert json.loads(store["casbad://idx.lock"][0])["owner"] == ""
    finally:
        fsx.unregister_commit_lock("casbad")


def test_row_estimate_propagates_unexpected_footer_errors(spark, tmp_path, monkeypatch):
    """The build's footer row estimate falls back to a count only for an
    unreadable footer; any other error in the footer read propagates."""
    from bloomsearch_spark.plans import build

    src = str(tmp_path / "src")
    generate_df(spark, 200).write.parquet(src)
    df = spark.read.parquet(src)
    assert build._estimate_rows(spark, df) == 200

    def corrupt(path):
        raise pa.ArrowInvalid("Parquet magic bytes not found")

    monkeypatch.setattr(build.pq, "read_metadata", corrupt)
    assert build._estimate_rows(spark, df) == 200  # the count fallback

    def bug(path):
        raise RuntimeError("bug in the footer read")

    monkeypatch.setattr(build.pq, "read_metadata", bug)
    with pytest.raises(RuntimeError, match="bug in the footer read"):
        build._estimate_rows(spark, df)
