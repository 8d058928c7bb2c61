"""Row-level predicate DELETE + RESTORE (r06).

``delete_where`` is the ``DELETE FROM ... WHERE`` analog: bloom-pruned
candidate blocks only, untouched blocks pass through with their original
data dirs, fully-matched blocks drop from the manifest, partial matches
rewrite under fresh immutable dirs (blooms/zone maps carried — they only
over-approximate, so pruning stays sound).  ``restore`` is the
``RESTORE TABLE ... TO VERSION AS OF`` analog: a zero-copy forward
commit re-referencing the target version's segments.  Both are
row-set-changing commits, so the changefeed emits them as CDC
delete/insert events (and refuses mid-feed without ``change_events``).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bloomsearch_spark import (
    BloomIndex,
    CommitConflict,
    IndexConfig,
    build_index,
    delete_where,
    new_query,
    restore,
    search,
    vacuum,
)
from bloomsearch_spark.plans import merge as merge_mod
from bloomsearch_spark.sources import fs as fsx
from bloomsearch_spark.sources import manifest as mf
from bloomsearch_spark.sources.synthetic import generate_df, generate_pdf

CFG = IndexConfig(
    indexed_fields=("repo", "path", "lang", "content"),
    partition_expr="lang",
    max_block_rows=100,
    blocks_per_file=4,
    sha_col="content",
)


def _toks(s: pd.Series) -> pd.Series:
    return s.str.lower().str.split()


# ---------------------------------------------------------------------------
# delete_where


def test_delete_where_rewrites_only_matching_blocks(spark, tmp_root):
    idx = build_index(spark, generate_df(spark, 800), tmp_root, CFG)
    before = {
        r.block_id: r.data_path for r in idx.blocks().select("block_id", "data_path").collect()
    }
    pdf = generate_pdf(800)
    hit = _toks(pdf["content"]).map(lambda t: "needle_alpha" in t)

    out, stats = delete_where(
        spark, idx, new_query().token("needle_alpha").build()
    )
    assert stats.rows_deleted == int(hit.sum()) > 0
    assert stats.blocks_rewritten + stats.blocks_dropped >= 1
    # deleted rows are gone, every other row survives byte-exact
    assert search(spark, out, new_query().token("needle_alpha").build()).count() == 0
    got = search(spark, out, new_query().field("content").build()).toPandas()
    exp = pdf[~hit]
    assert len(got) == len(exp)
    assert sorted(got["commit"]) == sorted(exp["commit"])
    # untouched blocks keep their original dirs (no gratuitous rewrite)
    after = {
        r.block_id: r.data_path for r in out.blocks().select("block_id", "data_path").collect()
    }
    untouched = {b for b in after if b in before}
    assert untouched and all(after[b] == before[b] for b in untouched)
    rewritten = {b for b in after if b not in before}
    assert len(rewritten) == stats.blocks_rewritten
    # a needle sharing rows with the deleted one loses exactly the overlap
    beta = _toks(pdf["content"]).map(lambda t: "needle_beta" in t)
    got_beta = search(spark, out, new_query().token("needle_beta").build()).count()
    assert got_beta == int((beta & ~hit).sum())


def test_delete_where_drops_whole_partition_blocks(spark, tmp_root):
    idx = build_index(spark, generate_df(spark, 600), tmp_root, CFG)
    pdf = generate_pdf(600)
    lang = pdf["lang"].iloc[0]
    out, stats = delete_where(
        spark, idx, new_query().field_token("lang", lang).build()
    )
    # blocks are single-partition (partition_expr=lang) -> whole blocks drop
    assert stats.blocks_dropped >= 1
    assert stats.rows_deleted == int((pdf["lang"] == lang).sum())
    assert (
        search(spark, out, new_query().field_token("lang", lang).build()).count()
        == 0
    )
    assert (
        search(spark, out, new_query().field("content").build()).count()
        == int((pdf["lang"] != lang).sum())
    )


def test_delete_where_noop_commits_nothing(spark, tmp_root):
    idx = build_index(spark, generate_df(spark, 200), tmp_root, CFG)
    out, stats = delete_where(
        spark, idx, new_query().token("zz_totally_absent").build()
    )
    assert stats.rows_deleted == 0
    assert out.version == idx.version  # no empty commit
    assert mf.current_version(tmp_root) == idx.version


def test_delete_where_refuses_external(spark, tmp_root, tmp_path):
    from bloomsearch_spark import build_external_index

    src = str(tmp_path / "src.parquet")
    generate_df(spark, 100).write.parquet(src)
    idx = build_external_index(spark, spark.read.parquet(src), tmp_root, CFG)
    with pytest.raises(ValueError, match="external"):
        delete_where(spark, idx, new_query().token("needle_alpha").build())


def test_delete_where_time_travel_then_vacuum(spark, tmp_root):
    idx = build_index(spark, generate_df(spark, 400), tmp_root, CFG)
    v1 = idx.version
    pdf = generate_pdf(400)
    hit = _toks(pdf["content"]).map(lambda t: "needle_alpha" in t)
    out, stats = delete_where(
        spark, idx, new_query().token("needle_alpha").build()
    )
    # pre-delete version still answers with the deleted rows (immutable dirs)
    old = BloomIndex.load(spark, tmp_root, version=v1)
    assert (
        search(spark, old, new_query().token("needle_alpha").build()).count()
        == int(hit.sum())
    )
    # vacuum with no retention reclaims the superseded dirs
    removed = vacuum(out)
    assert removed >= stats.blocks_rewritten + stats.blocks_dropped
    # and the live table is untouched
    assert (
        search(spark, out, new_query().field("content").build()).count()
        == int((~hit).sum())
    )


def test_delete_where_conflict_retry(spark, tmp_root):
    idx = build_index(spark, generate_df(spark, 300), tmp_root, CFG)
    # another commit lands after the snapshot: plain call conflicts,
    # retrying re-plans from fresh
    build_index(
        spark, generate_df(spark, 100, seed=9), tmp_root, CFG, mode="append"
    )
    with pytest.raises(CommitConflict):
        delete_where(spark, idx, new_query().token("needle_alpha").build())
    out, stats = delete_where(
        spark, idx, new_query().token("needle_alpha").build(), conflict_retries=2
    )
    both = pd.concat([generate_pdf(300), generate_pdf(100, seed=9)])
    hit = _toks(both["content"]).map(lambda t: "needle_alpha" in t)
    assert stats.rows_deleted == int(hit.sum())
    assert search(spark, out, new_query().field("content").build()).count() == int(
        (~hit).sum()
    )


# ---------------------------------------------------------------------------
# restore


def test_restore_roundtrip_and_schema_narrowing(spark, tmp_root):
    cfg = IndexConfig(
        indexed_fields=("repo", "path", "lang", "content", "tag"),
        partition_expr="lang",
        max_block_rows=100,
        sha_col="content",
    )
    idx1 = build_index(spark, generate_df(spark, 300), tmp_root, cfg)
    idx2 = build_index(
        spark,
        generate_df(spark, 200, seed=7).withColumn("tag", F.lit("wide")),
        tmp_root, cfg, mode="append", merge_schema=True,
    )
    assert "tag" in idx2.meta()["source_columns"]

    out = restore(spark, idx2, version=idx1.version)
    assert out.version == "v00000003"  # history moves forward
    assert out.meta()["restored_version"] == idx1.version
    # identity traveled back: the widened column is gone again
    assert "tag" not in out.meta()["source_columns"]
    got = search(spark, out, new_query().field("content").build()).toPandas()
    assert len(got) == 300
    assert "tag" not in got.columns
    assert sorted(got["commit"]) == sorted(generate_pdf(300)["commit"])
    # restore shows in history
    hist = {r.name: r.operation for r in out.history().collect()}
    assert hist["v00000003"].startswith("restore")
    # restoring to CURRENT is a no-op
    assert restore(spark, out).version == out.version


def test_restore_refuses_vacuumed_target(spark, tmp_root):
    idx1 = build_index(spark, generate_df(spark, 200), tmp_root, CFG)
    idx2 = build_index(
        spark, generate_df(spark, 100, seed=7), tmp_root, CFG
    )  # overwrite: v1's blocks now unreferenced
    assert vacuum(idx2) > 0
    with pytest.raises(ValueError, match="vacuum"):
        restore(spark, idx2, version=idx1.version)


def test_restore_keeps_stream_watermark(spark, tmp_root):
    idx1 = build_index(spark, generate_df(spark, 100), tmp_root, CFG)
    idx2 = build_index(
        spark, generate_df(spark, 50, seed=7), tmp_root, CFG,
        mode="append", meta_extra={"last_stream_batch": 7},
    )
    out = restore(spark, idx2, version=idx1.version)
    # the replay guard never rewinds: a restarted stream must not
    # re-append its last committed batch onto the restored root
    assert out.meta()["last_stream_batch"] == 7


def _raising(exc):
    def f(*_a, **_k):
        raise exc

    return f


def test_restore_sweep_falls_back_only_when_the_driver_cannot_read(
    spark, tmp_root, monkeypatch
):
    """The driver existence sweep hands over to the distributed check on
    a store error only; any other error raises."""
    from tests.test_prune_engine import _job_counter

    idx1 = build_index(spark, generate_df(spark, 200), tmp_root, CFG)
    idx2 = build_index(
        spark, generate_df(spark, 100, seed=7), tmp_root, CFG, mode="append"
    )
    monkeypatch.setattr(fsx, "read_parquet_dir", _raising(RuntimeError("a bug")))
    with pytest.raises(RuntimeError, match="a bug"):
        restore(spark, idx2, version=idx1.version)
    monkeypatch.setattr(fsx, "read_parquet_dir", _raising(PermissionError("denied")))
    last_id = _job_counter(spark)
    before = last_id()
    out = restore(spark, idx2, version=idx1.version)
    assert last_id() > before  # the distributed check ran
    assert out.blocks().count() == idx1.blocks().count()


def test_restore_distributed_check_is_one_job(spark, tmp_root, monkeypatch):
    """Past RESTORE_DRIVER_CHECK_MAX the existence check is one Spark job
    that returns the missing count and at most 3 example paths."""
    from tests.test_prune_engine import _job_counter

    idx1 = build_index(spark, generate_df(spark, 400), tmp_root, CFG)
    gone = sorted(r.data_path for r in idx1.blocks().collect())
    idx2 = build_index(spark, generate_df(spark, 100, seed=7), tmp_root, CFG)
    assert vacuum(idx2) > 0 and len(gone) > 3
    monkeypatch.setattr(merge_mod, "RESTORE_DRIVER_CHECK_MAX", 0)
    last_id = _job_counter(spark)
    before = last_id()
    with pytest.raises(ValueError) as err:
        restore(spark, idx2, version=idx1.version)
    assert last_id() == before + 1
    assert f": {len(gone)} of its block data dirs were vacuumed" in str(err.value)
    assert f"(e.g. {gone[:3]})" in str(err.value)


# ---------------------------------------------------------------------------
# changefeed CDC across delete/restore


def test_change_events_delete_where(spark, tmp_root):
    from bloomsearch_spark.sources.datasource import BloomSearchDataSource

    spark.dataSource.register(BloomSearchDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    idx = build_index(spark, generate_df(spark, 300), tmp_root, CFG)
    delete_where(spark, idx, new_query().token("needle_alpha").build())

    # plain feed refuses the row-deleting commit
    with pytest.raises(Exception, match="DELETE"):
        (
            spark.read.format("bloomsearch").option("root", tmp_root)
            .option("changes_from", "0").load().count()
        )

    ev = (
        spark.read.format("bloomsearch").option("root", tmp_root)
        .option("changes_from", "0").option("change_events", "true")
        .option("commit_metadata", "true").load()
    ).collect()
    # applying the log (deletes before inserts per version) reproduces
    # the post-delete snapshot
    state: set = set()
    for r in sorted(ev, key=lambda r: (r._commit_version, r._change_type != "delete")):
        (state.discard if r._change_type == "delete" else state.add)(r.commit)
    pdf = generate_pdf(300)
    hit = _toks(pdf["content"]).map(lambda t: "needle_alpha" in t)
    assert state == set(pdf[~hit]["commit"])
    # v2's events: the touched blocks' old rows out, their kept rows back
    v2_del = [r.commit for r in ev if r._commit_version == 2 and r._change_type == "delete"]
    v2_ins = [r.commit for r in ev if r._commit_version == 2 and r._change_type == "insert"]
    assert set(pdf[hit]["commit"]) <= set(v2_del)
    assert not (set(v2_ins) & set(pdf[hit]["commit"]))
    # untouched blocks appear in NEITHER stream (symmetric subtraction)
    assert len(v2_del) < 300


def test_change_events_restore(spark, tmp_root):
    from bloomsearch_spark.sources.datasource import BloomSearchDataSource

    spark.dataSource.register(BloomSearchDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    idx1 = build_index(spark, generate_df(spark, 150), tmp_root, CFG)
    idx2 = build_index(
        spark, generate_df(spark, 60, seed=7), tmp_root, CFG, mode="append"
    )
    restore(spark, idx2, version=idx1.version)

    with pytest.raises(Exception, match="RESTORE"):
        (
            spark.read.format("bloomsearch").option("root", tmp_root)
            .option("changes_from", "0").load().count()
        )
    ev = (
        spark.read.format("bloomsearch").option("root", tmp_root)
        .option("changes_from", "0").option("change_events", "true")
        .option("commit_metadata", "true").load()
    ).collect()
    state: set = set()
    for r in sorted(ev, key=lambda r: (r._commit_version, r._change_type != "delete")):
        (state.discard if r._change_type == "delete" else state.add)(r.commit)
    assert state == set(generate_pdf(150)["commit"])
    # the rollback arrived as deletes of exactly the appended rows
    v3_del = {r.commit for r in ev if r._commit_version == 3 and r._change_type == "delete"}
    assert v3_del == set(generate_pdf(60, seed=7)["commit"])
    assert not [r for r in ev if r._commit_version == 3 and r._change_type == "insert"]


# ---------------------------------------------------------------------------
# upsert_keys


def _upsert_source(n_upd=30, n_new=10, n_table=400):
    """Source batch: n_upd full-row replacements of existing paths +
    n_new brand-new paths, all tagged with a marker token."""
    pdf = generate_pdf(n_table).iloc[:n_upd].copy()
    pdf["content"] = [f"upserted_marker row{i}" for i in range(n_upd)]
    new = pd.DataFrame(
        {
            "repo": ["org0/monorepo"] * n_new,
            "path": [f"brand/new{i}.py" for i in range(n_new)],
            "commit": [f"newcommit{i}" for i in range(n_new)],
            "lang": ["py"] * n_new,
            "content": [f"upserted_marker fresh{i}" for i in range(n_new)],
        }
    )
    return pd.concat([pdf, new], ignore_index=True)


def test_upsert_keys_one_commit_replaces_and_inserts(spark, tmp_root):
    from bloomsearch_spark import upsert_keys

    idx = build_index(spark, generate_df(spark, 400), tmp_root, CFG)
    src = _upsert_source()
    out, stats = upsert_keys(
        spark, idx, spark.createDataFrame(src), key_field="path"
    )
    # ONE commit, exactly
    assert int(out.version[1:]) == int(idx.version[1:]) + 1
    assert stats.rows_deleted == 30  # replaced rows only
    # bloom-pruned candidates: only blocks admitting one of the 40 keys
    assert 0 < stats.candidate_blocks < stats.blocks_before
    total = search(spark, out, new_query().field("content").build())
    assert total.count() == 400 + 10
    got = search(
        spark, out, new_query().token("upserted_marker").build()
    ).toPandas()
    assert len(got) == 40
    assert sorted(got["path"]) == sorted(src["path"])
    # the replaced rows' OLD content is gone
    old_row = generate_pdf(400).iloc[0]
    old_tok = old_row["content"].lower().split()[0]
    still = search(spark, out, new_query().token(old_tok).build()).toPandas()
    assert old_row["path"] not in set(
        still[still["commit"] == old_row["commit"]]["path"]
    )


def test_upsert_staged_rows_fall_back_only_when_the_driver_cannot_read(
    spark, tmp_root, monkeypatch
):
    """The staged-row footer count falls back to a count() job on a store
    error only; any other error raises."""
    from bloomsearch_spark import upsert_keys

    idx = build_index(spark, generate_df(spark, 400), tmp_root, CFG)
    src = spark.createDataFrame(_upsert_source(n_upd=5, n_new=2))
    real = fsx.parquet_dir_rows

    def on_staging(exc):
        def f(d):
            if "/staging/" in d:
                raise exc
            return real(d)

        return f

    monkeypatch.setattr(fsx, "parquet_dir_rows", on_staging(RuntimeError("a bug")))
    with pytest.raises(RuntimeError, match="a bug"):
        upsert_keys(spark, idx, src, key_field="path")
    monkeypatch.setattr(fsx, "parquet_dir_rows", on_staging(PermissionError("denied")))
    out, stats = upsert_keys(spark, idx, src, key_field="path")
    assert stats.rows_deleted == 5
    assert search(spark, out, new_query().token("upserted_marker").build()).count() == 7


def test_upsert_large_batch_full_scan_same_result(spark, tmp_root):
    from bloomsearch_spark import upsert_keys

    idx = build_index(spark, generate_df(spark, 300), tmp_root, CFG)
    src = _upsert_source(n_upd=20, n_new=5, n_table=300)
    out, stats = upsert_keys(
        spark, idx, spark.createDataFrame(src), key_field="path",
        max_pruned_keys=0,  # force the full-candidate-scan path
    )
    assert stats.candidate_blocks == stats.blocks_before
    assert stats.rows_deleted == 20
    assert search(spark, out, new_query().field("content").build()).count() == 305
    assert (
        search(spark, out, new_query().token("upserted_marker").build()).count()
        == 25
    )


def test_upsert_refuses_schema_drift(spark, tmp_root):
    from bloomsearch_spark import upsert_keys

    idx = build_index(spark, generate_df(spark, 100), tmp_root, CFG)
    bad = spark.createDataFrame(_upsert_source(5, 0, n_table=100)).withColumn(
        "extra", F.lit("x")
    )
    with pytest.raises(ValueError, match="columns"):
        upsert_keys(spark, idx, bad, key_field="path")
    with pytest.raises(ValueError, match="key field"):
        upsert_keys(
            spark, idx,
            spark.createDataFrame(_upsert_source(5, 0, n_table=100)), key_field="nope",
        )


def test_upsert_changefeed_cdc(spark, tmp_root):
    from bloomsearch_spark import upsert_keys
    from bloomsearch_spark.sources.datasource import BloomSearchDataSource

    spark.dataSource.register(BloomSearchDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    idx = build_index(spark, generate_df(spark, 200), tmp_root, CFG)
    src = _upsert_source(n_upd=15, n_new=5, n_table=200)
    upsert_keys(spark, idx, spark.createDataFrame(src), key_field="path")

    with pytest.raises(Exception, match="UPSERT"):
        (
            spark.read.format("bloomsearch").option("root", tmp_root)
            .option("changes_from", "0").load().count()
        )
    ev = (
        spark.read.format("bloomsearch").option("root", tmp_root)
        .option("changes_from", "0").option("change_events", "true")
        .option("commit_metadata", "true").load()
    ).collect()
    state: dict = {}
    for r in sorted(ev, key=lambda r: (r._commit_version, r._change_type != "delete")):
        if r._change_type == "delete":
            state.pop(r.path, None)
        else:
            state[r.path] = r.content
    snap = search(
        spark, BloomIndex.load(spark, tmp_root),
        new_query().field("content").build(),
    ).toPandas()
    assert state == dict(zip(snap["path"], snap["content"]))


def test_key_prune_query_rendering_matches_build():
    """The upsert prune tree must tokenize key values exactly as the
    BUILD rendered them (go_format_value twin): 30.0 -> "30", True ->
    "true"; un-reproducible types (dates, None) disable pruning instead
    of risking a wrongly-disqualified block (silently skipped rows)."""
    import datetime
    from types import SimpleNamespace

    from bloomsearch_spark.plans.merge import _key_prune_query

    cfg = IndexConfig(indexed_fields=("k",), partition_expr="''")
    fake = SimpleNamespace(config=cfg, meta=lambda: {})

    q = _key_prune_query(fake, "k", [30.0, 42, True, "Ab c"])
    leaves = []

    def walk(e):
        if e.kind in ("AND", "OR"):
            for ch in e.children:
                walk(ch)
        else:
            leaves.append((e.field, e.token))

    walk(q.bloom)
    toks = {t for _, t in leaves}
    assert toks == {"30", "42", "true", "ab", "c"}
    # un-reproducible renderings -> no prune (sound full scan)
    assert _key_prune_query(fake, "k", [datetime.date(2020, 1, 1)]) is None
    assert _key_prune_query(fake, "k", [None]) is None
    # unindexed key field -> no prune
    assert _key_prune_query(fake, "other", ["x"]) is None


def test_delete_where_regex_and_or_tree(spark, tmp_root):
    """delete_where takes the FULL query surface: a regex delete (final
    regex filter semantics, Q13) and an OR bloom tree, applied
    sequentially with the expected pandas state tracked across both."""
    import re

    from bloomsearch_spark import FieldToken, Or

    idx = build_index(spark, generate_df(spark, 400), tmp_root, CFG)
    state = generate_pdf(400)

    # 1. regex delete on content
    pat = "needle_(alpha|beta)"
    out, stats = delete_where(
        spark, idx, new_query().field_regex("content", pat).build()
    )
    hit = state["content"].map(lambda s: re.search(pat, s) is not None)
    assert stats.rows_deleted == int(hit.sum()) > 0
    state = state[~hit]
    assert (
        search(spark, out, new_query().field("content").build()).count()
        == len(state)
    )

    # 2. OR bloom-tree delete on two partitions
    langs = list(state["lang"].unique())[:2]
    out2, stats2 = delete_where(
        spark, out,
        new_query().match(
            Or(FieldToken("lang", langs[0]), FieldToken("lang", langs[1]))
        ).build(),
    )
    hit2 = state["lang"].isin(langs)
    assert stats2.rows_deleted == int(hit2.sum()) > 0
    state = state[~hit2]
    got = search(spark, out2, new_query().field("content").build()).toPandas()
    assert sorted(got["commit"]) == sorted(state["commit"])
