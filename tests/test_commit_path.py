"""The meta.json every child commit publishes.

One chain on one small index that carries every kind of table-level
state — a CHECK constraint, a renamed and a dropped column, a stream
watermark, ANALYZE stats and deletion vectors — then one child commit per
op.  Pins, per op:

- the ``source_desc`` / ``parent_version`` stamps (the changefeed and
  ``history()`` classify commits by them);
- every carried meta key and the identity keys;
- which optional manifest tables (``dvs``, ``colstats``) the version lists;
- restore takes the target's constraints, column mapping and identity and
  CURRENT's stream watermark;
- Spark jobs per metadata-only commit.

Also: a commit that fails releases every plan the op persisted, and the
append's segment-collision guard fails loudly on an unreadable committed
version.
"""

import shutil
import time

import pytest
from pyspark.sql import functions as F

from bloomsearch_spark import (
    BloomIndex,
    CommitConflict,
    IndexConfig,
    add_constraint,
    analyze,
    build_index,
    compact_blocks,
    delete_where,
    drop_column,
    drop_constraint,
    expire_blocks,
    fold_manifest,
    fsck,
    merge_files,
    new_query,
    optimize_zorder,
    purge_deletion_vectors,
    rename_column,
    restore,
    upsert_keys,
)
from bloomsearch_spark.plans import analyze as analyze_mod
from bloomsearch_spark.plans import merge as merge_mod
from bloomsearch_spark.sources import fs as fsx
from bloomsearch_spark.sources import manifest as mf
from bloomsearch_spark.streaming.ingest import append_batch
from tests.test_prune_engine import _job_counter
from tests.test_segments import _SeqUUID

N = 1_200
CFG = IndexConfig(
    indexed_fields=("k", "text", "grp"),
    partition_expr="grp",
    minmax_fields=("a", "b"),
    max_block_rows=100,
    blocks_per_file=4,
)
# what carried_meta hands every child commit, and the table identity
CARRIED = ("last_stream_batch", "constraints", "column_mapping", "retired_columns")
IDENTITY = (
    "source_columns", "source_schema", "uniform_params", "external",
    "data_dir_override",
)
# (op, its source_desc prefix, the meta keys it changes, the optional
# tables its version lists).  dvs: the setup's DV delete and upsert_dv
# masks ride every maintenance commit until zorder rebuilds every block
# from a masked scan; fold keeps the live masks as one segment; purge
# drops them.  colstats carry everywhere (restore takes the target's).
OPS = (
    ("delete", "delete", (), {"dvs", "colstats"}),
    ("upsert", "upsert", (), {"dvs", "colstats"}),
    ("upsert_dv", "upsert_dv", (), {"dvs", "colstats"}),
    ("merge_files", "merge", (), {"dvs", "colstats"}),
    ("fold", "fold", (), {"dvs", "colstats"}),
    ("compact", "compact", (), {"dvs", "colstats"}),
    ("expire", "expire", (), {"dvs", "colstats"}),
    ("fsck", "fsck", (), {"dvs", "colstats"}),
    ("zorder", "zorder", (), {"colstats"}),
    ("delete_dv", "delete_dv", (), {"dvs", "colstats"}),
    ("purge", "purge_dv", (), {"colstats"}),
    ("analyze", "analyze", ("analyzed_columns",), {"colstats"}),
    ("add_constraint", "add_constraint c_b", ("constraints",), {"colstats"}),
    ("drop_constraint", "drop_constraint c_a", ("constraints",), {"colstats"}),
    ("rename_column", "rename_column memo -> memo2", ("column_mapping",),
     {"colstats"}),
    ("drop_column", "drop_column memo2",
     ("column_mapping", "retired_columns", "source_columns", "source_schema"),
     {"colstats"}),
    ("restore", "restore", None, set()),
)
# Spark jobs each metadata commit ran on this chain (local[4]); the
# metadata-only ALTERs and restore read footers and meta.json on the driver
JOBS = {
    "add_constraint": 0, "drop_constraint": 0, "rename_column": 0,
    "restore": 0, "analyze": 5, "fold": 9,
}


def _frame(spark, lo: int, hi: int, marker: str = "row"):
    n = N
    return spark.range(lo, hi).select(
        ((F.col("id") * 7919) % n).alias("a"),
        ((F.col("id") * 104729) % n).alias("b"),
        F.concat(F.lit("k"), F.col("id")).alias("k"),
        F.concat(
            F.lit("tok"), F.col("id") % 97, F.lit(f" {marker}"), F.col("id")
        ).alias("text"),
        (F.col("id") % 3).cast("string").alias("grp"),
        F.concat(F.lit("n"), F.col("id") % 5).alias("note"),
        F.concat(F.lit("x"), F.col("id") % 7).alias("extra"),
    )


def _tok(t: str):
    return new_query().field_token("text", t).build()


def _fsck_repair(spark, ix: BloomIndex, keep: BloomIndex) -> BloomIndex:
    """Remove one live block dir that ``keep`` does not list (so the
    restore target stays intact) and let fsck repair the manifest."""
    kept = {r.data_path for r in keep.blocks(cache=False).collect()}
    live = sorted(r.data_path for r in ix.blocks(cache=False).collect())
    victim = next(p for p in live if p not in kept)
    shutil.rmtree(fsx.resolve(fsx.join(ix.data_dir, victim))[1])
    return fsck(spark, ix, repair=True)[0]


def run_chain(spark, root: str):
    """Setup, then one child commit per op on ``root``.  Returns the setup's
    restore target and, per op, ``(parent, child, spark_jobs)``."""
    last_id = _job_counter(spark)
    ix = build_index(spark, _frame(spark, 0, N), root, CFG)
    ix = add_constraint(spark, ix, "c_a", "a >= 0", validate=False)
    target = ix
    append_batch(spark, _frame(spark, N, N + 200), root, CFG, batch_id=0)
    ix = rename_column(spark, BloomIndex.load(spark, root), "note", "memo")
    ix = drop_column(spark, ix, "extra")
    analyze(spark, root, ["a", "b"])
    ix, _ = delete_where(
        spark, BloomIndex.load(spark, root), _tok("tok5"),
        use_deletion_vectors=True,
    )

    def upsert_src(lo, hi, marker):
        return _frame(spark, lo, hi, marker).drop("extra").withColumnRenamed(
            "note", "memo"
        )

    steps = {
        "delete": lambda ix: delete_where(
            spark, ix, new_query().field_token("k", "k700").build()
        )[0],
        "upsert": lambda ix: upsert_keys(
            spark, ix, upsert_src(0, 20, "up"), "k"
        )[0],
        "upsert_dv": lambda ix: upsert_keys(
            spark, ix, upsert_src(20, 40, "updv"), "k",
            use_deletion_vectors=True,
        )[0],
        "merge_files": lambda ix: merge_files(spark, ix)[0],
        "compact": lambda ix: compact_blocks(spark, ix, max_block_rows=400)[0],
        "expire": lambda ix: expire_blocks(
            spark, ix,
            F.col("block_id") == sorted(
                r.block_id for r in ix.blocks(cache=False).collect()
            )[0],
        )[0],
        "fsck": lambda ix: _fsck_repair(spark, ix, target),
        "fold": lambda ix: fold_manifest(spark, ix),
        "zorder": lambda ix: optimize_zorder(spark, ix, ["a", "b"])[0],
        "delete_dv": lambda ix: delete_where(
            spark, ix, _tok("tok11"), use_deletion_vectors=True
        )[0],
        "purge": lambda ix: purge_deletion_vectors(spark, ix)[0],
        "analyze": lambda ix: analyze(spark, root, ["a"]),
        "add_constraint": lambda ix: add_constraint(
            spark, ix, "c_b", "b >= 0", validate=False
        ),
        "drop_constraint": lambda ix: drop_constraint(spark, ix, "c_a"),
        "rename_column": lambda ix: rename_column(spark, ix, "memo", "memo2"),
        "drop_column": lambda ix: drop_column(spark, ix, "memo2"),
        "restore": lambda ix: restore(spark, ix, version=target.version),
    }
    out = {}
    for op, *_ in OPS:
        parent = BloomIndex.load(spark, root)
        parent.meta()  # warm handle
        before = last_id()
        child = steps[op](parent)
        jobs = last_id() - before
        assert child.version != parent.version, op  # the op committed
        out[op] = (parent, BloomIndex.load(spark, root, version=child.version), jobs)
    return target, out


@pytest.fixture(scope="module")
def chain(spark, tmp_path_factory):
    with pytest.MonkeyPatch.context() as mp:
        seq = _SeqUUID()
        mp.setattr(merge_mod, "uuid", seq)
        mp.setattr(analyze_mod, "uuid", seq)
        return run_chain(spark, str(tmp_path_factory.mktemp("chain")))


@pytest.mark.parametrize("op,desc,changed,tables", OPS, ids=[o[0] for o in OPS])
def test_child_commit_meta(chain, op, desc, changed, tables):
    target, steps = chain
    parent, child, _ = steps[op]
    pm, m = parent.meta(), child.meta()
    assert m["parent_version"] == parent.version
    of = target.version if op == "restore" else parent.version
    assert m["source_desc"] == f"{desc} of {of}"
    assert set(m["tables"]) - set(mf.TABLES) == tables
    if op == "fold":  # every table unions into the fold's one segment
        assert all(len(refs) == 1 for refs in m["tables"].values())
    else:  # lineage is a delta: the parent's segments stay referenced
        n = len(pm["tables"]["lineage"])
        assert m["tables"]["lineage"][:n] == pm["tables"]["lineage"]
    if op == "restore":
        return  # test_restore_takes_target_identity_and_current_watermark
    for k in (*CARRIED, *IDENTITY):
        if k not in changed:
            assert m.get(k) == pm.get(k), k
    assert pm["last_stream_batch"] == 0 and pm["constraints"]
    assert pm["column_mapping"] and pm["retired_columns"]
    assert not set(changed) - {*CARRIED, *IDENTITY, "analyzed_columns"}


def test_metadata_commits_change_only_their_keys(chain):
    _, steps = chain
    meta = {op: (p.meta(), c.meta()) for op, (p, c, _) in steps.items()}
    pm, m = meta["add_constraint"]
    assert m["constraints"] == {
        **pm["constraints"], "c_b": {"expr": "b >= 0", "action": "fail"}
    }
    pm, m = meta["drop_constraint"]
    assert set(pm["constraints"]) == {"c_a", "c_b"}
    assert m["constraints"] == {"c_b": pm["constraints"]["c_b"]}
    pm, m = meta["rename_column"]
    assert m["column_mapping"] == {
        ("memo2" if k == "memo" else k): v
        for k, v in pm["column_mapping"].items()
    }
    pm, m = meta["drop_column"]
    phys = pm["column_mapping"]["memo2"]
    assert "memo2" not in m["column_mapping"]
    assert m["retired_columns"] == [*pm["retired_columns"], phys]
    assert m["source_columns"] == [c for c in pm["source_columns"] if c != phys]
    assert phys not in m["source_schema"]
    assert meta["analyze"][1]["analyzed_columns"] == ["a"]
    for op, (_, m) in meta.items():
        if op != "analyze":
            assert "analyzed_columns" not in m, op


def test_restore_takes_target_identity_and_current_watermark(chain):
    target, steps = chain
    cur, out, _ = steps["restore"]
    tm, cm, m = target.meta(), cur.meta(), out.meta()
    assert m["restored_version"] == target.version
    for k in ("constraints", "source_columns", "source_schema", "uniform_params"):
        assert m[k] == tm[k], k
    assert m["constraints"] != cm["constraints"]
    assert "column_mapping" not in m and "retired_columns" not in m
    assert cm["column_mapping"] and cm["retired_columns"]
    assert "last_stream_batch" not in tm
    assert m["last_stream_batch"] == cm["last_stream_batch"] == 0
    for t in ("blocks", "files"):
        assert m["tables"][t] == tm["tables"][t]
    # full lineage: history is never truncated by a rollback
    assert m["tables"]["lineage"] == cm["tables"]["lineage"]
    assert m["config"] == tm["config"]


def test_jobs_per_metadata_commit(chain):
    _, steps = chain
    jobs = {op: steps[op][2] for op in JOBS}
    assert jobs == JOBS


@pytest.mark.parametrize("op", ["delete", "upsert", "upsert_dv", "delete_dv", "purge"])
def test_row_mutations_write_one_part_per_table(chain, op):
    """On the driver face a row mutation assembles its manifest tables in
    Arrow: each table of the segment it adds is one part file."""
    _, steps = chain
    parent, child, _ = steps[op]
    old = {r for refs in parent.meta()["tables"].values() for r in refs}
    new = [r for refs in child.meta()["tables"].values() for r in refs if r not in old]
    assert {r.rsplit("/", 1)[1] for r in new} >= {"lineage.parquet"}
    for ref in new:
        parts = fsx.list_parquet_files(fsx.join(child.root, "manifest", ref))
        assert len(parts) == 1, ref


# ---------------------------------------------------------------------------
# a failed commit releases what the op persisted


def _cache_empty(spark) -> bool:
    return bool(spark._jsparkSession.sharedState().cacheManager().isEmpty())


@pytest.mark.parametrize("op", ["delete", "upsert", "merge_files"])
def test_failed_commit_releases_persisted_plans(spark, tmp_path, monkeypatch, op):
    ix = build_index(spark, _frame(spark, 0, 600), str(tmp_path), CFG)
    run = {
        "delete": lambda: delete_where(spark, ix, _tok("tok7")),
        "upsert": lambda: upsert_keys(
            spark, ix, _frame(spark, 0, 20, "up"), "k"
        ),
        "merge_files": lambda: merge_files(spark, ix),
    }[op]
    spark.catalog.clearCache()

    def conflict(*a, **k):
        raise CommitConflict("forced")

    monkeypatch.setattr(mf, "publish_commit", conflict)
    with pytest.raises(CommitConflict, match="forced"):
        run()
    ix.unpersist()
    assert _cache_empty(spark)


def test_upsert_match_failure_waits_out_the_staging_job(spark, tmp_path, monkeypatch):
    """An upsert of a pruned key batch stages its rows beside the match.
    When the match fails, the op re-raises only after the staging job
    has finished, and the scratch dir it wrote goes with it."""
    from bloomsearch_spark.plans import build as build_mod

    ix = build_index(spark, _frame(spark, 0, 600), str(tmp_path), CFG)
    real, staged = build_mod.stage_rows, []

    def slow_stage(*a, **k):
        time.sleep(1.0)  # still running when the match fails
        real(*a, **k)
        staged.append(a[-1])

    def failed_match(*a, **k):
        raise RuntimeError("match failed")

    monkeypatch.setattr(build_mod, "stage_rows", slow_stage)
    monkeypatch.setattr(merge_mod, "_match", failed_match)
    with pytest.raises(RuntimeError, match="match failed"):
        upsert_keys(spark, ix, _frame(spark, 0, 20, "up"), "k")
    assert staged and not fsx.exists(staged[0])


# ---------------------------------------------------------------------------
# the append's committed-segment collision guard


def test_collision_guard_refuses_unreadable_committed_meta(tmp_path, monkeypatch):
    """A committed version whose meta.json cannot be read must fail the
    append, not skip the double-reference check."""
    root = str(tmp_path)
    for v in ("v00000001", "v00000002"):
        mf.write_meta(
            fsx.join(root, "manifest", v), CFG,
            extra={"tables": {t: [mf.segment_ref(f"{v}-s", t)] for t in mf.TABLES}},
        )
    real = fsx.read_bytes

    def read_bytes(path):
        if path.endswith("v00000001/meta.json"):
            raise PermissionError(path)
        return real(path)

    monkeypatch.setattr(fsx, "read_bytes", read_bytes)
    fin = mf.build_commit_finalize(
        root, CFG, "append", "v00000003-s", "backfill", ["a"], "b3"
    )
    with pytest.raises(PermissionError):
        fin("v00000002")
    assert not fsx.exists(fsx.join(root, "manifest", "v00000003"))
