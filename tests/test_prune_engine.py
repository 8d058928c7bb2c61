"""The one prune engine: the driver walk behind search(), deletes, upserts
and needle batches.

Pins two properties of the read path:

- past ``MAX_COLLECTED_BLOCKS`` survivors, search() scans the data root
  through a broadcast semi-join against the prefilter slice of the
  manifest — and returns exactly the rows of the path-list scan,
  deletion-vector masking included;
- building a read plan on a warm handle starts no Spark job (the prune
  runs on the driver), and ``QueryStats.finish()`` starts exactly one.
"""

import pytest
from pyspark.sql import DataFrame

from bloomsearch_spark import (
    And,
    Eq,
    FieldToken,
    IndexConfig,
    Partition,
    Token,
    build_index,
    delete_where,
    new_query,
    search,
    search_needles,
)
from bloomsearch_spark.plans import search as search_mod
from bloomsearch_spark.plans.search import candidate_blocks, scan_blocks
from bloomsearch_spark.sources.synthetic import generate_df

CFG = IndexConfig(
    indexed_fields=("repo", "path", "lang", "content"),
    partition_expr="lang",
    max_block_rows=100,
    blocks_per_file=4,
    sha_col="content",
)

QUERIES = [
    new_query().token("needle_alpha").build(),
    new_query().token("zz_absent_token").build(),
    new_query().match(And(Token("needle_alpha"), FieldToken("lang", "js"))).build(),
    new_query().match_prefilter(Partition(Eq("go"))).token("needle_alpha").build(),
]


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("prune-engine"))
    return build_index(spark, generate_df(spark, 2_000), root, CFG)


@pytest.fixture(scope="module")
def dv_idx(spark, idx):
    """The same table after a merge-on-read delete of some needle rows."""
    q = new_query().token("needle_alpha").field_token("lang", "py").build()
    out, stats = delete_where(spark, idx, q, use_deletion_vectors=True)
    assert stats.rows_deleted > 0 and out.dvs_refs()
    return out


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("which", ["idx", "dv_idx"])
def test_large_survivor_branch_returns_same_rows(spark, request, monkeypatch, which):
    index = request.getfixturevalue(which)
    want = [_rows(search(spark, index, q)) for q in QUERIES]
    stats_want = search(spark, index, QUERIES[0], with_stats=True)[1].finish()
    assert want[0] and not want[1] and want[2] and want[3]

    monkeypatch.setattr(search_mod, "MAX_COLLECTED_BLOCKS", 2)
    # the cap is really crossed: the candidates are a manifest slice
    assert isinstance(candidate_blocks(index, QUERIES[0]), DataFrame)
    assert [_rows(search(spark, index, q)) for q in QUERIES] == want
    # the funnel still counts the whole walk past the cap
    got, st = search(spark, index, QUERIES[0], with_stats=True)
    st.finish()
    for name in ("total_files", "total_blocks", "blocks_after_prefilter",
                 "files_after_file_bloom", "blocks_after_block_bloom",
                 "rows_matched", "blocks_with_matches"):
        assert getattr(st, name) == getattr(stats_want, name), name
    assert st.rows_matched == got.count()


def _job_counter(spark):
    sc = spark.sparkContext._jsc.sc()

    def last_id() -> int:
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)  # newest first
        return int(jobs.apply(0).jobId()) if jobs.size() else -1

    return last_id


def test_read_plans_start_no_jobs_and_finish_one(spark, idx):
    last_id = _job_counter(spark)
    q = QUERIES[0]
    # warm the handle (meta, source schema, compiled paths)
    search(spark, idx, q).count()
    search_needles(spark, idx, ["needle_alpha", "needle_beta"]).count()

    before = last_id()
    out = search(spark, idx, q)
    needles = search_needles(spark, idx, ["needle_alpha", "needle_beta"])
    cand = scan_blocks(idx, candidate_blocks(idx, q), with_pos=True)
    _, stats = search(spark, idx, q, with_stats=True)
    assert last_id() == before
    assert out.count() > 0 and needles.count() > 0 and cand.count() > 0

    before = last_id()
    stats.finish()
    assert last_id() == before + 1
    assert stats.rows_matched > 0 and stats.fp_blocks >= 0


# -- deletion-vector mask scoped to the survivors ---------------------------

GO_NEEDLE = QUERIES[3]  # survivors in the go partition; the DVs are in py
PY_NEEDLE = new_query().token("needle_alpha").field_token("lang", "py").build()


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _force_mask(monkeypatch, index):
    """Make every block look DV'd: scan_blocks then runs the anti-join."""
    monkeypatch.setattr(type(index), "dv_data_paths", lambda self: frozenset(
        p for p, _ in search_mod.prune_blocks(self, new_query().build())
    ))


def test_dv_free_survivors_skip_the_anti_join(spark, dv_idx, monkeypatch):
    surv = search_mod.prune_blocks(dv_idx, GO_NEEDLE)
    assert surv and dv_idx.dv_data_paths().isdisjoint(p for p, _ in surv)
    got = scan_blocks(dv_idx, surv)
    assert "LeftAnti" not in _plan(got)
    assert "LeftAnti" not in _plan(search(spark, dv_idx, GO_NEEDLE))

    _force_mask(monkeypatch, dv_idx)
    want = scan_blocks(dv_idx, surv)
    assert "LeftAnti" in _plan(want)
    assert _rows(got) == _rows(want)


def test_dv_carrying_survivors_still_drop_deleted_rows(spark, idx, dv_idx):
    surv = search_mod.prune_blocks(dv_idx, PY_NEEDLE)
    assert not dv_idx.dv_data_paths().isdisjoint(p for p, _ in surv)
    assert search(spark, idx, PY_NEEDLE).count() > 0
    out = search(spark, dv_idx, PY_NEEDLE)
    assert "LeftAnti" in _plan(out)
    assert out.count() == 0


def test_with_pos_on_dv_free_survivors_keeps_position_columns(dv_idx, monkeypatch):
    surv = search_mod.prune_blocks(dv_idx, GO_NEEDLE)
    got = scan_blocks(dv_idx, surv, with_pos=True)
    assert "LeftAnti" not in _plan(got)
    cols = ["file_id", "block_id", "_bs_pos", "_bs_fname"]
    rows = got.select(*cols).collect()
    assert rows and all(r._bs_pos is not None and r._bs_fname for r in rows)

    _force_mask(monkeypatch, dv_idx)
    want = scan_blocks(dv_idx, surv, with_pos=True).select(*cols)
    assert sorted(map(tuple, rows)) == _rows(want)


def test_time_travel_before_the_dv_commit_reads_the_deleted_rows(spark, idx, dv_idx):
    from bloomsearch_spark.sources.manifest import BloomIndex

    before = BloomIndex.load(spark, idx.root, version=idx.version)
    current = BloomIndex.load(spark, idx.root)
    assert current.version == dv_idx.version != before.version
    assert not before.dv_data_paths() and current.dv_data_paths()
    assert _rows(search(spark, before, PY_NEEDLE)) == _rows(search(spark, idx, PY_NEEDLE))
    assert search(spark, before, PY_NEEDLE).count() > 0
    assert search(spark, current, PY_NEEDLE).count() == 0


# -- one-block searches are one partition -----------------------------------


def _path_query(path: str):
    return new_query().field_token("path", path).build()


def _one_block_path(index, rows) -> str:
    """The first of ``rows``' paths whose lookup keeps exactly one block."""
    for r in rows:
        if len(search_mod.prune_blocks(index, _path_query(r.path))) == 1:
            return r.path
    raise AssertionError("no one-block path lookup")


def test_one_block_search_runs_one_job(spark, idx):
    p = _one_block_path(idx, search(spark, idx, QUERIES[0]).collect())
    last_id = _job_counter(spark)
    search(spark, idx, _path_query(p)).count()  # warm

    out = search(spark, idx, _path_query(p))
    assert "Exchange" not in out.groupBy().count()._jdf.queryExecution().executedPlan().toString()
    before = last_id()
    assert out.count() == 1
    assert last_id() == before + 1
    before = last_id()
    assert [r.path for r in out.collect()] == [p]
    assert last_id() == before + 1


def test_multi_block_search_keeps_the_scan_partitioning(spark, idx):
    surv = search_mod.prune_blocks(idx, QUERIES[0])
    n = scan_blocks(idx, surv).rdd.getNumPartitions()
    assert len(surv) > 1 and n > 1
    assert search(spark, idx, QUERIES[0]).rdd.getNumPartitions() == n


def test_one_block_search_on_a_dv_block_drops_deleted_rows(spark, idx, dv_idx):
    deleted = search(spark, idx, PY_NEEDLE).collect()
    p = _one_block_path(dv_idx, deleted)
    surv = search_mod.prune_blocks(dv_idx, _path_query(p))
    assert {d for d, _ in surv} <= dv_idx.dv_data_paths()
    assert search(spark, idx, _path_query(p)).count() == 1
    assert search(spark, dv_idx, _path_query(p)).count() == 0
    # the block's live rows are still found
    dead = {r.path for r in deleted}
    live = [r.path for r in scan_blocks(dv_idx, surv).select("path").collect()]
    assert live and not dead.intersection(live)
    assert [r.path for r in search(spark, dv_idx, _path_query(live[0])).collect()] == [live[0]]
