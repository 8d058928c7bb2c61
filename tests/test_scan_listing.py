"""Scan planning lists the survivor dirs with at most one Spark task per
core (``sources.manifest.read_parquet``), and leaves the session's listing
conf exactly as it found it — unset, user-set, after a failed read and
under concurrent scans."""

import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

from bloomsearch_spark import IndexConfig, build_index
from bloomsearch_spark.operators.probe import _manifest_batches
from bloomsearch_spark.plans.search import scan_blocks
from bloomsearch_spark.sources.manifest import read_parquet
from bloomsearch_spark.sources.synthetic import generate_df

KEY = "spark.sql.sources.parallelPartitionDiscovery.parallelism"


@pytest.fixture(scope="module")
def many(spark, tmp_path_factory):
    """An index of more block dirs than Spark lists on the driver (32),
    with its full survivor list."""
    root = str(tmp_path_factory.mktemp("scan-listing"))
    cfg = IndexConfig(indexed_fields=("content",), partition_expr="lang", max_block_rows=20)
    idx = build_index(spark, generate_df(spark, 1_200), root, cfg)
    surv = [
        pair
        for b in _manifest_batches(idx.table_paths("blocks"), ["data_path", "partition_id"])
        for pair in zip(*(c.to_pylist() for c in b.columns))
    ]
    assert len(surv) > 32
    return idx, surv


@pytest.fixture()
def restore_conf(spark):
    prev = spark.conf.get(KEY, None)
    yield
    if prev is None:
        spark.conf.unset(KEY)
    else:
        spark.conf.set(KEY, prev)


def _new_jobs(spark, fn):
    """Run ``fn``; return the task counts of the stages of every Spark job
    it started, one list per job."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()

    def last_id() -> int:
        bus.waitUntilEmpty()
        jobs = sc._jsc.sc().statusStore().jobsList(None)  # newest first
        return int(jobs.apply(0).jobId()) if jobs.size() else -1

    before = last_id()
    fn()
    after = last_id()
    st = sc.statusTracker()
    return [
        [st.getStageInfo(s).numTasks for s in st.getJobInfo(j).stageIds]
        for j in range(before + 1, after + 1)
    ]


def test_one_listing_job_with_at_most_one_task_per_core(spark, many, restore_conf):
    idx, surv = many
    spark.conf.unset(KEY)
    jobs = _new_jobs(spark, lambda: scan_blocks(idx, surv))
    assert len(jobs) == 1
    assert 1 <= sum(jobs[0]) <= spark.sparkContext.defaultParallelism
    assert spark.conf.get(KEY, None) is None


def test_smaller_user_value_is_kept_and_restored(spark, many, restore_conf):
    idx, surv = many
    spark.conf.set(KEY, "2")
    jobs = _new_jobs(spark, lambda: scan_blocks(idx, surv))
    assert len(jobs) == 1 and sum(jobs[0]) <= 2
    assert spark.conf.get(KEY, None) == "2"

    spark.conf.set(KEY, "500")
    scan_blocks(idx, surv)
    assert spark.conf.get(KEY, None) == "500"


def test_conf_restored_when_the_read_raises(spark, many, restore_conf):
    idx, surv = many
    paths = idx.block_paths([p for p, _ in surv]) + [idx.data_dir + "/no-such-block"]
    for value in (None, "3"):
        if value is None:
            spark.conf.unset(KEY)
        else:
            spark.conf.set(KEY, value)
        with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
            read_parquet(spark, paths)
        assert spark.conf.get(KEY, None) == value


def test_concurrent_scans_leave_the_conf_unchanged(spark, many, restore_conf):
    """More scanning threads than cores, with frequent thread switches: no
    interleaving of set / read / restore leaks a capped value."""
    idx, surv = many
    want = scan_blocks(idx, surv).count()
    n = 2 * spark.sparkContext.defaultParallelism
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for value in (None, "7"):
            if value is None:
                spark.conf.unset(KEY)
            else:
                spark.conf.set(KEY, value)
            with ThreadPoolExecutor(n) as pool:
                futs = [pool.submit(lambda: scan_blocks(idx, surv).count()) for _ in range(n)]
                counts = [f.result(timeout=300) for f in futs]
            assert counts == [want] * n
            assert spark.conf.get(KEY, None) == value
    finally:
        sys.setswitchinterval(interval)


def test_reads_up_to_the_threshold_leave_the_conf_alone(spark, many, restore_conf, monkeypatch):
    """Spark lists up to ``parallelPartitionDiscovery.threshold`` paths
    serially on the driver, where the cap changes nothing: such reads
    write no conf and start no listing job."""
    idx, surv = many
    threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    spark.conf.unset(KEY)
    writes = []
    conf = type(spark.conf)
    for name in ("set", "unset"):
        write = getattr(conf, name)
        monkeypatch.setattr(
            conf, name, lambda self, *a, _w=write, _n=name: (writes.append((_n, a)), _w(self, *a))[1]
        )
    assert _new_jobs(spark, lambda: scan_blocks(idx, surv[:32])) == []
    assert writes == [] and spark.conf.get(KEY, None) is None

    # the threshold is the session's: below it the capped listing job runs
    prev = spark.conf.get(threshold, None)
    spark.conf.set(threshold, "8")
    try:
        writes.clear()
        jobs = _new_jobs(spark, lambda: scan_blocks(idx, surv[:20]))
        assert len(jobs) == 1 and sum(jobs[0]) <= spark.sparkContext.defaultParallelism
        assert [w[0] for w in writes] == ["set", "unset"]
    finally:
        if prev is None:
            spark.conf.unset(threshold)
        else:
            spark.conf.set(threshold, prev)
    assert spark.conf.get(KEY, None) is None
