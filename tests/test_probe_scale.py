"""Prune behavior on a manifest-scale synthetic index (r04).

synthesize_probe_manifest writes a manifest-ONLY index (real bitsets, no
data files) so the driver prune walk can be exercised at tens of
thousands of blocks, where data-backed fixtures are too expensive.
Asserts that every planted block survives, that false-positive survivors
stay within the configured fpr, and that the hierarchy delivers its
point: the file level prunes the block-bloom workload to a small
fraction of the manifest.  Wall-clock numbers come from
scripts/probe_scale_bench.py — timing asserts would be flaky under host
drift."""

import pytest

from bloomsearch_spark import new_query
from bloomsearch_spark.plans.search import QueryStats, prune_blocks
from bloomsearch_spark.sources.synthetic import synthesize_probe_manifest

N_BLOCKS = 60_000
BPF = 1_000
MATCH_EVERY = 10_000


@pytest.fixture(scope="module")
def probe_idx(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("probe-scale"))
    return synthesize_probe_manifest(
        spark, root, n_blocks=N_BLOCKS, blocks_per_file=BPF,
        match_every=MATCH_EVERY,
    )


def _survivors(idx, q) -> tuple[set, QueryStats]:
    stats = QueryStats()
    surv = {p for p, _ in prune_blocks(idx, q, stats)}
    assert len(surv) == stats.blocks_after_block_bloom
    return surv, stats


def test_planted_blocks_survive_within_fp_bound(probe_idx):
    """Every planted block survives (no false negatives); the FP overhead
    is bounded by the configured fpr.  Final query ROWS are exact either
    way — verify discards FP blocks."""
    assert probe_idx.n_blocks() == N_BLOCKS
    surv, _ = _survivors(probe_idx, new_query().token("needle").build())
    planted = {
        f"file_id=f{i // BPF:08d}/block_id=b{i:09d}"
        for i in range(0, N_BLOCKS, MATCH_EVERY)
    }
    assert planted <= surv
    assert len(surv) <= len(planted) + int(0.02 * N_BLOCKS) + 10


def test_file_level_prunes_block_workload(probe_idx):
    """The hierarchy's point: block blooms are only evaluated for blocks
    of files that survived the file probe — a small fraction of the
    manifest (sub-linear block-probe work at 10^7+ blocks)."""
    _, st = _survivors(probe_idx, new_query().token("needle").build())
    planted_files = len(range(0, N_BLOCKS, MATCH_EVERY))
    assert st.total_files == N_BLOCKS // BPF
    assert st.total_blocks == st.blocks_after_prefilter == N_BLOCKS
    assert planted_files <= st.files_after_file_bloom < st.total_files
    # block blooms evaluated under the hierarchy <= fsurv * blocks_per_file
    assert st.files_after_file_bloom * BPF <= 0.25 * N_BLOCKS
    assert st.blocks_after_block_bloom <= st.files_after_file_bloom * BPF


def test_miss_token_prunes_to_fp_floor(probe_idx):
    """An absent token survives only at the bloom false-positive rate
    (bitsets are realistic ~50%-fill randoms, so FPs are nonzero by
    design) — and the file level prunes most of the block-level FPs (a
    block FP rarely co-occurs with a file FP)."""
    surv, st = _survivors(probe_idx, new_query().token("zz_absent").build())
    assert len(surv) <= int(0.02 * N_BLOCKS) + 10
    assert st.files_after_file_bloom <= int(0.05 * st.total_files) + 1
