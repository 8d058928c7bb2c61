"""Row mutations need no co-location of a block's rows.

The mutation kernel matches in one map-only job whose tasks each emit a
partial per (block, part file) they saw, and unions the partials per
block.  A block whose file holds several row groups, read under a tiny
``spark.sql.files.maxPartitionBytes``, has its rows in several input
splits, so several tasks see it.  On such blocks a rewrite delete, a DV
delete, an upsert past ``max_pruned_keys`` (the shuffle-join match) and a
purge must each leave the rows a pandas model leaves, and no op may
rewrite a block twice — with the partials unioned on the driver, and on
the Spark face the gate picks for a match too large for the driver.
"""

import os
import re

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bloomsearch_spark import (
    IndexConfig,
    build_index,
    delete_where,
    new_query,
    purge_deletion_vectors,
    search,
    upsert_keys,
)
from bloomsearch_spark.plans import merge as merge_mod
from bloomsearch_spark.plans.search import scan_blocks
from bloomsearch_spark.sources import fs as fsx
from bloomsearch_spark.sources.synthetic import generate_pdf

N = 1_200
CFG = IndexConfig(
    indexed_fields=("repo", "path", "lang", "content"),
    partition_expr="lang",
    max_block_rows=200,
    blocks_per_file=2,
)
ALL = new_query().field("content").build()


def _has(pdf, token: str):
    return pdf["content"].str.lower().str.split().map(lambda t: token in t)


def _rows(spark, ix) -> list:
    return sorted(tuple(r) for r in search(spark, ix, ALL).collect())


def _block_dirs(ix) -> set:
    data = fsx.resolve(ix.data_dir)[1]
    return {
        d for f in os.listdir(data) for d in os.listdir(os.path.join(data, f))
    }


def _rewritten_once(before: set, after: set) -> None:
    """Each block dir the op wrote derives from a distinct block."""
    new = sorted(after - before)
    bases = [re.sub(r"-d[0-9a-f]{8}$", "", d) for d in new]
    assert len(set(bases)) == len(bases), new


@pytest.fixture()
def split_index(spark, tmp_root):
    """An index whose block files hold many small row groups, scanned in
    ~2 KB input splits."""
    pdf = generate_pdf(N)
    ix = build_index(spark, spark.createDataFrame(pdf), tmp_root, CFG)
    for (p,) in ix.blocks().select("data_path").collect():
        (part,) = fsx.list_parquet_files(fsx.join(ix.data_dir, p))
        local = fsx.resolve(part)[1]
        pq.write_table(pq.read_table(local), local, row_group_size=16)
    conf = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2k")
    try:
        yield ix, pdf
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", conf)


@pytest.mark.parametrize("face", ["driver", "spark"])
def test_mutations_on_blocks_spanning_input_splits(spark, split_index, monkeypatch, face):
    if face == "spark":  # the candidates' positions past the segment gate
        monkeypatch.setattr(merge_mod, "_driver_candidates", lambda blocks, surviving: None)
    ix, model = split_index
    spread = (
        scan_blocks(ix, ix.blocks())
        .select("block_id", F.spark_partition_id().alias("task"))
        .distinct()
        .groupBy("block_id")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert spread > 1  # a block's rows do span input splits

    dv_toks = ("stream", "shuffle", "bloom", "merge", "vector")
    q = new_query()
    for t in dv_toks:
        q = q.token(t)
    ix, st = delete_where(spark, ix, q.build(), use_deletion_vectors=True)
    hit = np.logical_and.reduce([_has(model, t) for t in dv_toks])
    assert st.rows_deleted == int(hit.sum()) > 0
    model = model[~hit]
    assert _rows(spark, ix) == sorted(model.itertuples(index=False, name=None))

    dirs = _block_dirs(ix)
    ix, st = delete_where(spark, ix, new_query().token("needle_alpha").build())
    hit = _has(model, "needle_alpha")
    assert st.rows_deleted == int(hit.sum()) > 0 and st.blocks_rewritten > 0
    model = model[~hit]
    assert _rows(spark, ix) == sorted(model.itertuples(index=False, name=None))
    _rewritten_once(dirs, _block_dirs(ix))

    src = model.iloc[::40].head(10).assign(content=lambda d: "upserted " + d["commit"])
    dirs = _block_dirs(ix)
    ix, st = upsert_keys(
        spark, ix, spark.createDataFrame(src), "path", max_pruned_keys=2
    )
    gone = model["path"].isin(src["path"])
    assert st.rows_deleted == int(gone.sum()) > 0
    model = pd.concat([model[~gone], src])
    assert _rows(spark, ix) == sorted(model.itertuples(index=False, name=None))
    _rewritten_once(dirs, _block_dirs(ix))

    dirs = _block_dirs(ix)
    ix, st = purge_deletion_vectors(spark, ix)
    assert st.rows_deleted > 0 and not ix.dvs_refs()
    assert _rows(spark, ix) == sorted(model.itertuples(index=False, name=None))
    _rewritten_once(dirs, _block_dirs(ix))
    assert ix.blocks().select("block_id").distinct().count() == ix.n_blocks()
