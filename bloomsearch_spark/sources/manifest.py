"""Versioned index manifest — the MetaStore analog, with DELTA commits.

The reference splits storage into an opaque-blob DataStore and an atomic
MetaStore whose ``Update(writes, deletes)`` contract is *delta-based* —
each commit touches only the affected files' metadata (data_store.go:12-22,
meta_store.go:8-22).  Here the DataStore is Spark-written Parquet under
``<root>/data/`` and the MetaStore is a *versioned, segmented manifest*:

- each commit writes ONE immutable **segment** under
  ``<root>/manifest/segments/<name>/{blocks,files,lineage}.parquet``
  containing only that commit's delta (an append's new blocks, a merge's
  folded output, a maintenance op's lineage rows);
- a **version** is just ``<root>/manifest/v{N}/meta.json`` whose
  ``tables`` key lists, per manifest table, the ordered segment paths that
  compose it — readers union the listed segments;
- ``<root>/manifest/CURRENT`` atomically points at the committed version.

An append therefore writes O(batch) manifest bytes, never O(index): the
previous segments are *referenced*, not rewritten (the r03 scale-killer —
at 10^8 blocks the old whole-manifest rewrite moved hundreds of GB per
micro-batch).  Maintenance ops (merge/compact/expire) rewrite blocks/files
anyway — their output IS the folded segment — but append only a lineage
*delta*, so history is never recopied.  ``fold_manifest`` (plans/merge.py)
compacts many small segments into one; ``vacuum_manifest`` deletes
unreferenced segment/version dirs.

All byte-level I/O goes through the scheme-agnostic fs layer
(``sources/fs.py``).  Commits are serialized through
:func:`publish_commit`: the fs layer's per-scheme commit lock (a real
flock on local roots, a pluggable lock/conditional-put hook elsewhere)
brackets the read-CURRENT -> write-meta -> swap-CURRENT critical section,
and a committer whose inputs were computed from a superseded version gets
:class:`CommitConflict` instead of silently dropping the interleaved
commit (the lost-update guard ``MetaStore.Update``'s atomicity implies,
meta_store.go:21).  Readers resolve through CURRENT, so they never observe
a partial state.  On a real catalog this pointer swap maps to a
conditional put or an Iceberg snapshot commit; the layout is the same
Iceberg-style "data files + metadata tree (manifest list)" split.

Manifest schemas (one row per block / per file):

blocks: file_id, block_id, partition_id, row_count, token_count,
        minmax_min map<string,long>, minmax_max map<string,long>,
        expected_items, fpr, field_bloom, token_bloom, fieldtoken_bloom
files:  file_id, partition_id, block_count, row_count, token_count,
        minmax_min, minmax_max, expected_items, fpr, 3 blooms
lineage: per-block provenance + build counters (insert/merge metrics,
        north-rule requirement).
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import IndexConfig
from . import fs as fsx

BLOCKS_SCHEMA = (
    "file_id string, block_id string, partition_id string, "
    "data_path string, "
    "row_count long, token_count long, byte_size long, "
    "minmax_min map<string,long>, minmax_max map<string,long>, "
    "expected_items long, fpr double, "
    "field_bloom binary, token_bloom binary, fieldtoken_bloom binary"
)

FILES_SCHEMA = (
    "file_id string, partition_id string, block_count long, "
    "row_count long, token_count long, byte_size long, "
    "minmax_min map<string,long>, minmax_max map<string,long>, "
    "expected_items long, fpr double, "
    "field_bloom binary, token_bloom binary, fieldtoken_bloom binary"
)

LINEAGE_SCHEMA = (
    "build_id string, file_id string, block_id string, partition_id string, "
    "source_desc string, rows_indexed long, tokens_inserted long, "
    "op string, committed_at double"
)

# Deletion vectors (merge-on-read DELETE, the Delta DV analog): one row per
# (block, dv-delete commit) holding the positions that commit newly deleted
# — file-relative row indices into the block's single parquet part file.
# Deltas are DISJOINT by construction (the dv-delete scan masks existing
# DVs, so an already-deleted position can never re-match), which makes the
# live mask for a block the plain UNION of its rows across the version's
# ``dvs`` segments — associative and order-free, the same merge discipline
# as the bloom bitset OR.  ``dvs`` is an OPTIONAL fourth manifest table:
# versions without the key simply have no deletion vectors (full
# back-compat), and positions live INLINE in the manifest segment (bounded
# by match surface, never table size), so the data vacuum needs no new
# file class.  block_id keys Spark-side joins; data_path keys arrow-side
# file reads (both are 1:1 with the physical block file).
DVS_SCHEMA = (
    "block_id string, data_path string, positions array<long>, dv_count long"
)

# Column statistics (ANALYZE TABLE ... COMPUTE STATISTICS analog): one row
# per (block, column) holding a serialized HLL sketch of the column's
# values plus exact null/row counts — written by ``plans/analyze.py`` as an
# OPTIONAL fifth manifest table.  The sketch blobs merge associatively
# (elementwise register max), so a table-level approx-distinct is answered
# from the MANIFEST ALONE (zero data scan) by folding the live blocks'
# blobs — the same partials→merge discipline as the bloom bitsets and the
# sketch library; the manifest segments double as the sketch checkpoint
# store (per-partition lineage + metrics, the north-rule shape).  ``column``
# holds the PHYSICAL name (frozen under column mapping, like bloom field
# keys); readers translate logical→physical at plan time and rename back at
# the emit edge.  Rows are keyed by (block_id, data_path): any block
# rewrite changes at least one, so stale stats can never silently attach to
# different data — they just drop out of coverage.  ``dv_count_seen`` is the
# block's deletion-vector position count AT analyze time: DV deltas are
# append-only per block (purges rewrite the block under a fresh id), so any
# difference from the current count marks the stats DV-stale.
COLSTATS_SCHEMA = (
    "block_id string, data_path string, column string, "
    "hll binary, null_count long, row_count long, dv_count_seen long"
)


TABLES = ("blocks", "files", "lineage")


class CommitConflict(RuntimeError):
    """CURRENT moved between a committer's snapshot and its commit attempt.

    Raised by :func:`publish_commit` when ``expected`` is stale: the
    caller's commit content was derived from a manifest version that is no
    longer current, so publishing it would silently drop the interleaved
    commit.  Re-plan from the fresh version and retry (appends that adapt
    to any predecessor pass no ``expected`` and never see this)."""


_UNSET = object()


def _manifest_dir(root: str) -> str:
    return fsx.join(root, "manifest")


def _current_path(root: str) -> str:
    return fsx.join(_manifest_dir(root), "CURRENT")


def segments_dir(root: str) -> str:
    return fsx.join(_manifest_dir(root), "segments")


def segment_dir(root: str, name: str) -> str:
    """Absolute dir for one immutable manifest segment."""
    return fsx.join(segments_dir(root), name)


def segment_ref(name: str, table: str) -> str:
    """meta.json ``tables`` entry for a segment's table (relative to the
    manifest dir, so the whole index tree stays relocatable)."""
    return f"segments/{name}/{table}.parquet"


def segment_count(refs: list[str]) -> int:
    """Commit segments among one table's refs: the slices a row mutation
    wrote (``segments/<name>/blocks.parquet/slice=<i>``) count once."""
    return len({r.split("/", 2)[1] if r.startswith("segments/") else r for r in refs})


def staging_root(root: str, tag: str) -> str:
    """Scratch dir for a build attempt's heavy intermediate stages.
    Deterministic per (root, tag): a crashed build re-resolves the same
    dir and its _SUCCESS markers skip completed stages (resume); deleted
    after a successful commit."""
    return fsx.join(_manifest_dir(root), "staging", tag)


def root_option(options: dict) -> str | None:
    """The index root from DataSource options: ``.option("root", ...)``
    or the positional ``load("/path")`` / ``save("/path")`` /
    ``.start("/path")`` argument, which Spark delivers as the ``path``
    option — so the idiomatic spellings all work.  ``root`` wins when
    both are given (explicit over positional)."""
    return options.get("root") or options.get("path")


def current_version(root: str) -> str | None:
    """Resolve the committed manifest version, or None if never committed.

    Only a NOT-FOUND maps to None (never committed): swallowing broader
    OSErrors would let a transient I/O failure look like a fresh root and
    a subsequent commit would restart versioning at v1 over committed
    data.  pyarrow filesystems raise FileNotFoundError for missing paths;
    anything else propagates loudly."""
    try:
        return fsx.read_bytes(_current_path(root)).decode().strip() or None
    except FileNotFoundError:
        return None


def next_version_dir(root: str) -> tuple[str, str]:
    """GUESS of the next version (name, dir) — used for attempt tags and
    segment names before the commit lock is taken; the authoritative
    version is assigned inside publish_commit's finalize."""
    v = version_after(current_version(root))
    return v, fsx.join(_manifest_dir(root), v)


def commit_version(root: str, version: str) -> None:
    """Atomically advance CURRENT -> version.  Local: temp + os.replace
    (fully atomic); object store: single atomic PUT, last-writer-wins —
    safe because version dirs are immutable once written (fs.py module
    docstring).  Engine commits go through :func:`publish_commit`, which
    adds serialization + conflict detection around this swap."""
    fsx.mkdirs(_manifest_dir(root))
    fsx.write_bytes_atomic(_current_path(root), version.encode())


def publish_commit(root: str, finalize, expected=_UNSET) -> str:
    """Serialized manifest commit (the ``MetaStore.Update`` atomicity
    contract, meta_store.go:21).

    Under the root's commit lock (``fs.commit_lock`` — a real flock on
    local roots, a per-scheme registered lock/conditional-put hook
    elsewhere, documented last-writer-wins when neither exists):

    1. resolve the CURRENT version;
    2. if ``expected`` was given and CURRENT != expected, raise
       :class:`CommitConflict` WITHOUT committing — the caller's content
       (a merge/compact/expire derived from a snapshot) would drop the
       interleaved commit; the caller re-plans from the fresh version;
    3. call ``finalize(prev_version) -> version`` — it must write the new
       version dir's meta.json (its segments are already on disk; only
       O(meta.json) work happens inside the lock).  Appends pass no
       ``expected`` and simply union the FRESH predecessor's table lists,
       so two racing appenders both land, serialized;
    4. atomically swap CURRENT.

    Returns the committed version name."""
    with fsx.commit_lock(_current_path(root)):
        cur = current_version(root)
        if expected is not _UNSET and cur != expected:
            raise CommitConflict(
                f"manifest at {root} moved: expected "
                f"{expected!r}, found {cur!r}; re-plan from the current "
                "version and retry"
            )
        version = finalize(cur)
        commit_version(root, version)
        return version


def version_after(prev: str | None) -> str:
    """Next version name after ``prev`` (``None`` -> v1)."""
    n = int(prev[1:]) + 1 if prev else 1
    return f"v{n:08d}"


def parse_ts(raw) -> float:
    """Epoch-seconds float from a timestamp option value: a number
    (epoch seconds, what ``meta['created_at']`` stores), or an ISO-8601
    datetime string.  A naive ISO string is taken as UTC — commit times
    are stamped with ``time.time()``, an epoch clock, so interpreting
    naive input in some host-local zone would silently shift the
    resolved version by the zone offset."""
    if isinstance(raw, (int, float)):
        return float(raw)
    s = str(raw).strip()
    try:
        return float(s)
    except ValueError:
        pass
    from datetime import datetime, timezone

    try:
        dt = datetime.fromisoformat(s)
    except ValueError:
        raise ValueError(
            f"cannot parse timestamp {raw!r}: pass epoch seconds or an "
            "ISO-8601 datetime (naive = UTC)"
        ) from None
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


def commit_time(root: str, version: str) -> float:
    """Commit wall time of a retained version — its meta's ``created_at``,
    stamped by :func:`write_meta` inside the commit lock, before the
    CURRENT swap, so it is monotonic per root (publish_commit serializes
    commits; the only caveat is a host clock step, same as Delta/Iceberg
    timestamp resolution)."""
    meta = json.loads(
        fsx.read_bytes(fsx.join(root, "manifest", version, "meta.json"))
    )
    return float(meta.get("created_at") or 0.0)


def retained_versions(root: str) -> list[str]:
    """Committed version names still on disk, ascending — the time-travel
    window.  Excludes names past CURRENT (publish_commit's finalize writes
    the version dir *before* the CURRENT swap, so a racing commit's dir
    can exist uncommitted) and the non-version manifest dirs
    (``segments/``, ``staging/``).  One directory listing, no meta reads."""
    cur = current_version(root)
    if cur is None:
        raise FileNotFoundError(f"no committed manifest under {root}")
    return committed_versions(root, cur)


def committed_versions(root: str, current: str) -> list[str]:
    """Version dir names numbered at or below ``current`` (the CURRENT
    name the caller resolved), ascending."""
    cur_n = int(current[1:])
    return [
        n
        for n in fsx.list_subdirs(_manifest_dir(root))
        if len(n) == 9
        and n[0] == "v"
        and n[1:].isdigit()
        and int(n[1:]) <= cur_n
    ]  # list_subdirs sorts; zero-padded names sort numerically


def _bisect_commit_times(
    root: str, versions: list[str], ts: float, strict: bool
) -> int:
    """Partition point of ``versions`` (ascending, retained) by commit
    time: the first index whose commit time is ``> ts`` (strict=False) or
    ``>= ts`` (strict=True).  An explicit predicate, NOT an epsilon shift
    — at epoch magnitude (~1.7e9) a double's ULP is ~2.4e-7 s, so
    ``ts - 1e-9`` rounds back to ``ts`` and silently flips <= into <.
    O(log n) meta.json reads, memoized."""
    times: dict[int, float] = {}

    def t(i: int) -> float:
        if i not in times:
            times[i] = commit_time(root, versions[i])
        return times[i]

    lo, hi = 0, len(versions)
    while lo < hi:
        mid = (lo + hi) // 2
        left_of_point = t(mid) < ts if strict else t(mid) <= ts
        if left_of_point:
            lo = mid + 1
        else:
            hi = mid
    return lo


def version_as_of(root: str, ts) -> str:
    """Snapshot time travel: the latest retained version committed
    at-or-before ``ts`` (epoch seconds or ISO-8601 string — see
    :func:`parse_ts`).  Raises if ``ts`` predates the earliest retained
    commit (earlier versions were vacuumed or never existed) — a silent
    clamp-to-earliest would hand back rows that did not exist at ``ts``."""
    ts = parse_ts(ts)
    vs = retained_versions(root)
    i = _bisect_commit_times(root, vs, ts, strict=False)
    if i == 0:
        t0 = commit_time(root, vs[0])
        raise ValueError(
            f"timestamp {ts} predates the earliest retained version "
            f"{vs[0]} (committed at {t0}); older versions were vacuumed "
            "or never existed"
        )
    # HOLE check: the retained set can be non-contiguous (e.g. a legacy
    # back-compat version ref keeps v1 live while v2..v5 were vacuumed).
    # If ts lands strictly inside a gap, any of the VACUUMED versions may
    # have been CURRENT at that instant — their commit times are gone, so
    # resolving to the retained lower bound would silently hand back a
    # staler snapshot than the instant had.  Refuse, like pre-earliest.
    if (
        i < len(vs)
        and int(vs[i][1:]) != int(vs[i - 1][1:]) + 1
        and ts > commit_time(root, vs[i - 1])
    ):
        raise ValueError(
            f"timestamp {ts} falls between retained versions {vs[i - 1]} "
            f"and {vs[i]}, which are not consecutive — the versions "
            "between them were vacuumed and any of them may have been "
            "CURRENT at that instant; cannot resolve the snapshot "
            "faithfully (retain a wider window via vacuum_manifest's "
            "retain_versions/retain_time)"
        )
    return vs[i - 1]


def first_version_at_or_after(root: str, ts) -> str | None:
    """Earliest retained version committed at-or-after ``ts`` (changefeed
    ``starting_timestamp`` / ``changes_from_timestamp`` resolution), or
    ``None`` when ``ts`` is after the latest commit."""
    ts = parse_ts(ts)
    vs = retained_versions(root)
    i = _bisect_commit_times(root, vs, ts, strict=True)
    if i >= len(vs):
        return None
    return vs[i]


def travel_retained(
    root: str, retain_versions: int = 0, retain_time: float = 0.0
) -> list[str]:
    """SUPERSEDED versions a vacuum must keep so time travel
    (``timestamp_as_of`` / ``version=`` / the changefeed's
    ``starting_timestamp``) keeps a guaranteed window — the Delta
    ``logRetentionDuration`` analog.  CURRENT is never in the result
    (vacuums always keep it).

    - ``retain_versions=K``: the newest K versions below CURRENT — no
      meta reads, one listing.
    - ``retain_time=S``: every version committed within the last S
      seconds — O(log n_versions) meta reads (commit-time bisect).
    The two compose as a union.  Time travel PAST the retained window
    refuses loudly (``version_as_of`` pre-earliest error / missing
    version dir), exactly like Delta reads past its retention."""
    if retain_versions <= 0 and retain_time <= 0:
        return []
    vs = retained_versions(root)[:-1]  # superseded only
    keep: set[str] = set()
    if retain_versions > 0:
        keep.update(vs[-retain_versions:])
    if retain_time > 0:
        first = first_version_at_or_after(root, time.time() - retain_time)
        # first is None (nothing that recent) or CURRENT (no superseded
        # version is that young) → the window adds nothing
        if first is not None and first in vs:
            keep.update(vs[vs.index(first):])
    return sorted(keep)


# lossless type-promotion chains for merge_schema TYPE WIDENING (Delta
# type-widening analog).  Catalyst json primitive names; rank order =
# widening direction.  Cross-chain promotions (int→double) are refused:
# lossy past 2^53, and token identity under Go %v would not survive.
_WIDEN_CHAINS = (
    {"byte": 0, "short": 1, "integer": 2, "long": 3},
    {"float": 0, "double": 1},
)


def _widen_type(a, b):
    """The wider of two Catalyst json types when both sit on one widening
    chain, else None (not widenable)."""
    for chain in _WIDEN_CHAINS:
        if isinstance(a, str) and isinstance(b, str) and a in chain and b in chain:
            return a if chain[a] >= chain[b] else b
    return None


def build_commit_finalize(
    root: str,
    cfg,
    mode: str,
    seg_name: str,
    source_desc: str,
    source_columns: list,
    build_id: str,
    meta_extra: dict | None = None,
    *,
    merge_schema: bool = False,
):
    """The finalize callable every BUILD commit (batch build_index, the
    DataSource writer) passes to :func:`publish_commit` — ONE
    implementation of "append unions the fresh predecessor's table lists,
    merges bloom-param uniformity, carries the stream watermark; overwrite
    starts clean".  Runs inside the commit lock: O(meta.json) work only."""

    def finalize(prev_version: str | None) -> str:
        me = dict(meta_extra or {})
        version = version_after(prev_version)
        vdir = fsx.join(_manifest_dir(root), version)
        seg_tables = {t: [segment_ref(seg_name, t)] for t in TABLES}
        # committed-segment collision guard: batch build_index's segment
        # name is DETERMINISTIC (version guess + hash of mode|source_desc)
        # so a crashed build resumes without rewriting it.  Two IDENTICAL
        # builds racing in the same version window therefore share the
        # name — if ANY retained version already references it, a
        # same-named twin committed first (possibly followed by a fold
        # that dropped the ref from the predecessor, but whose rows it
        # absorbed) and this attempt's segment writes raced over a
        # now-immutable committed segment.  Fail loudly (never
        # re-reference it: double-counted rows) — the caller re-runs and
        # lands under a fresh version guess / segment name.  One meta.json
        # read per retained version, inside the lock — bounded by
        # retention (vacuum_manifest keeps it small), never by the index.
        if prev_version is not None:
            mine = {ref for refs in seg_tables.values() for ref in refs}
            # only COMMITTED history (numbers <= CURRENT): a crashed
            # pre-swap attempt's dir is numbered past CURRENT, and treating
            # it as committed would wedge the legitimate crash-RESUME of
            # this very build behind a false conflict
            for vdir_name in committed_versions(root, prev_version):
                try:
                    refs = BloomIndex(None, root, vdir_name).table_refs()
                except FileNotFoundError:
                    continue  # no meta.json: never committed, or vacuumed
                # any other read error propagates: a skipped check could
                # re-reference a committed segment (double-counted rows)
                if mine & {ref for rs in refs.values() for ref in rs}:
                    raise CommitConflict(
                        f"segment {seg_name!r} is already referenced by "
                        f"committed version {vdir_name} — an identical "
                        "concurrent build (same mode/source_desc, same "
                        "version window) won the race; re-run this build "
                        "(it will mint a fresh segment)"
                    )
        tables = dict(seg_tables)
        up = {
            "blocks": [cfg.max_block_rows, cfg.block_fpr],
            "files": [cfg.file_expected_items, cfg.file_fpr],
        }
        carry: dict = {}
        if mode == "append" and prev_version is not None:
            prev = BloomIndex(None, root, prev_version)
            prev_meta = prev.meta()
            if prev_meta.get("data_dir_override"):
                raise ValueError(
                    "cannot append to a SHALLOW CLONE — its block dirs "
                    "belong to the source root and new data dirs would "
                    "orphan on vacuum; deep-clone first (clone(..., "
                    "shallow=False)) or write to a fresh root"
                )
            prev_cols = prev_meta.get("source_columns")
            if prev_cols is not None and set(prev_cols) != set(source_columns):
                # schema drift is REFUSED by default, not silently
                # mangled: a footer-inferred scan over mixed-schema
                # parquet takes one file's schema, so an appended-only
                # column becomes unreadable through search() (measured:
                # rows land, values unreachable — silent data loss on
                # read).  Delta refuses the same way without mergeSchema.
                # ``merge_schema=True`` opts into ADD-COLUMN widening
                # only: the committed column set becomes the superset and
                # every read path null-fills the narrower historical
                # blocks via the stored union schema; dropping or
                # renaming columns stays refused either way.
                missing = sorted(set(prev_cols) - set(source_columns))
                extra = sorted(set(source_columns) - set(prev_cols))
                if not merge_schema:
                    raise ValueError(
                        "append schema does not match the index's columns "
                        f"(missing: {missing}, new: {extra}) — align the "
                        "DataFrame's columns with the existing index, "
                        "pass merge_schema=True to widen (add-column "
                        "only), or rebuild with mode='overwrite'"
                    )
                if missing:
                    raise ValueError(
                        "merge_schema only widens the schema (add-column): "
                        f"this append is missing existing columns {missing} "
                        "— supply them (nulls are fine) or rebuild with "
                        "mode='overwrite'"
                    )
            # type drift on a shared column corrupts the null-filled
            # union read (and the zone maps) — refuse it by default;
            # compared on the Catalyst type json, so nested struct/array
            # drift is caught too.  ``merge_schema=True`` additionally
            # opts into TYPE WIDENING (Delta type-widening analog) along
            # the lossless promotion chains byte→short→int→long and
            # float→double: the committed union schema carries the WIDEST
            # type ever seen per column and every read path casts up
            # (Spark 4's parquet reader reads int32 under a bigint
            # read-schema natively; the arrow faces end in .cast()).
            # Token identity holds across the chain — the tokenizer
            # already renders every integer width identically and treats
            # all floats as float64 (float32→float64 is value-exact), so
            # blooms written under the narrow type verify under the wide
            # one.  int→double stays refused (lossy past 2^53, and the
            # Go-%v token of 5 vs 5.0 only coincides below 1e21).
            prev_sj = prev_meta.get("source_schema")
            new_sj = me.get("source_schema")
            if prev_sj and new_sj:
                pj, nj = json.loads(prev_sj), json.loads(new_sj)
                pt = {f["name"]: f["type"] for f in pj["fields"]}
                nt = {f["name"]: f["type"] for f in nj["fields"]}
                drift = sorted(
                    c for c in pt.keys() & nt.keys() if pt[c] != nt[c]
                )
                if drift and not merge_schema:
                    raise ValueError(
                        f"append changes the type of columns {drift} — "
                        "column types are immutable: cast the DataFrame "
                        "to the index's types, pass merge_schema=True to "
                        "widen along byte→short→int→long / float→double, "
                        "or rebuild with mode='overwrite'"
                    )
                if drift:
                    bad = [
                        c
                        for c in drift
                        if _widen_type(pt[c], nt[c]) is None
                    ]
                    if bad:
                        pairs = {c: (pt[c], nt[c]) for c in bad}
                        raise ValueError(
                            "merge_schema only widens types along "
                            "byte→short→int→long and float→double; "
                            f"columns {pairs} drift outside the chains — "
                            "cast the DataFrame or rebuild with "
                            "mode='overwrite'"
                        )
                    # commit the per-column WIDEST type: the read
                    # contract must cover every block ever written,
                    # including this append's if it is the wide side
                    for f in nj["fields"]:
                        if f["name"] in drift:
                            f["type"] = _widen_type(pt[f["name"]], f["type"])
                    me["source_schema"] = json.dumps(nj)
            tables = {t: prev.table_refs()[t] + seg_tables[t] for t in TABLES}
            # deletion vectors survive appends unchanged — dropping the
            # refs here would silently RESURRECT every DV-deleted row on
            # the next read (overwrite correctly starts clean instead)
            prev_dvs = prev.table_refs().get("dvs")
            if prev_dvs:
                tables["dvs"] = list(prev_dvs)
            # ANALYZE column stats survive appends too: stats rows key by
            # (block_id, data_path), so existing blocks stay covered and the
            # new blocks simply read as not-yet-analyzed (coverage drops,
            # never goes wrong)
            prev_cs = prev.table_refs().get("colstats")
            if prev_cs:
                tables["colstats"] = list(prev_cs)
            prev_up = prev_meta.get("uniform_params") or {}
            up = {
                lvl: (v if prev_up.get(lvl) == v else None) for lvl, v in up.items()
            }
            carry = carried_meta(prev_meta, for_append=True)
            # column-mapping races: this append staged parquet under
            # physical names derived from ITS planning version's mapping.
            # A concurrent RENAME is harmless (physical names are stable
            # across renames; the fresh mapping wins below).  A concurrent
            # DROP retires a physical this append may have staged —
            # re-referencing it would resurrect the dropped column, so
            # refuse loudly (the re-run replans against the new mapping).
            retired_now = set(prev_meta.get("retired_columns") or ())
            clash = sorted(retired_now & set(source_columns))
            if clash:
                raise CommitConflict(
                    f"append staged columns {clash} that a concurrent "
                    "drop_column retired — re-run the append (it will "
                    "replan against the current column mapping)"
                )
            if me.get("column_mapping"):
                # this append EXTENDED the mapping (merge_schema new
                # columns).  Merge over the FRESH predecessor's mapping by
                # physical identity, so a concurrent rename's logical keys
                # win and only genuinely-new entries land
                fresh = prev_meta.get("column_mapping") or {}
                taken = set(fresh.values())
                merged = dict(fresh)
                for ln, pn in me["column_mapping"].items():
                    if ln not in merged and pn not in taken:
                        merged[ln] = pn
                me["column_mapping"] = merged
        write_meta(
            vdir,
            cfg,
            extra={
                "build_id": build_id,
                "source_desc": source_desc,
                "source_columns": list(source_columns),
                "uniform_params": up,
                "tables": tables,
                **carry,
                **me,
            },
        )
        return version

    return finalize


def carried_meta(parent_meta: dict, for_append: bool = False) -> dict:
    """Meta keys a child commit must inherit from its parent — the ONE
    list every commit path shares (three hand-maintained copies of it is
    how a safety-critical key gets silently dropped from one path).

    - ``last_stream_batch`` (always): the streaming replay watermark; a
      commit that drops it lets a crashed-then-restarted stream re-append
      its last batch (duplicate rows).
    - maintenance commits (``for_append=False``) additionally inherit the
      parent's identity: ``source_columns`` (result projection),
      ``uniform_params`` (merges only combine equal-param blooms, so
      uniformity carries), ``external`` (zero-copy scan path).  An APPEND
      redefines these itself (fresh columns, its own uniformity merge) and
      must NOT inherit ``external`` — appending internally-stored blocks
      to an external overlay is not supported.
    """
    out: dict = {}
    if "last_stream_batch" in parent_meta:
        out["last_stream_batch"] = parent_meta["last_stream_batch"]
    if parent_meta.get("constraints"):
        # CHECK constraints are table-level and survive EVERY commit —
        # dropping them here would silently disable the quality gate on
        # the next append
        out["constraints"] = parent_meta["constraints"]
    if parent_meta.get("column_mapping"):
        # column mapping (logical -> frozen physical name) is table-level
        # identity exactly like constraints: a commit that drops it makes
        # every read path fall back to physical names — renamed columns
        # silently revert and dropped columns resurrect
        out["column_mapping"] = parent_meta["column_mapping"]
    if parent_meta.get("retired_columns"):
        # physical names ever dropped: a later merge_schema re-add of the
        # same logical name must mint a FRESH physical name or the old
        # blocks' values resurrect under the new column
        out["retired_columns"] = parent_meta["retired_columns"]
    if not for_append:
        out["source_columns"] = parent_meta.get("source_columns")
        out["uniform_params"] = parent_meta.get("uniform_params")
        if parent_meta.get("source_schema") is not None:
            out["source_schema"] = parent_meta["source_schema"]
        if parent_meta.get("external"):
            out["external"] = True
        if parent_meta.get("data_dir_override"):
            # a shallow clone's maintenance commits must keep reading the
            # SOURCE data dir — dropping this flips reads to the clone's
            # (empty) local data dir
            out["data_dir_override"] = parent_meta["data_dir_override"]
    return out


def publish_meta(
    root: str, config: IndexConfig, meta: dict, expected=_UNSET
) -> str:
    """Publish ``meta`` as the next version's meta.json through
    :func:`publish_commit` — every commit whose meta does not depend on the
    predecessor read inside the lock: child commits (``expected`` = their
    parent, so the predecessor IS the parent) and fresh-root commits
    (clone, the external build, the synthetic manifest).  ``build_id``
    defaults to the committed version name; a ``None`` value drops its key.
    Returns the committed version name."""
    meta = {k: v for k, v in meta.items() if v is not None}

    def finalize(prev_version: str | None) -> str:
        version = version_after(prev_version)
        write_meta(
            fsx.join(_manifest_dir(root), version),
            config,
            extra={"build_id": version, **meta},
        )
        return version

    return publish_commit(root, finalize, expected)


def commit_child(
    parent: "BloomIndex",
    op: str,
    tables: dict | None = None,
    meta: dict | None = None,
    config: IndexConfig | None = None,
) -> "BloomIndex":
    """Commit a child version of ``parent`` — the ONE commit path of every
    op that derives its new state from a snapshot (maintenance rewrites,
    deletes, upserts, the metadata-only ALTERs, analyze, fold, restore):

    - ``tables`` overlays ``parent.table_refs()``; a table mapped to
      ``[]`` is dropped;
    - ``meta`` overlays :func:`carried_meta` of the parent's meta; a
      ``None`` value drops the key;
    - ``source_desc = "{op} of {parent.version}"`` and ``parent_version``
      are stamped before the overlay (the changefeed and ``history()``
      classify commits by them — keep the spelling);
    - published with ``expected=parent.version``: a commit that raced in
      since the snapshot raises :class:`CommitConflict` (callers re-plan),
      so everything is computed here, outside the lock, as plain data.

    ``config`` defaults to the parent's.  Returns the committed handle."""
    refs = dict(parent.table_refs())
    for name, rs in (tables or {}).items():
        if rs:
            refs[name] = list(rs)
        else:
            refs.pop(name, None)
    version = publish_meta(
        parent.root,
        config or parent.config,
        {
            **carried_meta(parent.meta()),
            "source_desc": f"{op} of {parent.version}",
            "parent_version": parent.version,
            **(meta or {}),
            "tables": refs,
        },
        expected=parent.version,
    )
    return BloomIndex(parent.spark, parent.root, version)


# Spark lists up to this many paths serially on the driver, more (and
# more subdirectories of one path) in a distributed job of one task per
# path, up to the cap
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_LISTING_PARALLELISM = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
# re-entrant: read_parquet may run inside capped_listing
_LISTING_LOCK = threading.RLock()


@contextmanager
def capped_listing(spark: SparkSession):
    """Cap Spark's distributed file listing at one task per core while
    the block runs: under a module lock, set the session's listing
    parallelism to min(current, ``defaultParallelism``) and restore it,
    or unset it, on exit — also when the block raises."""
    conf = spark.conf
    with _LISTING_LOCK:
        prev = conf.get(_LISTING_PARALLELISM, None)
        cap = min(int(conf.get(_LISTING_PARALLELISM)), spark.sparkContext.defaultParallelism)
        conf.set(_LISTING_PARALLELISM, str(cap))
        try:
            yield
        finally:
            if prev is None:
                conf.unset(_LISTING_PARALLELISM)
            else:
                conf.set(_LISTING_PARALLELISM, prev)


def read_parquet(spark: SparkSession, paths, reader=None) -> DataFrame:
    """``(reader or spark.read).parquet(*paths)`` for a list of LEAF paths
    (files, or directories of files: block dirs, manifest segments), with
    the file listing capped at one Spark task per core.

    The reader lists its paths eagerly: up to
    ``parallelPartitionDiscovery.threshold`` (32) serially on the
    driver, more in one distributed job of one task per path by default,
    so its cost followed the index (0.98 s at 137 block dirs, 20.1 s at
    5,000; local[4] on a 4-CPU host).  Past the threshold the read runs
    under :func:`capped_listing`: still one job — object stores keep
    their parallel listing — of at most ``defaultParallelism`` tasks.
    Up to it the cap would change nothing, so the read leaves the conf
    alone (a point search reads one block dir).  A directory with more
    subdirectories than the threshold is listed by a distributed job
    whatever the path count: read such a tree root under
    :func:`capped_listing` directly."""
    reader = spark.read if reader is None else reader
    if len(paths) <= int(spark.conf.get(_LISTING_THRESHOLD)):
        return reader.parquet(*paths)
    with capped_listing(spark):
        return reader.parquet(*paths)


@dataclass
class BloomIndex:
    """Handle to a committed index: root dir + resolved manifest version.

    Queries prune by streaming the manifest through the driver
    (operators/probe.py).  The blocks/files manifest DataFrames the
    Spark-side plans use (mutations, maintenance, metadata queries) are
    memoized (and Spark-cached) on the handle: they are manifest-sized
    (1 row per block/file) and a version is immutable.  Pass
    ``cache=False`` to ``blocks()``/``files()`` for one-off reads (e.g.
    before a merge commit)."""

    spark: SparkSession
    root: str
    version: str

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        root: str,
        version: str | None = None,
        timestamp=None,
    ) -> "BloomIndex":
        """Resolve a handle at CURRENT, or time-travel to a pinned
        ``version`` ("vNNNNNNNN") / a ``timestamp`` (epoch seconds or
        ISO-8601 — latest version committed at-or-before it).  Versions
        are immutable; any retained one reads exactly as it did when it
        was CURRENT."""
        if version is not None and timestamp is not None:
            raise ValueError(
                "pass version OR timestamp, not both — they both pin the "
                "manifest version to read"
            )
        if timestamp is not None:
            version = version_as_of(root, timestamp)
        if version is None:
            version = current_version(root)
            if version is None:
                raise FileNotFoundError(f"no committed manifest under {root}")
        elif not fsx.exists(fsx.join(root, "manifest", version, "meta.json")):
            raise FileNotFoundError(
                f"manifest version {version} of {root} does not exist "
                "(never committed, or vacuumed)"
            )
        return cls(spark, root, version)

    @property
    def data_dir(self) -> str:
        # a SHALLOW CLONE's manifest points at its source's data dir
        # (zero-copy; plans/merge.clone) — every read path resolves
        # block dirs through this property, so clones read transparently
        ov = self.meta().get("data_dir_override")
        return ov if ov else fsx.join(self.root, "data")

    @property
    def is_shallow_clone(self) -> bool:
        return bool(self.meta().get("data_dir_override"))

    @property
    def version_dir(self) -> str:
        return fsx.join(_manifest_dir(self.root), self.version)

    def table_refs(self) -> dict[str, list[str]]:
        """Per-table ordered segment paths (relative to the manifest dir)
        composing this version.  Pre-segment manifests (no ``tables`` key)
        resolve to the version-dir-local files — full back-compat."""
        refs = self.meta().get("tables")
        if refs is None:
            return {t: [f"{self.version}/{t}.parquet"] for t in TABLES}
        return refs

    def table_paths(self, name: str) -> list[str]:
        mdir = _manifest_dir(self.root)
        return [fsx.join(mdir, rel) for rel in self.table_refs()[name]]

    def _read_table(self, name: str, schema: str) -> DataFrame:
        return read_parquet(self.spark, self.table_paths(name), self.spark.read.schema(schema))

    def blocks(self, cache: bool = True) -> DataFrame:
        df = getattr(self, "_blocks_df", None)
        if df is None:
            df = self._read_table("blocks", BLOCKS_SCHEMA)
            if cache:
                df = df.cache()
                self._blocks_df = df
        return df

    def files(self, cache: bool = True) -> DataFrame:
        df = getattr(self, "_files_df", None)
        if df is None:
            df = self._read_table("files", FILES_SCHEMA)
            if cache:
                df = df.cache()
                self._files_df = df
        return df

    def n_blocks(self) -> int:
        """Block-manifest row count from parquet footers (no Spark job;
        cached per handle — versions are immutable), or a ``count()`` job
        when the driver cannot read the root through pyarrow."""
        n = self.table_rows("blocks")
        return self.blocks().count() if n is None else n

    def table_rows(self, name: str) -> int | None:
        """Exact row count of a manifest table from parquet FOOTERS (no
        Spark job; cached per handle — versions are immutable).  Segments
        are immutable row-append-free parquet, so summing footer
        ``num_rows`` equals ``count()`` exactly.  Returns None when the
        driver cannot read the root (:func:`fs.driver_rows`), and
        callers fall back to a ``count()`` job."""
        cache = getattr(self, "_table_rows", None)
        if cache is None:
            cache = self._table_rows = {}
        if name not in cache:
            try:
                fsx.resolve(self.root)
            except (ValueError, NotImplementedError):
                return None  # no pyarrow filesystem for this URI
            rows = [fsx.driver_rows(p) for p in self.table_paths(name)]
            if None in rows:
                return None
            cache[name] = sum(rows)
        return cache[name]

    def unpersist(self) -> None:
        """Release cached manifest memory (e.g. before dropping the handle)."""
        for attr in ("_blocks_df", "_files_df", "_dvs_df", "_colstats_df"):
            df = getattr(self, attr, None)
            if df is not None:
                df.unpersist()
                setattr(self, attr, None)

    def lineage(self) -> DataFrame:
        return self._read_table("lineage", LINEAGE_SCHEMA)

    def dvs_refs(self) -> list[str]:
        """Segment refs of the OPTIONAL ``dvs`` manifest table (deletion
        vectors).  Empty for versions without merge-on-read deletes —
        including every pre-DV manifest (``table_refs``'s pre-segment
        fallback never lists it)."""
        t = self.meta().get("tables")
        return list((t or {}).get("dvs") or [])

    def dvs(self, cache: bool = True) -> DataFrame | None:
        """Raw deletion-vector delta rows (DVS_SCHEMA) across this
        version's ``dvs`` segments, or None when the version has none.
        Deltas are disjoint; the live mask of a block = union of its
        rows' positions."""
        if not self.dvs_refs():
            return None
        df = getattr(self, "_dvs_df", None)
        if df is None:
            df = self._read_table("dvs", DVS_SCHEMA)
            if cache:
                df = df.cache()
                self._dvs_df = df
        return df

    def colstats_refs(self) -> list[str]:
        """Segment refs of the OPTIONAL ``colstats`` manifest table (ANALYZE
        column statistics).  Empty for never-analyzed versions."""
        t = self.meta().get("tables")
        return list((t or {}).get("colstats") or [])

    def colstats(self, cache: bool = True) -> DataFrame | None:
        """Per-(block, column) statistics rows (COLSTATS_SCHEMA) across this
        version's ``colstats`` segments, or None when never analyzed."""
        if not self.colstats_refs():
            return None
        df = getattr(self, "_colstats_df", None)
        if df is None:
            df = self._read_table("colstats", COLSTATS_SCHEMA)
            if cache:
                df = df.cache()
                self._colstats_df = df
        return df

    def dv_data_paths(self) -> frozenset:
        """``data_path``s of the blocks that carry deletion vectors in
        this version — one driver-side read of the dvs segments'
        ``data_path`` column (no Spark job; cached per handle — versions
        are immutable).  Empty without DVs.  DV rows store the manifest's
        true ``data_path``, the key survivor lists carry."""
        paths = getattr(self, "_dv_data_paths", None)
        if paths is None:
            from ..operators.probe import _manifest_batches

            mdir = _manifest_dir(self.root)
            batches = _manifest_batches(
                [fsx.join(mdir, rel) for rel in self.dvs_refs()], ["data_path"]
            )
            paths = self._dv_data_paths = frozenset(
                p for b in batches for p in b.column(0).to_pylist()
            )
        return paths

    def dv_positions(self) -> DataFrame | None:
        """Exploded deletion-vector positions ``(block_id, data_path,
        _bs_pos)`` — the anti-join side every Spark scan masks with — or
        None when the version has no DVs (the common case: zero overhead).
        Row count = deleted-and-not-yet-compacted rows, so Catalyst
        auto-broadcasts it under the usual threshold."""
        dvs = self.dvs()
        if dvs is None:
            return None
        return dvs.select(
            "block_id", "data_path", F.explode("positions").alias("_bs_pos")
        )

    def dv_agg(self) -> DataFrame | None:
        """Per-block union of deletion-vector positions ``(data_path,
        dv_positions array<long>)`` — the arrow-side mask input for
        maintenance rewrites (compact) — or None when no DVs."""
        dvs = self.dvs()
        if dvs is None:
            return None
        return dvs.groupBy("data_path").agg(
            F.flatten(F.collect_list("positions")).alias("dv_positions")
        )

    # -- column mapping (logical -> frozen physical names, r06) ----------
    # Parquet columns, bloom field keys, zone-map keys and every
    # IndexConfig field reference PHYSICAL names, frozen at first write;
    # rename/drop are metadata-only commits that edit the logical->physical
    # map (plans/colmap.py).  An absent/empty mapping means identity —
    # the universal pre-mapping back-compat case.

    def column_mapping(self) -> dict:
        """logical -> physical column names; {} = identity (no renames or
        drops ever committed)."""
        return dict(self.meta().get("column_mapping") or {})

    def retired_columns(self) -> list:
        """Physical names of dropped columns (still present in old block
        files; excluded from every logical read)."""
        return list(self.meta().get("retired_columns") or [])

    def to_physical(self, name: str) -> str:
        """Logical column name -> physical.  Unknown logical names under
        an active mapping translate to a reserved never-existing physical
        name, so queries on them deterministically match nothing (the
        same 'not indexed means cannot match' rule as verify.py)."""
        m = self.meta().get("column_mapping")
        if not m:
            return name
        return m.get(name, f"__bs_dropped__{name}")

    def logical_columns(self) -> list | None:
        """Logical source columns in stored physical order (the user-facing
        schema), or None when the meta records no source_columns."""
        cols = self.meta().get("source_columns")
        if cols is None:
            return None
        m = self.meta().get("column_mapping")
        if not m:
            return list(cols)
        inv = {p: l for l, p in m.items()}
        return [inv[p] for p in cols if p in inv]

    def logical_projection(self, columns) -> list[Column]:
        """Select list taking physical ``columns`` to logical names:
        mapped columns alias to their logical name, retired (dropped)
        physicals are excluded, anything else (internal columns) passes
        through."""
        m = self.meta().get("column_mapping") or {}
        inv = {p: l for l, p in m.items()}
        retired = set(self.meta().get("retired_columns") or [])
        return [
            F.col(c).alias(inv[c]) if c in inv else F.col(c)
            for c in columns
            if c in inv or c not in retired
        ]

    def rename_to_logical(self, df: DataFrame) -> DataFrame:
        """Physical-named frame -> logical-named projection
        (:meth:`logical_projection`).  Identity no-op when the table has
        no mapping."""
        if not self.meta().get("column_mapping"):
            return df
        return df.select(*self.logical_projection(df.columns))

    def meta(self) -> dict:
        m = getattr(self, "_meta", None)
        if m is None:
            m = json.loads(fsx.read_bytes(fsx.join(self.version_dir, "meta.json")))
            self._meta = m
        return m

    @property
    def config(self) -> IndexConfig:
        return IndexConfig.from_dict(self.meta()["config"])

    def history(self, limit: int | None = None) -> DataFrame:
        """Commit history of the RETAINED versions, newest-first — the
        ``DESCRIBE HISTORY`` analog.  Columns: ``version`` (number),
        ``name`` (vNNNNNNNN), ``timestamp`` (commit instant, rendered in
        the SESSION time zone — human display), ``timestamp_epoch``
        (the same instant as epoch seconds — the unambiguous
        ``timestamp_as_of`` input: a collected non-UTC-session timestamp
        stringifies as naive LOCAL wall time, which ``parse_ts`` would
        pin as UTC and shift by the zone offset), ``operation`` ("build"
        for
        append/overwrite commits, else the maintenance op: merge /
        compact / expire / fold), ``source_desc``, ``parent_version``
        (maintenance commits only), ``is_maintenance``,
        ``streaming_batch`` (the exactly-once replay watermark, if the
        streaming sink has written), ``n_segments`` (manifest breadth —
        watch it to schedule ``fold_manifest``), and the operation
        metrics (Delta ``operationMetrics`` analog) computed from the
        segments each commit ADDED relative to its predecessor:
        ``blocks_written`` / ``files_written`` (added manifest entries,
        parquet footer counts), ``rows_written`` / ``bytes_written``
        (summed over the added blocks segments, column-pruned read).
        Metrics are NULL when the predecessor meta was vacuumed (the
        delta is uncomputable) or for pre-segment legacy versions; for a
        maintenance commit they describe its rewritten output (a fold's
        consolidated segment, a merge's merged blocks), mirroring
        OPTIMIZE's operationMetrics.

        Driver cost: one meta.json per retained version, newest-first,
        bounded by ``limit`` BEFORE any read — pass it on long-retention
        roots (the changefeed planner has the same O(versions) shape) —
        plus one footer/column-pruned read per segment ADDED within the
        window (a segment is added by exactly one version, so this is
        O(segments), never O(blocks))."""
        import pyarrow.compute as pc

        names = retained_versions(self.root)[::-1]
        if limit is not None:
            names = names[: max(limit, 0)]
        mdir = _manifest_dir(self.root)
        metas: dict[str, dict | None] = {}

        def _meta_of(name: str) -> dict | None:
            if name not in metas:
                try:
                    metas[name] = json.loads(
                        fsx.read_bytes(fsx.join(mdir, name, "meta.json"))
                    )
                except FileNotFoundError:
                    metas[name] = None  # vacuumed predecessor
            return metas[name]

        rows = []
        for name in names:
            m = _meta_of(name)
            parent = m.get("parent_version")
            n = int(name[1:])
            blocks_w = files_w = rows_w = bytes_w = None
            tables = m.get("tables")
            prev_tables = (
                {} if n == 1 else (lambda pm: pm and pm.get("tables"))(
                    _meta_of(f"v{n - 1:08d}")
                )
            )
            if tables is not None and prev_tables is not None:
                added = {
                    t: [
                        r
                        for r in tables.get(t, ())
                        if r not in set(prev_tables.get(t, ()))
                    ]
                    for t in ("blocks", "files")
                }
                blocks_w = sum(
                    fsx.parquet_dir_rows(fsx.join(mdir, r))
                    for r in added["blocks"]
                )
                files_w = sum(
                    fsx.parquet_dir_rows(fsx.join(mdir, r))
                    for r in added["files"]
                )
                rows_w = bytes_w = 0
                for r in added["blocks"]:
                    t = fsx.read_parquet_dir(
                        fsx.join(mdir, r), columns=["row_count", "byte_size"]
                    )
                    rows_w += pc.sum(t.column("row_count")).as_py() or 0
                    bytes_w += pc.sum(t.column("byte_size")).as_py() or 0
                # deletion-vector deltas SUBTRACT (numDeletedRows analog):
                # a dv delete nets negative, a dv upsert nets inserts
                # minus replaced — zero added bytes either way
                for r in [
                    x
                    for x in tables.get("dvs", ())
                    if x not in set(prev_tables.get("dvs", ()))
                ]:
                    t = fsx.read_parquet_dir(
                        fsx.join(mdir, r), columns=["dv_count"]
                    )
                    rows_w -= pc.sum(t.column("dv_count")).as_py() or 0
            desc = m.get("source_desc") or ""
            sb = m.get("last_stream_batch")
            refs = m.get("tables") or {}
            # bump past Spark's microsecond timestamp truncation: a
            # truncated instant would be BEFORE the true commit time, so
            # feeding it back into timestamp_as_of would resolve one
            # version earlier.  +2µs survives double rounding at epoch
            # magnitude (ULP ≈ 0.24µs) and stays far under any real
            # inter-commit gap (commits serialize through the lock).
            created = float(m.get("created_at") or 0.0)
            rows.append(
                (
                    int(name[1:]),
                    name,
                    created + 2e-6,
                    created + 2e-6,
                    desc.split(" of ")[0] if parent else "build",
                    desc,
                    int(parent[1:]) if parent else None,
                    parent is not None,
                    int(sb) if sb is not None else None,
                    len(refs.get("blocks", ())),
                    blocks_w,
                    files_w,
                    rows_w,
                    bytes_w,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version long, name string, timestamp double, "
            "timestamp_epoch double, operation string, "
            "source_desc string, parent_version long, is_maintenance boolean, "
            "streaming_batch long, n_segments long, blocks_written long, "
            "files_written long, rows_written long, bytes_written long",
        ).withColumn("timestamp", F.timestamp_seconds(F.col("timestamp")))

    def block_paths(self, data_paths: list[str]) -> list[str]:
        """Absolute data directories for manifest ``data_path`` values — the
        pruned scan set (the reference's MaybeFile block list,
        meta_store.go:33-41).  ``data_path`` is relative to ``data_dir`` so
        the whole index tree is relocatable; after a metadata-only merge it
        may point at a directory named for the block's *original* file_id."""
        return [fsx.join(self.data_dir, p) for p in data_paths]


def write_meta(version_dir: str, config: IndexConfig, extra: dict | None = None) -> None:
    """Write meta.json atomically (fs-layer single-file atomic write):
    concurrent readers of an already-visible version dir must never observe
    a truncated file."""
    fsx.mkdirs(version_dir)
    meta = {"config": config.to_dict(), "created_at": time.time()}
    if extra:
        meta.update(extra)
    fsx.write_bytes_atomic(
        fsx.join(version_dir, "meta.json"), json.dumps(meta, indent=2).encode()
    )
