"""The benchmark's workloads: seeded corpus, index, op mixes and oracle.

Every workload builds the same kind of index over its own seeded corpus and
then runs a closed loop with one client: the next op starts when the
previous one has returned.  Each op's result is checked against an oracle
computed before the timed loop (planted needle rows, the unique ``path``
key of every row, DuckDB over the source parquet, and a key model that
``ingest_mutate`` updates with every write).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import defaultdict, deque

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import bloomsearch_spark as bs
from bloomsearch_spark import bloom, tokenizer
from bloomsearch_spark.operators.verify import compile_bloom_verify, compile_regex_verify
from bloomsearch_spark.plans import search as search_plan
from bloomsearch_spark.sources.datasource import prune_blocks_driver
from bloomsearch_spark.sources.synthetic import LANGS, generate_pdf, needle_rows

# ~205 blocks of up to 300 rows over 6 `lang` partitions, 4 blocks per file:
# the block count of a 500k-row index at 2 000 rows a block, with an eighth
# of its rows to scan, so that a run fits in its time.
N_ROWS = 60_000
SOURCE_FILES = 4
INDEX_CFG = bs.IndexConfig(
    indexed_fields=("repo", "path", "lang", "content"),
    partition_expr="lang",
    minmax_fields=("n_chars",),
    max_block_rows=300,
    blocks_per_file=4,
    block_fpr=0.01,
    file_fpr=0.01,
    file_expected_items=20_000,
)
SETUP_REPS = 3
APPEND_ROWS = 2_000
APPEND_BATCHES = 5  # more cycles than a 60 s run has time for
UPSERT_KEYS = 8
LOOKUP_CYCLE = ("hit", "miss", "and", "pre", "hit", "ds", "hit", "miss", "and",
                "pre", "hit", "hit", "miss", "and", "pre", "hit", "needles")
READ_BACK_QUERIES = 4  # point searches on each fresh handle after its first
NEEDLES = 64
# words of the synthetic vocabulary: each is in most rows, so its blooms
# keep nearly every block
COMMON_WORDS = ["bloom", "merge", "hash", "stream", "arrow", "column", "token", "batch"]
REGEXES = [r"needle_(alpha|beta)", r"Class (def|func)", r"x\+=1 err!=nil", r"SELECT from WHERE"]


def tree_bytes_files(path: str) -> tuple[int, int]:
    nbytes = nfiles = 0
    for d, _, files in os.walk(path):
        for f in files:
            nbytes += os.path.getsize(os.path.join(d, f))
            nfiles += 1
    return nbytes, nfiles


def write_source(pdf: pd.DataFrame, out_dir: str, n_files: int) -> int:
    """Write ``pdf`` (plus the derived ``n_chars`` minmax column) as parquet,
    clustered by ``lang`` so the map-only build fills its blocks.  Returns
    the bytes written."""
    pdf = pdf.assign(n_chars=pdf["content"].str.len().astype("int64"))
    pdf = pdf.sort_values("lang", kind="stable").reset_index(drop=True)
    os.makedirs(out_dir, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
        table = pa.Table.from_pandas(pdf.iloc[part], preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"part-{i:03d}.parquet"))
    return tree_bytes_files(out_dir)[0]


def path_query(p):
    return bs.new_query().field_token("path", p).build()


def median(xs):
    return statistics.median(xs) if xs else None


class Bench:
    """State of one run: the session, the oracle and every op's outcome."""

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.rng = np.random.RandomState(seed)
        self.samples: dict[str, list[float]] = defaultdict(list)  # ms
        self.attempted = 0
        self.failed = 0
        self.record: dict = {}
        self.layer: dict = {}  # traced-run per-layer values
        self.extra_layer: dict = {}  # traced-run values of one workload only
        self.commits: list[tuple[str, int, int, int]] = []  # kind, bytes, files, rows
        self.build_ms: list[float] = []
        self.merge_stats: dict[str, list] = defaultdict(list)

    # -- ops ---------------------------------------------------------------

    def run_op(self, kind: str, fn, expect, what: str) -> None:
        """Run one checked op; its wall goes to ``samples[kind]``."""
        self.attempted += 1
        with self.tracer.op(kind):
            t0 = time.perf_counter()
            try:
                got = fn()
            except Exception as e:  # a failed op is counted, not fatal
                got = f"raised {type(e).__name__}: {str(e).splitlines()[0][:200]}"
            dt = (time.perf_counter() - t0) * 1000.0
        if got != expect:
            self.failed += 1
            print(f"MISMATCH {kind} {what}: expected {expect!r}, got {got!r}", flush=True)
            return
        self.samples[kind].append(dt)

    def count_search(self, ix, q) -> int:
        df = bs.search(self.spark, ix, q)
        with self.tracer.span("search.exec"):
            return df.count()

    # -- corpus and index --------------------------------------------------

    def make_corpus(self) -> None:
        t0 = time.perf_counter()
        self.pdf = generate_pdf(N_ROWS, self.seed)
        self.src_dir = os.path.join(self.work, "src", "corpus")
        self.source_bytes = write_source(self.pdf, self.src_dir, SOURCE_FILES)
        self.paths = self.pdf["path"].to_numpy()
        self.lang_of = dict(zip(self.pdf["path"], self.pdf["lang"]))
        self.nchars_of = dict(zip(self.pdf["path"], self.pdf["content"].str.len()))
        self.record["input_gen_s"] = time.perf_counter() - t0

    def duck(self):
        con = duckdb.connect()
        con.execute(f"SET threads TO {os.cpu_count() or 1}")  # before the loop: Spark is idle
        con.execute(
            f"CREATE VIEW src AS SELECT * FROM read_parquet('{self.src_dir}/*.parquet')"
        )
        return con

    def setup(self, workload):
        """Build the index SETUP_REPS times (each into a fresh root, the
        previous one removed), then warm the last handle up.  Returns the
        handle and the set-up wall: median build + warm-up."""
        src = self.spark.read.parquet(self.src_dir)
        ix = None
        for rep in range(SETUP_REPS):
            if ix is not None:
                self.spark.catalog.clearCache()
                shutil.rmtree(ix.root, ignore_errors=True)
            root = os.path.join(self.work, "idx", f"rep{rep}")
            t0 = time.perf_counter()
            with self.tracer.op("build.initial"):
                ix = bs.build_index(self.spark, src, root, INDEX_CFG)
            self.build_ms.append((time.perf_counter() - t0) * 1000.0)
            if self.tracer.enabled:
                self.commits.append(("build.initial", *tree_bytes_files(root), N_ROWS))
        t0 = time.perf_counter()
        workload.warmup(ix)
        warmup_s = time.perf_counter() - t0
        self.record.update({
            "build_ms": self.build_ms,
            "warmup_s": warmup_s,
            "warmup_ms": list(self.samples["warmup"]),
            "rows": N_ROWS,
            "blocks": ix.n_blocks(),
            "files": ix.table_rows("files"),
        })
        return ix, median(self.build_ms) / 1000.0 + warmup_s

    # -- traced-run probes (untimed) ---------------------------------------

    def probe_searches(self, ix, queries: list, overhead_pairs: int) -> None:
        """Funnel counters, verify self time and listing count for one
        query of each search kind, and the tracing overhead over
        ``overhead_pairs`` replays of them."""
        spark, cfg = self.spark, ix.config
        tok = tokenizer.get_tokenizer(cfg.tokenizer)
        tr = self.tracer
        totals = defaultdict(int)
        verify_ms, traced, untraced = [], [], []
        for q in queries:
            tr.recording = False
            out, st = bs.search(spark, ix, q, with_stats=True)
            rows_out = out.count()
            st.finish()
            totals["blocks_total"] += st.total_blocks
            totals["blocks_survived"] += st.blocks_after_block_bloom
            totals["fp_blocks"] += st.fp_blocks or 0
            totals["blocks_with_matches"] += st.blocks_with_matches or 0
            totals["rows_scanned"] += st.rows_scanned or 0
            totals["rows_out"] += rows_out
            frame = search_plan.scan_blocks(ix, search_plan.prune_blocks(ix, q))
            totals["paths_listed"] += sum(1 for f in frame.inputFiles() if ix.data_dir in f)
            cols = frame.columns
            pred = compile_bloom_verify(q.bloom, cfg.indexed_fields, cols, tok) & (
                compile_regex_verify(q.regex, cols)
            )
            read_cols = [c for c in cfg.indexed_fields if c in cols]
            twin, verified = [], []
            for _ in range(2):
                t0 = time.perf_counter()
                frame.agg(*[F.max(F.length(c)) for c in read_cols]).collect()
                t1 = time.perf_counter()
                frame.filter(pred).count()
                twin.append(t1 - t0)
                verified.append(time.perf_counter() - t1)
            verify_ms.append((min(verified) - min(twin)) * 1000.0)
        # tracing overhead: the same searches untraced and traced, in turn
        for i in range(overhead_pairs):
            q = queries[i % len(queries)]
            for on in (False, True) if i % 2 == 0 else (True, False):
                tr.recording = on
                t0 = time.perf_counter()
                with tr.op("overhead_probe"):
                    self.count_search(ix, q)
                (traced if on else untraced).append((time.perf_counter() - t0) * 1000.0)
        tr.recording = True
        n = len(queries)
        survived = totals["blocks_survived"]
        self.layer.update({
            "search.blocks_total": totals["blocks_total"] / n,
            "search.blocks_survived": survived / n,
            "search.fp_blocks": totals["fp_blocks"] / n,
            "search.paths_listed": totals["paths_listed"] / n,
            "search.rows_scanned": totals["rows_scanned"] / n,
            "search.useful_block_ratio": totals["blocks_with_matches"] / survived if survived else 0.0,
            "verify.self_ms": median(verify_ms),
            "verify.rows_in": totals["rows_scanned"] / n,
            "verify.rows_out": totals["rows_out"] / n,
            "verify.match_ratio": totals["rows_out"] / totals["rows_scanned"] if totals["rows_scanned"] else 0.0,
            "trace.overhead_ms": median(traced) - median(untraced),
        })

    def probe_manifest(self, root: str) -> None:
        self.tracer.recording = False
        load_ms, first_ms = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            h = bs.BloomIndex.load(self.spark, root)
            t1 = time.perf_counter()
            h.blocks().count()
            first_ms.append((time.perf_counter() - t1) * 1000.0)
            load_ms.append((t1 - t0) * 1000.0)
            h.blocks().unpersist()
        refs = h.table_refs()
        self.layer.update({
            "manifest.load_ms": median(load_ms),
            "manifest.first_blocks_ms": median(first_ms),
            "manifest.segments": sum(len(v) for v in refs.values()),
            "manifest.bytes": tree_bytes_files(os.path.join(root, "manifest"))[0],
        })
        self.tracer.recording = True

    def probe_kernels(self, ix, content: pd.Series) -> None:
        """Tokenizer and bloom kernels on one of the workload's own batches."""
        cfg = ix.config
        bitsets = ix.blocks().select("token_bloom").toPandas()["token_bloom"].tolist()
        tok_rate, ins_rate, probe_rate = [], [], []
        for _ in range(3):
            t0 = time.perf_counter()
            _, toks = tokenizer.explode_tokens(content)
            tok_rate.append(len(toks) / (time.perf_counter() - t0))
            sets = [bloom.new_bitset(cfg.block_params), bloom.new_bitset(cfg.file_params)]
            t0 = time.perf_counter()
            bloom.insert_into_many(sets, toks, [cfg.block_params, cfg.file_params])
            ins_rate.append(len(toks) / (time.perf_counter() - t0))
            probes = list(pd.unique(toks)[:NEEDLES])
            t0 = time.perf_counter()
            for t in probes:
                bloom.probe_many(bitsets, t, cfg.block_params)
            probe_rate.append(len(probes) * len(bitsets) / (time.perf_counter() - t0))
        self.layer.update({
            "tokenizer.tokens_per_s": median(tok_rate),
            "bloom.insert_tokens_per_s": median(ins_rate),
            "bloom.probe_tokens_per_s": median(probe_rate),
        })

    def finish_layers(self) -> None:
        """Per-layer values from the spans and job counts of the run."""
        tr = self.tracer
        search_kinds = set(self.search_kinds)
        first = {}  # the first op of each kind ran in a state every run shares
        for rec in tr.ops:
            first.setdefault(rec["kind"], rec)
        self.layer.update({
            "search.prune_plan_ms": median(tr.self_ms("search.prune", search_kinds)),
            "search.scan_plan_ms": median(tr.self_ms("search.scan_plan", search_kinds)),
            "search.exec_ms": median(tr.self_ms("search.exec", search_kinds)),
            "search.spark_jobs": statistics.mean(first[k]["jobs"] for k in self.search_kinds),
            "build.initial_ms": median(self.build_ms),
            "build.blocks_written": self.record["blocks"],
            # the last build ran on a warm JVM, like every later one
            "build.spark_jobs": [r for r in tr.ops if r["kind"] == "build.initial"][-1]["jobs"],
        })
        own = [c for c in self.commits if c[0] != "build.initial"] or self.commits
        self.layer.update({
            "fs.bytes_written_per_commit": median([c[1] for c in own]),
            "fs.files_written_per_commit": median([c[2] for c in own]),
            "fs.bytes_per_row_written": sum(c[1] for c in own if c[3]) / max(1, sum(c[3] for c in own)),
        })
        self.first_ops = first


# ---------------------------------------------------------------------------
# lookup: selective reads over a warm handle
# ---------------------------------------------------------------------------


class Lookup:
    search_kinds = ("path_hit", "miss", "needle_and", "prefilter")
    overhead_pairs = 12

    def __init__(self, b: Bench):
        self.b = b
        self.beta_paths = b.paths[needle_rows("needle_beta", N_ROWS)]
        b.spark.dataSource.register(bs.BloomSearchDataSource)

    def q_miss(self):
        return bs.new_query().token(f"zq{self.b.rng.randint(10**9)}absent").build()

    def q_needle_and(self, p):
        return bs.new_query().match(bs.And(bs.Token("needle_beta"), bs.FieldToken("path", p))).build()

    def q_prefilter(self, p):
        n = int(self.b.nchars_of[p])
        pre = bs.PrefilterAnd(
            bs.Partition(bs.Eq(self.b.lang_of[p])), bs.MinMax("n_chars", bs.Between(n - 3, n + 3))
        )
        return bs.new_query().match_prefilter(pre).field_token("path", p).build()

    def ds_count(self, root, p, langs) -> int:
        df = (
            self.b.spark.read.format("bloomsearch")
            .option("root", root).option("token", p).load()
        )
        return df.filter(F.col("lang").isin(langs)).count()

    def ops(self, ix):
        """One cycle: 15 search() ops, one DataSource read, one needles batch."""
        b, rng = self.b, self.b.rng
        pick = lambda: b.paths[rng.randint(N_ROWS)]
        search = lambda q: (lambda: b.count_search(ix, q))
        for shape in LOOKUP_CYCLE:
            if shape == "hit":
                p = pick()
                yield "path_hit", search(path_query(p)), 1, p
            elif shape == "miss":
                q = self.q_miss()
                yield "miss", search(q), 0, q.bloom.token
            elif shape == "and":
                p = self.beta_paths[rng.randint(len(self.beta_paths))]
                yield "needle_and", search(self.q_needle_and(p)), 1, p
            elif shape == "pre":
                p = pick()
                yield "prefilter", search(self.q_prefilter(p)), 1, p
            elif shape == "ds":
                p = pick()
                lang = b.lang_of[p]
                langs = [lang, LANGS[(LANGS.index(lang) + 1) % len(LANGS)]]
                yield "ds_query", (lambda p=p, langs=langs: self.ds_count(ix.root, p, langs)), 1, p
            else:
                keys = [str(k) for k in b.paths[rng.choice(N_ROWS, NEEDLES, replace=False)]]
                yield "needles", (lambda keys=keys: bs.search_needles(b.spark, ix, keys).count()), NEEDLES, f"{NEEDLES} paths"

    def warmup(self, ix):
        """One whole cycle: fills the handle's probe-view caches, and the
        JVM has compiled the hot paths before the first timed cycle."""
        for kind, fn, expect, what in self.ops(ix):
            self.b.run_op("warmup", fn, expect, what)

    def probe_queries(self):
        p, beta = self.b.paths[0], self.beta_paths[0]
        miss = bs.new_query().token("zqprobeabsent").build()
        return [path_query(p), miss, self.q_needle_and(beta), self.q_prefilter(p)]

    def extras(self, ix):
        b = self.b
        q = bs.new_query().token(str(b.paths[1])).build()
        b.tracer.recording = False
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            pairs = prune_blocks_driver(None, ix.root, ix.version, q, ix.table_refs())
            walls.append((time.perf_counter() - t0) * 1000.0)
        b.tracer.recording = True
        f = b.first_ops
        b.extra_layer.update({
            "datasource.prune_ms": median(walls),
            "datasource.blocks_survived": len(pairs),
            "datasource.spark_jobs": f["ds_query"]["jobs"],
            "needles.ms": median(b.samples["needles"]),
            "needles.spark_jobs": f["needles"]["jobs"],
            "needles.hits": NEEDLES,
        })


# ---------------------------------------------------------------------------
# scan_verify: unselective reads, where blooms keep nearly every block
# ---------------------------------------------------------------------------


class ScanVerify:
    search_kinds = ("needle_alpha", "common_word", "regex")
    overhead_pairs = 2

    def __init__(self, b: Bench):
        self.b = b
        # one DuckDB pass over the source parquet counts every word and regex
        word = "count(*) FILTER (WHERE list_contains(toks, ?) OR r = ? OR p = ? OR l = ?)"
        regex = "count(*) FILTER (WHERE regexp_matches(content, ?))"
        con = b.duck()
        counts = con.execute(
            "SELECT " + ", ".join([word] * len(COMMON_WORDS) + [regex] * len(REGEXES) + [word]) +
            " FROM (SELECT string_split_regex(lower(content), '\\s+') AS toks, lower(repo) AS r,"
            " lower(path) AS p, lower(lang) AS l, content FROM src)",
            [x for w in COMMON_WORDS for x in [w] * 4] + REGEXES + ["needle_alpha"] * 4,
        ).fetchone()
        con.close()
        self.expect = dict(zip(COMMON_WORDS + REGEXES, counts))
        planted = len(needle_rows("needle_alpha", N_ROWS))
        if counts[-1] != planted:
            raise RuntimeError(f"oracle disagrees on needle_alpha: {counts[-1]} vs {planted}")
        self.expect["needle_alpha"] = planted
        self.cycle_no = 0

    def ops(self, ix):
        """One cycle: needle_alpha, two common words and a regex.  The words
        and the regex rotate with the cycle number, the same for every seed,
        so runs differ only in their data."""
        b, c = self.b, self.cycle_no
        self.cycle_no += 1
        search = lambda q: (lambda: b.count_search(ix, q))
        yield "needle_alpha", search(bs.new_query().token("needle_alpha").build()), self.expect["needle_alpha"], "needle_alpha"
        for kind, arg in [
            ("common_word", COMMON_WORDS[c % len(COMMON_WORDS)]),
            ("regex", REGEXES[c % len(REGEXES)]),
            ("common_word", COMMON_WORDS[(c + len(COMMON_WORDS) // 2) % len(COMMON_WORDS)]),
        ]:
            q = bs.new_query().token(arg) if kind == "common_word" else bs.new_query().field_regex("content", arg)
            yield kind, search(q.build()), self.expect[arg], arg

    def warmup(self, ix):
        kind, fn, expect, what = next(iter(self.ops(ix)))
        self.b.run_op("warmup", fn, expect, what)

    def probe_queries(self):
        return [
            bs.new_query().token("needle_alpha").build(),
            bs.new_query().token(COMMON_WORDS[0]).build(),
            bs.new_query().field_regex("content", REGEXES[0]).build(),
        ]

    def extras(self, ix):
        pass


# ---------------------------------------------------------------------------
# ingest_mutate: appends, deletes and upserts, each read back through a
# freshly loaded handle
# ---------------------------------------------------------------------------


class IngestMutate:
    search_kinds = ("query",)
    overhead_pairs = 4

    def __init__(self, b: Bench):
        self.b = b
        rng = b.rng
        # original keys in seeded order; each is deleted or upserted at most once
        self.victims = deque(str(p) for p in b.paths[rng.permutation(N_ROWS)])
        self.witnesses = [self.victims.pop() for _ in range(64)]  # never mutated
        self.row_of = {p: i for i, p in enumerate(b.paths)}
        self.batches = []
        for i in range(APPEND_BATCHES):
            pdf = generate_pdf(APPEND_ROWS, b.seed * 7919 + i + 1)
            pdf["path"] = f"ingest{i}/" + pdf["path"]  # new unique keys
            d = os.path.join(b.work, "src", f"append-{i:02d}")
            self.batches.append((d, pdf["path"].tolist(), write_source(pdf, d, 1)))
        self.appended = []  # keys of committed batches
        self.appended_bytes = 0
        self.cycle_no = 0
        self.ix = None  # the writer's handle, replaced by every commit

    def commit(self, kind, fn, rows):
        """Run one commit on the writer's handle; note its written bytes."""
        b = self.b
        before = tree_bytes_files(self.ix.root) if b.tracer.enabled else None
        out = fn(self.ix)
        self.ix = out[0] if isinstance(out, tuple) else out
        if before is not None:
            after = tree_bytes_files(self.ix.root)
            b.commits.append((kind, after[0] - before[0], after[1] - before[1], rows))
        return out

    def read_back(self, checks):
        """Read after write: a fresh ``BloomIndex.load`` plus the first
        check is one op; the remaining checks are query ops on that handle."""
        b = self.b
        fresh = {}

        def raw(q=checks[0][0]):
            t0 = time.perf_counter()
            with b.tracer.span("manifest.load"):
                fresh["ix"] = bs.BloomIndex.load(b.spark, self.ix.root)
            b.samples["manifest_load"].append((time.perf_counter() - t0) * 1000.0)
            return b.count_search(fresh["ix"], q)

        q, expect, what = checks[0]
        yield "read_after_write", raw, expect, what
        # topped up with keys no write touches, drawn when the check runs
        pool = self.witnesses + self.appended
        still = [pool[i] for i in b.rng.randint(len(pool), size=READ_BACK_QUERIES + 1 - len(checks))]
        for q, expect, what in checks[1:] + [(path_query(p), 1, p) for p in still]:
            yield "query", (lambda q=q: b.count_search(fresh["ix"], q)), expect, what

    def ops(self, ix):
        """One cycle: append, rewrite delete, DV delete and upsert, each
        followed by a read-back through a fresh handle."""
        b, rng, spark = self.b, self.b.rng, self.b.spark
        if self.ix is None:
            self.ix = ix
        i = self.cycle_no
        if i == len(self.batches):
            return
        self.cycle_no += 1
        d, keys, nbytes = self.batches[i]

        def append():
            df = spark.read.parquet(d)
            self.commit("append", lambda ix: bs.build_index(spark, df, ix.root, INDEX_CFG, mode="append"), APPEND_ROWS)
            self.appended.extend(keys)
            self.appended_bytes += nbytes
            return True

        def mutate(kind, fn):
            def run():
                _, st = self.commit(kind, fn, 0)
                b.merge_stats[kind].append(st)
                return st.rows_deleted
            return run

        yield "append", append, True, f"batch {i}"
        new_key = keys[rng.randint(len(keys))]
        w = self.witnesses[rng.randint(len(self.witnesses))]
        yield from self.read_back([(path_query(new_key), 1, new_key), (path_query(w), 1, w)])

        gone = self.victims.pop()
        yield "delete", mutate("delete", lambda ix: bs.delete_where(spark, ix, path_query(gone))), 1, gone
        other = self.appended[rng.randint(len(self.appended))]
        yield from self.read_back([(path_query(gone), 0, gone), (path_query(other), 1, other)])

        gone_dv = self.victims.pop()
        dv = lambda ix: bs.delete_where(spark, ix, path_query(gone_dv), use_deletion_vectors=True)
        yield "dv_delete", mutate("dv_delete", dv), 1, gone_dv
        yield from self.read_back([(path_query(gone_dv), 0, gone_dv), (path_query(w), 1, w)])

        ups = [self.victims.pop() for _ in range(UPSERT_KEYS)]
        marker = f"upserted{b.seed}x{i}"
        rows = b.pdf.iloc[[self.row_of[p] for p in ups]].copy()
        rows["content"] = rows["content"] + f" {marker}"
        rows["n_chars"] = rows["content"].str.len().astype("int64")
        src = spark.createDataFrame(rows)
        up = lambda ix: bs.upsert_keys(spark, ix, src, "path")
        yield "upsert", mutate("upsert", up), UPSERT_KEYS, f"{UPSERT_KEYS} keys"
        marker_q = bs.new_query().token(marker).build()
        yield from self.read_back([(marker_q, UPSERT_KEYS, marker), (path_query(ups[0]), 1, ups[0])])

    def warmup(self, ix):
        """A read-back's worth of point searches on a freshly loaded handle."""
        b = self.b
        fresh = bs.BloomIndex.load(b.spark, ix.root)
        for w in self.witnesses[: READ_BACK_QUERIES + 1]:
            b.run_op("warmup", lambda w=w: b.count_search(fresh, path_query(w)), 1, w)

    def probe_queries(self):
        return [
            path_query(self.witnesses[1]),
            path_query(self.appended[0]),
        ]

    def extras(self, ix):
        b = self.b
        f = b.first_ops
        stats = [s for k in ("delete", "dv_delete", "upsert") for s in b.merge_stats[k]]
        cand = sum(s.candidate_blocks for s in stats)
        useful = sum(s.blocks_rewritten + s.blocks_dropped + s.dv_blocks for s in stats)
        b.extra_layer.update({
            "build.append_ms": median(b.samples["append"]),
            "build.append_spark_jobs": f["append"]["jobs"],
            "merge.delete_ms": median(b.samples["delete"]),
            "merge.dv_delete_ms": median(b.samples["dv_delete"]),
            "merge.upsert_ms": median(b.samples["upsert"]),
            "merge.candidate_blocks": cand / len(stats),
            "merge.blocks_rewritten": sum(s.blocks_rewritten for s in stats) / len(stats),
            "merge.useful_candidate_ratio": useful / cand if cand else 0.0,
            "merge.spark_jobs.delete": f["delete"]["jobs"],
            "merge.spark_jobs.dv_delete": f["dv_delete"]["jobs"],
            "merge.spark_jobs.upsert": f["upsert"]["jobs"],
        })


WORKLOADS = {"lookup": Lookup, "scan_verify": ScanVerify, "ingest_mutate": IngestMutate}
