"""One benchmark run: inputs from the seed, set-up, the timed window and
the correctness checks.

Both workloads run the same operations on the same seeded corpus; they
differ only in the query terms (see ``WORKLOADS``). One client drives a
closed loop: each call returns before the next one starts.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from collections import Counter, defaultdict
from contextlib import contextmanager

import numpy as np

from perfbench.spans import SparkJobs, Tracer, totals

WORKLOADS = {
    "hot": "Zipf head terms repeat, so the driver's resident postings cache "
    "and the batch's shared-term decode are used",
    "cold": "rare and absent terms never repeat, so every driver query reads "
    "and decodes postings from the artifacts",
}

CORPUS_DOCS = 4096
SHARD_SIZE = 1 << 14
# the default 64 term buckets would leave a 4096-document index mostly
# empty bucket files, each one a task on every query
TERM_BUCKETS = 8
TEXT = "content"
KEY = ["repo", "path", "commit"]
K = 10
# the longer top list a result is checked against, so keys tied at
# the k-th score may trade places without counting as a mismatch
CHECK_K = K + 30
BATCH = 16
HEAD_TERMS = 48
INSERT_ROWS = 64
INSERT_BATCHES = 4
DELETE_SEALED = 8
DELETE_INSERTED = 8
MIN_DRIVER_QUERIES = 250
WARM_QUERIES = 20
CHECKED_QUERIES = 5
SCORE_TOL = 1e-4
SPAN_OF = {
    "query": "index.search",
    "insert": "maintain.insert",
    "delete": "maintain.delete",
    "dist": "distributed.search",
    "batch": "distributed.search_batch",
}


class QueryStream:
    """Seeded query texts of 1-4 terms.

    ``hot``: 80% of terms Zipf-sampled from the corpus's highest-df
    terms, 15% rare terms (may repeat), 5% absent terms.
    ``cold``: 75% rare terms drawn without replacement, 25% absent
    terms, so no term is asked twice in a run.
    """

    def __init__(self, workload: str, seed: int, head: list[str], rare: list[str]):
        self.workload = workload
        self.rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
        self.head = head
        w = 1.0 / np.arange(1, len(head) + 1)
        self.head_p = w / w.sum()
        self.rare = rare
        self.rare_order = self.rng.permutation(len(rare))
        self.rare_next = 0

    def _absent(self) -> str:
        # "zq" + 10 letters: no corpus term has this shape
        return "zq" + "".join(self.rng.choice(list("abcdefghijklmnopqrstuvwxyz"), 10))

    def _rare(self) -> str:
        if self.workload == "hot":
            return self.rare[self.rng.integers(len(self.rare))]
        i = self.rare_order[self.rare_next % len(self.rare)]
        self.rare_next += 1
        return self.rare[i]

    def _term(self) -> str:
        u = self.rng.random()
        if self.workload == "hot":
            if u < 0.80:
                return self.head[self.rng.choice(len(self.head), p=self.head_p)]
            return self._rare() if u < 0.95 else self._absent()
        return self._rare() if u < 0.75 else self._absent()

    def next(self) -> str:
        return " ".join(self._term() for _ in range(int(self.rng.integers(1, 5))))

    def next_present(self) -> str:
        """A query with at least one corpus term, for the Spark paths:
        an all-absent query returns before launching any job, and one
        such sample would stand for a whole run's latency."""
        return f"{self._rare()} {self.next()}"


def same_ranking(got: list[tuple], want: list[tuple], k: int = K) -> bool:
    """``got`` is a top-k of (key, score), best first; ``want`` is a
    longer best-first list from another path. Equal when both hold the
    same number of results, the scores agree position by position, and
    every key of ``got`` has the same score in ``want`` (to 4 decimal
    places), so only keys tied at a score may trade places."""
    if len(got) != min(k, len(want)):
        return False
    w = dict(want)
    return all(
        abs(s - want[i][1]) <= SCORE_TOL and key in w and abs(s - w[key]) <= SCORE_TOL
        for i, (key, s) in enumerate(got)
    )


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(values)
    return xs[min(len(xs) - 1, max(0, int(np.ceil(q * len(xs))) - 1))]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _rows(rows) -> list[tuple]:
    return [(tuple(r[c] for c in KEY), float(r["score"])) for r in rows]


class Run:
    """Set-up, timed window and checks of one workload on one seed."""

    def __init__(self, spark, work: str, workload: str, seed: int, cores: int):
        from bm25spark.config import Bm25Config

        self.spark = spark
        self.work = work
        self.workload = workload
        self.seed = seed
        self.cores = cores
        self.cfg = Bm25Config(analyzer="code", shard_size=SHARD_SIZE, term_buckets=TERM_BUCKETS)
        self.index_dir = os.path.join(work, "index")
        self.tracer = Tracer(False)
        self.jobs: SparkJobs | None = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.setup: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.rng = np.random.default_rng([seed, 99])
        self.next_insert = 0
        self.live_inserted: list[int] = []
        self.tombstones = 0

    # ---- inputs ------------------------------------------------------

    def generate(self) -> None:
        """Corpus and insert pool from ``fixtures.synth_corpus``: one
        seeded generation of rows ``0..n``, the first ``CORPUS_DOCS`` of
        them indexed, the rest inserted later (row number = the number in
        each row's path)."""
        from pyspark.sql import functions as F

        from bm25spark.fixtures import synth_corpus

        self.rows_path = os.path.join(self.work, "rows.parquet")
        (
            synth_corpus(self.spark, CORPUS_DOCS + INSERT_ROWS * INSERT_BATCHES,
                         seed=self.seed, partitions=self.cores)
            .withColumn("row", F.regexp_extract("path", r"/f(\d+)\.", 1).cast("long"))
            .write.parquet(self.rows_path)
        )
        self.rows = self.spark.read.parquet(self.rows_path)
        self.corpus = self.rows.filter(F.col("row") < CORPUS_DOCS).drop("row")

    def derive(self, windows: int) -> None:
        """Driver-side inputs read back from the generated rows: the
        indexed text size, the delete order, the query stream (from the
        corpus's own document frequencies), the first queries of each of
        ``windows`` timed windows and their oracle results. Uses no
        Spark, so it runs while the index builds."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from bm25spark.analyze import get_analyzer

        table = pq.read_table(self.rows_path, columns=["row", *KEY, TEXT])
        sealed = table.filter(pc.less(table.column("row"), CORPUS_DOCS))
        if len(table) != CORPUS_DOCS + INSERT_ROWS * INSERT_BATCHES or len(sealed) != CORPUS_DOCS:
            raise RuntimeError(f"generated {len(table)} rows, {len(sealed)} to index")
        rows = sealed.column("row").to_pylist()
        self.row_of = dict(zip(zip(*(sealed.column(c).to_pylist() for c in KEY)), rows))
        self.text_bytes = int(pc.sum(pc.binary_length(sealed.column(TEXT).cast("binary"))).as_py())
        self.delete_order = [int(i) for i in self.rng.permutation(CORPUS_DOCS)]
        analyzer = get_analyzer(self.cfg.analyzer)
        analyzed = [analyzer(text) for text in sealed.column(TEXT).to_pylist()]
        df: Counter = Counter()
        for toks in analyzed:
            df.update(set(toks))
        by_df = sorted(df, key=lambda t: (-df[t], t))
        rare = sorted(t for t, c in df.items() if c <= 2)
        self.stream = QueryStream(self.workload, self.seed, by_df[:HEAD_TERMS], rare)
        self.plans = [self.plan_queries() for _ in range(windows)]
        self.expected = self.oracle_results(
            rows, [" ".join(t) for t in analyzed],
            [p["queries"][i] for p in self.plans for i in p["checked"]],
        )

    def plan_queries(self) -> dict:
        """The window's driver queries, drawn before it starts, and the
        positions of the ones checked against the oracle."""
        queries = [self.stream.next() for _ in range(MIN_DRIVER_QUERIES)]
        checked = self.rng.choice(len(queries), CHECKED_QUERIES, replace=False)
        return {"queries": queries, "checked": sorted(int(i) for i in checked)}

    def oracle_results(self, rows: list[int], analyzed: list[str], queries: list[str]) -> dict:
        """Top-``CHECK_K`` (row, score) of each query from the DuckDB
        oracle the correctness gate uses (``oracle.bm25_topk_sql``). Its
        SQL tokenizer is the ``simple`` analyzer, so each document is
        handed over as its ``code``-analyzer tokens joined by spaces,
        which that tokenizer splits back into the same tokens."""
        import duckdb
        import pyarrow as pa

        from bm25spark import oracle
        from bm25spark.analyze import get_analyzer

        analyzer = get_analyzer(self.cfg.analyzer)
        con = duckdb.connect()
        con.execute("SET threads = 1")
        con.register("corpus", pa.table({"doc_id": rows, "text": analyzed}))
        out = {}
        for q in queries:
            toks = analyzer(q)
            out[q] = [] if not toks else [
                (int(d), float(s))
                for d, s in con.execute(oracle.bm25_topk_sql(
                    toks, CHECK_K, self.cfg.k1, self.cfg.b,
                    table="corpus", id_col="doc_id", text_col="text",
                )).fetchall()
            ]
        con.close()
        return out

    # ---- set-up ------------------------------------------------------

    def build(self) -> None:
        """The set-up build, timed; traced runs also count its jobs."""
        from bm25spark import build as build_mod

        def build_index():
            build_mod.build_index(
                self.spark, self.corpus, self.index_dir, TEXT, KEY,
                cfg=self.cfg, id_partitions=self.cores,
            )

        t0 = time.perf_counter()
        if self.jobs is None:
            build_index()
        else:
            # the write/finalize boundary: the job id handed out when
            # finalize_index starts
            finalize_at: list[int] = []
            sink: list = []
            orig = build_mod.finalize_index

            def finalize_marked(*a, **kw):
                finalize_at.append(self.jobs.next_job_id())
                return orig(*a, **kw)

            build_mod.finalize_index = finalize_marked
            try:
                with self.jobs.count(sink):
                    build_index()
            finally:
                build_mod.finalize_index = orig
        self.setup["build_s"] = time.perf_counter() - t0
        self.setup["index_bytes"] = _dir_bytes(self.index_dir)
        if self.jobs is not None:
            self._build_layers(sink[0]["jobs"], finalize_at[0])

    def _build_layers(self, jobs: list[dict], finalize_at: int) -> None:
        """Job counts of the build, and executor time per stage group:
        id assignment (jobs before the stats aggregation), tokenize (the
        stats aggregation's ``first`` jobs, which fill the tokenized
        cache), the overlapped artifact writes, and finalize."""
        import pyarrow.dataset as ds

        tok = [j["id"] for j in jobs if j["name"].startswith("first at") and "build.py" in j["name"]]
        first_tok, last_tok = (tok[0], tok[-1]) if tok else (finalize_at, finalize_at - 1)
        groups = {
            "ids": [j for j in jobs if j["id"] < first_tok],
            "tokenize": [j for j in jobs if first_tok <= j["id"] <= last_tok],
            "write": [j for j in jobs if last_tok < j["id"] < finalize_at],
            "finalize": [j for j in jobs if j["id"] >= finalize_at],
        }
        t = totals(jobs)
        for name in ("jobs", "stages", "tasks", "shuffle_bytes"):
            self.layer[f"build.{name}"] = t[name]
        for g, js in groups.items():
            self.layer[f"build.{g}.exec_s"] = totals(js)["exec_s"]
        self.layer["build.postings_blocks"] = ds.dataset(
            os.path.join(self.index_dir, "postings"), format="parquet", partitioning="hive"
        ).count_rows()
        self.layer["build.index_bytes"] = self.setup["index_bytes"]

    def open_index(self) -> None:
        from bm25spark.index import Bm25Index

        self.idx = Bm25Index(self.spark, self.index_dir)
        self.idx.fieldnorms()
        docs = self.idx.docs_df().select("doc_id", *[f"p_{c}" for c in KEY]).collect()
        self.payload = {int(r[0]): tuple(r[1:]) for r in docs}

    def warm_up(self) -> None:
        """Driver queries, then the insert, delete and batch of one round,
        untimed and unchecked: the first call of a path in a session
        compiles its plans and costs a third to twice a later one. The
        single query shares its plans with the batch and is left cold,
        which saves a call in a run that is mostly set-up."""
        for _ in range(WARM_QUERIES):
            self.idx.search(self.stream.next(), K)
        r = self.plan_round()
        for kind in ("insert", "delete", "batch"):
            r[kind]()

    # ---- operations --------------------------------------------------

    def plan_round(self) -> dict:
        """The calls of one round: insert the next pool batch; delete
        keys of the sealed segment and of earlier inserts; one single and
        one batch distributed query."""
        from pyspark.sql import functions as F

        from bm25spark import distributed, maintain

        s, d = self.spark, self.index_dir
        lo = CORPUS_DOCS + INSERT_ROWS * self.next_insert
        self.next_insert += 1
        new = self.rows.filter((F.col("row") >= lo) & (F.col("row") < lo + INSERT_ROWS)).drop("row")
        live = self.live_inserted
        picks = set(int(i) for i in self.rng.choice(
            len(live), min(DELETE_INSERTED, len(live)), replace=False))
        gone = [self.delete_order.pop() for _ in range(DELETE_SEALED)]
        gone += [r for i, r in enumerate(live) if i in picks]
        self.live_inserted = [r for i, r in enumerate(live) if i not in picks]
        self.live_inserted += range(lo, lo + INSERT_ROWS)
        self.tombstones += len(gone)
        keys = self.rows.filter(F.col("row").isin(gone)).select(*KEY)
        q = self.stream.next_present()
        qs = {f"q{i:02d}": self.stream.next_present() for i in range(BATCH)}
        return {
            "insert": lambda: maintain.insert(s, d, new, TEXT),
            "delete": lambda: maintain.delete(s, d, keys),
            "dist": lambda: (q, distributed.search_distributed(s, d, q, K).collect()),
            "batch": lambda: (qs, distributed.search_distributed_batch(s, d, qs, K).collect()),
        }

    # ---- timed window ------------------------------------------------

    def window(self, seconds: float, plan: dict) -> dict:
        """Driver-kernel queries for ``seconds`` (at least
        ``MIN_DRIVER_QUERIES``), then one round of the Spark calls. The
        driver queries come first, while the JVM is idle: right after a
        Spark call its background work would add to their latency.
        Returns latencies per operation kind, the results to check and
        the window's wall time."""
        lat: dict[str, list[float]] = defaultdict(list)
        calls: dict[str, list] = defaultdict(list)
        results: dict[str, list] = defaultdict(list)
        tr = self.tracer

        def call(kind: str, fn):
            self.attempted += 1
            sink: list = []
            t0 = time.perf_counter()
            try:
                if self.jobs is not None and kind != "query":
                    with self.jobs.count(sink), tr.span(SPAN_OF[kind]):
                        out = fn()
                else:
                    with tr.span(SPAN_OF[kind]):
                        out = fn()
            except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
                self.failed += 1
                self.failures.append(f"{kind}: {traceback.format_exc(limit=3)}")
                return None
            lat[kind].append(time.perf_counter() - t0)
            calls[kind] += sink
            return out

        t_start = time.perf_counter()
        n = 0
        while n < MIN_DRIVER_QUERIES or time.perf_counter() - t_start < seconds:
            q = plan["queries"][n] if n < MIN_DRIVER_QUERIES else self.stream.next()
            res = call("query", lambda: self.idx.search(q, K))
            if n in plan["checked"] and res is not None:
                results["driver"].append((q, res))
            n += 1
        for kind, fn in self.plan_round().items():
            out = call(kind, fn)
            if kind in ("dist", "batch") and out is not None:
                results[kind].append(out)
        log(f"window: {n} driver queries; " + ", ".join(
            f"{k} {v[-1]:.2f} s" for k, v in lat.items() if k != "query"))
        return {"lat": lat, "calls": calls, "results": results, "wall": time.perf_counter() - t_start}

    # ---- checks ------------------------------------------------------

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def check(self, w: dict) -> None:
        """Checks outside the timed window; each mismatch counts as one
        failed operation."""

        def driver_long(q):
            return [(self.payload[i], s) for i, s in self.idx.search(q, CHECK_K)]

        for q, got in w["results"]["driver"]:
            got = [(self.row_of[self.payload[i]], s) for i, s in got]
            if not same_ranking(got, self.expected[q]):
                self.fail(f"driver search != oracle for {q!r}")
        for q, rows in w["results"]["dist"]:
            if not same_ranking(_rows(rows), driver_long(q)):
                self.fail(f"search_distributed != driver search for {q!r}")
        for qs, rows in w["results"]["batch"]:
            by_q = defaultdict(list)
            for row in rows:
                by_q[row["query_id"]].append(row)
            for qid, q in qs.items():
                if not same_ranking(_rows(by_q[qid]), driver_long(q)):
                    self.fail(f"search_distributed_batch != driver search for {q!r}")

    def check_delta(self) -> None:
        """The growing segment holds exactly the inserted rows not deleted."""
        from bm25spark import maintain

        live = maintain.delta_size(self.spark, self.index_dir)
        if live != len(self.live_inserted):
            self.fail(f"delta_size {live} != {len(self.live_inserted)} live inserted rows")

    # ---- traced-run probes --------------------------------------------

    def trace_probes(self) -> None:
        """Per-layer figures the timed window does not give: the
        tokenizer over the whole corpus into an aggregate sink, and the
        median time to open the index and load its fieldnorms."""
        from pyspark.sql import functions as F

        from bm25spark.index import Bm25Index
        from bm25spark.udfs import with_doc_terms

        with self.tracer.span("udfs.with_doc_terms"):
            t0 = time.perf_counter()
            rows, tokens = (
                with_doc_terms(self.corpus, TEXT, self.cfg.analyzer, self.cfg.seed)
                .agg(F.count(F.lit(1)), F.sum("doc_len"))
                .first()
            )
            self.layer["udfs.tokenize_s"] = time.perf_counter() - t0
        self.layer["udfs.rows"] = int(rows)
        self.layer["udfs.tokens"] = int(tokens)
        opens = []
        for _ in range(5):
            t0 = time.perf_counter()
            Bm25Index(self.spark, self.index_dir).fieldnorms()
            opens.append((time.perf_counter() - t0) * 1e3)
        self.layer["index.open_ms"] = statistics.median(opens)

    @contextmanager
    def driver_layers(self, counts: dict):
        """Spans and counters around the layers one driver-kernel search
        passes through, installed on the serving index and on the
        library's module attributes for the duration of the block."""
        from bm25spark import artifacts
        from bm25spark import index as index_mod
        from bm25spark.wand import TermPostings

        tr, idx = self.tracer, self.idx
        read_postings, taat_topk = artifacts.read_postings, index_mod.taat_topk
        decode_all, postings_for = TermPostings.decode_all, idx.postings_for

        def traced_read(path, keys, *a, **kw):
            with tr.span("artifacts.read_postings"):
                out = read_postings(path, keys, *a, **kw)
            counts["keys_read"] += len(keys)
            counts["bytes_read"] += sum(
                sum(map(len, p["ids_bytes"])) + sum(map(len, p["tfs_bytes"])) for p in out.values()
            )
            return out

        def traced_taat(terms, *a, **kw):
            counts["postings_scored"] += sum(len(t.decoded[0]) for t in terms)
            with tr.span("wand.taat"):
                return taat_topk(terms, *a, **kw)

        def traced_decode(tp):
            if tp.decoded is None:
                counts["blocks_decoded"] += tp.n_blocks
            with tr.span("wand.decode"):
                return decode_all(tp)

        def traced_postings_for(keys):
            counts["keys_requested"] += len(keys)
            with tr.span("index.postings_for"):
                return postings_for(keys)

        artifacts.read_postings = traced_read
        index_mod.taat_topk = traced_taat
        TermPostings.decode_all = traced_decode
        idx.query_keys = tr.wrap("analyze.query_keys", idx.query_keys)
        idx.term_stats = tr.wrap("index.term_stats", idx.term_stats)
        idx.postings_for = traced_postings_for
        try:
            yield
        finally:
            artifacts.read_postings = read_postings
            index_mod.taat_topk = taat_topk
            TermPostings.decode_all = decode_all
            for name in ("query_keys", "term_stats", "postings_for"):
                del idx.__dict__[name]
