"""The benchmark workloads.

Each workload is a closed loop run from one process. ``setup`` builds
its fixtures (the repeated set-up unit runs ``SETUP_REPS`` times) and
makes one full untimed pass of every operation class; ``run`` measures
until its deadline; ``verify`` checks every answer against a pure-Python
reference; ``layer_sweep`` (traced runs only, after the checks) calls
the layers the timed pass does not reach, so that every per-layer
metric is measured on every workload. All inputs come from the seed;
the engine only sees the generated inputs.
"""

from __future__ import annotations

import fnmatch
import hashlib
import os
import random
import shutil
import threading
import time
from bisect import bisect_left, bisect_right

import pandas as pd
from __spark_entry__ import HASH_CFG, TOK_CFG
from elasticsearch_analysis_hashsplitter_spark import corpus
from elasticsearch_analysis_hashsplitter_spark.operators import build, search
from elasticsearch_analysis_hashsplitter_spark.plans import compile as qc
from elasticsearch_analysis_hashsplitter_spark.sources import iceberg
from elasticsearch_analysis_hashsplitter_spark.streaming import incremental
from tests.oracle import OracleIndex

from . import harness as h

#: repetitions of the set-up unit; ``setup_s`` counts their median
SETUP_REPS = 3
#: closed-loop clients of a serving pass (never more than the CPUs)
SERVE_CLIENTS = 4
TOP_K = 10
#: documents per upsert batch, half replacing existing ids
UPSERT_BATCH = 40


def count_leaves(node) -> int:
    children = getattr(node, "children", None)
    if children is None:
        return 1
    return sum(count_leaves(c) for c in children)


def same_ranking(got, want, tol: float = 1e-9) -> bool:
    """Top-k lists of (doc_id, score) agree: same length, same doc ids
    in the same order up to ties within ``tol``, scores within ``tol``."""
    if len(got) != len(want):
        return False
    key = lambda r: (-round(r[1], 9), r[0])  # noqa: E731
    g, w = sorted(got, key=key), sorted(want, key=key)
    return all(
        a[0] == b[0] and abs(a[1] - b[1]) <= tol for a, b in zip(g, w)
    ) and [r[0] for r in got] == [r[0] for r in g]


class Workload:
    """Shared bookkeeping and the calls several workloads make."""

    name = ""
    n_files = 2000

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.rng = random.Random(ctx.seed)
        self.lat: list[float] = []  # single-client op latencies, s
        self.lat_class: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup_reps: list[float] = []  # the repeated set-up unit, s
        self.pass_wall = 0.0  # wall of the single-client pass, s
        self.serve_lat: list[float] = []
        self.serve_answers: list = []
        self.batch_bytes: list[int] = []
        self.n_batches = 0
        self.replaced: set = set()

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg)

    def path(self, *parts) -> str:
        return os.path.join(self.ctx.tmp, *parts)

    def e2e(self) -> dict:
        return {
            "ops_per_s": len(self.lat) / self.pass_wall,
            "op_p50_ms": 1000 * h.median(self.lat),
            "build_files_per_s": self.n_files / h.median(self.build_s),
            "index_bytes_per_input_byte": self.index_bytes / self.input_bytes,
        }

    def layer_sweep(self) -> None:
        """Traced runs only: exercise the layers the timed pass skips."""

    def close(self) -> None:
        if getattr(self, "coal", None) is not None:
            self.coal.close()

    # -- fixtures --------------------------------------------------------
    def code_corpus(self):
        """The synthetic source-code corpus as a local DataFrame; keeps
        the documents for the reference checks."""
        self.cfg = TOK_CFG
        self.vocab = sorted({str(t) for t in corpus._VOCAB if str(t).isalpha()})
        with self.tr.span("fixture.corpus"):
            pdf = corpus.generate_corpus(
                self.spark, self.n_files, seed=self.ctx.seed,
                partitions=self.ctx.nproc,
            ).toPandas()
        self.docs = dict(zip(pdf["doc_id"].tolist(), pdf["content"].tolist()))
        self.input_bytes = sum(len(c.encode()) for c in self.docs.values())
        self.tokenize_batch = pdf["content"].tolist()[:500]
        self.next_id = self.n_files
        return self.spark.createDataFrame(pdf)

    def write_table(self, df, table: str) -> None:
        with self.tr.span("sources.iceberg.write"):
            iceberg.write_table(df, table, mode="create")

    def build_fixture(self, src, **build_kw) -> None:
        """The repeated set-up unit of the query workloads: build the
        index from ``src`` and open it, ``SETUP_REPS`` times; the last
        index serves the run."""
        self.build_s, self.open_s = [], []
        for r in range(SETUP_REPS):
            idx = self.path(f"idx{r}")
            t = time.perf_counter()
            with self.tr.span("operators.build", rid=f"build{r}"):
                build.build_index(src, self.cfg, idx, **build_kw)
            t_open = time.perf_counter()
            with self.tr.span("operators.search.open"):
                eng = search.SearchEngine.open(self.spark, idx)
            done = time.perf_counter()
            self.build_s.append(t_open - t)
            self.open_s.append(done - t_open)
            self.setup_reps.append(done - t)
            if r < SETUP_REPS - 1:
                shutil.rmtree(idx)
        self.index_dir, self.engine = idx, eng
        self.index_bytes = h.dir_bytes(idx, ".parquet")
        # the first build is cold; build throughput counts the warm ones
        self.build_s = self.build_s[1:]

    # -- serving -----------------------------------------------------------
    def serve_round(self, values, deadline=None, parent=None):
        """Closed loop of SERVE_CLIENTS clients against ``self.coal``;
        with ``deadline=None`` each value is sent exactly once. Returns
        (latencies, [(value, answer or exception)])."""
        lat, answers, lock = [], [], threading.Lock()
        it = iter(values)

        def client(ci: int):
            while deadline is None or time.perf_counter() < deadline:
                with lock:
                    v = next(it, None)
                if v is None:
                    return
                t = time.perf_counter()
                with self.tr.span(
                    "operators.search.serve", rid=f"c{ci}", parent=parent
                ):
                    try:
                        res = self.coal.request(v)
                    except Exception as e:  # noqa: BLE001 — counted as failure
                        res = e
                dt = time.perf_counter() - t
                with lock:
                    lat.append(dt)
                    answers.append((v, res))

        threads = [
            threading.Thread(target=client, args=(c,), name=f"bench-client-{c}")
            for c in range(SERVE_CLIENTS)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        return lat, answers

    def timed_serve_pass(self, values, deadline=None) -> None:
        if getattr(self, "coal", None) is None:
            self.coal = search.ServeCoalescer(self.engine, k=TOP_K)
        with self.tr.span("serve.pass") as sp:
            self.serve_lat, answers = self.serve_round(values, deadline, sp)
        self.serve_answers += answers

    # -- upserts -------------------------------------------------------------
    def upsert_batch(self, record: bool = True) -> None:
        """One ``upsert_docs`` batch (half replacements, half inserts),
        ``refresh()``, then a probe that must return exactly the batch:
        every document carries the batch's marker token."""
        rng = self.rng
        b = self.n_batches
        self.n_batches += 1
        half = UPSERT_BATCH // 2
        old = rng.sample(sorted(set(self.docs) - self.replaced), half)
        new = list(range(self.next_id, self.next_id + UPSERT_BATCH - half))
        self.next_id += len(new)
        marker = f"upsertmark{self.ctx.seed % 1000}x{b}"
        rows = []
        for d in old + new:
            toks = rng.choices(self.vocab, k=rng.randint(20, 60))
            toks.insert(rng.randrange(len(toks) + 1), marker)
            rows.append((d, " ".join(toks)))
        df = self.spark.createDataFrame(rows, "doc_id long, content string")
        self.attempted += record
        t = time.perf_counter()
        with self.tr.span("upsert.visible", rid=f"batch{b}"):
            with self.tr.span("streaming.incremental"):
                incremental.upsert_docs(self.spark, self.index_dir, df, self.cfg)
            with self.tr.span("operators.search.refresh"):
                self.engine = self.engine.refresh()
            with self.tr.span("operators.search"):
                hits = self.engine.search(marker, k=UPSERT_BATCH + 5).collect()
        dt = time.perf_counter() - t
        self.docs.update(rows)
        self.replaced.update(old)
        self.batch_bytes.append(sum(len(text.encode()) for _, text in rows))
        self.last_marker = marker
        if {int(r["doc_id"]) for r in hits} != {d for d, _ in rows}:
            self.fail(f"batch {b}: marker probe misses upserted docs")
        elif record:
            self.lat.append(dt)


# ---------------------------------------------------------------------------
# code-search
# ---------------------------------------------------------------------------


class CodeSearch(Workload):
    """Read-only BM25 serving over the synthetic source-code corpus."""

    name = "code-search"

    def _mix(self):
        one = [t for t in self.vocab if len(t) <= 4]
        two = [t for t in self.vocab if 5 <= len(t) <= 8]
        # planted 32-hex tokens present in this corpus (id % 7 == 0)
        present = sorted({i % 50 for i in range(0, self.n_files, 7)})
        hashes = [str(corpus.PLANTED_HASHES[i]) for i in present]
        rng = self.rng
        picks = {
            "one_chunk": rng.sample(one, 3),
            "two_chunk": rng.sample(two, 3),
            "hash32": rng.sample(hashes, 2),
        }
        # class shares keep the median inside the one-chunk class and
        # the tail past the two-chunk class, for every seed
        w1 = rng.uniform(0.60, 0.70)
        w2 = rng.uniform(0.12, 0.18)
        shares = {"one_chunk": w1, "two_chunk": w2, "hash32": 1.0 - w1 - w2}
        zipf = [1.0 / (r + 1) ** 1.1 for r in range(3)]
        values, weights = [], []
        for cls, toks in picks.items():
            z = zipf[: len(toks)]
            for t, zw in zip(toks, z):
                values.append((cls, t))
                weights.append(shares[cls] * zw / sum(z))
        self.distinct = values
        self.shares = shares
        self.mix = rng.choices(values, weights=weights, k=5000)

    def setup(self) -> None:
        staged = self.code_corpus()
        self._mix()
        self.table = self.path("table")
        self.write_table(staged, self.table)
        self.build_fixture(iceberg.read_table(self.spark, self.table))
        self.coal = search.ServeCoalescer(self.engine, k=TOP_K)
        # warm-up: every distinct query once, then one serving round
        self.seq_answers: dict[str, list] = {}
        with self.tr.span("warmup"):
            for cls, v in self.distinct:
                self.seq_answers[v] = self._search(v)
            self.timed_serve_pass([v for _, v in self.distinct])

    def _search(self, value: str) -> list:
        rows = self.engine.search(value, TOP_K).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def run(self, seconds: float) -> None:
        """Single-client pass; a traced run then spends 40% of the time
        on the serving pass, whose numbers are per-layer only."""
        serve_share = 0.4 if self.tr.enabled else 0.0
        t_start = time.perf_counter()
        single_until = t_start + (1.0 - serve_share) * seconds
        i = 0
        self.answers: list[tuple[str, list]] = []
        while time.perf_counter() < single_until:
            cls, v = self.mix[i % len(self.mix)]
            i += 1
            self.attempted += 1
            t = time.perf_counter()
            with self.tr.span("operators.search", rid=f"q{i}", cls=cls):
                try:
                    ans = self._search(v)
                except Exception as e:  # noqa: BLE001 — counted as failure
                    self.fail(f"search {v!r}: {e!r}")
                    continue
            self.lat.append(time.perf_counter() - t)
            self.lat_class.append(cls)
            self.answers.append((v, ans))
        self.pass_wall = time.perf_counter() - t_start
        if serve_share:
            n = len(self.serve_answers)
            mix = self.mix[i:] + self.mix[:i]
            self.timed_serve_pass([v for _, v in mix], t_start + seconds)
            self.attempted += len(self.serve_answers) - n

    def verify(self) -> None:
        oracle = OracleIndex(self.docs, self.cfg)
        for v, want_seq in self.seq_answers.items():
            want = oracle.bm25_topk(
                list(qc.field_query(v, self.cfg).terms), TOP_K
            )
            if not same_ranking(want_seq, want):
                self.fail(f"search {v!r} != oracle BM25")
        for v, ans in self.answers:
            if ans != self.seq_answers[v]:
                self.fail(f"search {v!r} answer changed between calls")
        for v, res in self.serve_answers:
            if isinstance(res, Exception):
                self.fail(f"serve {v!r}: {res!r}")
            elif not same_ranking(res, self.seq_answers[v]):
                self.fail(f"serve {v!r} != sequential search")

    def layer_inputs(self) -> dict:
        return {
            "tokenize": (self.tokenize_batch, self.cfg),
            "compile": [
                (cls, lambda v=v: qc.field_query(v, self.cfg))
                for cls, v in self.distinct
            ],
        }

    def layer_sweep(self) -> None:
        self.close()
        self.coal = None
        self.upsert_batch(record=False)


# ---------------------------------------------------------------------------
# hash-partial
# ---------------------------------------------------------------------------


class HashPartial(Workload):
    """The paper's scenario: partial-token queries over an md5 field."""

    name = "hash-partial"
    n_files = 6000
    classes = (
        "exact", "prefix_aligned", "prefix_unaligned",
        "wildcard_one", "wildcard_any", "range",
    )

    def setup(self) -> None:

        self.cfg = HASH_CFG
        salt = f"{self.ctx.seed}:"
        self.hashes = [
            hashlib.md5((salt + str(i)).encode()).hexdigest()
            for i in range(self.n_files)
        ]
        self.sorted_hashes = sorted(self.hashes)
        src_dir = self.path("hashes")
        os.makedirs(src_dir)
        pd.DataFrame(
            {"doc_id": range(self.n_files), "hash": self.hashes}
        ).to_parquet(os.path.join(src_dir, "part-0.parquet"), index=False)
        self.src = self.spark.read.parquet(src_dir)
        self.input_bytes = 32 * self.n_files
        base = [1.0, 1.0, 1.0, 1.0, 1.0, 0.8]
        w = [b * self.rng.uniform(0.75, 1.25) for b in base]
        self.shares = dict(zip(self.classes, (x / sum(w) for x in w)))
        self.seen: set = set()

        self.build_fixture(self.src, text_col="hash")

        with self.tr.span("warmup"):
            for cls in self.classes:
                for _ in range(2):
                    self._timed_query(self._query(cls), record=False)

    # -- query generation --------------------------------------------
    def _query(self, cls: str):
        """A query of class ``cls`` never generated before in this run:
        (class, kind, args)."""
        rng = self.rng
        while True:
            hv = rng.choice(self.hashes)
            if cls == "exact":
                q = ("term", (hv,))
            elif cls == "prefix_aligned":
                q = ("prefix", (hv[: rng.choice((4, 8, 12))],))
            elif cls == "prefix_unaligned":
                q = ("prefix", (hv[: rng.choice((2, 3, 5, 6, 7))],))
            elif cls == "wildcard_one":
                chars = list(hv)
                for p in rng.sample(range(32), 3):
                    chars[p] = "?"
                cut = rng.choice((8, 12, 32))
                pat = "".join(chars[:cut]) + ("*" if cut < 32 else "")
                q = ("wildcard", (pat,))
            elif cls == "wildcard_any":
                a, b = rng.randint(2, 5), rng.randint(2, 4)
                q = ("wildcard", (hv[:a] + "*" + hv[-b:],))
            else:
                i = bisect_left(self.sorted_hashes, hv)
                j = min(i + rng.randint(1, 60), self.n_files - 1)
                q = (
                    "range",
                    (hv, self.sorted_hashes[j], rng.random() < 0.5,
                     rng.random() < 0.5),
                )
            if q not in self.seen:
                self.seen.add(q)
                return (cls,) + q

    def _frame(self, kind: str, args):
        return getattr(self.engine, kind)(*args)

    def _timed_query(self, q, record: bool = True):
        cls, kind, args = q
        t = time.perf_counter()
        with self.tr.span("operators.search", cls=cls):
            n = self._frame(kind, args).count()
        if record:
            self.lat.append(time.perf_counter() - t)
            self.lat_class.append(cls)
        return n

    def oracle(self, kind: str, args) -> set:
        hs = self.hashes
        if kind == "term":
            return {i for i, x in enumerate(hs) if x == args[0]}
        if kind == "prefix":
            return {i for i, x in enumerate(hs) if x.startswith(args[0])}
        if kind == "wildcard":
            return {i for i, x in enumerate(hs) if fnmatch.fnmatchcase(x, args[0])}
        lo, hi, inc_lo, inc_hi = args
        return {
            i for i, x in enumerate(hs)
            if (lo <= x if inc_lo else lo < x) and (x <= hi if inc_hi else x < hi)
        }

    def oracle_count(self, kind: str, args) -> int:
        if kind == "range":
            lo, hi, inc_lo, inc_hi = args
            s = self.sorted_hashes
            a = bisect_left(s, lo) if inc_lo else bisect_right(s, lo)
            b = bisect_right(s, hi) if inc_hi else bisect_left(s, hi)
            return max(0, b - a)
        return len(self.oracle(kind, args))

    def run(self, seconds: float) -> None:
        classes = list(self.shares)
        weights = [self.shares[c] for c in classes]
        self.asked: list[tuple] = []
        t_start = time.perf_counter()
        deadline = t_start + seconds
        while time.perf_counter() < deadline:
            q = self._query(self.rng.choices(classes, weights=weights)[0])
            self.attempted += 1
            try:
                n = self._timed_query(q)
            except Exception as e:  # noqa: BLE001 — counted as failure
                self.fail(f"{q!r}: {e!r}")
                continue
            self.asked.append((q, n))
        self.pass_wall = time.perf_counter() - t_start

    def verify(self) -> None:
        for (cls, kind, args), n in self.asked:
            want = self.oracle_count(kind, args)
            if n != want:
                self.fail(f"{kind}{args!r}: count {n} != {want}")
        # match sets, one sampled query per class
        sample = {}
        for q, _ in self.asked:
            sample.setdefault(q[0], q)
        for cls, kind, args in sample.values():
            got = {
                int(r["doc_id"])
                for r in self._frame(kind, args).select("doc_id").collect()
            }
            if got != self.oracle(kind, args):
                self.fail(f"{kind}{args!r}: match set differs")

    def layer_inputs(self) -> dict:
        builders = {
            "term": lambda a: qc.field_query(a[0], self.cfg, scored=False),
            "prefix": lambda a: qc.prefix_query(a[0], self.cfg),
            "wildcard": lambda a: qc.wildcard_query(a[0], self.cfg),
            "range": lambda a: qc.range_filter(*a, self.cfg),
        }
        sample = {}
        for (cls, kind, args), _ in self.asked:
            sample.setdefault(cls, (kind, args))
        return {
            "tokenize": (self.hashes[:2000], self.cfg),
            "compile": [
                (cls, lambda k=k, a=a: builders[k](a))
                for cls, (k, a) in sample.items()
            ],
        }


# ---------------------------------------------------------------------------
# code-ingest
# ---------------------------------------------------------------------------


class CodeIngest(Workload):
    """The write path: index builds over an Iceberg source (the repeated
    set-up unit), then upsert batches that a refreshed engine must see."""

    name = "code-ingest"

    def setup(self) -> None:
        staged = self.code_corpus()
        self.table = self.path("table")
        self.write_table(staged, self.table)
        self.build_fixture(iceberg.read_table(self.spark, self.table))
        # warm-up: one upsert batch with refresh and probe
        with self.tr.span("warmup"):
            self.upsert_batch(record=False)

    def run(self, seconds: float) -> None:
        """Upsert batches until the deadline, at least two."""
        t_start = time.perf_counter()
        n = 0
        while n < 2 or time.perf_counter() < t_start + seconds:
            try:
                self.upsert_batch()
            except Exception as e:  # noqa: BLE001 — counted as failure
                self.fail(f"upsert: {e!r}")
            n += 1
        self.pass_wall = time.perf_counter() - t_start

    def verify(self) -> None:
        # every stored document, built or upserted, hashes to its text
        final = self.spark.createDataFrame(
            sorted(self.docs.items()), "doc_id long, content string"
        )
        if build.verify_content_sha256(final, self.spark, self.index_dir) != 0:
            self.fail("index: content sha256 mismatch")
        if self.engine.stats["n_docs"] != len(self.docs):
            self.fail(f"n_docs {self.engine.stats['n_docs']} != {len(self.docs)}")
        # replaced docs rank by their new content: the last batch's
        # marker query equals the oracle BM25 over the updated corpus
        oracle = OracleIndex(self.docs, self.cfg)
        terms = list(qc.field_query(self.last_marker, self.cfg).terms)
        want = oracle.bm25_topk(terms, UPSERT_BATCH)
        rows = self.engine.search(self.last_marker, k=UPSERT_BATCH).collect()
        got = [(int(r["doc_id"]), float(r["score"])) for r in rows]
        if not same_ranking(got, want):
            self.fail("upserted docs do not rank by their new content")

    def layer_inputs(self) -> dict:
        return {
            "tokenize": (self.tokenize_batch, self.cfg),
            "compile": [
                ("marker", lambda: qc.field_query(self.last_marker, self.cfg))
            ],
        }

    def layer_sweep(self) -> None:
        """One serving round on the upserted index: each of a few
        vocabulary tokens and the last marker, sent by every client."""
        values = self.rng.sample(self.vocab, 3) + [self.last_marker]
        self.timed_serve_pass(values * SERVE_CLIENTS)


WORKLOADS = {w.name: w for w in (CodeSearch, CodeIngest, HashPartial)}
