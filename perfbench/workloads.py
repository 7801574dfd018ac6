"""The benchmark's three user paths, each with an untraced end-to-end form
and a traced form that times every layer from outside.

- ``ingest``: ``load_directory`` -> ``create_database`` over a generated
  directory of mixed-format files, repeated into fresh roots.
- ``serve``: ``VectorDB.open`` then a seeded closed loop (one client) of
  ``search``, ``rag_prompt`` and ``search_hybrid`` calls over a store built
  through the same ingest path.
- ``curate``: the curate CLI chain (exact dedup, repetition, quality,
  decontamination, leakage-safe split) plus the survivors' parquet write.

Only the library's public functions are called. Every operation's output
is checked; an operation that raises or fails a check counts as failed.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
from time import perf_counter

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
from spans import Tracer, prefix_self, wall
from vectordb_light_spark.engine import RAG_STRING, VectorDB
from vectordb_light_spark.functions.embedding import MiniTransformerEmbedder
from vectordb_light_spark.operators import components, dedup
from vectordb_light_spark.operators.curate_pipeline import run_curation
from vectordb_light_spark.operators.ingest import (
    IngestConfig,
    build_chunks,
    build_vectors,
    create_database,
)
from vectordb_light_spark.operators.keyword import bm25_topk
from vectordb_light_spark.operators.search import SearchParams
from vectordb_light_spark.sources.extract import load_directory

#: The curate CLI chain this benchmark runs.
CURATE_STAGES = ("exact_dedup", "repetition", "quality", "decontaminate", "split")

#: Input sizes and traced prefix series per ingest. ``full`` is what the
#: benchmark runs (one series keeps a traced ``serve`` run near two
#: minutes); ``tiny`` is for the benchmark's own smoke tests, whose two
#: series check that repetitions do not share cached frames.
SIZES = {
    "full": {"ingest_files": 100, "serve_files": 100, "curate_docs": 60, "warm_docs": 20,
             "trace_reps": 1},
    "tiny": {"ingest_files": 10, "serve_files": 20, "curate_docs": 30, "warm_docs": 20,
             "trace_reps": 2},
}

#: Repetitions run even when ``--seconds`` is shorter.
MIN_REPS = 1
#: Times the (cheap, deterministic) input generation runs during set-up.
GEN_REPEATS = 3

#: One closed-loop block of ``serve`` operations; the seed shuffles the
#: order and picks the query texts, never the mix.
SERVE_BLOCK = ("search", "search_filtered", "search_term", "rag", "hybrid",
               "needle_search", "needle_hybrid")
SEARCH_KINDS = ("search", "search_filtered", "search_term", "needle_search")
HYBRID_KINDS = ("hybrid", "needle_hybrid")

#: Per-layer metric -> (unit, better). Layers a workload never calls
#: report 0.
PER_LAYER = {
    "extract.wall_s": ("s", "lower"), "extract.tasks": ("count", "lower"),
    "extract.docs_out": ("count", "higher"), "extract.rejects": ("count", "lower"),
    "chunk.wall_s": ("s", "lower"), "chunk.tasks": ("count", "lower"),
    "chunk.chunks_per_doc": ("count", "higher"),
    "embed.wall_s": ("s", "lower"), "embed.tasks": ("count", "lower"),
    "embed.chunks_per_s": ("1/s", "higher"),
    "write.wall_s": ("s", "lower"), "write.files": ("count", "lower"),
    "write.bytes": ("bytes", "lower"),
    "ingest.jobs": ("count", "lower"), "ingest.stages": ("count", "lower"),
    "ingest.tasks": ("count", "lower"), "ingest.failed_tasks": ("count", "lower"),
    "open.wall_s": ("s", "lower"), "open.cache_fill_s": ("s", "lower"),
    "search.embed_ms": ("ms", "lower"), "search.plan_ms": ("ms", "lower"),
    "search.exec_ms": ("ms", "lower"), "search.jobs_per_call": ("count", "lower"),
    "search.tasks_per_call": ("count", "lower"),
    "search.rows_per_result": ("count", "lower"),
    "rag.exec_ms": ("ms", "lower"), "rag.jobs_per_call": ("count", "lower"),
    "hybrid.dense_ms": ("ms", "lower"), "hybrid.bm25_ms": ("ms", "lower"),
    "hybrid.fuse_ms": ("ms", "lower"), "hybrid.jobs_per_call": ("count", "lower"),
    **{
        f"curate.{stage}.{m}": unit
        for stage in CURATE_STAGES
        for m, unit in (("wall_s", ("s", "lower")), ("rows_in", ("count", "lower")),
                        ("rows_out", ("count", "lower")))
    },
    "curate.write.wall_s": ("s", "lower"),
    "split.candidate_pairs": ("count", "lower"), "split.dup_docs": ("count", "lower"),
    "split.pairs_per_dup_doc": ("count", "lower"), "split.cc_jobs": ("count", "lower"),
    "curate.jobs": ("count", "lower"), "curate.stages": ("count", "lower"),
    "curate.tasks": ("count", "lower"), "curate.failed_tasks": ("count", "lower"),
    "trace.untraced_s": ("s", "lower"), "trace.first_use_s": ("s", "lower"),
    "trace.self_sum_s": ("s", "lower"), "trace.overhead_s": ("s", "lower"),
}

#: End-to-end metric -> (unit, better). Every workload reports all of them.
#: The "build" is the dataset the workload makes: the vector store
#: (``ingest``, ``serve``) or the curated corpus (``curate``). The
#: "operation" is one serve request, or one build for the batch workloads.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "build_s": ("s", "lower"),
    "op_p50_ms": ("ms", "lower"),
    "throughput_per_s": ("1/s", "higher"),
    "out_bytes_per_text_byte": ("ratio", "lower"),
}


class CheckFailed(Exception):
    """An operation returned a wrong result."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def du(path: str) -> int:
    """Bytes of all files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def n_files(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile with at least 10 of ``n`` samples
    above it (None with 10 samples or fewer)."""
    return (100 * (n - 10)) // n if n > 10 else None


def percentile(values: list[float], pct: int) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, -(-pct * len(s) // 100) - 1))]


def noop(df) -> None:
    """Force a DataFrame's whole pipeline without keeping its output."""
    df.write.format("noop").mode("overwrite").save()


class Bench:
    """State of one benchmark run: inputs, counters, results."""

    def __init__(self, spark, work: str, seed: int, seconds: float, size: str,
                 tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.size = SIZES[size]
        self.tracer = tracer
        # The shipped pretrained mini-transformer (d64); its spec names the
        # checkpoint, so the store is reopened with the weights that built it.
        self.cfg = IngestConfig(embedder_spec=MiniTransformerEmbedder(64).spec)
        self.attempted = 0
        self.failed = 0
        self.setup_discount = 0.0
        self.timed_from: float | None = None
        self.e2e: dict[str, float] = {}
        self.detail: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, float] = dict.fromkeys(PER_LAYER, 0)

    # -- bookkeeping ------------------------------------------------------

    def attempt(self, fn, *args):
        """Run one operation; count it, and count it failed if it raises
        (a failed check raises :class:`CheckFailed`). Returns its result
        or None."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # every failure is reported and counted
            self.failed += 1
            print(f"perfbench: {fn.__name__} failed: {e!r}", file=sys.stderr)
            return None

    def verify(self, ok: bool, what: str) -> None:
        """Count a whole-run check as one operation, failed unless ``ok``."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def begin_timed(self) -> None:
        """Mark the end of set-up: the first timed operation starts now."""
        self.timed_from = perf_counter()

    def generate(self, make):
        """Run an input generator GEN_REPEATS times (it is deterministic);
        set-up time counts only the median of those walls."""
        walls = []
        for _ in range(GEN_REPEATS):
            t0 = perf_counter()
            out = make()
            walls.append(perf_counter() - t0)
        self.setup_discount += sum(walls) - statistics.median(walls)
        return out

    def reps(self):
        """Yield repetition indexes until ``seconds`` have passed (at
        least MIN_REPS)."""
        t0, i = perf_counter(), 0
        while i < MIN_REPS or perf_counter() - t0 < self.seconds:
            yield i
            i += 1

    # -- ingest -----------------------------------------------------------

    def _docs_dir(self, name: str, n: int) -> tuple[str, dict]:
        path = os.path.join(self.work, name)

        def make():
            shutil.rmtree(path, ignore_errors=True)
            return gen.write_document_dir(path, n, self.seed)

        return path, self.generate(make)

    def _ingest(self, src: str, info: dict, root: str) -> tuple[float, float]:
        """One ingest into a fresh ``root``, leaving the store at
        ``root/bench``. Checks zero rejects and num_vectors == observed
        chunks == the generator's count. Returns (wall, store bytes per
        extracted text byte)."""
        self.spark.catalog.clearCache()
        t0 = perf_counter()
        docs, rejects = load_directory(self.spark, src)
        meta = create_database(self.spark, docs, root, "bench", self.cfg)
        dt = perf_counter() - t0
        self._check_ingest(info, rejects.count(), meta)
        return dt, du(os.path.join(root, "bench")) / info["text_bytes"]

    @staticmethod
    def _check_ingest(info: dict, n_rejects: int, meta: dict) -> None:
        expect(n_rejects == 0, f"{n_rejects} rejected files")
        counts = (meta["num_vectors"], meta["observed"]["n_chunks"], info["expected_chunks"])
        expect(len(set(counts)) == 1, f"num_vectors, n_chunks, expected = {counts}")

    def _ingest_rep(self, src: str, info: dict, name: str) -> tuple[float, float]:
        root = os.path.join(self.work, name)
        try:
            return self._ingest(src, info, root)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def _report_build(self, walls: list[float], ratios: list[float], info: dict) -> None:
        wall_s = statistics.median(walls)
        self.e2e.update(build_s=wall_s, out_bytes_per_text_byte=statistics.median(ratios))
        self.detail.update(
            ingest_s=(wall_s, "s"),
            ingest_chunks_per_s=(info["expected_chunks"] / wall_s, "chunks/s"),
            store_bytes_per_text_byte=(statistics.median(ratios), "ratio"),
            ingest_reps=(len(walls), "count"),
        )

    def ingest(self) -> None:
        src, info = self._docs_dir("docs", self.size["ingest_files"])
        if self.tracer.enabled:
            self._ingest_traced(src, info, os.path.join(self.work, "traced_db"))
            return
        self.begin_timed()
        walls, ratios = [], []
        for i in self.reps():
            out = self.attempt(self._ingest_rep, src, info, f"db{i}")
            if out:
                walls.append(out[0])
                ratios.append(out[1])
        expect(walls, "no ingest succeeded")
        self._report_build(walls, ratios, info)
        self.e2e.update(
            op_p50_ms=self.e2e["build_s"] * 1000,
            throughput_per_s=info["expected_chunks"] / self.e2e["build_s"],
        )

    def _ingest_traced(self, src: str, info: dict, root: str) -> tuple[float, ...]:
        """Two untraced ingests (the first, like the untraced run's, pays
        the fresh process's first-use costs), then the prefix series
        extract -> +chunk -> +embed -> full create_database, each from a
        cleared cache, ``trace_reps`` times. The last store is left at
        ``root/bench``. Returns the :meth:`_trace_summary` arguments."""
        cold = self._ingest_rep(src, info, "ref_db")[0]
        warm = self._ingest_rep(src, info, "ref_db")[0]
        tr, series = self.tracer, []
        for i in range(self.size["trace_reps"]):
            shutil.rmtree(root, ignore_errors=True)
            walls, spans = [], []
            for layer in ("extract", "chunk", "embed", "write"):
                self.spark.catalog.clearCache()
                with tr.span(f"ingest.prefix.{layer}", rep=i) as rec:
                    with tr.span("plan"):
                        docs, rejects = load_directory(self.spark, src)
                        df = docs
                        if layer in ("chunk", "embed"):
                            df = build_chunks(df, self.cfg)
                        if layer == "embed":
                            df = build_vectors(df, self.cfg)
                    if layer == "write":
                        meta = create_database(self.spark, docs, root, "bench", self.cfg)
                    else:
                        with tr.span("exec"):
                            noop(df)
                walls.append(wall(rec))
                spans.append(rec)
                if layer == "extract":
                    n_docs, n_rejects = docs.count(), rejects.count()
            self.attempt(self._check_ingest, info, n_rejects, meta)
            series.append((walls, spans))
        store = os.path.join(root, "bench")
        tr.collect_counts()
        med = statistics.median
        selfs = [prefix_self(walls) for walls, _ in series]
        tasks = [prefix_self([tr.subtree(s)["tasks"] for s in spans]) for _, spans in series]
        layer_s = [med(s[k] for s in selfs) for k in range(4)]
        n_chunks = meta["observed"]["n_chunks"]
        full = tr.subtree(series[-1][1][-1])
        self.layers.update({
            "extract.wall_s": layer_s[0],
            "extract.tasks": tasks[-1][0],
            "extract.docs_out": n_docs,
            "extract.rejects": n_rejects,
            "chunk.wall_s": layer_s[1],
            "chunk.tasks": tasks[-1][1],
            "chunk.chunks_per_doc": n_chunks / max(1, n_docs),
            "embed.wall_s": layer_s[2],
            "embed.tasks": tasks[-1][2],
            "embed.chunks_per_s": n_chunks / layer_s[2] if layer_s[2] > 0 else 0.0,
            "write.wall_s": layer_s[3],
            "write.files": n_files(store),
            "write.bytes": du(store),
            "ingest.jobs": full["jobs"],
            "ingest.stages": full["stages"],
            "ingest.tasks": full["tasks"],
            "ingest.failed_tasks": full["failed_tasks"],
        })
        # Every repetition must extract from scratch: a cache carried over
        # from an earlier repetition would launch fewer extract tasks.
        for i, t in enumerate(tasks):
            self.detail[f"extract_tasks_rep{i}"] = (t[0], "count")
        self.verify(len({t[0] for t in tasks}) == 1,
                    f"extract tasks differ across repetitions: {[t[0] for t in tasks]}")
        summary = (cold, warm, sum(layer_s), med(walls[-1] for walls, _ in series))
        self._trace_summary(*summary)
        return summary

    def _trace_summary(self, untraced: float, warm: float, self_sum: float,
                       traced: float) -> None:
        """How the layers account for ``untraced`` (the timed operations'
        wall as the untraced run measures it): untraced = first_use +
        self_sum - overhead, where first_use is its excess over an untraced
        repeat (``warm``) and overhead is traced minus untraced repeat."""
        self.layers.update({
            "trace.untraced_s": untraced,
            "trace.first_use_s": untraced - warm,
            "trace.self_sum_s": self_sum,
            "trace.overhead_s": traced - warm,
        })

    # -- serve ------------------------------------------------------------

    def serve(self) -> None:
        src, info = self._docs_dir("docs", self.size["serve_files"])
        root = os.path.join(self.work, "serve_db")
        rng = random.Random(self.seed)
        needles = [c for c in info["chunks"] if len(c) >= gen.CHUNK_SIZE - 1]
        terms = [w for w in gen.WORDS if len(w) > 2]

        def query() -> str:
            return " ".join(rng.choices(gen.WORDS, k=6))

        def block() -> list[tuple[str, str, str]]:
            kinds = list(SERVE_BLOCK)
            rng.shuffle(kinds)
            return [
                (k, rng.choice(needles) if k.startswith("needle") else query(),
                 rng.choice(terms))
                for k in kinds
            ]

        if self.tracer.enabled:
            build = self._ingest_traced(src, info, root)
            read = self._serve_traced(root, block(), query)
            self._trace_summary(*(b + r for b, r in zip(build, read)))
            return

        self.begin_timed()
        build = self.attempt(self._ingest, src, info, root)
        expect(build, "store build failed")
        self._report_build([build[0]], [build[1]], info)
        t0 = perf_counter()
        db = VectorDB.open(self.spark, root, "bench")
        self.attempt(self._serve_op, db, "search", query(), "")
        open_s = perf_counter() - t0
        self._warm_read(db, query)
        lat: dict[str, list[float]] = {k: [] for k in SERVE_BLOCK}
        t0, blocks = perf_counter(), 0
        while not blocks or perf_counter() - t0 < self.seconds:
            blocks += 1
            for op in block():
                dt = self.attempt(self._serve_op, db, *op)
                if dt is not None:
                    lat[op[0]].append(dt)
        loop_s = perf_counter() - t0
        db.close()
        every = [x for v in lat.values() for x in v]
        searches = [x for k in SEARCH_KINDS for x in lat[k]]
        hybrids = [x for k in HYBRID_KINDS for x in lat[k]]
        pct = tail_percentile(len(searches))
        self.e2e.update(
            op_p50_ms=statistics.median(every) * 1000,
            throughput_per_s=len(every) / loop_s,
        )
        self.detail.update(
            open_first_search_s=(open_s, "s"),
            search_p50_ms=(statistics.median(searches) * 1000, "ms"),
            search_tail_ms=(None if pct is None else percentile(searches, pct) * 1000, "ms"),
            search_tail_pct=(pct, "percentile"),
            search_samples=(len(searches), "count"),
            rag_prompt_p50_ms=(statistics.median(lat["rag"]) * 1000, "ms"),
            hybrid_p50_ms=(statistics.median(hybrids) * 1000, "ms"),
            serve_qps=(len(every) / loop_s, "ops/s"),
        )

    def _warm_read(self, db, query) -> None:
        """Untimed: one hybrid and one RAG request compile the read plans
        the first search did not, so the timed loop measures repeats."""
        for kind in ("hybrid", "rag"):
            self.attempt(self._serve_op, db, kind, query(), "")

    @staticmethod
    def _params(kind: str, word: str) -> SearchParams:
        """Search parameters per request kind (k=6, threshold 0.4 are the
        reference's defaults)."""
        if kind == "search_filtered":
            return SearchParams(threshold=0.5, document_type="document")
        if kind == "search_term":
            return SearchParams(k=10, threshold=0.0, search_term=word)
        if kind == "needle_search":
            return SearchParams(threshold=0.0)
        return SearchParams()

    def _serve_op(self, db, kind: str, text: str, word: str) -> float:
        """One closed-loop request; returns its wall (checks excluded)."""
        t0 = perf_counter()
        if kind == "rag":
            out = db.rag_prompt(text)
        elif kind in HYBRID_KINDS:
            out = db.search_hybrid(text, k=6).collect()
        else:
            out = db.search(text, params=self._params(kind, word)).collect()
        dt = perf_counter() - t0
        self._check(kind, text, word, out)
        return dt

    def _check(self, kind: str, text: str, word: str, out) -> None:
        """Result checks: at most k rows in rank order, filters applied,
        needles found at rank 1, prompts well formed."""
        if kind == "rag":
            k = SearchParams().k
            expect(out.startswith(RAG_STRING) and out.endswith(text), "malformed prompt")
            expect(1 <= out.count("\n\n---\n\n") <= k, "prompt context count")
            return
        k = 6 if kind in HYBRID_KINDS else self._params(kind, word).k
        expect(len(out) <= k, f"{len(out)} rows for k={k}")
        ranks = [r["rank"] for r in out]
        expect(ranks == list(range(1, len(out) + 1)) if kind in HYBRID_KINDS
               else ranks == sorted(set(ranks)), f"ranks out of order: {ranks}")
        if kind.startswith("needle"):
            expect(out and out[0]["text"] == text, f"needle not at rank 1 ({kind})")
        if kind in HYBRID_KINDS:
            return
        params = self._params(kind, word)
        scores = [r["similarity_score"] for r in out]
        expect(scores == sorted(scores, reverse=True), "scores not in rank order")
        expect(all(s >= params.threshold for s in scores), "score below threshold")
        if params.search_term:
            expect(all(params.search_term in r["text"].lower() for r in out),
                   "search_term filter not applied")
        if params.document_type:
            expect(all(r["document_type"] == params.document_type for r in out),
                   "document_type filter not applied")

    def _serve_traced(self, root: str, ops: list, query) -> tuple[float, ...]:
        """One untraced pass over ``ops``, then open (traced) and the same
        ops traced layer by layer. Returns the :meth:`_trace_summary`
        arguments for the ops."""
        tr = self.tracer
        db = VectorDB.open(self.spark, root, "bench")
        self.attempt(self._serve_op, db, "search", query(), "")
        self._warm_read(db, query)
        untraced = sum(self.attempt(self._serve_op, db, *op) or 0.0 for op in ops)
        db.close()
        with tr.span("open") as open_span:
            db = VectorDB.open(self.spark, root, "bench")
        with tr.span("open.first_search") as first:
            self.attempt(self._serve_op, db, "search", query(), "")
        traced = self_sum = 0.0
        for op in ops:
            out = self.attempt(self._traced_op, db, *op)
            if out:
                traced += out[0]
                self_sum += out[1]
        db.close()
        tr.collect_counts()

        def ms(name):
            return statistics.median(wall(s) for s in tr.named(name)) * 1000

        def per_call(names, key):
            """Count ``key`` over the spans of one call (named ``names``), per call."""
            total = sum(tr.subtree(s)[key] for n in names for s in tr.named(n))
            return total / max(1, len(tr.named(names[0])))

        search = ("search.embed", "search.plan", "search.exec")
        steady = statistics.median(
            sum(wall(s) for s in call) for call in zip(*map(tr.named, search)))
        self.layers.update({
            "open.wall_s": wall(open_span),
            "open.cache_fill_s": wall(first) - steady,
            "search.embed_ms": ms("search.embed"),
            "search.plan_ms": ms("search.plan"),
            "search.exec_ms": ms("search.exec"),
            "search.jobs_per_call": per_call(search, "jobs"),
            "search.tasks_per_call": per_call(search, "tasks"),
            "search.rows_per_result": statistics.median(
                s["rows_per_result"] for s in tr.named("search.exec")),
            "rag.exec_ms": ms("rag.exec"),
            "rag.jobs_per_call": per_call(("rag.exec",), "jobs"),
            "hybrid.dense_ms": ms("hybrid.dense"),
            "hybrid.bm25_ms": ms("hybrid.bm25"),
            "hybrid.fuse_ms": statistics.median(s["fuse_s"] for s in tr.named("hybrid.total")) * 1000,
            "hybrid.jobs_per_call": per_call(("hybrid.total",), "jobs"),
        })
        return untraced, untraced, self_sum, traced

    def _traced_op(self, db, kind: str, text: str, word: str) -> tuple[float, float]:
        """A request split into layer spans. Returns (request wall, sum of
        its layers' self times)."""
        tr = self.tracer
        if kind == "rag":
            with tr.span("rag.exec") as s:
                out = db.rag_prompt(text)
            self._check(kind, text, word, out)
            return wall(s), wall(s)
        if kind in HYBRID_KINDS:
            with tr.span("hybrid.total") as total:
                out = db.search_hybrid(text, k=6).collect()
            self._check(kind, text, word, out)
            fetch = SearchParams(k=20, threshold=0.0)
            with tr.span("hybrid.dense") as dense:
                db.search(text, params=fetch).select("id", "rank").collect()
            with tr.span("hybrid.bm25") as lex:
                bm25_topk(db.vectors.select("id", "text"), text.split(), k=20,
                          id_col="id", text_col="text").collect()
            total["fuse_s"] = wall(total) - wall(dense) - wall(lex)
            return wall(total), wall(dense) + wall(lex) + total["fuse_s"]
        with tr.span("search.embed") as e:
            vec = db.embed(text)
        with tr.span("search.plan") as p:
            df = db.search(query_vector=vec, params=self._params(kind, word))
        with tr.span("search.exec") as x:
            out = df.collect()
        x["rows_per_result"] = db.last_search_stats["n_scanned"] / max(1, len(out))
        self._check(kind, text, word, out)
        return wall(e) + wall(p) + wall(x), wall(e) + wall(p) + wall(x)

    # -- curate -----------------------------------------------------------

    def _corpus(self, name: str, n: int) -> tuple[str, str, dict]:
        docs_path = os.path.join(self.work, f"{name}.parquet")
        bench_path = os.path.join(self.work, f"{name}_bench.parquet")

        def make():
            corpus = gen.curate_corpus(n, self.seed)
            ids, texts = zip(*corpus["docs"])
            pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                     "text": pa.array(texts, pa.string())}), docs_path)
            pq.write_table(pa.table({"text": pa.array(corpus["bench"], pa.string())}),
                           bench_path)
            corpus["text_bytes"] = sum(len(t.encode()) for t in texts)
            return corpus

        return docs_path, bench_path, self.generate(make)

    def _chain(self, docs_path: str, bench_path: str, stages=CURATE_STAGES):
        docs = self.spark.read.parquet(docs_path)
        bench = self.spark.read.parquet(bench_path)
        return run_curation(docs, stages, report=False, bench=bench, decontaminate_n=8)[0]

    def _curate_rep(self, docs_path: str, bench_path: str, corpus: dict, name: str):
        """One chain + survivors write; returns (wall, output bytes per
        input text byte, sorted (doc_id, split) rows)."""
        out = os.path.join(self.work, name)
        self.spark.catalog.clearCache()
        try:
            t0 = perf_counter()
            self._chain(docs_path, bench_path).write.parquet(out)
            dt = perf_counter() - t0
            rows = sorted(
                (r["doc_id"], r["split"])
                for r in self.spark.read.parquet(out).select("doc_id", "split").collect()
            )
            self._check_curated(corpus, rows)
            return dt, du(out) / corpus["text_bytes"], rows
        finally:
            shutil.rmtree(out, ignore_errors=True)

    @staticmethod
    def _check_curated(corpus: dict, rows: list) -> None:
        split = dict(rows)
        expect(len(split) == len(rows), "duplicate doc_id in survivors")
        expect(not set(corpus["exact_dups"]) & split.keys(), "planted exact duplicate kept")
        expect(not set(corpus["contaminated"]) & split.keys(), "contaminated document kept")
        pairs = [(a, b) for a, b in corpus["near_pairs"] if a in split and b in split]
        expect(pairs, "no planted near-duplicate pair survived the gates")
        expect(all(split[a] == split[b] for a, b in pairs), "near-duplicates split apart")

    def curate(self) -> None:
        docs_path, bench_path, corpus = self._corpus("corpus", self.size["curate_docs"])
        # Set-up: one chain on a small corpus, so the timed chains find
        # Python workers started and plans compiled (a first chain in a
        # fresh process costs about twice a repeat and spreads widely).
        self.attempt(self._curate_rep, *self._corpus("warm", self.size["warm_docs"]), "warm_out")
        if self.tracer.enabled:
            return self._curate_traced(docs_path, bench_path, corpus)
        self.begin_timed()
        walls, ratios, outputs = [], [], []
        for i in self.reps():
            out = self.attempt(self._curate_rep, docs_path, bench_path, corpus, f"out{i}")
            if out:
                walls.append(out[0])
                ratios.append(out[1])
                outputs.append(out[2])
        expect(walls, "no curate chain succeeded")
        self.verify(all(o == outputs[0] for o in outputs),
                    "curate output differs across repetitions of one seed")
        wall_s = statistics.median(walls)
        n_in = len(corpus["docs"])
        self.e2e.update(
            build_s=wall_s,
            op_p50_ms=wall_s * 1000,
            throughput_per_s=n_in / wall_s,
            out_bytes_per_text_byte=statistics.median(ratios),
        )
        self.detail.update(
            curate_s=(wall_s, "s"),
            curate_docs_per_s=(n_in / wall_s, "docs/s"),
            curate_rows_out=(len(outputs[0]), "count"),
            curate_reps=(len(walls), "count"),
        )

    def _curate_traced(self, docs_path: str, bench_path: str, corpus: dict) -> None:
        """Prefix series over the chain's stages (noop sink, cleared cache),
        then the full chain with its parquet write. The split stage's
        MinHash candidates and connected components are wrapped to count
        their pairs, clustered documents and CC jobs."""
        warm = self._curate_rep(docs_path, bench_path, corpus, "ref_out")
        tr = self.tracer
        captured: dict[str, object] = {}

        def wrap(module, name):
            real = getattr(module, name)

            def wrapper(*args, **kwargs):
                with tr.span(f"split.{name}"):
                    out = real(*args, **kwargs)
                captured[name] = out
                return out

            return real, wrapper

        patches = [(m, n, *wrap(m, n)) for m, n in
                   ((dedup, "minhash_lsh_candidates"), (components, "duplicate_clusters"))]
        walls, spans, rows_out = [], [], []
        for m, n, _, wrapper in patches:
            setattr(m, n, wrapper)
        try:
            for k in range(1, len(CURATE_STAGES) + 2):
                self.spark.catalog.clearCache()
                out = os.path.join(self.work, "traced_out")
                with tr.span(f"curate.prefix.{k}") as rec:
                    with tr.span("plan"):
                        df = self._chain(docs_path, bench_path, CURATE_STAGES[:k])
                    with tr.span("exec"):
                        if k <= len(CURATE_STAGES):
                            obs = Observation(f"rows{k}")
                            noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
                        else:
                            df.write.parquet(out)
                walls.append(wall(rec))
                spans.append(rec)
                if k <= len(CURATE_STAGES):
                    rows_out.append(obs.get["n"])
            pairs = captured["minhash_lsh_candidates"].count()
            dup_docs = captured["duplicate_clusters"].count()
        finally:
            for m, n, real, _ in patches:
                setattr(m, n, real)
        final = sorted((r["doc_id"], r["split"])
                       for r in self.spark.read.parquet(out).select("doc_id", "split").collect())
        shutil.rmtree(out, ignore_errors=True)
        self.attempt(self._check_curated, corpus, final)
        self.verify(warm[2] == final,
                    "curate output differs across repetitions of one seed")
        tr.collect_counts()
        selfs = prefix_self(walls)
        rows_in = [len(corpus["docs"])] + rows_out[:-1]
        for i, stage in enumerate(CURATE_STAGES):
            self.layers[f"curate.{stage}.wall_s"] = selfs[i]
            self.layers[f"curate.{stage}.rows_in"] = rows_in[i]
            self.layers[f"curate.{stage}.rows_out"] = rows_out[i]
        full = tr.subtree(spans[-1])
        cc = tr.named("split.duplicate_clusters")
        self.layers.update({
            "curate.write.wall_s": selfs[-1],
            "split.candidate_pairs": pairs,
            "split.dup_docs": dup_docs,
            "split.pairs_per_dup_doc": pairs / max(1, dup_docs),
            "split.cc_jobs": tr.subtree(cc[-1])["jobs"] if cc else 0,
            "curate.jobs": full["jobs"],
            "curate.stages": full["stages"],
            "curate.tasks": full["tasks"],
            "curate.failed_tasks": full["failed_tasks"],
        })
        self._trace_summary(warm[0], warm[0], sum(selfs), walls[-1])
