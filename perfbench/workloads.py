"""The benchmark's workloads: ``search`` and ``reindex``.

Each runs one closed-loop, single-threaded client against the public API
(``CodeMemoryEngine.search`` / ``index``) on a private copy of the cached
corpus index. The seed picks the query list; the program only sees the
files and the query texts.

A workload has ``setup`` (charged to ``setup_s``), ``measure`` (the timed
operations; it returns the end-to-end values) and ``verify`` (correctness
checks, run after timing, with tracing already removed).
"""

from __future__ import annotations

import ast
import os
import random
import re
import statistics
import time

import corpus

K = 10
SEARCH_KINDS = ("dense", "keyword", "hybrid", "ann", "filtered")
MODE_ARGS = {
    "dense": {"mode": "semantic"},
    "keyword": {"mode": "keyword"},
    "hybrid": {"mode": "hybrid"},
    "ann": {"mode": "semantic", "ann": True},
    "filtered": {"mode": "semantic", "ann": True},
}
# payload filters of the ``filtered`` search, alternating by round
FILTERS = [{"entity_types": ["function", "method"]}, {"chunk_type": "metadata"}]
WARMUP_ROUNDS = 2
WARMUP_PASSES = 2
NOOP_RESULT = {"files_changed": 0, "entities": 0, "relations": 0, "chunks": 0,
               "chunks_skipped_unchanged": 0}


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Op:
    """One search call: plan time (inside search()), exec time (inside
    collect()), result rows, and whether its correctness check passed."""

    def __init__(self, kind, query, args, needle=None):
        self.kind, self.query, self.args, self.needle = kind, query, args, needle
        self.rows, self.plan_ms, self.exec_ms, self.ok, self.error = [], 0.0, 0.0, True, None

    @property
    def ms(self) -> float:
        return self.plan_ms + self.exec_ms

    def run(self, ctx) -> "Op":
        """Time the call; a failed call keeps the time it took to fail."""
        t0 = time.perf_counter()
        t1 = None
        try:
            df = ctx.engine.search(self.query, k=K, **self.args)
            t1 = time.perf_counter()
            with ctx.tracer.span("api.collect", self.kind):
                self.rows = [r.asDict() for r in df.collect()]
        except Exception as e:  # counted as a failed operation
            self.ok, self.error = False, f"{type(e).__name__}: {e}"[:300]
        t2 = time.perf_counter()
        t1 = t2 if t1 is None else t1
        self.plan_ms, self.exec_ms = (t1 - t0) * 1e3, (t2 - t1) * 1e3
        return self

    def names(self) -> list[str]:
        return [r["entity_name"] for r in self.rows]


def corpus_words(proj: str) -> tuple[list[str], list[str]]:
    """(identifiers, docstring words) of the corpus, sorted, seed-free."""
    idents, words = set(), set()
    for rel in corpus.python_files(proj):
        with open(os.path.join(proj, rel)) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                if not node.name.startswith(("_", "pbneedle")):
                    idents.add(node.name)
                doc = ast.get_docstring(node) or ""
                words.update(w for w in re.findall(r"[a-z]{4,}", doc.lower()))
    return sorted(idents), sorted(words)


def search_layer_metrics(ops: list[Op]) -> dict:
    """Per search kind: median time inside search() (plan) and inside
    collect() (exec). A failed call counts with the time it took to fail;
    the failure itself is reported through the run's checks."""
    out = {}
    for k in SEARCH_KINDS:
        sel = [o for o in ops if o.kind == k]
        out[f"api.search.plan_ms.{k}"] = median([o.plan_ms for o in sel])
        out[f"api.search.exec_ms.{k}"] = median([o.exec_ms for o in sel])
    return out


class Ctx:
    def __init__(self, spark, engine, tracer, seed, seconds, build):
        self.spark, self.engine, self.tracer = spark, engine, tracer
        self.seed, self.seconds, self.build = seed, seconds, build
        self.layer: dict[str, float] = {}  # workload-specific per-layer values
        self.checks: list[tuple[str, bool, str]] = []

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))


def vectors_frame(engine):
    """The store's vectors as pandas (verification only, after timing)."""
    return engine.store.read("vectors").select(
        "point_id", "dense", "entity_type", "chunk_type").toPandas()


def exact_dense(vec_pdf, query: str, args: dict) -> list[tuple[int, float]]:
    """NumPy brute-force cosine top-k, with the search's payload filters
    and its score >= 0 threshold, ordered (score desc, point_id asc)."""
    import numpy as np

    from claude_code_memory_spark.embeddings.hash_embedder import embed_text

    pdf = vec_pdf
    if args.get("entity_types"):
        pdf = pdf[pdf["entity_type"].isin(args["entity_types"])]
    if args.get("chunk_type"):
        pdf = pdf[pdf["chunk_type"] == args["chunk_type"]]
    if pdf.empty:
        return []
    m = np.stack(pdf["dense"].to_numpy()).astype(float)
    q = np.asarray(embed_text(query, m.shape[1]), dtype=float)
    denom = np.linalg.norm(m, axis=1) * np.linalg.norm(q)
    scores = np.where(denom > 0, m @ q / np.where(denom > 0, denom, 1), 0.0)
    ids = pdf["point_id"].to_numpy()
    order = np.lexsort((ids, -np.round(scores, 6)))
    return [(int(ids[i]), float(scores[i])) for i in order if scores[i] >= -5e-7][:K]


def dense_matches(op: Op, exact: list[tuple[int, float]]) -> bool:
    """Exact dense top-k equals the brute force, up to ties at 1e-5."""
    got = [(int(r["point_id"]), float(r["score"])) for r in op.rows]
    if len(got) != len(exact):
        return False
    exact_ids = {pid for pid, _ in exact}
    for (pid, s), (_, es) in zip(got, exact):
        if abs(s - es) > 1e-5:
            return False
        if pid not in exact_ids and abs(s - exact[-1][1]) > 1e-5:
            return False  # an id outside the exact top-k that is not a tie
    return True


# -- search ----------------------------------------------------------------


class SearchWorkload:
    """Read path on a warm, static index: rounds of five searches until the
    time is up. Four are unfiltered (dense exact, keyword, hybrid, ANN) and
    use the postings and IVF serving indexes; the fifth is an ANN search
    with a payload filter (rounds alternate entity_types and chunk_type),
    which bypasses them and falls back to the exact scan."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.ops: list[Op] = []

    def _round(self, rng: random.Random, r: int) -> list[Op]:
        idents, words = self.idents, self.words
        needle = rng.choice(sorted(self.ctx.build["needles"]))

        def op(kind, needle_round=False, filt=None):
            if needle_round:  # a needle query has a known answer
                return Op(kind, needle, MODE_ARGS[kind], needle)
            return Op(kind, f"{rng.choice(idents)} {rng.choice(words)}",
                      {**MODE_ARGS[kind], **(filt or {})})

        return [op("dense"), op("keyword", r % 2 == 0), op("hybrid", r % 2 == 1),
                op("ann"), op("filtered", filt=FILTERS[r % len(FILTERS)])]

    def setup(self) -> None:
        self.idents, self.words = corpus_words(corpus.PROJ)
        # JVM/codegen warm-up: every plan shape the timed rounds use
        warm = random.Random(-1)
        for r in range(WARMUP_ROUNDS):
            for op in self._round(warm, r):
                op.run(self.ctx)

    def measure(self) -> dict:
        rng = random.Random(self.ctx.seed)
        t0, r = time.perf_counter(), 0
        while time.perf_counter() - t0 < self.ctx.seconds:
            for op in self._round(rng, r):
                self.ops.append(op.run(self.ctx))
            r += 1
        self.ctx.layer.update(search_layer_metrics(self.ops))
        # the workload's unit operation is one search of every kind, each
        # at its median latency (steadier than the median of round totals)
        return {"latency_ms": sum(median([o.ms for o in self.ops if o.kind == k])
                                  for k in SEARCH_KINDS)}

    def verify(self) -> None:
        vec = vectors_frame(self.ctx.engine)
        hits = total = 0
        for op in self.ops:
            if not op.ok:
                self.ctx.check(f"{op.kind}:{op.query}", False, op.error)
                continue
            if op.needle is not None:
                op.ok = op.needle in op.names()
            elif op.kind in ("dense", "filtered"):
                op.ok = dense_matches(op, exact_dense(vec, op.query, op.args))
            elif op.kind == "ann":
                exact = {pid for pid, _ in exact_dense(vec, op.query, op.args)}
                hits += len(exact & {int(r["point_id"]) for r in op.rows})
                total += len(exact)
            if op.kind == "filtered":
                allowed = vec
                if op.args.get("entity_types"):
                    allowed = allowed[allowed["entity_type"].isin(op.args["entity_types"])]
                if op.args.get("chunk_type"):
                    allowed = allowed[allowed["chunk_type"] == op.args["chunk_type"]]
                ids = set(allowed["point_id"].astype(int))
                op.ok = op.ok and all(int(r["point_id"]) in ids for r in op.rows)
            self.ctx.check(f"{op.kind}:{op.query}", op.ok)
        # recorded, not required: ANN is approximate
        self.ctx.layer["operators.similarity.ann_recall"] = hits / max(total, 1)

    def attempted(self) -> int:
        return len(self.ops)

    def units(self) -> int:
        return len(self.ops) // len(SEARCH_KINDS)

    def log(self) -> list[dict]:
        return [{"kind": o.kind, "query": o.query, "args": o.args, "plan_ms": o.plan_ms,
                 "exec_ms": o.exec_ms, "ok": o.ok, "error": o.error,
                 "point_ids": [r["point_id"] for r in o.rows]} for o in self.ops]


# -- reindex ---------------------------------------------------------------


class ReindexWorkload:
    """Index path on an unchanged tree: ``index()`` passes until the time
    is up. Each pass vacuums the store, scans the project, diffs it against
    the stored file state and returns early, so it pays the scan, the diff
    and the state read that every scheduled re-index pays."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.passes: list[dict] = []

    def _pass(self) -> dict:
        t0 = time.perf_counter()
        try:
            rec = {"result": self.ctx.engine.index(corpus.PROJ), "error": None}
        except Exception as e:  # counted as a failed operation
            rec = {"result": None, "error": f"{type(e).__name__}: {e}"[:300]}
        rec["ms"] = (time.perf_counter() - t0) * 1e3
        return rec

    def setup(self) -> None:
        # JVM/codegen warm-up; the first pass also vacuums what the cached
        # build left behind, so the store is stable from here on
        for _ in range(WARMUP_PASSES):
            self.ctx.check("warmup_noop", self._pass()["result"] == NOOP_RESULT)
        self.store_before = corpus.tree_hash(corpus.STORE)

    def measure(self) -> dict:
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < self.ctx.seconds:
            self.passes.append(self._pass())
        return {"latency_ms": median([p["ms"] for p in self.passes])}

    def verify(self) -> None:
        for i, p in enumerate(self.passes):
            self.ctx.check(f"noop_pass_{i}", p["result"] == NOOP_RESULT,
                           p["error"] or str(p["result"]))
        # a no-op re-index must not rewrite any table
        self.ctx.check("store_unchanged", corpus.tree_hash(corpus.STORE) == self.store_before)

    def attempted(self) -> int:
        return len(self.passes)

    units = attempted

    def log(self) -> list[dict]:
        return self.passes


WORKLOADS = {"search": SearchWorkload, "reindex": ReindexWorkload}
