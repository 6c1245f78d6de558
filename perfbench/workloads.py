"""The three benchmark workloads: ``registry``, ``search``, ``ingest_mixed``.

Each workload drives the engine only through its public calls, from one
closed-loop client, and returns a ``Result``: the timed samples, the
end-to-end metrics, the per-layer metrics (filled from spans when the
tracer is on) and its correctness verdict. Correctness checks run outside
the timed region. See NOTES.md for why each workload was chosen.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
MB = 1e6

# Every run does a FIXED amount of work, sized from ``--seconds`` by the
# rates measured on a 4-core reference host, so that all runs of one
# ``--seconds`` compare like with like (a faster engine finishes sooner;
# it never does more work).
#
# registry: the full 246-entry pass took 66 s at sf0.01 (name order, noop
# sink). A run times the fixed entry list in ``registry_entries.txt``
# (about 15 s there), once, whatever ``--seconds`` is.
# entries whose job/stage counts are known to vary between identical runs
# (measured: dq143 ran 5 or 6 jobs, dq190 30 to 32 stages); exact-count
# comparisons skip them, and every registry run lists them
COUNT_EXEMPT = ("dq143_retention_cohorts", "dq190_kcore")
# untimed: one cheap representative of each operator family (the set the
# repo's own bench.py warms with), so JIT and codegen are not charged to
# whichever entry happens to run first
WARMUP = ("dq01_scan_project", "dq04_join_broadcast", "dq15_topk_per_group",
          "dq26_tokenize_explode", "dq29_knn_topk", "dq33_build_edges",
          "dq75_window_battery", "dq76_nullsafe_join", "dq06_left_semi",
          "dq07_left_anti", "dq52_centroid_applyinpandas", "dq48_embed_stub")

SEARCH_DOCS = 8_000      # search corpus: the 5,000 sf0.1 docs + synthetic
SINGLE_PER_S = 2.8       # serve_search calls per run second (~0.24 s each,
MANY_PER_S = 0.45        # 70% of the run) and 16-text calls (~0.7 s, 30%)
MANY = 16                # texts per serve_search_many call
# untimed warm-up calls: queries keep getting faster for the first ~40
# calls of a fresh JVM (JIT), and how fast decided a run's figures
WARM_SINGLE, WARM_MANY, WARM_CYCLES = 30, 2, 3
CHECK_TEXTS = 4          # texts in the many-vs-single equality check
INGEST_BATCH = 50
SEARCHES_PER_BATCH = 3
COMPACT_EVERY = 10
CYCLE_S = 1.9            # one batch + rewarm + 3 searches, compaction shared


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    first_op: float | None = None   # perf_counter of the first timed op
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)     # printed with the result
    detail: dict = field(default_factory=dict)   # written to out/ only
    problems: list = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)

    def start(self) -> None:
        self.first_op = time.perf_counter()


def attempt(res: Result, tr, span: str, op: str, fn):
    """Run one timed op under its own span: ``(seconds, result)``, or None
    once an op that raised is counted as failed (never skipped)."""
    res.attempted += 1
    try:
        t0 = time.perf_counter()
        with tr.span(span, op=op, group=True):
            out = fn()
        return time.perf_counter() - t0, out
    except Exception as exc:  # counted, never skipped
        res.fail(f"{span} {op}: {type(exc).__name__}: {exc}"[:300])
        return None
    finally:
        tr.collect()


def _ms(xs) -> float:
    return statistics.median(xs) * 1e3 if xs else 0.0


def _p75_ms(xs) -> float:
    """75th percentile: with the ~40 samples of a run it is the highest
    one that still has ten samples beyond it."""
    return statistics.quantiles(xs, n=4)[-1] * 1e3 if len(xs) >= 4 else 0.0


def _geomean_ms(xs) -> float:
    if not xs:
        return 0.0
    return math.exp(statistics.fmean(math.log(x) for x in xs)) * 1e3


def cached_mb(spark) -> float:
    """Storage memory held by the program's persisted RDDs/DataFrames.

    Unreferenced cached RDDs are dropped by Spark's ContextCleaner only
    after a JVM garbage collection, whose timing would otherwise decide
    the reading: collect garbage on both sides first, then read until
    the figure holds still."""
    import gc

    sc = spark.sparkContext
    gc.collect()
    sc._jvm.System.gc()
    last, stable = None, 0
    for _ in range(50):
        infos = sc._jsc.sc().getRDDStorageInfo()
        now = sum(i.memSize() for i in infos)
        stable = stable + 1 if now == last else 0
        if stable == 3:
            break
        last = now
        time.sleep(0.1)
    return now / MB


def _dir_files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, modality string")


def fixture_docs() -> list[tuple]:
    """The 5,000-doc sf0.1 ``documents`` table as (doc_id, text, modality)."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(DATA, "sf0.1", "documents.parquet"),
                      columns=["doc_id", "text"]).to_pydict()
    return [(int(i), s, gen.modality(int(i)))
            for i, s in zip(t["doc_id"], t["text"])]


def vocabulary(rows: list[tuple]) -> list[str]:
    return sorted({w for _, t, _ in rows for w in t.split()})


# --- registry --------------------------------------------------------------

def registry_entries() -> tuple[list, dict[str, str]]:
    """The entries a run times, in name order, and the operator module of
    every registry entry. Fails if a listed entry no longer exists."""
    from multi_model_vectorsearch_spark import dq
    from multi_model_vectorsearch_spark.operators.registrations import (
        MODULES,
    )

    module = {e.name: m.__name__.rsplit(".", 1)[1]
              for m in MODULES for e in m.DQS}
    with open(os.path.join(HERE, "registry_entries.txt")) as fh:
        names = [ln.strip() for ln in fh
                 if ln.strip() and not ln.startswith("#")]
    by_name = {e.name: e for e in dq.registry()}
    missing = [n for n in names if n not in by_name]
    if missing:
        raise SystemExit(f"registry_entries.txt names entries the registry "
                         f"no longer has: {missing}")
    # sorted by name: dq.registry() rotates its order with the
    # CORRECTNESS_r*.json files present, and order decides which entry
    # pays for each shared session cache
    return [by_name[n] for n in sorted(names)], module


def _catalyst_ms(df) -> dict[str, float]:
    """Analysis/optimization/planning ms of ``df``'s own QueryExecution;
    the noop write plans through a copy, so planning is forced here."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[ph] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def run_registry(spark, tr, seed: int, seconds: int) -> Result:
    from multi_model_vectorsearch_spark import dq, load_tables
    from multi_model_vectorsearch_spark.operators.textpipe import (
        session_cache_len,
    )

    res = Result()
    with open(os.path.join(HERE, "expected_rows.json")) as fh:
        expected = json.load(fh)
    with tr.span("setup.load_tables"):
        tables = load_tables(spark, os.path.join(DATA, "sf0.01"))
    entries, module = registry_entries()
    by_name = {e.name: e for e in dq.registry()}
    with tr.span("setup.warmup"):
        for name in WARMUP:
            by_name[name].builder(tables).write.format("noop") \
                .mode("overwrite").save()
    tr.collect()

    walls: dict[str, float] = {}
    builders: list[str] = []
    catalyst = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    res.start()
    for e in entries:
        res.attempted += 1
        n_cached = session_cache_len()
        try:
            t0 = time.perf_counter()
            with tr.span("entry", op=e.name):
                with tr.span("build", group=True):
                    df = e.builder(tables)
                with tr.span("exec", group=True):
                    df.write.format("noop").mode("overwrite").save()
            walls[e.name] = time.perf_counter() - t0
            if session_cache_len() > n_cached:
                builders.append(e.name)
            if tr.enabled:
                tr.collect()
                for k, v in _catalyst_ms(df).items():
                    catalyst[k] += v
            # correctness (untimed, and outside every span): the noop
            # sink reports no row count, so the plan is counted again
            rows = df.count()
        except Exception as exc:  # counted, never skipped
            res.fail(f"{e.name}: {type(exc).__name__}: {exc}"[:300])
            continue
        if rows != expected[e.name]:
            res.fail(f"{e.name}: {rows} rows, oracle {expected[e.name]}")
    suite = sum(walls.values())
    res.e2e = {
        "op_p50_ms": _ms(list(walls.values())),
        "op_geomean_ms": _geomean_ms(list(walls.values())),
        "throughput_per_s": len(walls) / suite if suite else 0.0,
    }
    res.layer["memory.cached_mb"] = cached_mb(spark)
    res.detail["wall_ms"] = {k: v * 1e3 for k, v in walls.items()}
    res.info = {"entries": len(entries), "suite_s": round(suite, 3),
                "cache_builders": builders,
                "count_exempt": [e.name for e in entries
                                 if e.name in COUNT_EXEMPT]}
    if tr.enabled:
        acc: dict[str, float] = defaultdict(float)
        per_entry = {}
        for sp in tr.named("entry"):
            if sp["op"] not in walls:
                continue
            b, x = tr.children(sp)
            cb, cx, tot = tr.counters(b), tr.counters(x), tr.counters(sp)
            pre = f"operators.{module[sp['op']]}."
            acc[pre + "build_s"] += b["end"] - b["start"]
            acc[pre + "exec_s"] += x["end"] - x["start"]
            acc[pre + "jobs_in_build"] += cb["jobs"]
            acc[pre + "stages"] += tot["stages"]
            acc[pre + "shuffle_mb"] += tot["shuffle_write"] / MB
            acc["registry.jobs"] += tot["jobs"]
            acc["registry.tasks"] += tot["tasks"]
            acc["registry.executor_cpu_s"] += tot["cpu_ns"] / 1e9
            acc["registry.spill_mb"] += tot["spill"] / MB
            per_entry[sp["op"]] = {"jobs": tot["jobs"],
                                   "stages": tot["stages"],
                                   "jobs_in_build": cb["jobs"]}
        res.layer.update(acc)
        res.layer["registry.cache_builders"] = len(builders)
        for k, v in catalyst.items():
            res.layer[f"catalyst.{k}_ms"] = v
        res.detail["per_entry"] = per_entry
    return res


# --- search ----------------------------------------------------------------

def _answer(rows) -> list[tuple]:
    return sorted(((int(r.id), float(r.score)) for r in rows),
                  key=lambda t: (-t[1], t[0]))


def _traced_plans(tr, pipe, attr: str):
    """Give ``pipe.<attr>`` (search / search_many, which the serve_*
    facade calls) a plan span of its own; the surrounding serve span's
    self time is then the ``.collect()`` it runs."""
    if not tr.enabled:
        return
    orig = getattr(pipe, attr)

    def planned(*a, **kw):
        with tr.span("plan", group=True):
            return orig(*a, **kw)

    setattr(pipe, attr, planned)


def _serve_layers(tr, name: str) -> dict:
    spans = [s for s in tr.named(name) if tr.children(s)]  # plan ran
    plan = [tr.children(s)[0]["end"] - tr.children(s)[0]["start"]
            for s in spans]
    execs = [tr.self_time(s) for s in spans]
    cs = [tr.counters(s) for s in spans]
    n = max(1, len(cs))
    return {"plan_ms": _ms(plan), "exec_ms": _ms(execs),
            "jobs": sum(c["jobs"] for c in cs) / n,
            "stages": sum(c["stages"] for c in cs) / n,
            "tasks": sum(c["tasks"] for c in cs) / n,
            "cpu_ms": sum(c["cpu_ns"] for c in cs) / n / 1e6}


def _serve_query_layers(tr) -> dict:
    s = _serve_layers(tr, "serve")
    return {"serve.plan_ms": s["plan_ms"], "serve.exec_ms": s["exec_ms"],
            "serve.jobs_per_query": s["jobs"],
            "serve.stages_per_query": s["stages"],
            "serve.tasks_per_query": s["tasks"],
            "serve.executor_cpu_ms_per_query": s["cpu_ms"]}


def _build_corpus(spark, tr, pipe, rows) -> None:
    df = _docs(spark, rows)
    with tr.span("setup.bulk_load", group=True):
        pipe.bulk_load(df)
    with tr.span("setup.build_graph", group=True):
        pipe.build_graph()
    with tr.span("setup.warm", group=True):
        pipe.warm()
    tr.collect()


def run_search(spark, tr, seed: int, seconds: int, state_dir: str) -> Result:
    from multi_model_vectorsearch_spark.streaming.ingest import (
        IngestPipeline,
    )

    res = Result()
    base = fixture_docs()
    vocab = vocabulary(base)
    rows = base + gen.corpus_rows(seed, vocab, SEARCH_DOCS - len(base))
    pipe = IngestPipeline(spark, state_dir)
    res.info["commit_mode"] = pipe.commit_mode
    _build_corpus(spark, tr, pipe, rows)
    _traced_plans(tr, pipe, "search")
    _traced_plans(tr, pipe, "search_many")
    queries = gen.query_texts(seed, vocab)
    warm_q = gen.query_texts(seed, vocab, "warmup")
    with tr.span("setup.warmup"):
        for _ in range(WARM_SINGLE):
            pipe.serve_search(next(warm_q))
        for _ in range(WARM_MANY):
            pipe.serve_search_many([next(warm_q) for _ in range(MANY)])

    single, many = [], []
    res.start()
    t_begin = time.perf_counter()
    for _ in range(max(1, round(SINGLE_PER_S * seconds))):
        q = next(queries)
        got = attempt(res, tr, "serve", f"q{res.attempted + 1}",
                      lambda: pipe.serve_search(q))
        if got is None:
            continue
        single.append(got[0])
        if not got[1]:
            res.fail(f"empty answer for {q!r}")
    t_single = time.perf_counter() - t_begin
    t_many_begin = time.perf_counter()
    for _ in range(max(1, round(MANY_PER_S * seconds))):
        texts = [next(queries) for _ in range(MANY)]
        got = attempt(res, tr, "many", f"m{res.attempted + 1}",
                      lambda: pipe.serve_search_many(texts))
        if got is None:
            continue
        many.append(got[0])
        if any(not a for a in got[1]):
            res.fail("empty answer in a serve_search_many call")
    t_many = time.perf_counter() - t_many_begin
    mb = cached_mb(spark)

    # correctness (untimed): serve_search_many answers equal serve_search
    # answers for the same texts — the documented value-identity contract
    check = gen.query_texts(seed, vocab, "check")
    texts = [next(check) for _ in range(CHECK_TEXTS)]
    batched = pipe.serve_search_many(texts)
    for t, b in zip(texts, batched):
        one = pipe.serve_search(t)
        if not one or _answer(one) != _answer(b):
            res.correct = False
            res.problems.append(f"many != single for {t!r}")

    res.e2e = {
        "op_p50_ms": _ms(single),
        "op_geomean_ms": _geomean_ms(single),
        "throughput_per_s": len(single) / t_single,
    }
    res.layer["memory.cached_mb"] = mb
    res.detail.update({"single_ms": [x * 1e3 for x in single],
                       "many16_ms": [x * 1e3 for x in many]})
    res.info.update({"corpus_docs": len(rows), "single": len(single),
                     "many16": len(many)})
    lay = res.layer
    lay["serve.p75_ms"] = _p75_ms(single)
    lay["many16.p50_ms"] = _ms(many)
    lay["many16.qps"] = MANY * len(many) / t_many if many else 0.0
    lay["serve.retries"] = pipe.serve_counters["retries"]
    if tr.enabled:
        lay.update(_serve_query_layers(tr))
        m = _serve_layers(tr, "many")
        lay.update({"many16.plan_ms": m["plan_ms"],
                    "many16.exec_ms": m["exec_ms"],
                    "many16.stages_per_call": m["stages"]})
    return res


# --- ingest beside search --------------------------------------------------

def run_ingest_mixed(spark, tr, seed: int, seconds: int,
                     state_dir: str) -> Result:
    from multi_model_vectorsearch_spark.streaming.ingest import (
        IngestPipeline,
    )

    res = Result()
    base = fixture_docs()
    vocab = vocabulary(base)
    # default constructor; the poll opt-in is required because maybe_rewarm
    # refuses rename-commit state otherwise, and here the poller is the
    # writer itself (the single-actor case the opt-in exists for)
    pipe = IngestPipeline(spark, state_dir, allow_rename_mode_poll=True)
    res.info["commit_mode"] = pipe.commit_mode
    _build_corpus(spark, tr, pipe, base)
    _traced_plans(tr, pipe, "search")
    start_count = pipe.corpus().count()
    start_texts = [t for _, t, _ in base]
    batches = gen.ingest_batches(seed, vocab, INGEST_BATCH)
    queries = gen.query_texts(seed, vocab)
    sent: list[str] = []
    batch_id = 0

    def batch_op(batch):
        """The next batch as a (op id, process_batch call) pair."""
        nonlocal batch_id
        df = _docs(spark, batch)
        batch_id += 1
        bid = batch_id
        return f"b{bid}", lambda: pipe.process_batch(df, bid)

    with tr.span("setup.warmup"):
        for _ in range(WARM_CYCLES):
            batch = next(batches)
            batch_op(batch)[1]()
            sent.extend(t for _, t, _ in batch)
            pipe.maybe_rewarm()
            for _ in range(SEARCHES_PER_BATCH):
                pipe.serve_search(next(queries))
        pipe.compact()
    tr.collect()

    seen = _dir_files(state_dir) if tr.enabled else {}
    written = 0
    max_files = 0
    doc_bytes = 0
    lat, rewarm, after_write, searches, compacts, rewritten = \
        [], [], [], [], [], []

    def track() -> int:
        nonlocal seen, written
        now = _dir_files(state_dir)
        new = sum(s for p, s in now.items() if seen.get(p) != s)
        written += new
        seen = now
        return new

    res.start()
    t_begin = time.perf_counter()
    n_docs = 0
    rounds = max(1, round(seconds / (CYCLE_S * COMPACT_EVERY)))
    for n in range(1, rounds * COMPACT_EVERY + 1):
        batch = next(batches)
        got = attempt(res, tr, "ingest.batch", *batch_op(batch))
        if got is not None:
            lat.append(got[0])
            sent.extend(t for _, t, _ in batch)
            n_docs += len(batch)
            doc_bytes += sum(len(t.encode()) for _, t, _ in batch)
        if tr.enabled:
            track()
        got = attempt(res, tr, "ingest.rewarm", f"b{batch_id}",
                      pipe.maybe_rewarm)
        if got is not None:
            rewarm.append(got[0])
        for i in range(SEARCHES_PER_BATCH):
            q = next(queries)
            got = attempt(res, tr, "serve", f"b{batch_id}q{i}",
                          lambda: pipe.serve_search(q))
            if got is None:
                continue
            searches.append(got[0])
            if i == 0:
                after_write.append(got[0])
            if not got[1]:
                res.fail(f"empty answer for {q!r}")
        if n % COMPACT_EVERY == 0:
            if tr.enabled:
                track()
                max_files = max(max_files, len(seen))
            got = attempt(res, tr, "ingest.compact", f"c{batch_id}",
                          pipe.compact)
            if got is not None:
                compacts.append(got[0])
            if tr.enabled:
                rewritten.append(track())
    pipe.maybe_rewarm()
    loop_s = time.perf_counter() - t_begin
    mb = cached_mb(spark)
    tr.collect()

    # correctness (untimed)
    torn = pipe.torn_batch_keys()
    if torn:
        res.correct = False
        res.problems.append(f"torn batch keys {sorted(torn)}")
    if pipe.serve_counters["exhausted"]:
        res.correct = False
        res.problems.append(f"serve_counters {pipe.serve_counters}")
    final = pipe.corpus().count()
    want = len(set(start_texts) | set(sent))
    if start_count != len(set(start_texts)) or final != want:
        res.correct = False
        res.problems.append(f"corpus rows start {start_count} final "
                            f"{final}, want {len(set(start_texts))} / {want}")

    res.e2e = {
        "op_p50_ms": _ms(lat),
        "op_geomean_ms": _geomean_ms(lat),
        "throughput_per_s": n_docs / loop_s,
    }
    res.layer["memory.cached_mb"] = mb
    res.detail.update({"batch_ms": [x * 1e3 for x in lat],
                       "search_ms": [x * 1e3 for x in searches],
                       "compact_ms": [x * 1e3 for x in compacts]})
    res.info.update({"batches": len(lat), "compactions": len(compacts),
                     "docs_sent": n_docs, "corpus_final": final})
    lay = res.layer
    lay.update({
        "ingest.batch_ms": _ms(lat),
        "ingest.fresh_frac": (final - start_count) / len(sent),
        "ingest.rewarm_ms": _ms(rewarm),
        "ingest.search_after_write_ms": _ms(after_write),
        "ingest.search_p50_ms": _ms(searches),
        "ingest.compact_ms": _ms(compacts),
        "serve.retries": pipe.serve_counters["retries"],
        "statefs.state_mb": sum(_dir_files(state_dir).values()) / MB,
    })
    if tr.enabled:
        cs = [tr.counters(s) for s in tr.named("ingest.batch")
              if s["parent"] is None]
        n = max(1, len(cs))
        lay.update({
            "ingest.jobs_per_batch": sum(c["jobs"] for c in cs) / n,
            "ingest.stages_per_batch": sum(c["stages"] for c in cs) / n,
            "ingest.executor_cpu_ms_per_batch":
                sum(c["cpu_ns"] for c in cs) / n / 1e6,
            "statefs.files": max_files,
            "ingest.compact_rewritten_mb":
                statistics.median(rewritten) / MB if rewritten else 0.0,
            "statefs.written_mb_per_doc_mb": written / max(1, doc_bytes),
        })
        lay.update(_serve_query_layers(tr))
    return res


WORKLOADS = {
    "registry": run_registry,
    "search": run_search,
    "ingest_mixed": run_ingest_mixed,
}
