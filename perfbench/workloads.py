"""The benchmark's workloads. Each takes a `Ctx` and returns a `Result`.

Every workload times only calls into the engine; checking answers happens
after the timed region and counts wrong answers as failed operations.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from statistics import mean

from percentiles import median, percentile, tail_percentile

K = 10  # top-k of every query
CLIENTS = 2  # closed-loop client threads in query_mix
# query_mix sends one round of the 12-family rotation, however long it takes:
# a deadline would let a faster program send more repeats of the popular
# terms and so measure a warmer term-stats cache than its parent. A second
# round does not fit the time budget of a run
REQUESTS = 12
# read after every NRT reopen: hot term, hot AND mid, and the token only the
# updated turns carry
NRT_QUERIES = ("popcorn", "+popcorn +word1", "revised")
# add-0 is set-up. The update deletes from that segment and adds a second
# one; then a forced merge (`compact`) rewrites both into one, applying the
# deletes. The tiered policy would merge only from a third segment on, and a
# third commit does not fit the time budget of a run
NRT_SCHEDULE = ("update", "merge")
NRT_CHECK_CONVS = 8  # updated conversations whose live turns are listed


@dataclass
class Ctx:
    spark: object
    inputs: str  # the (seed, size) input directory
    meta: dict
    run_dir: str  # emptied at the start of each run
    seed: int
    seconds: float
    cpus: int
    tracer: object | None = None  # spans.Tracer in the traced run
    session_start_s: float = 0.0
    index_dirs: list = field(default_factory=list)  # committed indexes built

    def path(self, *parts: str) -> str:
        return os.path.join(self.inputs, *parts)

    def fresh_dir(self, name: str) -> str:
        d = os.path.join(self.run_dir, name)
        shutil.rmtree(d, ignore_errors=True)
        return d

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def operation(self, op_id):
        return self.tracer.operation(op_id) if self.tracer else nullcontext()


@dataclass
class Result:
    metrics: dict  # end-to-end metrics: name -> (value, unit)
    report: dict  # every metric the report prints: name -> (value, unit)
    attempted: int
    failed: int
    samples: list = field(default_factory=list)  # per-operation records


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under path."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def batch_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=["turn_idx"]).num_rows


def latency_report(prefix: str, lat_s: list[float]) -> dict:
    """Sample count, p50 and the highest percentile with at least 10 samples
    beyond it."""
    out = {
        f"{prefix}_samples": (len(lat_s), "count"),
        f"{prefix}_p50_ms": (median(lat_s) * 1e3, "ms"),
    }
    p = tail_percentile(len(lat_s))
    if p is not None and p > 50:
        out[f"{prefix}_p{p:g}_ms"] = (percentile(lat_s, p) * 1e3, "ms")
    return out


def _build(ctx: Ctx, out: str, df, build_id: str) -> dict:
    from lucenenet_spark.operators.index_build import IndexBuilder

    return IndexBuilder(
        ctx.spark, out, n_buckets=ctx.cpus, n_segments=ctx.cpus, input_clustered=True
    ).build(df, build_id=build_id)


# -- query_mix -----------------------------------------------------------------
def _one_query(ctx: Ctx, searcher, i: int, req: dict) -> dict:
    from lucenenet_spark.plans import parser

    rec = dict(req, op=i)
    t0 = time.perf_counter()
    with ctx.operation(i), ctx.span("query"):
        try:
            q = parser.parse(req["q"])
            hits_df = searcher.search(q, K)
            with ctx.span("search.execute"):
                rows = hits_df.collect()
            if req["fetch"]:
                with ctx.span("search.fetch"):
                    fetched = searcher.fetch(hits_df, hits_bound=K).select("docid").collect()
                rec["fetch_ok"] = sorted(r["docid"] for r in fetched) == sorted(
                    r["docid"] for r in rows
                )
            rec["hits"] = [(r["docid"], r["score"]) for r in rows]
        except Exception as e:  # a failed request is counted, the loop goes on
            rec["error"] = repr(e)
    rec["lat_s"] = time.perf_counter() - t0
    return rec


def check_queries(ctx: Ctx, samples: list[dict]) -> int:
    """Wrong or failed samples: raised, fetch mismatched, differs from the
    first answer to the same string, or (where the oracle covers the family)
    the first answer differs from the oracle's top-k in docid and float32
    score."""
    import numpy as np

    from inputs import OracleAnswers

    oracle = OracleAnswers(ctx.inputs, K)
    first: dict[str, list] = {}
    bad = set()
    for s in samples:
        if "error" in s or not s.get("fetch_ok", True):
            bad.add(s["op"])
            continue
        hits = [(int(d), np.float32(sc)) for d, sc in s["hits"]]
        if first.setdefault(s["q"], hits) != hits:
            bad.add(s["op"])
    wrong_q = {q for q, hits in first.items() if oracle.get(q) not in (None, hits)}
    oracle.save()
    bad |= {s["op"] for s in samples if s["q"] in wrong_q}
    return len(bad)


def _closed_loop(ctx: Ctx, searcher, requests: list[dict]) -> list[dict]:
    """CLIENTS threads each send the next of `requests` when their last one
    completes, until all have been sent."""
    lock = threading.Lock()
    errors: list[BaseException] = []
    samples: list[dict] = []
    pending = iter(enumerate(requests))

    def client():
        try:
            while True:
                with lock:
                    i, req = next(pending, (None, None))
                if req is None:
                    return
                rec = _one_query(ctx, searcher, i, req)
                with lock:
                    samples.append(rec)
        except BaseException as e:  # surfaced after join
            errors.append(e)
            raise

    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return samples


def query_mix(ctx: Ctx) -> Result:
    from inputs import query_stream
    from lucenenet_spark.operators.search import IndexSearcher

    idx = ctx.fresh_dir("index")
    t0 = time.perf_counter()
    with ctx.operation("setup"):
        _build(ctx, idx, ctx.spark.read.parquet(ctx.path("corpus")), "query-mix")
        searcher = IndexSearcher(ctx.spark, idx)
    setup_s = ctx.session_start_s + time.perf_counter() - t0
    ctx.index_dirs.append(idx)

    requests = query_stream(ctx.seed, REQUESTS, ctx.meta["rare_ids"])
    start = time.perf_counter()
    samples = _closed_loop(ctx, searcher, requests)
    timed_s = time.perf_counter() - start

    failed = check_queries(ctx, samples)
    lat = [s["lat_s"] for s in samples]
    qps = len(samples) / timed_s
    _, idx_bytes = dir_bytes(idx)
    report = {"query_qps": (qps, "1/s"), **latency_report("query", lat)}
    for fam in sorted({s["family"] for s in samples}):
        fl = [s["lat_s"] for s in samples if s["family"] == fam]
        report[f"query_p50_ms.{fam}"] = (median(fl) * 1e3, "ms")
    return Result(
        metrics={
            "setup_s": (setup_s, "s"),
            "throughput_per_s": (qps, "1/s"),
            "query_mean_ms": (mean(lat) * 1e3, "ms"),
            "index_bytes_per_text_byte": (idx_bytes / ctx.meta["text_bytes"], "ratio"),
        },
        report=report,
        attempted=len(samples),
        failed=failed,
        samples=samples,
    )


# -- nrt_ingest ----------------------------------------------------------------
def check_nrt(ctx: Ctx, searcher, added_rows: int) -> int:
    """Failed end-state checks (of 2): the live-doc count; and the edited
    turns (the only docs carrying EDIT_TOKEN) are all live, and the first
    NRT_CHECK_CONVS updated conversations hold exactly them."""
    from inputs import EDIT_TOKEN
    from lucenenet_spark.plans.query import BooleanQuery, MatchAllQuery, TermQuery

    upd = ctx.meta["update"]["new_turns"]
    old = ctx.meta["update"]["old_turns"]
    want_live = added_rows - sum(old.values()) + sum(upd.values())
    bad = int(searcher.count(MatchAllQuery()) != want_live)
    edited = searcher.search(TermQuery(term=EDIT_TOKEN), 2 * want_live).collect()
    edited = {r["docid"] for r in edited}
    sample = dict(sorted(upd.items())[:NRT_CHECK_CONVS])
    convs = searcher.search(
        BooleanQuery(should=tuple(TermQuery(term=c, field="conv_id") for c in sample)),
        2 * sum(sample.values()),
    )
    rows = searcher.fetch(convs).select("docid", "conv_id").collect()
    per_conv: dict[str, int] = {}
    for r in rows:
        per_conv[r["conv_id"]] = per_conv.get(r["conv_id"], 0) + 1
    bad += int(
        len(edited) != sum(upd.values())
        or per_conv != sample
        or not {r["docid"] for r in rows} <= edited
    )
    return bad


def nrt_ingest(ctx: Ctx) -> Result:
    from lucenenet_spark.plans import parser
    from lucenenet_spark.streaming.nrt import NRTIndex

    base = ctx.fresh_dir("nrt")
    idx = NRTIndex(
        ctx.spark, base, max_segments=1, n_buckets=ctx.cpus, n_segments=ctx.cpus,
        keyword_fields=("role", "tool", "conv_id"),
    )
    read = lambda name: ctx.spark.read.parquet(ctx.path("nrt", name))  # noqa: E731
    update_rows = batch_rows(ctx.path("nrt", "update"))
    t0 = time.perf_counter()
    with ctx.operation("setup"):
        idx.process_batch(read("add-0"), 0)
    setup_s = ctx.session_start_s + time.perf_counter() - t0
    added = batch_rows(ctx.path("nrt", "add-0"))

    commits, samples, turns, failed, attempted = [], [], 0, 0, 0
    start = time.perf_counter()
    for bid, kind in enumerate(NRT_SCHEDULE, start=1):
        with ctx.operation(f"batch-{bid}"):
            attempted += 1
            t = time.perf_counter()
            try:
                if kind == "update":
                    idx.update_documents(read("update"), bid, "conv_id")
                else:
                    idx.compact()
            except Exception as e:  # counted; the end-state check will also fail
                failed += 1
                samples.append({"batch": bid, "error": repr(e)})
                continue
            commits.append(time.perf_counter() - t)
            turns += update_rows if kind == "update" else 0
            searcher = idx.searcher()
            n_segs = len(searcher.segments)
            for qstr in NRT_QUERIES:
                attempted += 1
                t = time.perf_counter()
                with ctx.span("query"):
                    try:
                        hits_df = searcher.search(parser.parse(qstr), K)
                        with ctx.span("search.execute"):
                            hits_df.collect()
                    except Exception as e:
                        failed += 1
                        samples.append({"batch": bid, "q": qstr, "error": repr(e)})
                        continue
                samples.append(
                    {"batch": bid, "q": qstr, "segments": n_segs,
                     "lat_s": time.perf_counter() - t}
                )
    timed_s = time.perf_counter() - start

    attempted += 2
    failed += check_nrt(ctx, idx.searcher(), added)
    lat = [s["lat_s"] for s in samples if "lat_s" in s]
    ctx.index_dirs.append(idx.segments()[0])
    _, idx_bytes = dir_bytes(base)
    turns_per_s = turns / sum(commits)
    return Result(
        metrics={
            "setup_s": (setup_s, "s"),
            "throughput_per_s": (turns_per_s, "1/s"),
            "query_mean_ms": (mean(lat) * 1e3, "ms"),
            "index_bytes_per_text_byte": (idx_bytes / ctx.meta["nrt_text_bytes"], "ratio"),
        },
        report={
            "nrt_turns_per_s": (turns_per_s, "1/s"),
            "nrt_commit_p50_s": (median(commits), "s"),
            "nrt_timed_s": (timed_s, "s"),
            **latency_report("nrt_query", lat),
        },
        attempted=attempted,
        failed=failed,
        samples=samples,
    )


# -- build_bulk ----------------------------------------------------------------
def build_bulk(ctx: Ctx) -> Result:
    """Whole-corpus builds into fresh directories, back to back. Not in
    BENCHMARK.json (22 runs of a third workload do not fit the hour its
    workloads share); run it by hand with --workload build_bulk."""
    from lucenenet_spark import validate
    from lucenenet_spark.functions.analysis import tokenize_text
    from inputs import corpus_pandas

    corpus = ctx.spark.read.parquet(ctx.path("corpus"))
    t0 = time.perf_counter()
    with ctx.operation("setup"):  # first build warms the JVM and Python workers
        _build(ctx, ctx.fresh_dir("warm"), corpus, "warm")
    setup_s = ctx.session_start_s + time.perf_counter() - t0

    builds, manifests = [], []
    start = time.perf_counter()
    while len(builds) < 2 or time.perf_counter() - start < ctx.seconds:
        out = ctx.fresh_dir("index")
        with ctx.operation(f"build-{len(builds)}"):
            t = time.perf_counter()
            manifests.append(_build(ctx, out, corpus, f"bulk-{len(builds)}"))
            builds.append(time.perf_counter() - t)

    texts = corpus_pandas(ctx.path("corpus"))["text"]
    want = (ctx.meta["rows"], sum(len(tokenize_text(t)) for t in texts))
    failed = sum((m["max_doc"], m["sum_ttf"]) != want for m in manifests)
    failed += int(not validate.check_index(ctx.spark, out)["ok"])
    ctx.index_dirs.append(out)
    _, idx_bytes = dir_bytes(out)
    turns_per_s = ctx.meta["rows"] * len(builds) / sum(builds)
    return Result(
        metrics={
            "setup_s": (setup_s, "s"),
            "throughput_per_s": (turns_per_s, "1/s"),
            "build_p50_s": (median(builds), "s"),
            "index_bytes_per_text_byte": (idx_bytes / ctx.meta["text_bytes"], "ratio"),
        },
        report={"build_turns_per_s": (turns_per_s, "1/s"), "builds": (len(builds), "count")},
        attempted=len(builds) + 1,
        failed=failed,
    )


WORKLOADS = {"query_mix": query_mix, "nrt_ingest": nrt_ingest, "build_bulk": build_bulk}
