"""The traced run: spans around each layer's public functions, turned into
per-layer metrics once the workload is done.

Layer names are the engine's module names. Only the benchmark's own code is
instrumented: the wrappers are installed on the engine's classes and modules
for the duration of one run.
"""

from __future__ import annotations

import time

from percentiles import median
from spans import Tracer

# Per-layer metrics every contract workload reports (BENCHMARK.json).
CONTRACT = (
    "session.start_s",
    "analysis.tokenize_s", "analysis.tokens",
    "index_build.ingest_s", "index_build.encode_s", "index_build.stats_s",
    "index_build.commit_s", "index_build.jobs", "index_build.tasks",
    "index_build.files_written", "index_build.bytes_written",
    "codec.decode_postings_per_s", "codec.encode_postings_per_s",
    "parser.parse_us",
    "search.plan_ms", "search.term_meta_ms", "search.stats_jobs_per_query",
    "search.execute_ms", "search.jobs_per_query", "search.tasks_per_query",
    "spark.jobs", "spark.tasks",
    "trace.overhead_frac",
)
CODEC_TERMS = ("popcorn", "common1", "common2", "word1", "word7")
CODEC_ROUNDS = 5


def codec_rates(index_dir: str) -> tuple[float, float]:
    """(decoded, encoded) postings per second: in-process micro-timing of
    `codec.decode_block` over every block of CODEC_TERMS in a built index,
    and of `codec.encode_posting_list` re-encoding the decoded lists. Each
    rate is the median of CODEC_ROUNDS passes."""
    import numpy as np
    import pyarrow.dataset as ds

    from lucenenet_spark.operators import codec
    from lucenenet_spark.operators.index_build import load_manifest
    from lucenenet_spark.oracle import norm_cache

    m = load_manifest(index_dir)
    rows = (
        ds.dataset(m["tables"]["postings"], format="parquet", partitioning="hive")
        .to_table(
            filter=(ds.field("field") == "text")
            & ds.field("term").isin(list(CODEC_TERMS))
            & (ds.field("block_no") >= 0),
            columns=["term", "salt", "block_no", "first_docid", "count",
                     "docids_enc", "tfs_enc", "norms_enc"],
        )
        .to_pylist()
    )
    rows.sort(key=lambda r: (r["term"], r["salt"], r["block_no"]))
    n = sum(r["count"] for r in rows)

    def decode_all():
        return [
            codec.decode_block(r["docids_enc"], r["tfs_enc"], r["first_docid"], r["count"])
            for r in rows
        ]

    lists: dict[tuple, list] = {}
    for r, (d, t) in zip(rows, decode_all()):
        lists.setdefault((r["term"], r["salt"]), []).append(
            (d, t, np.frombuffer(r["norms_enc"], dtype=np.uint8))
        )
    lists = {k: [np.concatenate(x) for x in zip(*v)] for k, v in lists.items()}
    cache = norm_cache(m["k1"], m["b"], np.float32(m["avgdl"]))

    def encode_all():
        for d, t, nb in lists.values():
            codec.encode_posting_list(d, t, nb, cache)

    def rate(fn) -> float:
        times = []
        for _ in range(CODEC_ROUNDS):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return n / median(times)

    return rate(decode_all), rate(encode_all)


class Layers:
    """Installs the wrappers on construction; `finish` computes the metrics."""

    def __init__(self, ctx):
        from lucenenet_spark.operators import deletes, index_build, search
        from lucenenet_spark.operators.index_build import load_manifest
        from lucenenet_spark.plans import parser
        from lucenenet_spark.streaming import nrt

        self.ctx = ctx
        self.tracer = t = ctx.tracer = Tracer(ctx.spark.sparkContext)
        self.started = time.perf_counter()
        self.written = [0, 0]  # files, bytes of committed builds
        self.merged_docs = 0
        self.deleted_docs = 0

        def build_done(rec, args, manifest):
            from workloads import dir_bytes

            files, size = dir_bytes(args[0].out_dir)
            self.written[0] += files
            self.written[1] += size

        def merge_done(rec, args, manifest):
            self.merged_docs += int(load_manifest(args[2])["max_doc"])

        def delete_done(rec, args, gen_path):
            import pyarrow.parquet as pq

            self.deleted_docs += pq.read_table(gen_path).num_rows

        ib = index_build.IndexBuilder
        t.wrap(ib, "build", "index_build.build", after=build_done)
        t.wrap(ib, "ingest", "index_build.ingest")
        t.wrap(ib, "encode_postings", "index_build.encode")
        t.wrap(ib, "compute_stats", "index_build.stats")
        t.wrap(ib, "commit", "index_build.commit")
        t.wrap(parser, "parse", "parser.parse")
        t.wrap(search.IndexSearcher, "search", "search.plan")
        t.wrap(search.IndexSearcher, "rewrite", "search.rewrite")
        t.wrap(search.IndexSearcher, "term_meta", "search.term_meta")
        t.wrap(nrt, "merge_segments", "merge.merge", after=merge_done)
        t.wrap(deletes.DeleteLog, "delete_docids", "deletes.delete", after=delete_done)
        t.wrap(nrt.NRTIndex, "process_batch", "nrt.process_batch")
        t.wrap(nrt.NRTIndex, "update_documents", "nrt.update_documents")
        t.wrap(nrt.NRTIndex, "searcher", "nrt.reopen")
        t.wrap(nrt.NRTIndex, "maybe_merge", "nrt.maybe_merge")
        t.wrap(nrt.NRTIndex, "compact", "nrt.compact")

    def _extras(self) -> dict:
        """Measurements made after the workload, outside its timed region."""
        from pyspark.sql import functions as F

        from lucenenet_spark.functions.analysis import tokens_col

        ctx = self.ctx
        out = {}
        corpus = ctx.spark.read.parquet(ctx.path("corpus"))
        with self.tracer.span("analysis.tokenize") as rec:
            t0 = time.perf_counter()
            tokens = corpus.select(F.size(tokens_col(F.col("text"))).alias("n")).agg(
                F.sum("n")
            ).first()[0]
            rec["elapsed"] = time.perf_counter() - t0
        out["analysis.tokenize_s"] = (rec["elapsed"], "s")
        out["analysis.tokens"] = (int(tokens), "count")
        dec, enc = codec_rates(ctx.index_dirs[-1])
        out["codec.decode_postings_per_s"] = (dec, "1/s")
        out["codec.encode_postings_per_s"] = (enc, "1/s")
        return out

    def _sum_df(self, samples) -> dict:
        """Σ doc_freq of each family's first query's terms (prefixes rewritten):
        shows which adaptive search path the family takes at this size."""
        from lucenenet_spark.operators.search import IndexSearcher, _collect_terms
        from lucenenet_spark.plans import parser
        from lucenenet_spark.plans.query import PrefixQuery

        s = IndexSearcher(self.ctx.spark, self.ctx.index_dirs[-1])
        out = {}
        for fam in sorted({x["family"] for x in samples}):
            q = parser.parse(next(x["q"] for x in samples if x["family"] == fam))
            if isinstance(q, PrefixQuery):
                q = s.rewrite(q)
            out[f"search.sum_df.{fam}"] = (sum(s.doc_freqs(_collect_terms(q)).values()), "count")
        return out

    def finish(self, res) -> dict:
        """Per-layer metrics for the finished workload `res`."""
        t = self.tracer
        wall = time.perf_counter() - self.started
        overhead = t.overhead_s
        t.unwrap_all()
        out = {"session.start_s": (self.ctx.session_start_s, "s")}
        out.update(self._extras())
        families = {s["op"]: s["family"] for s in res.samples if "family" in s}
        if families:
            out.update(self._sum_df(res.samples))
        t.attach_job_counts()

        by_id = {s["id"]: s for s in t.spans}

        def in_query(s) -> bool:
            while s is not None:
                if s["name"] == "query":
                    return True
                s = by_id.get(s["parent"])
            return False

        measured = [s for s in t.spans if s["op"] is not None]
        q_spans = [
            s for s in measured
            if s["op"] != "setup" and s["name"].startswith("search.") and in_query(s)
        ]
        n_q = sum(1 for s in q_spans if s["name"] == "search.plan") or 1

        def total(name, key="dur", spans=measured):
            return sum(
                (s["end"] - s["start"]) if key == "dur" else s.get(key, 0)
                for s in spans if s["name"] == name
            )

        def mean_ms(name, spans=q_spans):
            d = [s["end"] - s["start"] for s in spans if s["name"] == name]
            return (1e3 * sum(d) / len(d) if d else 0.0, "ms")

        for stage in ("ingest", "encode", "stats", "commit"):
            out[f"index_build.{stage}_s"] = (total(f"index_build.{stage}"), "s")
        ib = [s for s in measured if s["name"].startswith("index_build.")]
        for k in ("jobs", "tasks", "failed_tasks"):
            out[f"index_build.{k}"] = (sum(s.get(k, 0) for s in ib), "count")
        out["index_build.files_written"] = (self.written[0], "count")
        out["index_build.bytes_written"] = (self.written[1], "bytes")
        parses = [s["end"] - s["start"] for s in measured if s["name"] == "parser.parse"]
        out["parser.parse_us"] = (1e6 * sum(parses) / max(len(parses), 1), "us")
        out["search.plan_ms"] = mean_ms("search.plan")
        out["search.term_meta_ms"] = (1e3 * total("search.term_meta", spans=q_spans) / n_q, "ms")
        out["search.stats_jobs_per_query"] = (
            total("search.term_meta", "jobs", q_spans) / n_q, "count")
        out["search.execute_ms"] = mean_ms("search.execute")
        out["search.fetch_ms"] = mean_ms("search.fetch")
        out["search.jobs_per_query"] = (sum(s.get("jobs", 0) for s in q_spans) / n_q, "count")
        out["search.tasks_per_query"] = (sum(s.get("tasks", 0) for s in q_spans) / n_q, "count")
        for fam in sorted(set(families.values())):
            ops = {op for op, f in families.items() if f == fam}
            fs = [s for s in q_spans if s["op"] in ops]
            ex = [s["end"] - s["start"] for s in fs if s["name"] == "search.execute"]
            if ex:
                out[f"search.execute_ms.{fam}"] = (1e3 * median(ex), "ms")
            out[f"search.jobs_per_query.{fam}"] = (sum(s.get("jobs", 0) for s in fs) / len(ops), "count")
            out[f"search.tasks_per_query.{fam}"] = (sum(s.get("tasks", 0) for s in fs) / len(ops), "count")
        if any(s["name"] == "merge.merge" for s in measured):
            out["merge.merge_s"] = (total("merge.merge"), "s")
            out["merge.merges"] = (sum(1 for s in measured if s["name"] == "merge.merge"), "count")
            out["merge.docs_rewritten"] = (self.merged_docs, "count")
            merge_ids = {s["id"] for s in measured if s["name"] == "merge.merge"}
            out["merge.jobs"] = (sum(
                s.get("jobs", 0) for s in measured
                if s["id"] in merge_ids or s["parent"] in merge_ids), "count")
        if any(s["name"] == "deletes.delete" for s in measured):
            out["deletes.delete_s"] = (total("deletes.delete"), "s")
            out["deletes.docids_deleted"] = (self.deleted_docs, "count")
        if any(s["name"] == "nrt.process_batch" for s in measured):
            out["nrt.build_s"] = (sum(
                s["end"] - s["start"] for s in measured
                if s["name"] == "index_build.build"
                and by_id.get(s["parent"], {}).get("name") == "nrt.process_batch"), "s")
            out["nrt.reopen_ms"] = mean_ms("nrt.reopen", measured)
            segs = [s["segments"] for s in res.samples if "segments" in s]
            out["nrt.segments"] = (sum(segs) / len(segs), "count")
        for k in ("jobs", "tasks", "failed_tasks"):
            out[f"spark.{k}"] = (sum(s.get(k, 0) for s in measured), "count")
        for name, agg in sorted(t.by_name().items()):
            out[f"self_s.{name}"] = (agg["self_s"], "s")
        out["trace.overhead_s"] = (overhead, "s")
        out["trace.overhead_frac"] = (overhead / wall, "ratio")
        return out
