"""Index build pipeline: transcripts -> inverted-index tables.

Spark-first re-derivation of Lucene's ingestion lifecycle (SURVEY.md §3.3):

  Lucene                               | here
  -------------------------------------+------------------------------------------
  DocumentsWriterPerThread (DWPT)      | one range partition in mapInPandas
  DocInverter/TermsHash per-doc loop   | vectorized tokenize+count in the UDF
  FreqProxTermsWriter in-RAM postings  | per-partition partial posting lists (binary)
  flush sort + Lucene41PostingsWriter  | repartition(term,salt)+sort+mapInPandas encode
  NormsConsumer                        | norm_byte column (byte315, numpy)
  segments_N two-phase commit          | atomic _manifest.json rename
  per-thread flush checkpointing       | per-partition checkpoint rows, lineage+rate

Pass structure — the thing that matters at 100 TB (ONE pass over the text,
ONE compact shuffle, everything else metadata-only):

  pass 1 (text):  stream each input partition through a single mapInPandas:
                  tokenize, norm bytes, doc rows out, and the partition's
                  ENTIRE partial inverted index (term -> docid/tf/norm arrays,
                  the in-RAM DWPT) accumulated in unboxed buffers and flushed
                  as binary partial rows into the same staging table. If the
                  input is already clustered by (conv_id, turn_idx) — verified
                  cheaply, with in-stream order checks and auto-fallback —
                  there is NO shuffle at all; otherwise one range exchange.
                  Stable dense docIDs need no global sort: docid = offset[pid]
                  + local_rank with offsets from a driver prefix-sum over one
                  count per partition. Hot-term detection rides along as
                  per-partition top-term sketches in the checkpoint meta rows.
  shuffle:        partial rows only (~|vocab| rows per partition, raw int32/
                  uint8 payloads — two orders of magnitude fewer rows than
                  exploded postings) hash-partitioned by (term, salt); the
                  reduce concatenates partials in first_docid order (ranges
                  are disjoint, so NO per-posting sort) and block-encodes.
                  Per-(term,salt) stat rows (the terms dictionary) are
                  materialized inside the same write (block_no = -2).
  metadata only:  field_stats from ingest meta sums (no job); docs "table" is
                  a column-pruned VIEW of staging (no rewrite); commit reads
                  just the checkpoint meta rows. Metadata is read and written
                  with pyarrow on the driver, and Spark reads pin their schema,
                  so none of it launches a job.

In-process path: a pandas frame (a collected NRT batch of at most
LOCAL_MAX_DOCS turns) runs the same ingest and encode kernels on the driver as
one partition and writes the same layout with pyarrow — no Spark job.

Skew: hot terms (df above salt_target, estimated from the ingest sketches)
are salted by source-partition range rank, so their sub-lists stay
docid-contiguous, no single reduce group exceeds ~salt_target postings, and
block chains simply interleave by salt at query time.

Resumability: each stage is gated on its marker file (stage output is
deterministic and idempotent); re-running a build skips completed stages.
The final manifest rename is atomic — the PrepareCommit/Commit analogue
(IndexWriter.cs:3868,4092). On a real deployment the parquet writes become
Iceberg appends and the manifest an Iceberg snapshot commit; the sandbox has
no Iceberg runtime so we emulate the atomic-commit contract on parquet+rename.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
import zlib
from collections import Counter
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.analysis import (
    analyzer_has_overlaps,
    tokenize_with_offsets,
    tokenize_with_positions,
)
from ..oracle import norm_cache
from .codec import BLOCK_SIZE, encode_frame, join_bytes, runs

FIELD = "text"

# keyword (StringField-like) fields indexed alongside the analyzed text
# field: untokenized exact values, single position 0, omitNorms (Lucene
# StringField omits norms -> BM25 scores them with norm = k1, b treated as 0,
# BM25Similarity.cs:262). The `field` column flows through staging/postings
# so per-field indexing is a data change, not a schema change (SURVEY §1.3).
DEFAULT_KEYWORD_FIELDS = ("role", "tool")

# separator for (field, term) composite keys in hot-term sketches/salt maps
FKEY_SEP = "\x1f"


def omit_norms_cache(k1: float) -> np.ndarray:
    """256-entry denominator cache for omitNorms fields: norm = k1 constant."""
    return np.full(256, np.float32(k1), dtype=np.float32)

# One staging table, three row kinds discriminated by local_rank:
#   >= 0  doc row (stored fields + norms; docid = offset[pid] + local_rank)
#   -1    per-partition checkpoint meta row (counts, ranges, rates, sketches)
#   -2    partial posting list row: one term's postings WITHIN this partition
#         as raw little-endian arrays (docids = local ranks int64, tfs int32,
#         norm bytes uint8). Written in the same single text pass — the
#         in-RAM DWPT partial index flushed to columnar storage. Downstream
#         encode reads ONLY these binary blobs (np.frombuffer — zero
#         per-object Arrow conversion, which profiling showed dominates).
STAGING_DDL = (
    "pid int, local_rank long, conv_id string, turn_idx int, role string,"
    " tool string, ts timestamp, field_length int, norm_byte short,"
    " meta string, field string, term string, pcount int, first_local long,"
    " docids binary, tfs binary, norms binary, poss binary, offs binary,"
    " pay_lens binary, pays binary"
)

_STAGING_COLS = [c.strip().split()[0] for c in STAGING_DDL.split(",")]

# caps on ONE staged partial-posting row's channels: bounds both the flush
# row width and (with the reduced columnar batch in encode_postings) the
# encode scan's per-batch memory, independent of corpus size. 16k postings /
# 64k positions keeps the worst row near ~0.5 MB.
_MAX_PARTIAL_POSTINGS = 16384
_MAX_PARTIAL_POSITIONS = 65536

POSTINGS_DDL = (
    "field string, term string, salt int, block_no int, first_docid long,"
    " last_docid long, count int, sum_tf long, max_score_bound float,"
    " docids_enc binary, tfs_enc binary, norms_enc binary, pos_enc binary,"
    " off_enc binary, pay_enc binary, bucket int"
)

POSTINGS_COLS = [c.split()[0] for c in POSTINGS_DDL.split(",")]

DOC_COLS = ["conv_id", "turn_idx", "role", "tool", "ts", "field_length", "norm_byte"]

# the docs table a delete-merge rewrites (docid + DOC_COLS + numeric fields)
DOCS_DDL = (
    "docid long, conv_id string, turn_idx int, role string, tool string,"
    " ts timestamp, field_length int, norm_byte short"
)

FIELD_STATS_DDL = (
    "field string, max_doc long, doc_count long, sum_ttf long, avgdl double"
)

CHECKPOINTS_DDL = (
    "build_id string, stage string, partition_id int, status string,"
    " postings long, postings_per_sec double, lineage string, committed_at string"
)

# Largest NRT batch (turns) or merge (total max_doc) that is built on the
# driver instead of as Spark jobs. Both paths run the same kernels
# (make_ingest, make_merge_encode, merge.make_decode) and write the same
# layout; only the scheduling differs. Set from a sweep of one NRT delta
# build (collect + build + publish, warm JVM, local[4] on a 4-core host),
# seconds in-process / on Spark, two runs each:
#   1k turns 0.92-0.98 / 4.02-4.04     4k turns 2.21-2.32 / 4.18-4.22
#   16k turns 6.16-6.45 / 5.30-5.75   64k turns 16.6-16.9 / 9.68-9.75
# Spark's ~4 s of fixed job cost is repaid between 8k and 16k turns; the
# bound sits below that crossover.
LOCAL_MAX_DOCS = 8192

# Largest query volume (Σ df over the plan's keys, and the capped delete
# count) that search runs on the driver (IndexSearcher.run_local) instead
# of as Spark jobs; both runners execute the same plan with the same
# kernels. Set from a sweep of warm search(q, 10).collect() on a 240k-turn
# index (local[4] on a 4-core host, median of 3), ms local / Spark:
#   OR  Σdf 19k 70/551   78k 135/886   155k 224/870   616k 575/1117
#   AND Σdf 68k 103/938; exact phrase 68k 78/736
#   sloppy phrase (a per-doc Python merge) Σdf 39k 511/1120, 68k 807/1441
# The sloppy phrase crosses over first, near twice that volume. The bound
# starts the sweep at prune_min_postings, so conjunction skipping and WAND
# never engage on a local plan at the defaults.
LOCAL_MAX_POSTINGS = 1 << 16


def runs_in_process(n_docs: int) -> bool:
    return n_docs <= LOCAL_MAX_DOCS


def with_numeric(ddl: str, numeric_fields) -> str:
    """A table DDL plus its numeric doc-value columns (doubles)."""
    return ddl + "".join(f", {nf} double" for nf in numeric_fields)


def read_table(spark: SparkSession, path: str, ddl: str) -> DataFrame:
    """Parquet read with a pinned schema: a schema-less read launches a
    footer-inference job (~150-200 ms) before the query even plans."""
    return spark.read.schema(ddl).parquet(path)


_ARROW_TYPES = {
    "string": pa.string(),
    "binary": pa.binary(),
    "short": pa.int16(),
    "int": pa.int32(),
    "long": pa.int64(),
    "float": pa.float32(),
    "double": pa.float64(),
    # Spark reads a UTC-adjusted micros timestamp back as TimestampType
    "timestamp": pa.timestamp("us", tz="UTC"),
}


def arrow_schema(ddl: str) -> pa.Schema:
    return pa.schema(
        [(name, _ARROW_TYPES[typ]) for name, typ in (c.split() for c in ddl.split(","))]
    )


def write_local(path: str, frames, ddl: str) -> None:
    """In-process twin of df.write.mode("overwrite").parquet(path): one
    parquet file holding each frame as its own row group (so driver reads
    prune by row-group stats), typed by the same DDL Spark writes with."""
    schema = arrow_schema(ddl)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    with pq.ParquetWriter(os.path.join(path, "part-00000.parquet"), schema) as w:
        for f in frames:
            w.write_table(pa.Table.from_pandas(f, schema=schema, preserve_index=False))


def read_local(path: str, columns: list[str], where=None) -> pd.DataFrame:
    """Driver-side read of a (hive-partitioned) parquet table, pruned by
    partition values and row-group stats on `where`."""
    data = ds.dataset(path, format="parquet", partitioning="hive") if os.path.isdir(path) else None
    if data is None or not data.files:  # never written, or an empty build
        return pd.DataFrame(columns=columns)
    return data.to_table(columns=columns, filter=where).to_pandas()


def meta_rows(path: str, where, col: str) -> list[dict]:
    """The JSON checkpoint meta rows of a staging or postings table."""
    return [json.loads(x) for x in read_local(path, [col], where)[col]]


def to_utc(ts: pd.Series, tz: str) -> pd.Series:
    """Timestamps as UTC instants; naive values are wall time in `tz`,
    resolved the way pyspark resolves a pandas UDF's naive output."""
    ts = pd.to_datetime(ts)
    if ts.dt.tz is None:
        ts = ts.dt.tz_localize(tz, ambiguous=False)
    return ts.dt.tz_convert("UTC")


def local_table(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Tiny driver-side table -> DataFrame via pandas/Arrow (a JVM
    LocalRelation). createDataFrame on a plain Python list builds a
    defaultParallelism-sliced Python RDD instead — ~5s of Python-worker
    round-trips per tiny metadata write at local[32]."""
    cols = [c.strip().split()[0] for c in schema.split(",")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema)


def term_bucket(term: str, n_buckets: int) -> int:
    """Bucket id for a term — crc32 so Python and Spark agree (F.crc32)."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def term_stats_view(spark: SparkSession, postings_path: str) -> DataFrame:
    """Terms dictionary derived from the stat rows (block_no = -2) embedded in
    the postings table: (field, term, df, ttf, max_bound). One row per
    (field, term, salt) group is aggregated here; term-predicate filters push
    through the aggregation to the parquet scan (bucket dirs + row-group
    term stats)."""
    return (
        read_table(spark, postings_path, POSTINGS_DDL)
        .filter(F.col("block_no") == -2)
        .groupBy("field", "term")
        .agg(
            F.sum("count").alias("df"),
            F.sum("sum_tf").alias("ttf"),
            F.max("max_score_bound").alias("max_bound"),
        )
        .select("field", "term", "df", "ttf", "max_bound")
    )


# Partial posting lists — the DWPT partial-index / map-side-combine stage.
# One row = one (term, salt) sub-list from ONE source partition, carrying raw
# little-endian arrays. ~100x fewer, ~30x denser rows than exploded
# (term, docid, tf) triples, so the term shuffle stops being row-overhead-bound.
PARTIALS_DDL = (
    "field string, term string, salt int, count int, first_docid long,"
    " docids binary, tfs binary, norms binary, poss binary, offs binary,"
    " pay_lens binary, pays binary, pid int"
)


def make_merge_encode(
    caches: dict[str, np.ndarray] | np.ndarray,
    n_buckets: int,
    block: int,
    lineage: str,
    offset_map: dict[int, int] | None = None,
):
    """Reduce side: merge each (field, term, salt)'s partials (disjoint docid
    ranges -> order partials by first_docid and CONCATENATE, no per-posting
    sort) and block-encode. The term-aligned merge of Lucene's SegmentMerger,
    as a shuffle + numpy concat. offset_map maps a partial's pid to the docid
    offset added to its locally-ranked ids (None = ids already global).
    caches: per-field 256-entry denominator caches for the block-max bounds
    (a bare ndarray is treated as the text field's, omitNorms fields fall
    back to a k1-constant cache derived from it)."""
    if isinstance(caches, np.ndarray):
        caches = {FIELD: caches}

    def merge_encode(it):
        bufs: list[pd.DataFrame] = []
        for pdf in it:
            if len(pdf):
                bufs.append(pdf)
        if not bufs:
            return
        gt0 = time.time()
        pdf = pd.concat(bufs, ignore_index=True) if len(bufs) > 1 else bufs[0]
        codes, uniques = pd.factorize(
            pdf["field"] + FKEY_SEP + pdf["term"], sort=False
        )
        order = np.lexsort(
            (pdf["first_docid"].to_numpy(), pdf["salt"].to_numpy(), codes)
        )
        codes = codes[order]
        salts = pdf["salt"].to_numpy()[order]
        bounds = np.r_[runs(codes, salts)[0], len(codes)]

        def flat(col, dtype):
            # the sorted partials' arrays laid end to end + each one's offset
            data, at = join_bytes(pdf[col].to_numpy()[order])
            return data.view(dtype), at // np.dtype(dtype).itemsize

        d, d_at = flat("docids", np.int64 if offset_map is None else np.int32)
        docids = d.astype(np.int64)
        if offset_map is not None:
            # build path: int32 local ranks + per-pid offset
            pids = pdf["pid"].to_numpy()[order]
            docids += np.repeat([offset_map[int(p)] for p in pids], np.diff(d_at))
        tfs = flat("tfs", np.int32)[0].astype(np.int64)
        norms = flat("norms", np.uint8)[0]
        at = d_at[bounds]
        keys = np.asarray(uniques)[codes[bounds[:-1]]]
        fields = np.array([k.split(FKEY_SEP, 1)[0] for k in keys], dtype=object)
        terms = [k.split(FKEY_SEP, 1)[1] for k in keys]
        f_of = np.repeat(fields, np.diff(at))
        denoms = np.empty(len(docids), dtype=np.float32)
        for f in set(fields):
            on = f_of == f
            denoms[on] = caches[f][norms[on]]
        pos, p_at = flat("poss", np.int32)
        off, o_at = flat("offs", np.int32)
        lens, l_at = flat("pay_lens", np.int32)
        pays, y_at = flat("pays", np.uint8)
        blocks = encode_frame(
            at, docids, tfs, norms, denoms, block,
            pos=(pos, p_at[bounds]), off=(off, o_at[bounds]),
            pay=(lens, l_at[bounds], pays, y_at[bounds]),
        )
        g = blocks.pop("group")
        # term-stats row (block_no = -2) per (field, term, salt) group:
        # df/ttf/max-bound, materialized in the SAME write — the terms
        # dictionary needs no separate aggregation job, and reads prune to
        # it via the bucket dir + term row-group stats
        first_block = np.concatenate([[0], np.cumsum(np.bincount(g))[:-1]])
        empty = np.full(len(terms), b"", dtype=object)
        stats = {
            "block_no": np.full(len(terms), -2),
            "first_docid": docids[at[:-1]],
            "last_docid": docids[at[1:] - 1],
            "count": np.diff(at),
            "sum_tf": np.add.reduceat(tfs, at[:-1]),
            "max_score_bound": np.maximum.reduceat(blocks["max_score_bound"], first_block),
            **dict.fromkeys(
                ["docids_enc", "tfs_enc", "norms_enc", "pos_enc", "off_enc", "pay_enc"],
                empty,
            ),
        }
        group = np.concatenate([g, np.arange(len(terms))])
        row = np.lexsort((np.concatenate([np.zeros(len(g)), np.ones(len(terms))]), group))
        out = pd.DataFrame({c: np.concatenate([blocks[c], stats[c]])[row] for c in stats})
        group = group[row]
        out["field"] = fields[group]
        out["term"] = np.array(terms, dtype=object)[group]
        out["salt"] = salts[bounds[:-1]][group]
        out["bucket"] = np.array([term_bucket(t, n_buckets) for t in terms])[group]
        postings = len(docids)
        out = out[POSTINGS_COLS]
        elapsed = time.time() - gt0
        yield out
        # per-partition checkpoint meta row (lineage + rate metrics)
        meta = {
            "stage": "encode",
            "postings": int(postings),
            "blocks": int(len(out)),
            "elapsed_sec": round(elapsed, 3),
            "postings_per_sec": round(postings / max(elapsed, 1e-9), 1),
            "lineage": lineage,
        }
        yield pd.DataFrame(
            [
                {
                    "field": "meta",
                    "term": json.dumps(meta),
                    "salt": -1,
                    "block_no": -1,
                    "first_docid": -1,
                    "last_docid": -1,
                    "count": 0,
                    "sum_tf": 0,
                    "max_score_bound": 0.0,
                    "docids_enc": b"",
                    "tfs_enc": b"",
                    "norms_enc": b"",
                    "pos_enc": b"",
                    "off_enc": b"",
                    "pay_enc": b"",
                    "bucket": -1,
                }
            ]
        )[POSTINGS_COLS]

    return merge_encode


class InputOrderError(ValueError):
    """Rows of one ingest partition are not in (conv_id, turn_idx) order —
    the only failure the clustered fast path may recover from by shuffling.
    Raised inside a Python worker it reaches the driver as a PythonException
    whose text carries this class name."""


def _is_order_error(e: BaseException) -> bool:
    return isinstance(e, InputOrderError) or InputOrderError.__name__ in str(e)


def make_ingest(
    *,
    staging_ddl: str,
    keyword_fields: tuple[str, ...],
    numeric_fields: tuple[str, ...],
    index_options: str,
    payload_provider: str | None,
    analyzer: str,
    norm_spec: str,
    max_partial_postings: int,
    max_partial_positions: int,
    top_terms: int,
    input_lineage: str,
):
    """The single text pass over ONE partition of (conv_id, turn_idx)-ordered
    transcript frames -> staging rows (docs, partial posting lists, one
    checkpoint meta row). The same kernel runs under mapInPandas (pid from
    the task context) and in-process on a collected batch (pid passed)."""
    staging_cols = [c.strip().split()[0] for c in staging_ddl.split(",")]

    def _frame(cols: dict, n: int) -> pd.DataFrame:
        data = {c: cols.get(c) for c in staging_cols}
        for c, v in data.items():
            if v is None:
                data[c] = pd.Series([None] * n, dtype="object")
        return pd.DataFrame(data)[staging_cols]

    with_positions = index_options != "docs_freqs"
    with_offsets = index_options == "docs_freqs_positions_offsets"
    with_payloads = payload_provider == "position_float"
    has_overlaps = analyzer_has_overlaps(analyzer)

    def ingest_partition(it, pid: int | None = None):
        # STREAMING doc rows (pipelined with the JVM read/write) while the
        # per-partition partial posting lists accumulate as per-(field,
        # term) lists of numpy chunks — the in-RAM DWPT. Term counting is
        # fully vectorized: one findall per row builds flat (term, doc,
        # pos) arrays, then factorize + lexsort + run-length boundaries
        # produce per-(term, doc) tfs and position slices with NO
        # per-token Python dict work. Order is VERIFIED with vectorized
        # comparisons, never re-sorted: the clustered fast path gets it
        # from the input files, the fallback from the JVM range+sort
        # exchange. Violation = InputOrderError (builder falls back).
        from pyspark import TaskContext

        from ..functions.sweetspot import norm_encoder

        enc_norms = norm_encoder(norm_spec)
        gt0 = time.time()
        rank = 0
        # pid from the task context, NOT a spark_partition_id() column:
        # Catalyst's ConvertToLocalRelation evaluates projections over
        # in-memory relations at PLAN time where spark_partition_id()=0
        # for every row — which would collide all docid offsets. The
        # in-process build passes its single partition's pid explicitly.
        if pid is None:
            pid = TaskContext.get().partitionId()
        seen_rows = False
        postings = 0
        sum_len = 0
        doc_count = 0
        kw_sums: dict[str, int] = {f: 0 for f in keyword_fields}
        lo = hi = None
        prev_key = None
        # (field, term) -> list of (docids i32, tfs i32, norms u8, poss i32)
        store: dict[tuple[str, str], list] = {}
        def sub_batches(frames, max_rows=8192):
            # bound the per-batch flat token arrays: a 64k-row Arrow
            # batch of long turns builds ~1 GB of transient Python
            # lists per worker, which at 32 concurrent workers turns
            # into memory pressure and inverse scaling
            for pdf0 in frames:
                if len(pdf0) <= max_rows:
                    yield pdf0
                else:
                    for c0 in range(0, len(pdf0), max_rows):
                        yield pdf0.iloc[c0 : c0 + max_rows].reset_index(
                            drop=True
                        )

        for pdf in sub_batches(it):
            n = len(pdf)
            if n == 0:
                continue
            seen_rows = True
            conv = pdf["conv_id"].to_numpy()
            turn = pdf["turn_idx"].to_numpy()
            same = conv[1:] == conv[:-1]
            ok = np.all(
                (conv[1:] > conv[:-1]) | (same & (turn[1:] > turn[:-1]))
            )
            first_key = (conv[0], int(turn[0]))
            if not ok or (prev_key is not None and first_key <= prev_key):
                raise InputOrderError(
                    "input rows not in (conv_id, turn_idx) order within a "
                    "partition — rebuild with input_clustered=False to "
                    "force the range-shuffle path"
                )
            prev_key = (conv[-1], int(turn[-1]))
            if lo is None:
                lo = [str(first_key[0]), first_key[1]]
            hi = [str(prev_key[0]), prev_key[1]]
            lengths = np.empty(n, dtype=np.int32)
            totals = np.empty(n, dtype=np.int32)
            term_flat: list[str] = []
            pos_flat: list[int] = []
            off_flat: list[int] = []  # interleaved [start, end-start]
            for i, text in enumerate(pdf["text"].to_numpy()):
                if with_offsets:
                    toks, poss, st_, en_ = tokenize_with_offsets(
                        text, analyzer
                    )
                else:
                    toks, poss = tokenize_with_positions(text, analyzer)
                totals[i] = len(toks)
                if has_overlaps and toks:
                    # norm fieldLength discounts posInc-0 overlap
                    # tokens (FieldInvertState.NumOverlap;
                    # BM25Similarity.cs:156-160 discountOverlaps) —
                    # anchors = position-change count; sumTotalTermFreq
                    # below keeps counting every emitted token
                    lengths[i] = 1 + sum(
                        1 for a, b in zip(poss, poss[1:]) if b != a
                    )
                else:
                    lengths[i] = len(toks)
                term_flat.extend(toks)
                if with_positions:
                    pos_flat.extend(poss)
                if with_offsets:
                    for a, b in zip(st_, en_):
                        off_flat.append(a)
                        off_flat.append(b - a)
            norm_bytes = enc_norms(lengths)
            total = len(term_flat)
            if total:
                codes, uniques = pd.factorize(
                    pd.Series(term_flat, dtype="object"), sort=False
                )
                uniques = np.asarray(uniques)
                d_arr = np.repeat(
                    np.arange(n, dtype=np.int64) + rank,
                    totals.astype(np.int64),
                )
                ov = np.empty((0, 2), dtype=np.int32)
                pay = np.empty(0, dtype=">f4")
                if with_positions:
                    p_arr = np.asarray(pos_flat, dtype=np.int32)
                    o = np.lexsort((p_arr, d_arr, codes))
                    c, d, p = codes[o], d_arr[o], p_arr[o]
                    if with_offsets:
                        ov = np.asarray(off_flat, dtype=np.int32).reshape(
                            -1, 2
                        )[o]
                    if with_payloads:
                        # position_float provider: payload is a pure
                        # function of the (sorted) position array, so
                        # it is derived vectorized AFTER the lexsort —
                        # no per-occurrence bytes to reorder
                        pay = (p.astype(np.float32) + np.float32(1.0)).astype(
                            ">f4"
                        )
                else:
                    o = np.lexsort((d_arr, codes))
                    c, d = codes[o], d_arr[o]
                    p = np.empty(0, dtype=np.int32)
                # (term, doc) group boundaries -> tf runs + pos slices
                gchange = np.nonzero((c[1:] != c[:-1]) | (d[1:] != d[:-1]))[0]
                gb = np.concatenate([[0], gchange + 1, [total]])
                g_tf = np.diff(gb).astype(np.int32)
                g_doc = d[gb[:-1]]
                g_code = c[gb[:-1]]
                g_norm = norm_bytes[(g_doc - rank)]
                postings += len(g_code)
                tchange = np.nonzero(g_code[1:] != g_code[:-1])[0]
                tb = np.concatenate([[0], tchange + 1, [len(g_code)]])
                for t0, t1 in zip(tb[:-1], tb[1:]):
                    term = uniques[g_code[t0]]
                    store.setdefault((FIELD, term), []).append(
                        (
                            # local ranks fit int32 (a partition never
                            # holds 2^31 rows) — halves the payload
                            g_doc[t0:t1].astype(np.int32),
                            g_tf[t0:t1],
                            g_norm[t0:t1].astype(np.uint8),
                            p[gb[t0] : gb[t1]],
                            ov[gb[t0] : gb[t1]].reshape(-1)
                            if with_offsets
                            else np.empty(0, dtype=np.int32),
                            np.full(gb[t1] - gb[t0], 4, dtype=np.int32)
                            if with_payloads
                            else np.empty(0, dtype=np.int32),
                            pay[gb[t0] : gb[t1]].tobytes()
                            if with_payloads
                            else b"",
                        )
                    )
            # keyword fields: untokenized exact values, tf=1, pos=0,
            # omitNorms (norm byte 0 is ignored by the scorer).
            # array<string> columns are MULTI-VALUED keyword fields
            # (the SortedSet doc-values shape JoinUtil joins on,
            # Lucene.Net.Join/JoinUtil.cs + TestJoinUtil multi-value
            # cases): each DISTINCT value indexed once per doc —
            # StringField is IndexOptions.DOCS, so repeated adds of the
            # same value collapse to one posting with freq read as 1.
            # Multi-valued keyword fields are indexed, not stored.
            for kf in keyword_fields:
                if kf not in pdf.columns:
                    continue
                vals = pdf[kf].to_numpy()
                ids_l: list[int] = []
                vs_l: list[str] = []
                for i, v in enumerate(vals):
                    if isinstance(v, str):
                        if v:
                            ids_l.append(i)
                            vs_l.append(v)
                    elif isinstance(v, (list, tuple, np.ndarray)):
                        for x in sorted(
                            {x for x in v if isinstance(x, str) and x}
                        ):
                            ids_l.append(i)
                            vs_l.append(x)
                if not ids_l:
                    continue
                ids = np.asarray(ids_l, dtype=np.int64) + rank
                vs = np.asarray(vs_l, dtype=object)
                # group by value, docids ascending within each value
                # (ids are already asc; lexsort is stable on ties)
                o = np.lexsort((ids, vs))
                sv, si = vs[o], ids[o]
                vchange = np.nonzero(sv[1:] != sv[:-1])[0]
                vb = np.concatenate([[0], vchange + 1, [len(sv)]])
                kw_sums[kf] += int(len(sv))
                postings += len(vb) - 1
                for v0, v1 in zip(vb[:-1], vb[1:]):
                    m = v1 - v0
                    store.setdefault((kf, sv[v0]), []).append(
                        (
                            si[v0:v1].astype(np.int32),
                            np.ones(m, dtype=np.int32),
                            np.zeros(m, dtype=np.uint8),
                            np.zeros(m, dtype=np.int32),
                            # StringFields never carry offsets or
                            # payloads (the value is untokenized) —
                            # off_enc/pay_enc stay empty at every level
                            np.empty(0, dtype=np.int32),
                            np.empty(0, dtype=np.int32),
                            b"",
                        )
                    )
            sum_len += int(totals.sum())
            doc_count += int((totals > 0).sum())
            yield _frame(
                {
                    "pid": np.full(n, pid, dtype=np.int32),
                    "local_rank": rank + np.arange(n, dtype=np.int64),
                    "conv_id": pdf["conv_id"],
                    "turn_idx": pdf["turn_idx"],
                    "role": pdf["role"],
                    "tool": pdf["tool"],
                    "ts": pdf["ts"],
                    "field_length": lengths,
                    "norm_byte": norm_bytes.astype(np.int16),
                    **{nf: pdf[nf] for nf in numeric_fields},
                },
                n,
            )
            rank += n
        if not seen_rows:
            return
        # flush the partial index: rows per (field, term), raw arrays.
        # A single partial row's channels are CAPPED (hot terms in a big
        # partition otherwise produce multi-MB binary rows, and Spark's
        # vectorized parquet reader batches by ROW COUNT — 4096 fat rows
        # per columnar batch OOMs the encode scan as the corpus grows).
        # Oversized lists split on posting boundaries into consecutive
        # first_local-ordered rows; merge-encode already concatenates
        # partials in first_docid order, so chunks need no special
        # handling downstream.
        entries: list[tuple] = []
        key_df: dict[tuple[str, str], int] = {}
        for key in store:
            chunks = store[key]
            if len(chunks) == 1:
                d, t, nrm, p, o, yl, yb = chunks[0]
            else:
                d, t, nrm, p, o, yl = (
                    np.concatenate([ch[j] for ch in chunks])
                    for j in range(6)
                )
                yb = b"".join(ch[6] for ch in chunks)
            key_df[key] = len(d)
            if len(d) <= max_partial_postings and len(p) <= max_partial_positions:
                entries.append(
                    (key, len(d), int(d[0]), d.tobytes(), t.tobytes(),
                     nrm.tobytes(), p.tobytes(), o.tobytes(),
                     yl.tobytes(), yb)
                )
                continue
            cum = np.concatenate([[0], np.cumsum(t, dtype=np.int64)])
            cumy = (
                np.concatenate([[0], np.cumsum(yl, dtype=np.int64)])
                if len(yl)
                else None
            )
            i = 0
            n_post = len(d)
            while i < n_post:
                j = min(i + max_partial_postings, n_post)
                j2 = int(
                    np.searchsorted(
                        cum, cum[i] + max_partial_positions, side="right"
                    )
                    - 1
                )
                j = max(i + 1, min(j, j2))
                pa, pb = int(cum[i]), int(cum[j])
                entries.append(
                    (
                        key, j - i, int(d[i]),
                        d[i:j].tobytes(), t[i:j].tobytes(),
                        nrm[i:j].tobytes(), p[pa:pb].tobytes(),
                        o[2 * pa : 2 * pb].tobytes() if len(o) else b"",
                        yl[pa:pb].tobytes() if len(yl) else b"",
                        yb[int(cumy[pa]) : int(cumy[pb])]
                        if cumy is not None
                        else b"",
                    )
                )
                i = j
        for c0 in range(0, len(entries), 65536):
            chunk = entries[c0 : c0 + 65536]
            yield _frame(
                {
                    "pid": np.full(len(chunk), pid, dtype=np.int32),
                    "local_rank": np.full(len(chunk), -2, dtype=np.int64),
                    "field_length": np.zeros(len(chunk), dtype=np.int32),
                    "norm_byte": np.zeros(len(chunk), dtype=np.int16),
                    "field": [e[0][0] for e in chunk],
                    "term": [e[0][1] for e in chunk],
                    "pcount": np.array([e[1] for e in chunk], dtype=np.int32),
                    "first_local": np.array(
                        [e[2] for e in chunk], dtype=np.int64
                    ),
                    "docids": [e[3] for e in chunk],
                    "tfs": [e[4] for e in chunk],
                    "norms": [e[5] for e in chunk],
                    "poss": [e[6] for e in chunk],
                    "offs": [e[7] for e in chunk],
                    "pay_lens": [e[8] for e in chunk],
                    "pays": [e[9] for e in chunk],
                },
                len(chunk),
            )
        elapsed = time.time() - gt0
        meta = {
            "stage": "ingest",
            "pid": pid,
            "rows": rank,
            "lo": lo,
            "hi": hi,
            "postings": postings,
            "sum_len": sum_len,
            "doc_count": doc_count,
            "kw_sums": kw_sums,
            "elapsed_sec": round(elapsed, 3),
            "postings_per_sec": round(postings / max(elapsed, 1e-9), 1),
            "top_terms": dict(
                sorted(
                    (
                        (k[0] + FKEY_SEP + k[1], n_df)
                        for k, n_df in key_df.items()
                    ),
                    key=lambda kv: -kv[1],
                )[:top_terms]
            ),
            "lineage": input_lineage,
        }
        yield _frame(
            {
                "pid": [pid],
                "local_rank": [-1],
                "field_length": [0],
                "norm_byte": [0],
                "meta": [json.dumps(meta)],
            },
            1,
        )

    return ingest_partition


def write_postings(encoded: DataFrame, path: str, n_buckets: int) -> None:
    """Read-optimized layout: bucket directories, term-sorted files, so a
    query prunes to |buckets(query terms)| dirs then row-group min/max.

    NO second shuffle: the encode shuffle already colocated each (field,
    term, salt) group, so a LOCAL sort (bucket, term) + partitionBy(bucket)
    produces term-sorted files per bucket dir directly — re-shuffling the
    encoded binary payloads (the full index size) cost more than the whole
    encode at the 92M-token bench. Each of the n_shuffle tasks writes one
    file per bucket it holds; queries still prune to one bucket dir and
    then row-group term min/max stats."""
    (
        encoded.sortWithinPartitions("bucket", "term", "salt", "block_no")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


# the postings file schema: `bucket` lives in the directory name
_POSTINGS_FILE_DDL = POSTINGS_DDL.removesuffix(", bucket int")


def write_postings_local(frames, path: str) -> None:
    """In-process twin of write_postings: the same hive layout
    (postings/bucket=N/), one file per bucket, rows sorted by (term, salt,
    block_no)."""
    frames = [f for f in frames if len(f)]
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    if not frames:
        return
    pdf = pd.concat(frames, ignore_index=True)
    for bucket, g in pdf.groupby("bucket", sort=True):
        write_local(
            os.path.join(path, f"bucket={bucket}"),
            [g.sort_values(["term", "salt", "block_no"], kind="stable")],
            _POSTINGS_FILE_DDL,
        )


class IndexBuilder:
    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        k1: float = 1.2,
        b: float = 0.75,
        n_buckets: int = 32,
        n_segments: int = 32,
        salt_target: int = 1 << 20,
        block_size: int = BLOCK_SIZE,
        top_terms_per_partition: int = 256,
        input_clustered: bool | None = None,
        keyword_fields: tuple[str, ...] = DEFAULT_KEYWORD_FIELDS,
        index_options: str = "docs_freqs_positions",
        payload_provider: str | None = None,
        analyzer: str = "standard",
        max_partial_postings: int = _MAX_PARTIAL_POSTINGS,
        max_partial_positions: int = _MAX_PARTIAL_POSITIONS,
        norm_spec: str = "standard",
        numeric_fields: tuple[str, ...] = (),
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.k1, self.b = k1, b
        self.max_partial_postings = max_partial_postings
        self.max_partial_positions = max_partial_positions
        self.n_buckets = n_buckets
        self.n_segments = n_segments
        self.salt_target = salt_target
        self.block_size = block_size
        self.top_terms = top_terms_per_partition
        self.keyword_fields = tuple(keyword_fields)
        # numeric doc-value columns (DoubleField / NumericDocValuesField —
        # Lucene.Net/Document/DoubleField.cs): stored as typed double
        # columns on the staging doc rows, surfaced by the docs view for
        # pushed-down range predicates and value sources (the spatial
        # PointVectorStrategy's x/y pair is the canonical user)
        for nf in numeric_fields:
            if nf in _STAGING_COLS:
                raise ValueError(
                    f"numeric field {nf!r} collides with a staging column"
                )
        self.numeric_fields = tuple(numeric_fields)
        # IndexOptions (FieldInfo.cs:315-356): DOCS_AND_FREQS skips the
        # positions payload entirely (~30-45% smaller index; phrase/span
        # queries then raise); default keeps positions; the _offsets level
        # additionally stores per-occurrence char offsets for
        # PostingsHighlighter-style fragmenting
        if index_options not in (
            "docs_freqs", "docs_freqs_positions", "docs_freqs_positions_offsets"
        ):
            raise ValueError(f"unknown index_options {index_options!r}")
        self.index_options = index_options
        # Analyzer choice (recorded in the manifest so query-side analysis
        # can match): "standard" = StandardAnalyzer chain; the other slots
        # add per-language stop sets + stem filters after the shared
        # tokenizer (functions/analysis._analyzer_chain)
        from ..functions.analysis import validate_analyzer

        validate_analyzer(analyzer)
        self.analyzer = analyzer
        # Per-occurrence payload channel (PayloadAttribute — Lucene payloads
        # are attached by the analysis chain and stored in the pos block;
        # Index/DocumentsWriterPerThread payload path). A NAMED provider so
        # the choice is recorded in the manifest and mirrorable in oracle
        # SQL: "position_float" = 4-byte big-endian float32 of (position+1)
        # per emitted token (PayloadHelper.EncodeSingle wire format).
        # Payloads require positions (FieldInfo.cs: payloads imply
        # DOCS_AND_FREQS_AND_POSITIONS+).
        # Norm encoder choice (Similarity.ComputeNorm is an INDEX-time
        # decision in Lucene — the byte stream differs per similarity):
        # "standard" = boost/sqrt(len) (BM25/DefaultSimilarity share it),
        # "sweetspot:<min>:<max>:<steepness>" = SweetSpotSimilarity's
        # plateau ComputeLengthNorm. Recorded in the manifest; queries on a
        # sweet index should use the "sweetspot[:...]" similarity (BM25's
        # docLen reconstruction assumes the standard byte).
        from ..functions.sweetspot import parse_norm_spec

        parse_norm_spec(norm_spec)  # validate early
        self.norm_spec = norm_spec
        if payload_provider not in (None, "position_float"):
            raise ValueError(f"unknown payload_provider {payload_provider!r}")
        if payload_provider and index_options == "docs_freqs":
            raise ValueError("payloads require positions in index_options")
        self.payload_provider = payload_provider
        # None = auto-detect via a narrow-column range check; True = trust the
        # input's partitioning (still verified post-hoc); False = force shuffle
        self.input_clustered = input_clustered

    # -- paths / markers -----------------------------------------------------
    def _p(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def _stage_info(self, stage: str) -> dict | None:
        p = self._p(f"_STAGE_{stage}")
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return None

    def _mark_stage(self, stage: str, info: dict) -> dict:
        tmp = self._p(f"_STAGE_{stage}.tmp")
        with open(tmp, "w") as f:
            json.dump(info, f)
        os.replace(tmp, self._p(f"_STAGE_{stage}"))
        return info

    # -- stage 1: ingest (the single text pass) ------------------------------
    def _input_is_clustered(self, transcripts: DataFrame) -> bool:
        """True iff the input's existing partitions hold non-overlapping
        (conv_id, turn_idx) ranges — a narrow-column check (parquet reads just
        two columns). When it holds, the heavy text shuffle + sort is skipped
        entirely: at 100 TB this is the difference between shuffling the whole
        corpus and shuffling nothing, and conversation logs are typically
        written clustered by conv_id.

        The pid comes from TaskContext inside a mapInPandas (a
        spark_partition_id() column over an in-memory relation is evaluated
        at plan time by ConvertToLocalRelation and reads 0 everywhere)."""

        def tag(it):
            from pyspark import TaskContext

            p = TaskContext.get().partitionId()
            for pdf in it:
                if len(pdf):
                    out = pdf[["conv_id", "turn_idx"]].copy()
                    out["pid"] = p
                    yield out

        rows = (
            transcripts.select("conv_id", "turn_idx")
            .mapInPandas(tag, "conv_id string, turn_idx int, pid int")
            .groupBy("pid")
            .agg(
                F.min(F.struct("conv_id", "turn_idx")).alias("lo"),
                F.max(F.struct("conv_id", "turn_idx")).alias("hi"),
            )
            .collect()
        )
        spans = sorted(
            ((r["lo"][0], r["lo"][1]), (r["hi"][0], r["hi"][1])) for r in rows
        )
        return all(a[1] < b[0] for a, b in zip(spans, spans[1:]))

    def _ingest_columns(self, columns) -> list[str]:
        """Input columns the ingest kernel reads: the stored schema, extra
        keyword fields (e.g. multi-valued array<string> columns, indexed
        only) and the numeric doc-value fields."""
        base_cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        extra_kw = [
            kf for kf in self.keyword_fields if kf not in base_cols and kf in columns
        ]
        missing = [nf for nf in self.numeric_fields if nf not in columns]
        if missing:
            raise ValueError(f"numeric fields missing from input: {missing}")
        return base_cols + extra_kw + list(self.numeric_fields)

    def _ingest_kernel(self, input_lineage: str):
        return make_ingest(
            staging_ddl=with_numeric(STAGING_DDL, self.numeric_fields),
            keyword_fields=self.keyword_fields,
            numeric_fields=self.numeric_fields,
            index_options=self.index_options,
            payload_provider=self.payload_provider,
            analyzer=self.analyzer,
            norm_spec=self.norm_spec,
            max_partial_postings=self.max_partial_postings,
            max_partial_positions=self.max_partial_positions,
            top_terms=self.top_terms,
            input_lineage=input_lineage,
        )

    def _ingest_pass(self, transcripts: DataFrame, clustered: bool, lineage: str) -> None:
        """One Spark text pass: the ingest kernel under mapInPandas, over the
        input's own partitions (clustered) or a range exchange."""
        src = transcripts
        conf = self.spark.conf
        prev_cost = conf.get("spark.sql.files.openCostInBytes", "4194304")
        if clustered:
            # one file split per partition: Spark's size-ordered file packing
            # would interleave key ranges within a partition. Splits of a
            # single file remain contiguous, so per-partition order holds.
            conf.set("spark.sql.files.openCostInBytes", str(128 * 1024 * 1024))
        else:
            src = src.repartitionByRange(
                self.n_segments, "conv_id", "turn_idx"
            ).sortWithinPartitions("conv_id", "turn_idx")
        try:
            src.select(*self._ingest_columns(src.columns)).mapInPandas(
                self._ingest_kernel(lineage),
                with_numeric(STAGING_DDL, self.numeric_fields),
            ).write.mode("overwrite").parquet(self._p("staging"))
        finally:
            conf.set("spark.sql.files.openCostInBytes", prev_cost)

    def _ingest_spark(self, transcripts: DataFrame, build_id: str) -> None:
        clustered = (
            self._input_is_clustered(transcripts)
            if self.input_clustered is None
            else self.input_clustered
        )
        lineage = {"build_id": build_id, "source": "transcripts", "clustered": clustered}
        try:
            self._ingest_pass(transcripts, clustered, json.dumps(lineage))
        except Exception as e:
            # only a failed order verification means "input was not actually
            # clustered"; any other error (OOM, IO, a bug) propagates
            if not (clustered and _is_order_error(e)):
                raise
            lineage.update(
                clustered=False,
                note="clustered fast path failed verification; shuffled",
            )
            self._ingest_pass(transcripts, False, json.dumps(lineage))

    def _ingest_local(self, batch: pd.DataFrame, build_id: str) -> None:
        """In-process text pass over a collected batch: the same kernel on one
        (conv_id, turn_idx)-sorted partition, staging written with pyarrow."""
        lineage = json.dumps(
            {"build_id": build_id, "source": "transcripts", "in_process": True}
        )
        batch = batch.sort_values(["conv_id", "turn_idx"], kind="stable")
        # toPandas hands timestamps over as naive session-local wall time
        # (as mapInPandas does); staging stores UTC instants either way
        batch = batch.assign(
            ts=to_utc(batch["ts"], self.spark.conf.get("spark.sql.session.timeZone"))
        )
        frames = self._ingest_kernel(lineage)(
            [batch[self._ingest_columns(batch.columns)].reset_index(drop=True)], 0
        )
        write_local(
            self._p("staging"), frames, with_numeric(STAGING_DDL, self.numeric_fields)
        )

    def ingest(self, transcripts: DataFrame | pd.DataFrame, build_id: str) -> dict:
        """Stage 1. A pandas frame (a collected NRT batch) runs in-process;
        a Spark DataFrame runs as one Spark pass."""
        info = self._stage_info("staging")
        if info is not None:
            return info
        t0 = time.time()
        in_process = isinstance(transcripts, pd.DataFrame)
        if in_process:
            self._ingest_local(transcripts, build_id)
        else:
            self._ingest_spark(transcripts, build_id)

        # driver-side prefix sum over the tiny meta rows -> docid offsets,
        # partitions ordered by their (conv_id, turn_idx) range start
        metas = meta_rows(self._p("staging"), ds.field("local_rank") == -1, "meta")
        metas.sort(key=lambda m: (m["lo"][0], m["lo"][1]))
        # range disjointness must hold or docids would not be a global rank
        for a, b in zip(metas, metas[1:]):
            assert (a["hi"][0], a["hi"][1]) < (b["lo"][0], b["lo"][1]), (
                "partition key ranges overlap — input neither clustered nor "
                "range-partitioned; rebuild with input_clustered=False"
            )
        offsets, acc = {}, 0
        for m in metas:
            offsets[m["pid"]] = acc
            acc += m["rows"]
        # hot-term estimate: sum of per-partition top-term local dfs. A term
        # hot overall is hot in many partitions, so the truncated per-partition
        # sketches cover it; underestimates only delay salting, never break it.
        est_df: Counter[str] = Counter()
        for m in metas:
            est_df.update(m["top_terms"])
        hot = {
            t: int(math.ceil(df / self.salt_target))
            for t, df in est_df.items()
            if df > self.salt_target
        }
        return self._mark_stage(
            "staging",
            {
                "build_id": build_id,
                "n_docs": acc,
                "offsets": {str(k): v for k, v in offsets.items()},
                # rank of each pid in key-range order (for partition-granular
                # hot-term salting) — metas are sorted by range start here
                "pid_rank": {str(m["pid"]): i for i, m in enumerate(metas)},
                "sum_ttf": int(sum(m["sum_len"] for m in metas)),
                "doc_count": int(sum(m["doc_count"] for m in metas)),
                "kw_sums": {
                    f: int(sum(m.get("kw_sums", {}).get(f, 0) for m in metas))
                    for f in self.keyword_fields
                },
                "hot_terms": hot,
                "in_process": in_process,
                # slim per-partition checkpoint info so commit() needs no
                # staging re-read
                "metas": [
                    {k: m[k] for k in ["pid", "rows", "postings", "postings_per_sec", "lineage"]}
                    for m in metas
                ],
                "elapsed": round(time.time() - t0, 2),
            },
        )

    # -- stage 2: encode postings (the single explode shuffle) ----------------
    def encode_postings(self, build_id: str, staging_info: dict) -> dict:
        info = self._stage_info("postings")
        if info is not None:
            return info
        t0 = time.time()
        offsets = {int(k): v for k, v in staging_info["offsets"].items()}
        max_doc = int(staging_info["n_docs"])
        avgdl = self._avgdl(staging_info)
        caches = {FIELD: norm_cache(self.k1, self.b, avgdl)}
        kw_cache = omit_norms_cache(self.k1)
        for kf in self.keyword_fields:
            caches[kf] = kw_cache
        lineage = json.dumps({"build_id": build_id, "stage": "encode", "max_doc": max_doc})
        encode = make_merge_encode(caches, self.n_buckets, self.block_size, lineage, offsets)
        if staging_info.get("in_process"):
            self._encode_local(encode)
        else:
            self._encode_spark(encode, staging_info)
        return self._mark_stage(
            "postings", {"build_id": build_id, "elapsed": round(time.time() - t0, 2)}
        )

    _PARTIAL_COLS = [
        "field", "term", "docids", "tfs", "norms", "poss", "offs", "pay_lens", "pays",
        "pid",
    ]

    def _encode_local(self, encode) -> None:
        """In-process encode of an in-process staging table. It holds ONE
        partition (pid 0, range rank 0), so partition-granular salting puts
        every term in salt 0 and first_docid is the partial's first local
        rank."""
        part = read_local(
            self._p("staging"),
            self._PARTIAL_COLS + ["pcount", "first_local"],
            ds.field("local_rank") == -2,
        )
        partials = part.assign(
            salt=0, count=part["pcount"], first_docid=part["first_local"]
        )
        write_postings_local(encode(iter([partials])), self._p("postings"))

    def _encode_spark(self, encode, staging_info: dict) -> None:
        offsets = {int(k): v for k, v in staging_info["offsets"].items()}
        pid_rank = {int(k): v for k, v in staging_info["pid_rank"].items()}
        n_parts = max(len(pid_rank), 1)
        hot = {t: n for t, n in staging_info["hot_terms"].items() if n > 1}
        n_shuffle = max(
            int(self.spark.conf.get("spark.sql.shuffle.partitions", "32")), 8
        )
        # size the merge-encode shuffle by DATA, not only by the session
        # conf: each reduce task materializes its groups' decoded channel
        # arrays, so a fixed partition count makes per-task memory grow
        # linearly with the corpus (OOMs past ~10M docs at 32 partitions).
        # Staging bytes via the Hadoop FS API (works on HDFS/S3 the same);
        # ~4x parquet->in-memory expansion, target <=128 MiB per task.
        jpath = self.spark._jvm.org.apache.hadoop.fs.Path(self._p("staging"))
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        staged_bytes = int(fs.getContentSummary(jpath).getLength())
        n_shuffle = max(n_shuffle, math.ceil(staged_bytes * 4 / (128 << 20)))

        # the partial posting lists were flushed during ingest; this stage is
        # a pure shuffle of compact binary rows + numpy merge-encode — no
        # per-object Arrow conversion anywhere on the hot path.
        partials = read_table(
            self.spark, self._p("staging"), with_numeric(STAGING_DDL, self.numeric_fields)
        ).filter(F.col("local_rank") == -2)
        off_expr = F.create_map(
            *[x for p, o in offsets.items() for x in (F.lit(p), F.lit(o))]
        )
        # partition-granular hot-term salting: every partial is one partition's
        # docid-contiguous sub-list, so salt = pid_range_rank * n_salts //
        # n_partitions keeps salt groups docid-contiguous with zero splitting
        rank_expr = F.create_map(
            *[x for p, r in pid_rank.items() for x in (F.lit(p), F.lit(r))]
        )
        fkey = F.concat(F.col("field"), F.lit(FKEY_SEP), F.col("term"))
        if hot:
            hot_expr = F.create_map(
                *[x for t, s in hot.items() for x in (F.lit(t), F.lit(s))]
            )
            salt_col = F.when(
                hot_expr[fkey].isNotNull(),
                (
                    F.element_at(rank_expr, F.col("pid"))
                    * hot_expr[fkey]
                    / F.lit(n_parts)
                ).cast("int"),
            ).otherwise(F.lit(0))
        else:
            salt_col = F.lit(0)
        partials = partials.select(
            *self._PARTIAL_COLS,
            salt_col.alias("salt"),
            F.col("pcount").alias("count"),
            (F.element_at(off_expr, F.col("pid")) + F.col("first_local")).alias(
                "first_docid"
            ),
        )
        encoded = partials.repartition(n_shuffle, "field", "term", "salt").mapInPandas(
            encode, POSTINGS_DDL
        )
        # the partials scan reads wide binary rows (<=~0.5 MB each after the
        # flush caps); the vectorized reader batches by ROW COUNT, so drop
        # from 4096 to 256 rows/batch for THIS job only — bounds scan-task
        # memory at ~128 MB worst-case instead of ~2 GB
        batch_conf = "spark.sql.parquet.columnarReaderBatchSize"
        prev_batch = self.spark.conf.get(batch_conf, "4096")
        self.spark.conf.set(batch_conf, "256")
        try:
            write_postings(encoded, self._p("postings"), self.n_buckets)
        finally:
            self.spark.conf.set(batch_conf, prev_batch)

    @staticmethod
    def _avgdl(staging_info: dict) -> np.float32:
        # from ingest meta sums (no job); float math per BM25Similarity.cs:91-102
        s, md = int(staging_info["sum_ttf"]), int(staging_info["n_docs"])
        if s <= 0:
            return np.float32(1.0)
        return np.float32(np.float64(s) / np.float64(md))

    # -- stage 3: metadata-only stats tables ----------------------------------
    def compute_stats(self, build_id: str, staging_info: dict) -> dict:
        info = self._stage_info("stats")
        if info is not None:
            return info
        t0 = time.time()
        max_doc = int(staging_info["n_docs"])
        # the terms dictionary is materialized as stat rows INSIDE the
        # postings write (block_no = -2) — no aggregation job here.
        # field stats come free from the ingest meta sums (no extra job)
        sum_ttf = int(staging_info["sum_ttf"])
        doc_count = int(staging_info["doc_count"])
        avgdl = (
            float(np.float32(np.float64(sum_ttf) / np.float64(max_doc)))
            if sum_ttf > 0
            else 1.0
        )
        fields = {
            FIELD: {
                "doc_count": doc_count,
                "sum_ttf": sum_ttf,
                "avgdl": avgdl,
                "omit_norms": False,
            }
        }
        for kf, s in (staging_info.get("kw_sums") or {}).items():
            fields[kf] = {
                "doc_count": int(s),
                "sum_ttf": int(s),
                "avgdl": 1.0,
                "omit_norms": True,
            }
        write_field_stats(self._p("field_stats"), max_doc, fields)
        return self._mark_stage(
            "stats",
            {
                "build_id": build_id,
                "max_doc": max_doc,
                "doc_count": doc_count,
                "sum_ttf": sum_ttf,
                "avgdl": avgdl,
                "fields": fields,
                "elapsed": round(time.time() - t0, 2),
            },
        )

    # -- stage 4: checkpoints + atomic manifest commit ------------------------
    def commit(self, build_id: str, staging_info: dict, stats_info: dict) -> dict:
        # ingest checkpoint metas ride in the stage marker (no staging re-read)
        ingest_metas = [dict(m, stage="ingest") for m in staging_info["metas"]]
        now = write_checkpoints(
            self._p("build_checkpoints"),
            build_id,
            ingest_metas + encode_metas(self._p("postings")),
        )

        manifest = {
            "format_version": 5,
            "build_id": build_id,
            "field": FIELD,
            "index_options": self.index_options,
            "payload_provider": self.payload_provider,
            "analyzer": self.analyzer,
            "norm_spec": self.norm_spec,
            "numeric_fields": list(self.numeric_fields),
            "fields": stats_info.get("fields"),
            "k1": self.k1,
            "b": self.b,
            "block_size": self.block_size,
            "n_buckets": self.n_buckets,
            "salt_target": self.salt_target,
            "max_doc": stats_info["max_doc"],
            "doc_count": stats_info["doc_count"],
            "sum_ttf": stats_info["sum_ttf"],
            "avgdl": stats_info["avgdl"],
            "offsets": staging_info["offsets"],
            "stagings": [
                {
                    "path": self._p("staging"),
                    "offsets": staging_info["offsets"],
                    "docbase": 0,
                }
            ],
            "hot_terms": staging_info["hot_terms"],
            "in_process": bool(staging_info.get("in_process")),
            "tables": {
                "staging": self._p("staging"),
                "postings": self._p("postings"),
                "field_stats": self._p("field_stats"),
                "build_checkpoints": self._p("build_checkpoints"),
            },
            "committed_at": now,
        }
        publish_manifest(self.out_dir, manifest)
        return manifest

    def build(
        self, transcripts: DataFrame | pd.DataFrame, build_id: str = "build-0"
    ) -> dict:
        """Full build: ingest -> encode -> stats -> commit. Idempotent/resumable:
        completed stages (marker files) are skipped on re-run. A pandas
        frame (a collected NRT batch, see LOCAL_MAX_DOCS) is built in-process
        with no Spark job; a Spark DataFrame is built on Spark."""
        os.makedirs(self.out_dir, exist_ok=True)
        staging_info = self.ingest(transcripts, build_id)
        self.encode_postings(build_id, staging_info)
        stats_info = self.compute_stats(build_id, staging_info)
        return self.commit(build_id, staging_info, stats_info)


def write_field_stats(path: str, max_doc: int, fields: dict) -> None:
    rows = [
        (f, max_doc, info["doc_count"], info["sum_ttf"], info["avgdl"])
        for f, info in fields.items()
    ]
    write_local(path, [_ddl_frame(rows, FIELD_STATS_DDL)], FIELD_STATS_DDL)


def encode_metas(postings_path: str) -> list[dict]:
    """The encode checkpoint meta rows (bucket -1, block_no -1)."""
    return meta_rows(
        postings_path,
        (ds.field("bucket") == -1) & (ds.field("block_no") == -1),
        "term",
    )


def write_checkpoints(path: str, build_id: str, metas: list[dict]) -> str:
    """build_checkpoints: one row per ingest/encode partition; returns the
    commit timestamp it stamped."""
    now = datetime.now(timezone.utc).isoformat()
    rows = [
        (build_id, m["stage"], int(m.get("pid", i)), "done", int(m["postings"]),
         float(m["postings_per_sec"]), m["lineage"], now)
        for i, m in enumerate(metas)
    ]
    write_local(path, [_ddl_frame(rows, CHECKPOINTS_DDL)], CHECKPOINTS_DDL)
    return now


def _ddl_frame(rows: list[tuple], ddl: str) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=[c.split()[0] for c in ddl.split(",")])


def publish_manifest(out_dir: str, manifest: dict) -> None:
    """segments_N-style commit: write aside, then one atomic rename."""
    tmp = os.path.join(out_dir, "_manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, os.path.join(out_dir, "_manifest.json"))


def load_manifest(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "_manifest.json")) as f:
        return json.load(f)


def stagings_of(manifest: dict) -> list[dict]:
    """The staging tables an index's docs live in, each with its docbase."""
    return manifest.get("stagings") or [
        {"path": manifest["tables"]["staging"], "offsets": manifest["offsets"], "docbase": 0}
    ]


def docs_view(spark: SparkSession, manifest: dict) -> DataFrame:
    """The docs 'table': column-pruned staging scan(s) + on-the-fly stable docid.

    A merged index references the staging tables of its source segments (each
    with a docbase) instead of rewriting the heavy text data — the stored-
    fields analogue of Lucene's merge keeping doc data per segment file.
    A merge that applied deletes rewrote (renumbered) docs into an explicit
    docs table instead (MergeState.DocMap semantics)."""
    numeric = manifest.get("numeric_fields") or []
    if manifest.get("docs_table"):
        return read_table(spark, manifest["docs_table"], with_numeric(DOCS_DDL, numeric))
    out = None
    for sg in stagings_of(manifest):
        offsets = {int(k): v + int(sg.get("docbase", 0)) for k, v in sg["offsets"].items()}
        pairs = [x for pid, off in offsets.items() for x in (F.lit(pid), F.lit(off))]
        m = F.create_map(*pairs) if pairs else F.create_map()
        df = (
            read_table(spark, sg["path"], with_numeric(STAGING_DDL, numeric))
            .filter(F.col("local_rank") >= 0)
            .select(
                (F.element_at(m, F.col("pid")) + F.col("local_rank")).alias("docid"),
                *DOC_COLS,
                *numeric,
            )
        )
        out = df if out is None else out.unionByName(df)
    return out


def docs_frame(manifest: dict, docids: np.ndarray | None = None) -> pd.DataFrame:
    """docs_view read on the driver with pyarrow (small indexes, or only
    the given docids). Timestamps come back as UTC instants whichever
    writer stored them (Spark's INT96 reads as naive UTC, pyarrow's as
    tz-aware UTC)."""
    cols = DOC_COLS + list(manifest.get("numeric_fields") or [])
    if manifest.get("docs_table"):
        where = None if docids is None else ds.field("docid").isin(docids)
        parts = [read_local(manifest["docs_table"], ["docid"] + cols, where)]
    else:
        parts = []
        for sg in stagings_of(manifest):
            offsets = {int(k): v + int(sg.get("docbase", 0)) for k, v in sg["offsets"].items()}
            where = ds.field("local_rank") >= 0
            if docids is not None:  # each wanted docid's rank inside its pid
                offs = np.sort(np.fromiter(offsets.values(), dtype=np.int64))
                ids = np.asarray(docids, dtype=np.int64)
                ids = ids[ids >= offs[0]]
                ranks = ids - offs[np.searchsorted(offs, ids, side="right") - 1]
                where = where & ds.field("local_rank").isin(np.unique(ranks))
            df = read_local(sg["path"], ["pid", "local_rank"] + cols, where)
            docid = df["pid"].map(offsets).to_numpy(dtype=np.int64) + df["local_rank"].to_numpy(
                dtype=np.int64
            )
            parts.append(df[cols].assign(docid=docid))
    out = pd.concat([p.assign(ts=pd.to_datetime(p["ts"], utc=True)) for p in parts])
    if docids is not None:
        out = out[out["docid"].isin(docids)]
    return out[["docid"] + cols].sort_values("docid").reset_index(drop=True)
