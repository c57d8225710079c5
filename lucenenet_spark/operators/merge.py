"""Segment merge (compaction): N index segments -> one, Lucene-merge semantics.

Re-derivation of the reference's merge pipeline (SURVEY.md §2.3):
- term-aligned k-way merge of postings (Codecs/TermsConsumer.cs:100-197,
  MappingMultiDocsEnum.cs:106) becomes: decode every segment's blocks,
  shift docids by the segment docBase (Index/MergeState.cs:40-102;
  AtomicReaderContext docBase), union, re-encode with the shared build
  encoder — the shuffle aligns terms, replacing MultiTermsEnum.
- docIDs are remapped by cumulative docBase exactly like SegmentMerger.cs:89-148.
- block-max bounds are RE-derived under the merged corpus stats: the stored
  per-segment bounds used the segment's own avgdl and are not valid upper
  bounds globally — this is why multi-segment searchers disable pruning and
  compaction restores it.
- the heavy stored-doc data is NOT rewritten: the merged manifest references
  the source segments' staging tables with docbases (docs_view unions them),
  like Lucene merges postings/norms but can share doc stores.
- salting is re-planned from EXACT merged df (summed per-segment term_stats,
  a tiny metadata union) rather than the build-time sketch.

The merge is itself a resumable staged job with an atomic manifest commit.
"""
from __future__ import annotations

import json
import math
import os
import time

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..oracle import norm_cache
from .codec import BLOCK_SIZE, cut_bytes, decode_frame, runs
from .index_build import (
    DOC_COLS,
    DOCS_DDL,
    FIELD,
    FKEY_SEP,
    PARTIALS_DDL,
    POSTINGS_DDL,
    docs_frame,
    docs_view,
    encode_metas,
    load_manifest,
    make_merge_encode,
    omit_norms_cache,
    publish_manifest,
    read_local,
    read_table,
    runs_in_process,
    stagings_of,
    term_stats_view,
    with_numeric,
    write_checkpoints,
    write_field_stats,
    write_local,
    write_postings,
    write_postings_local,
)


def _merged_numeric_fields(segments) -> list[str]:
    """Numeric doc-value columns of the merged index. Like the analyzer,
    the numeric field set is an IndexWriter-level invariant: segments of
    one index always agree, so a mismatch is a caller error, not a merge
    case (FieldInfos dv-type consistency checks raise the same way)."""
    sets = {tuple(s["manifest"].get("numeric_fields") or []) for s in segments}
    if len(sets) > 1:
        raise ValueError(
            f"cannot merge segments with different numeric fields: {sorted(sets)}"
        )
    return list(sets.pop())


def _remap(docids: np.ndarray, deleted: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """DocMap (MergeState.cs:40-102): keep-mask + renumbered ids.

    new_id = old_id - #deleted_below; deleted ids are dropped. `deleted` is
    the broadcast sorted global delete set (the liveDocs bitset analogue)."""
    below = np.searchsorted(deleted, docids, side="left")
    at = np.searchsorted(deleted, docids, side="right")
    keep = below == at  # not present in the deleted set
    return keep, docids - below


def make_decode(deleted: np.ndarray, hot: dict, max_doc: int):
    """Map side of the merge: one segment's posting blocks (plus a `docbase`
    column) -> compact PARTIALS rows (one per block, split at the merged salt
    boundaries) with docids shifted to the global space and deletes applied
    and renumbered. Block granularity keeps the merge shuffle at
    ~postings/128 rows. Runs under mapInPandas or in-process."""

    def decode_partition(it):
        for pdf in it:
            f = decode_frame(pdf)
            docids, tfs, norms, blk = f.docids, f.tfs, f.norms, f.block_of()
            poss = f.pos.astype(np.int32)
            offs = np.empty(2 * len(poss), dtype=np.int32)
            offs[0::2] = f.off_start
            offs[1::2] = f.off_end - f.off_start
            pay_lens, pay_buf = f.pay_len.astype(np.int32), f.pay_buf
            if deleted.size:
                keep, docids = _remap(docids, deleted)
                if not keep.all():
                    # drop the deleted postings' position runs too
                    pos_keep = np.repeat(keep, tfs)
                    poss = poss[pos_keep]
                    offs = offs.reshape(-1, 2)[pos_keep].reshape(-1)
                    pay_buf = pay_buf[np.repeat(pos_keep, pay_lens)]
                    pay_lens = pay_lens[pos_keep]
                    docids, tfs, norms, blk = docids[keep], tfs[keep], norms[keep], blk[keep]
            # one partial per (block, merged salt) run of the kept postings
            keys = (pdf["field"] + "\x1f" + pdf["term"]).to_numpy()
            n_salts = np.array([hot.get(k, 1) for k in keys], dtype=np.int64)[blk]
            salts = docids * n_salts // max(max_doc, 1)
            b0, b1 = runs(blk, salts)
            rb = blk[b0]
            cum = np.concatenate([[0], np.cumsum(tfs)])
            o0, o1 = cum[b0], cum[b1]
            pay_cum = np.concatenate([[0], np.cumsum(pay_lens.astype(np.int64))])

            def channel(a, has, x0, x1):
                return np.where(has[rb], cut_bytes(a, x0, x1), b"")

            yield pd.DataFrame({
                "field": pdf["field"].to_numpy()[rb],
                "term": pdf["term"].to_numpy()[rb],
                "salt": salts[b0],
                "count": b1 - b0,
                "first_docid": docids[b0],
                "docids": cut_bytes(docids, b0, b1),
                "tfs": cut_bytes(tfs.astype(np.int32), b0, b1),
                "norms": cut_bytes(norms, b0, b1),
                "poss": channel(poss, f.has_pos, o0, o1),
                "offs": channel(offs, f.has_off, 2 * o0, 2 * o1),
                "pay_lens": channel(pay_lens, f.has_pay, o0, o1),
                "pays": channel(pay_buf, f.has_pay, pay_cum[o0], pay_cum[o1]),
                "pid": np.full(len(b0), -1, dtype=np.int32),  # ids already global
            })

    return decode_partition


_DECODE_COLS = [
    "field", "term", "first_docid", "count", "docids_enc", "tfs_enc",
    "norms_enc", "pos_enc", "off_enc", "pay_enc",
]


def _decoded_partials(spark: SparkSession, segments: list[dict], decode) -> DataFrame:
    """Union of all segments' decoded postings, as Spark partials."""
    out = None
    for s in segments:
        df = (
            read_table(spark, s["manifest"]["tables"]["postings"], POSTINGS_DDL)
            .filter(F.col("block_no") >= 0)
            .select(*_DECODE_COLS, F.lit(s["docbase"]).alias("docbase"))
            .mapInPandas(decode, PARTIALS_DDL)
        )
        out = df if out is None else out.unionByName(df)
    return out


def _local_partials(segments: list[dict], decode):
    """The same decode over each segment's postings read on the driver."""
    return decode(
        read_local(
            s["manifest"]["tables"]["postings"], _DECODE_COLS, ds.field("block_no") >= 0
        ).assign(docbase=s["docbase"])
        for s in segments
    )


def _rewrite_docs_local(segments, deleted, docs_path, kw_fields) -> dict:
    """Delete-merge docs rewrite on the driver (DocMap renumbering) ->
    counts {max_doc, dc, st, <kw field>: docs with a value}."""
    num_fields = _merged_numeric_fields(segments)
    docs = pd.concat(
        [
            docs_frame(s["manifest"]).assign(docid=lambda d, b=s["docbase"]: d["docid"] + b)
            for s in segments
        ]
    )
    keep, new = _remap(docs["docid"].to_numpy(dtype=np.int64), deleted)
    docs = docs[keep].assign(docid=new[keep]).sort_values("docid")
    write_local(
        docs_path,
        [docs[["docid", *DOC_COLS, *num_fields]]],
        with_numeric(DOCS_DDL, num_fields),
    )
    fl = docs["field_length"]
    return {
        "max_doc": len(docs),
        "dc": int((fl > 0).sum()),
        "st": int(fl.sum()),
        **{f: int((docs[f].notna() & (docs[f] != "")).sum()) for f in kw_fields},
    }


def _rewrite_docs_spark(spark, segments, deleted, docs_path, kw_fields) -> dict:
    """The same rewrite and counts as Spark jobs (one write, one agg)."""
    num_fields = _merged_numeric_fields(segments)
    docs_union = None
    for s in segments:
        df = docs_view(spark, s["manifest"])
        if s["docbase"]:
            df = df.withColumn("docid", F.col("docid") + F.lit(s["docbase"]))
        docs_union = df if docs_union is None else docs_union.unionByName(df)

    def remap_docid(ser: pd.Series) -> pd.Series:
        ids = ser.to_numpy(dtype=np.int64)
        keep, new = _remap(ids, deleted)
        out = new.astype("float64")
        out[~keep] = np.nan  # dropped below
        return pd.Series(out, index=ser.index)

    docs_union = (
        docs_union.withColumn(
            "new_docid", F.pandas_udf(remap_docid, "double")(F.col("docid"))
        )
        .filter(F.col("new_docid").isNotNull())
        .select(
            F.col("new_docid").cast("long").alias("docid"),
            *DOC_COLS,
            *num_fields,
        )
    )
    n_ranges = max(len(segments), 2)
    docs_union.repartitionByRange(n_ranges, "docid").sortWithinPartitions(
        "docid"
    ).write.mode("overwrite").parquet(docs_path)
    ones = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
    row = (
        read_table(spark, docs_path, with_numeric(DOCS_DDL, num_fields))
        .agg(
            F.count("*").alias("max_doc"),
            ones(F.col("field_length") > 0).alias("dc"),
            F.sum("field_length").alias("st"),
            *[
                ones(F.col(f).isNotNull() & (F.col(f) != "")).alias(f)
                for f in kw_fields
            ],
        )
        .collect()[0]
    )
    return {k: int(row[k] or 0) for k in ["max_doc", "dc", "st", *kw_fields]}


def _merged_df_local(segments) -> dict[str, int]:
    """(field SEP term) -> df summed over the segments' stat rows."""
    stats = pd.concat(
        read_local(
            s["manifest"]["tables"]["postings"],
            ["field", "term", "count"],
            ds.field("block_no") == -2,
        )
        for s in segments
    )
    df = stats.groupby(["field", "term"])["count"].sum()
    return {f + FKEY_SEP + t: int(n) for (f, t), n in df.items()}


def _merged_df_spark(spark, segments, salt_target) -> dict[str, int]:
    ts = None
    for s in segments:
        df = term_stats_view(spark, s["manifest"]["tables"]["postings"])
        ts = df if ts is None else ts.unionByName(df)
    rows = (
        ts.groupBy("field", "term").agg(F.sum("df").alias("df"))
        .filter(F.col("df") > salt_target)
        .collect()
    )
    return {r["field"] + FKEY_SEP + r["term"]: int(r["df"]) for r in rows}


def merge_segments(
    spark: SparkSession,
    segment_dirs: list[str],
    out_dir: str,
    n_buckets: int = 32,
    salt_target: int = 1 << 20,
    block_size: int = BLOCK_SIZE,
    build_id: str = "merge-0",
) -> dict:
    """Compact N segments into one index at out_dir; returns its manifest.

    Inputs whose total max_doc fits LOCAL_MAX_DOCS merge in-process (no
    Spark job); larger merges run the same decode/encode kernels on Spark."""
    os.makedirs(out_dir, exist_ok=True)
    t0 = time.time()
    segments = []
    docbase = 0
    for d in segment_dirs:
        m = load_manifest(d)
        segments.append({"dir": d, "manifest": m, "docbase": docbase})
        docbase += int(m["max_doc"])
    first = segments[0]["manifest"]
    k1, b = float(first["k1"]), float(first["b"])
    local = runs_in_process(docbase)

    # gather per-segment delete logs -> one sorted global delete set
    from .deletes import DeleteLog

    del_parts = []
    for s in segments:
        arr = DeleteLog(spark, s["dir"]).deleted_array()
        if arr.size:
            del_parts.append(arr + s["docbase"])
    deleted = (
        np.unique(np.concatenate(del_parts)) if del_parts else np.empty(0, np.int64)
    )

    kw_fields: list[str] = []
    for s in segments:
        for f, info in (s["manifest"].get("fields") or {}).items():
            if info.get("omit_norms") and f not in kw_fields:
                kw_fields.append(f)
    if deleted.size:
        # rewrite docs with MergeState.DocMap renumbering (docid - #deleted
        # below); postings get the same remap during decode. Field stats
        # are recounted from the rewritten docs.
        docs_path = os.path.join(out_dir, "docs")
        counts = (
            _rewrite_docs_local(segments, deleted, docs_path, kw_fields)
            if local
            else _rewrite_docs_spark(spark, segments, deleted, docs_path, kw_fields)
        )
        max_doc, doc_count, sum_ttf = counts["max_doc"], counts["dc"], counts["st"]
        kw_counts = {f: counts[f] for f in kw_fields}
    else:
        max_doc = docbase
        sum_ttf = sum(int(s["manifest"]["sum_ttf"]) for s in segments)
        doc_count = sum(int(s["manifest"]["doc_count"]) for s in segments)
        # keyword (omitNorms) field stats sum over the source manifests
        kw_counts = {
            f: sum(
                int((s["manifest"].get("fields") or {}).get(f, {}).get("doc_count", 0))
                for s in segments
            )
            for f in kw_fields
        }

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
    for f, cnt in kw_counts.items():
        fields[f] = {"doc_count": cnt, "sum_ttf": cnt, "avgdl": 1.0, "omit_norms": True}
    caches = {FIELD: norm_cache(k1, b, np.float32(avgdl))}
    kwc = omit_norms_cache(k1)
    for f in kw_fields:
        caches[f] = kwc

    # exact merged df from the per-segment terms dictionaries -> salt plan
    merged_df = (
        _merged_df_local(segments) if local else _merged_df_spark(spark, segments, salt_target)
    )
    hot = {
        key: int(math.ceil(df / salt_target))
        for key, df in merged_df.items()
        if df > salt_target
    }

    lineage = json.dumps(
        {
            "build_id": build_id,
            "stage": "merge",
            "sources": [s["dir"] for s in segments],
            "docbases": [s["docbase"] for s in segments],
        }
    )
    decode = make_decode(deleted, hot, max_doc)
    encode = make_merge_encode(caches, n_buckets, block_size, lineage)
    postings_path = os.path.join(out_dir, "postings")
    if local:
        write_postings_local(encode(_local_partials(segments, decode)), postings_path)
    else:
        n_shuffle = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 8)
        partials = _decoded_partials(spark, segments, decode)
        encoded = partials.repartition(n_shuffle, "field", "term", "salt").mapInPandas(
            encode, POSTINGS_DDL
        )
        write_postings(encoded, postings_path, n_buckets)

    # terms dictionary is embedded in the postings write (block_no = -2 rows)
    write_field_stats(os.path.join(out_dir, "field_stats"), max_doc, fields)
    # checkpoints: the encode meta rows of this merge
    now = write_checkpoints(
        os.path.join(out_dir, "build_checkpoints"),
        build_id,
        [dict(m, stage="merge") for m in encode_metas(postings_path)],
    )

    # merged manifest: postings/stats here; doc stores shared from sources
    # unless deletes forced a renumbering rewrite (docs_table)
    stagings = []
    for s in segments:
        for sg in stagings_of(s["manifest"]):
            stagings.append(
                {
                    "path": sg["path"],
                    "offsets": sg["offsets"],
                    "docbase": int(sg.get("docbase", 0)) + s["docbase"],
                }
            )
    # merged payload richness = the weakest source level (a segment without
    # positions/offsets cannot supply them, FieldInfos merge semantics)
    _LEVELS = ["docs_freqs", "docs_freqs_positions", "docs_freqs_positions_offsets"]
    index_options = _LEVELS[
        min(
            _LEVELS.index(
                s["manifest"].get("index_options", "docs_freqs_positions")
            )
            for s in segments
        )
    ]
    # payloads survive the merge only if EVERY source carries the same
    # provider (FieldInfos merge: a payload-less segment poisons the field)
    providers = {s["manifest"].get("payload_provider") for s in segments}
    payload_provider = providers.pop() if len(providers) == 1 else None
    analyzers = {s["manifest"].get("analyzer", "standard") for s in segments}
    if len(analyzers) > 1:
        # segments analyzed with different chains index different term
        # spaces; a merged index would silently mix them (Lucene cannot
        # produce this state: the analyzer is fixed at IndexWriter level)
        raise ValueError(
            f"cannot merge segments with different analyzers: {sorted(analyzers)}"
        )
    analyzer = analyzers.pop()
    manifest = {
        "format_version": 5,
        "build_id": build_id,
        "field": FIELD,
        "index_options": index_options,
        "payload_provider": payload_provider,
        "analyzer": analyzer,
        "numeric_fields": _merged_numeric_fields(segments),
        "fields": fields,
        "k1": k1,
        "b": b,
        "block_size": block_size,
        "n_buckets": n_buckets,
        "salt_target": salt_target,
        "max_doc": max_doc,
        "doc_count": doc_count,
        "sum_ttf": sum_ttf,
        "avgdl": avgdl,
        "stagings": None if deleted.size else stagings,
        "docs_table": os.path.join(out_dir, "docs") if deleted.size else None,
        "n_deletes_applied": int(deleted.size),
        "hot_terms": hot,
        "in_process": local,
        "merged_from": [s["dir"] for s in segments],
        "tables": {
            "staging": stagings[0]["path"],
            "postings": os.path.join(out_dir, "postings"),
            "field_stats": os.path.join(out_dir, "field_stats"),
            "build_checkpoints": os.path.join(out_dir, "build_checkpoints"),
        },
        "committed_at": now,
        "merge_elapsed": round(time.time() - t0, 2),
    }
    publish_manifest(out_dir, manifest)
    return manifest
