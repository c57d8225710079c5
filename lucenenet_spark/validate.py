"""CheckIndex-style full-index invariant scan, as a Spark job.

Re-derivation of the reference's CheckIndex validations
(src/Lucene.Net/Index/CheckIndex.cs:827-838 terms/postings, :920 stats,
:1626 norms, :1679 stored, :1729 docvalues) against our table layout:

  1. per-term df/ttf recounted from decoded blocks == term_stats
  2. docID strict monotonicity within each (term, salt) block chain;
     block metadata (first/last/count) consistent with payloads
  3. norms coverage: docs table count == max_doc; norm byte re-derivable
     from field_length
  4. field stats: max_doc/doc_count/sum_ttf re-derived from docs table
  5. block-max bounds dominate every decoded score kernel (prune safety)

Everything is distributed (mapInPandas over block rows + aggregations);
only the tiny per-check verdict rows hit the driver.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .operators.index_build import POSTINGS_DDL, docs_view, load_manifest, read_table
from .oracle import norm_cache


def check_index(spark: SparkSession, index_dir: str) -> dict:
    """Run all invariant checks; returns {check: {'ok': bool, ...detail}}."""
    m = load_manifest(index_dir)
    postings = read_table(spark, m["tables"]["postings"], POSTINGS_DDL).filter(
        F.col("block_no") >= 0
    )
    docs = docs_view(spark, m)
    from .operators.index_build import term_stats_view

    term_stats = term_stats_view(spark, m["tables"]["postings"])
    from .operators.index_build import FIELD, omit_norms_cache

    caches = {FIELD: norm_cache(m["k1"], m["b"], np.float32(m["avgdl"]))}
    kwc = omit_norms_cache(m["k1"])
    for f, info in (m.get("fields") or {}).items():
        if info.get("omit_norms"):
            caches[f] = kwc
    out: dict[str, dict] = {}

    # -- decode every block once: recount + chain + bound + position checks --
    def scan_blocks(it):
        from .operators.codec import decode_block, decode_offsets, decode_positions

        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                docids, tfs = decode_block(r.docids_enc, r.tfs_enc, r.first_docid, r.count)
                nb = np.frombuffer(r.norms_enc, dtype=np.uint8)
                tf32 = tfs.astype(np.float32)
                kern = tf32 / (tf32 + caches[r.field][nb])
                # positions payload: one ascending run of sum(tfs) positions
                # per posting (DOCS_AND_FREQS_AND_POSITIONS invariant)
                pos_ok = True
                if r.pos_enc:
                    poss = decode_positions(r.pos_enc, int(tfs.sum()))
                    if len(poss) != int(tfs.sum()) or np.any(poss < 0):
                        pos_ok = False
                    elif len(poss):
                        # within each posting's run, positions strictly ascend
                        cum = np.cumsum(tfs)[:-1]
                        d = np.diff(poss)
                        brk = np.ones(len(poss) - 1, dtype=bool)
                        brk[cum - 1] = False  # run boundaries may reset
                        pos_ok = bool(np.all(d[brk] > 0))
                    # offsets payload (…_AND_OFFSETS level): end > start and
                    # starts non-decreasing within each posting's run
                    # (CheckIndex.cs offset validations)
                    if pos_ok and getattr(r, "off_enc", b""):
                        st, en = decode_offsets(r.off_enc, int(tfs.sum()))
                        if np.any(en <= st) or np.any(st < 0):
                            pos_ok = False
                        elif len(st) > 1:
                            cum = np.cumsum(tfs)[:-1]
                            d = np.diff(st)
                            brk = np.ones(len(st) - 1, dtype=bool)
                            brk[cum - 1] = False
                            pos_ok = bool(np.all(d[brk] > 0))
                    # payloads channel: one length per occurrence, lengths
                    # non-negative, concatenated bytes exactly sum(lens)
                    # (CheckIndex.cs payload-length validations)
                    if pos_ok and getattr(r, "pay_enc", b""):
                        from .operators.codec import decode_payloads

                        lens, buf = decode_payloads(r.pay_enc, int(tfs.sum()))
                        if (
                            len(lens) != int(tfs.sum())
                            or np.any(lens < 0)
                            or len(buf) != int(lens.sum())
                        ):
                            pos_ok = False
                rows.append(
                    {
                        "field": r.field,
                        "term": r.term,
                        "salt": r.salt,
                        "pos_ok": pos_ok,
                        "block_no": r.block_no,
                        "df": len(docids),
                        "ttf": int(tfs.sum()),
                        "mono_ok": bool(np.all(np.diff(docids) > 0)),
                        "meta_ok": bool(
                            docids[0] == r.first_docid
                            and docids[-1] == r.last_docid
                            and len(docids) == r.count
                            and len(nb) == r.count
                        ),
                        "bound_ok": bool(np.max(kern) <= np.float32(r.max_score_bound)),
                        "first_docid": int(docids[0]),
                        "last_docid": int(docids[-1]),
                        "min_tf": int(tfs.min()),
                    }
                )
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {c: pd.Series(dtype=t) for c, t in [
                    ("field", "object"), ("term", "object"), ("salt", "int32"),
                    ("pos_ok", "bool"), ("block_no", "int32"),
                    ("df", "int64"), ("ttf", "int64"), ("mono_ok", "bool"),
                    ("meta_ok", "bool"), ("bound_ok", "bool"),
                    ("first_docid", "int64"), ("last_docid", "int64"), ("min_tf", "int64"),
                ]}
            )

    scanned = postings.mapInPandas(
        scan_blocks,
        "field string, term string, salt int, pos_ok boolean, block_no int,"
        " df long, ttf long, mono_ok boolean,"
        " meta_ok boolean, bound_ok boolean, first_docid long, last_docid long, min_tf long",
    ).cache()

    flags = scanned.agg(
        F.sum(F.when(~F.col("mono_ok"), 1).otherwise(0)).alias("bad_mono"),
        F.sum(F.when(~F.col("meta_ok"), 1).otherwise(0)).alias("bad_meta"),
        F.sum(F.when(~F.col("bound_ok"), 1).otherwise(0)).alias("bad_bound"),
        F.sum(F.when(F.col("min_tf") < 1, 1).otherwise(0)).alias("bad_tf"),
        F.sum(F.when(~F.col("pos_ok"), 1).otherwise(0)).alias("bad_pos"),
        F.count("*").alias("blocks"),
    ).collect()[0]
    out["block_payloads"] = {
        "ok": flags["bad_mono"] == 0 and flags["bad_meta"] == 0
        and flags["bad_bound"] == 0 and flags["bad_tf"] == 0
        and flags["bad_pos"] == 0,
        **{k: int(flags[k]) for k in ["bad_mono", "bad_meta", "bad_bound", "bad_tf", "bad_pos", "blocks"]},
    }

    # chain order across blocks of one (field, term, salt)
    w_chain = (
        scanned.groupBy("field", "term", "salt")
        .agg(
            F.sort_array(F.collect_list(F.struct("block_no", "first_docid", "last_docid"))).alias("ch")
        )
        .select(
            F.exists(
                F.zip_with(
                    F.expr("slice(ch, 1, size(ch)-1)"),
                    F.expr("slice(ch, 2, size(ch)-1)"),
                    lambda a, b: (a["last_docid"] >= b["first_docid"])
                    | (a["block_no"] + 1 != b["block_no"]),
                ),
                lambda x: x,
            ).alias("broken")
        )
        .agg(F.sum(F.when(F.col("broken"), 1).otherwise(0)).alias("bad_chains"))
        .collect()[0]
    )
    out["block_chains"] = {"ok": w_chain["bad_chains"] == 0, "bad_chains": int(w_chain["bad_chains"])}

    # -- df/ttf recount vs term_stats (CheckIndex.cs:827-838) ----------------
    recount = scanned.groupBy("field", "term").agg(
        F.sum("df").alias("df2"), F.sum("ttf").alias("ttf2")
    )
    joined = term_stats.join(recount, ["field", "term"], "full_outer")
    bad = joined.filter(
        F.col("df").isNull()
        | F.col("df2").isNull()
        | (F.col("df") != F.col("df2"))
        | (F.col("ttf") != F.col("ttf2"))
    ).count()
    out["term_stats"] = {"ok": bad == 0, "mismatched_terms": int(bad)}

    # -- norms + field stats (CheckIndex.cs:920,1626) ------------------------
    # re-derive under the index's own norm encoder (manifest norm_spec —
    # a sweet-spot index stores SweetSpotSimilarity.ComputeLengthNorm bytes)
    norm_spec = m.get("norm_spec", "standard")

    def renorm(lengths: pd.Series) -> pd.Series:
        from .functions.sweetspot import norm_encoder

        return pd.Series(
            norm_encoder(norm_spec)(lengths.to_numpy(dtype=np.int64)).astype(
                np.int16
            ),
            index=lengths.index,
        )

    d = docs.withColumn("norm2", F.pandas_udf(renorm, "short")(F.col("field_length")))
    stats = d.agg(
        F.count("*").alias("max_doc"),
        F.sum(F.when(F.col("field_length") > 0, 1).otherwise(0)).alias("doc_count"),
        F.sum("field_length").alias("sum_ttf"),
        F.sum(F.when(F.col("norm_byte") != F.col("norm2"), 1).otherwise(0)).alias("bad_norms"),
        F.countDistinct("docid").alias("distinct_docids"),
        F.min("docid").alias("min_docid"),
        F.max("docid").alias("max_docid"),
    ).collect()[0]
    out["norms"] = {"ok": stats["bad_norms"] == 0, "bad_norms": int(stats["bad_norms"])}
    out["docids"] = {
        # dense 0..max_doc-1 docid space (stable (conv_id, turn_idx) rank)
        "ok": stats["distinct_docids"] == stats["max_doc"]
        and stats["min_docid"] == 0
        and stats["max_docid"] == stats["max_doc"] - 1,
        "max_doc": int(stats["max_doc"]),
    }
    out["field_stats"] = {
        "ok": int(stats["max_doc"]) == m["max_doc"]
        and int(stats["doc_count"]) == m["doc_count"]
        and int(stats["sum_ttf"]) == m["sum_ttf"],
        "manifest": {k: m[k] for k in ["max_doc", "doc_count", "sum_ttf"]},
        "recount": {k: int(stats[k]) for k in ["max_doc", "doc_count", "sum_ttf"]},
    }

    scanned.unpersist()
    out["ok"] = all(v["ok"] for v in out.values() if isinstance(v, dict))
    return out


def check_ivf_index(spark: SparkSession, ivf_dir: str) -> dict:
    """CheckIndex analogue for a materialized IVF index: cell assignments
    partition the corpus (row count matches meta, every cell id exists in
    the centroid table, no null cells)."""
    import json as _json
    import os as _os

    import pandas as _pd

    with open(_os.path.join(ivf_dir, "_ivf_meta.json")) as f:
        meta = _json.load(f)
    cents = _pd.read_parquet(_os.path.join(ivf_dir, "centroids"))
    cells = spark.read.parquet(_os.path.join(ivf_dir, "cells"))
    agg = cells.agg(
        F.count("*").alias("n"),
        F.countDistinct(meta["id_col"]).alias("ids"),
        F.countDistinct("cell").alias("used_cells"),
        F.sum(F.when(F.col("cell").isNull(), 1).otherwise(0)).alias("null_cells"),
    ).collect()[0]
    known = set(int(c) for c in cents["cell"])
    strange = (
        cells.select("cell").distinct()
        .filter(~F.col("cell").isin([int(c) for c in known]))
        .count()
    )
    out = {
        "rows": {
            "ok": int(agg["n"]) == meta["n"] and int(agg["ids"]) == meta["n"],
            "n": int(agg["n"]),
            "meta_n": meta["n"],
        },
        "cells": {
            "ok": strange == 0 and int(agg["null_cells"]) == 0
            and len(known) == meta["c"],
            "used": int(agg["used_cells"]),
            "centroids": len(known),
            "unknown_cells": int(strange),
        },
    }
    out["ok"] = all(v["ok"] for v in out.values() if isinstance(v, dict))
    return out


def check_suggester(spark: SparkSession, suggester_dir: str) -> dict:
    """Suggest-channel invariants: akeys non-empty and consistent with
    re-analyzing the surface; surfaces unique (dedup happened); weights
    non-null."""
    import json as _json
    import os as _os

    with open(_os.path.join(suggester_dir, "_suggest_meta.json")) as f:
        analyzer = _json.load(f)["analyzer"]
    df = spark.read.parquet(_os.path.join(suggester_dir, "suggest"))

    from .functions.analysis import tokenize_udf

    re_akey = F.array_join(tokenize_udf(analyzer)(F.col("surface")), " ")
    agg = df.agg(
        F.count("*").alias("n"),
        F.countDistinct("surface").alias("surfaces"),
        F.sum(F.when(F.col("akey") == "", 1).otherwise(0)).alias("empty_keys"),
        F.sum(F.when(F.col("weight").isNull(), 1).otherwise(0)).alias("null_w"),
        F.sum(F.when(F.col("akey") != re_akey, 1).otherwise(0)).alias("stale_keys"),
    ).collect()[0]
    out = {
        "dedup": {"ok": int(agg["n"]) == int(agg["surfaces"]), "n": int(agg["n"])},
        "keys": {
            "ok": int(agg["empty_keys"]) == 0 and int(agg["stale_keys"]) == 0,
            "empty": int(agg["empty_keys"]),
            "stale": int(agg["stale_keys"]),
        },
        "weights": {"ok": int(agg["null_w"]) == 0},
    }
    out["ok"] = all(v["ok"] for v in out.values() if isinstance(v, dict))
    return out
