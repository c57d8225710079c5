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


def _run_descends(values: np.ndarray, run_at: np.ndarray) -> np.ndarray:
    """Per element of runs laid end to end (run_at: each run's start, plus
    the end): True where the next element of its run is not greater."""
    bad = np.zeros(len(values), dtype=bool)
    bad[:-1] = values[1:] <= values[:-1]
    bad[run_at[1:-1] - 1] = False  # a run's last element has no next
    if len(bad):
        bad[-1] = False
    return bad


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
        from .operators.codec import decode_frame

        for pdf in it:
            if not len(pdf):
                continue
            f = decode_frame(pdf)
            n_blocks, head, tail = len(pdf), f.at[:-1], f.at[1:] - 1
            blk = f.block_of()
            occ_blk = np.repeat(blk, f.tfs)

            def any_in_block(bad, of=occ_blk):
                return np.bincount(of[bad], minlength=n_blocks) > 0

            den = np.empty(len(f.norms), dtype=np.float32)
            fields = pdf["field"].to_numpy()[blk]
            for fld in np.unique(fields):
                on = fields == fld
                den[on] = caches[fld][f.norms[on]]
            tf32 = f.tfs.astype(np.float32)
            kern = np.maximum.reduceat(tf32 / (tf32 + den), head)
            # positions: one run of tf strictly ascending, non-negative
            # positions per posting (DOCS_AND_FREQS_AND_POSITIONS invariant);
            # offsets (…_AND_OFFSETS level): end > start and starts strictly
            # ascending within each run; payloads: non-negative lengths whose
            # sum is the block's payload byte count (CheckIndex.cs offset
            # and payload-length validations)
            bad = (f.pos < 0) | _run_descends(f.pos, f.occ_at)
            bad |= f.has_off[occ_blk] & (
                (f.off_end <= f.off_start) | (f.off_start < 0)
                | _run_descends(f.off_start, f.occ_at)
            )
            len_cum = np.concatenate([[0], np.cumsum(f.pay_len)])
            block_lens = np.diff(len_cum[f.occ_at[f.at]])
            bad_pay = f.has_pay & (
                any_in_block(f.pay_len < 0) | (np.diff(f.pay_at) != block_lens)
            )
            yield pd.DataFrame({
                "field": pdf["field"],
                "term": pdf["term"],
                "salt": pdf["salt"],
                "pos_ok": ~(f.has_pos & (any_in_block(bad) | bad_pay)),
                "block_no": pdf["block_no"],
                "df": np.diff(f.at),
                "ttf": np.add.reduceat(f.tfs, head),
                "mono_ok": ~any_in_block(_run_descends(f.docids, f.at), blk),
                "meta_ok": (f.docids[head] == pdf["first_docid"].to_numpy())
                & (f.docids[tail] == pdf["last_docid"].to_numpy()),
                "bound_ok": kern <= pdf["max_score_bound"].to_numpy(dtype=np.float32),
                "first_docid": f.docids[head],
                "last_docid": f.docids[tail],
                "min_tf": np.minimum.reduceat(f.tfs, head),
            })

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
