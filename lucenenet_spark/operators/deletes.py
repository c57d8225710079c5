"""Deletes: buffered delete-by-term/query, liveDocs filtering, merge-time apply.

Reference semantics (SURVEY.md §2.1/§2.3):
- deletes are queued and applied as a per-segment liveDocs mask
  (Index/BufferedUpdates.cs, DocumentsWriterDeleteQueue.cs; mask at
  Index/SegmentReader.cs:100,136,272) — scoring filters via acceptDocs,
  but term/collection STATS STILL COUNT deleted docs until they are
  merged away (IndexSearcher.cs stats note, SURVEY §3.1).
- segment merge drops deleted docs and renumbers docids through a DocMap
  (Index/MergeState.cs:40-102) — after compaction the stats shrink.

Spark mapping: a deletes log per index dir — tiny parquet generations of
docids, published with an atomic marker. Query time: broadcast anti-join
(the liveDocs mask). Merge time (merge.py): docid renumbering via a
broadcast sorted-deletes searchsorted (new = old - #deleted_below), the
distributed DocMap.
"""
from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession

from .index_build import write_local

DELETES_DDL = "docid long"


class DeleteLog:
    """Append-only docid delete log for one index directory."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.dir = os.path.join(index_dir, "deletes")

    def _state_path(self) -> str:
        return os.path.join(self.dir, "_generations.json")

    def generations(self) -> list[str]:
        p = self._state_path()
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return json.load(f)["generations"]

    def _publish(self, gen_path: str) -> None:
        os.makedirs(self.dir, exist_ok=True)
        gens = self.generations() + [gen_path]
        tmp = self._state_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"generations": gens, "committed_at": time.time()}, f)
        os.replace(tmp, self._state_path())

    def delete_docids(self, docids: DataFrame | np.ndarray) -> str:
        """Record docids as deleted (a DataFrame's `docid` column, or ids
        already on the driver, written with pyarrow and no Spark job);
        atomic generation."""
        gen = os.path.join(self.dir, f"gen-{len(self.generations()):06d}")
        if isinstance(docids, DataFrame):
            docids.select("docid").distinct().coalesce(1).write.mode(
                "overwrite"
            ).parquet(gen)
        else:
            ids = np.unique(np.asarray(docids, dtype=np.int64))
            write_local(gen, [pd.DataFrame({"docid": ids})], DELETES_DDL)
        self._publish(gen)
        return gen

    def delete_by_term(self, searcher, term: str) -> str:
        """IndexWriter.DeleteDocuments(Term) — materialize matches, log them."""
        from ..plans.query import TermQuery

        return self.delete_docids(searcher.scores(TermQuery(term=term)).select("docid"))

    def delete_by_query(self, searcher, query) -> str:
        """IndexWriter.DeleteDocuments(Query)."""
        return self.delete_docids(searcher.scores(query).select("docid"))

    def deleted(self) -> DataFrame | None:
        """All deleted docids (union of generations), or None if none."""
        gens = self.generations()
        if not gens:
            return None
        return (
            self.spark.read.schema(DELETES_DDL).parquet(*gens).select("docid").distinct()
        )

    def deleted_array(self) -> np.ndarray:
        """Sorted deleted docids as numpy (the broadcastable liveDocs set),
        read on the driver."""
        gens = self.generations()
        if not gens:
            return np.empty(0, dtype=np.int64)
        t = self._dataset(gens).to_table(columns=["docid"])
        return np.unique(t.column("docid").to_numpy().astype(np.int64))

    def count_upper(self) -> int:
        """Logged rows over all generations, from the parquet footers: an
        upper bound on the deleted-doc count, with no scan and no job."""
        gens = self.generations()
        return self._dataset(gens).count_rows() if gens else 0

    @staticmethod
    def _dataset(gens: list[str]) -> ds.Dataset:
        return ds.dataset([ds.dataset(g, format="parquet") for g in gens])
