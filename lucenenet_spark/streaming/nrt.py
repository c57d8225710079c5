"""Near-real-time indexing over Structured Streaming.

Lucene 4.8's streaming story is NRT search (SURVEY.md §2.8): flush small
segments often (DirectoryReader.OpenIfChanged, Index/DirectoryReader.cs:172-174;
SearcherManager), publish atomically via segments_N generations
(Index/SegmentInfos.cs:55-75,296-297), and let the background merge scheduler
compact (ConcurrentMergeScheduler + TieredMergePolicy.cs:73-87).

Spark mapping:
  readStream -> foreachBatch: each micro-batch becomes an immutable delta
  segment (a full mini-index), then is registered in segments.json with a
  monotonically increasing generation — an atomic rename, exactly the
  segments_N contract. A size-tiered merge policy
  (TieredMergePolicy.cs:73-87 budget: segsPerTier per tier, tiers scaling
  by maxMergeAtOnce) merges the cheapest contiguous window of up to
  maxMergeAtOnce segments when the count exceeds the budget — budgeted
  background merges, never a full-index rewrite per trigger; compact()
  remains the ForceMerge(1) analogue.

Small writes launch no Spark job. A micro-batch is collected once (at most
LOCAL_MAX_DOCS + 1 rows); when it fits, IndexBuilder builds the segment
in-process, and merges whose inputs total at most LOCAL_MAX_DOCS docs run
in-process too. Both run the same ingest/decode/encode kernels as the Spark
path and write the same table layout with pyarrow. Larger batches and
merges run on Spark.

Late/out-of-order data: a turn arriving after its conversation's earlier
turns were indexed simply lands in a later segment with a later docid —
the same behavior as Lucene (docids are arrival-ordered), fixed up by
re-sorting at compaction only if the application requires it.

Reopen-after-commit (OpenIfChanged) == constructing a fresh IndexSearcher
over the current segments list; segment immutability makes this safe while
a stream is appending.
"""
from __future__ import annotations

import json
import math
import os
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import index_build
from ..operators.index_build import IndexBuilder, load_manifest
from ..operators.merge import merge_segments
from ..operators.search import IndexSearcher


class NRTIndex:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        max_segments: int = 8,
        n_buckets: int = 8,
        n_segments: int = 8,
        salt_target: int = 1 << 20,
        k1: float = 1.2,
        b: float = 0.75,
        analyzer: str = "standard",
        keyword_fields: tuple[str, ...] | None = None,
    ):
        self.spark = spark
        self.base_dir = base_dir
        self.max_segments = max_segments
        self.n_buckets = n_buckets
        self.n_segments = n_segments
        self.salt_target = salt_target
        self.k1, self.b = k1, b
        self.analyzer = analyzer
        self.keyword_fields = keyword_fields
        os.makedirs(os.path.join(base_dir, "segments"), exist_ok=True)

    # -- segments_N analogue --------------------------------------------------
    def _gen_path(self) -> str:
        return os.path.join(self.base_dir, "segments.json")

    def read_generation(self) -> dict:
        p = self._gen_path()
        if not os.path.exists(p):
            return {"generation": 0, "segments": []}
        with open(p) as f:
            return json.load(f)

    def _publish(self, segments: list[str]) -> dict:
        """Atomic generation bump — the segments_N two-phase commit."""
        gen = self.read_generation()["generation"] + 1
        state = {"generation": gen, "segments": segments, "committed_at": time.time()}
        tmp = self._gen_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self._gen_path())
        return state

    def segments(self) -> list[str]:
        return self.read_generation()["segments"]

    # -- batch processing ------------------------------------------------------
    def _seg_dir(self, batch_id: int) -> str:
        return os.path.join(self.base_dir, "segments", f"seg-{batch_id:010d}")

    def _built(self, batch_id: int) -> bool:
        return os.path.exists(os.path.join(self._seg_dir(batch_id), "_manifest.json"))

    @staticmethod
    def _collect(batch_df: DataFrame) -> DataFrame | pd.DataFrame:
        """The batch as a pandas frame when it fits LOCAL_MAX_DOCS (one
        job), else the Spark DataFrame itself."""
        pdf = batch_df.limit(index_build.LOCAL_MAX_DOCS + 1).toPandas()
        return pdf if index_build.runs_in_process(len(pdf)) else batch_df

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch target: build + publish one delta segment, maybe merge.

        Idempotent on streaming retries: a segment whose manifest already
        exists is re-registered, not rebuilt (IndexBuilder stages are also
        individually resumable below that)."""
        self._add(None if self._built(batch_id) else self._collect(batch_df), batch_id)

    def _add(self, batch: DataFrame | pd.DataFrame | None, batch_id: int) -> None:
        """Build `batch` (None = already built) as segment `batch_id`,
        register it, then run the merge policy."""
        seg_dir = self._seg_dir(batch_id)
        if batch is not None:
            IndexBuilder(
                self.spark,
                seg_dir,
                k1=self.k1,
                b=self.b,
                n_buckets=self.n_buckets,
                n_segments=self.n_segments,
                salt_target=self.salt_target,
                analyzer=self.analyzer,
                **(
                    {"keyword_fields": self.keyword_fields}
                    if self.keyword_fields is not None
                    else {}
                ),
            ).build(batch, build_id=f"nrt-{batch_id}")
        segs = self.segments()
        if seg_dir not in segs:
            segs = segs + [seg_dir]
            self._publish(segs)
        self.maybe_merge()

    # -- TieredMergePolicy (Index/TieredMergePolicy.cs:73-87) -----------------
    @staticmethod
    def _allowed_seg_count(
        sizes: list[int], segs_per_tier: int, max_merge_at_once: int
    ) -> int:
        """Lucene's allowed-count budget: segsPerTier segments per size
        tier, tiers scaling by maxMergeAtOnce from the floor (smallest)
        segment size (TieredMergePolicy.FindMerges budget loop)."""
        if not sizes:
            return 0
        sizes = sorted(int(x) for x in sizes)
        level = max(sizes[0], 1)
        tot = float(sum(sizes))
        allowed = 0
        while True:
            count_lvl = tot / level
            if count_lvl < segs_per_tier:
                allowed += math.ceil(count_lvl)
                break
            allowed += segs_per_tier
            tot -= segs_per_tier * level
            level *= max_merge_at_once
        return allowed

    def maybe_merge(
        self, max_merge_at_once: int = 10, segs_per_tier: int | None = None
    ) -> str | None:
        """Size-tiered budgeted merging (TieredMergePolicy.cs:73-87
        semantics: maxMergeAtOnce=10, segsPerTier=10 defaults; here
        segsPerTier defaults to max_segments). While the segment count
        exceeds the tier budget, merge the cheapest CONTIGUOUS window of
        up to maxMergeAtOnce segments and swap it IN PLACE in one atomic
        generation — contiguity keeps global docid order deterministic
        across generations (stronger than Lucene, which lets merges
        permute docids). Never a full-index rewrite unless the budget
        demands it. Returns the last merged segment dir, or None."""
        spt = segs_per_tier if segs_per_tier is not None else self.max_segments
        merged_out: str | None = None
        while True:
            state = self.read_generation()
            segs = state["segments"]
            if len(segs) <= 1:
                return merged_out
            sizes = {s: int(load_manifest(s)["max_doc"]) for s in segs}
            allowed = self._allowed_seg_count(
                list(sizes.values()), spt, max_merge_at_once
            )
            if len(segs) <= max(allowed, 1):
                return merged_out
            # cheapest contiguous window of up to maxMergeAtOnce segments,
            # at least 2; windows of full width preferred (amortize)
            width = min(max_merge_at_once, len(segs))
            best_i, best_cost = 0, None
            for i in range(0, len(segs) - width + 1):
                cost = sum(sizes[s] for s in segs[i : i + width])
                if best_cost is None or cost < best_cost:
                    best_i, best_cost = i, cost
            chosen = segs[best_i : best_i + width]
            out = os.path.join(
                self.base_dir, "compact", f"gen-{state['generation']:010d}"
            )
            merge_segments(
                self.spark,
                chosen,
                out,
                n_buckets=max(self.n_buckets, 8),
                salt_target=self.salt_target,
                build_id=f"tiered-{state['generation']}",
            )
            self._publish(segs[:best_i] + [out] + segs[best_i + width :])
            merged_out = out

    def compact(self) -> str | None:
        """Force-merge ALL segments into one (ForceMerge(1) analogue)."""
        state = self.read_generation()
        segs = state["segments"]
        if len(segs) <= 1:
            return None
        out = os.path.join(self.base_dir, "compact", f"gen-{state['generation']:010d}")
        merge_segments(
            self.spark,
            segs,
            out,
            n_buckets=max(self.n_buckets, 8),
            salt_target=self.salt_target,
            build_id=f"compact-{state['generation']}",
        )
        self._publish([out])
        return out

    def update_documents(
        self,
        batch_df: DataFrame,
        batch_id: int,
        key_field: str,
        key_col: str | None = None,
    ) -> None:
        """IndexWriter.UpdateDocument(Term, doc) analogue
        (Lucene.Net/Index/IndexWriter.cs UpdateDocument/UpdateDocuments):
        delete every live doc whose key_field KEYWORD term matches a key
        present in the batch, then add the batch as a new delta segment —
        the reference's buffered delete-by-term applied at flush, so a
        reopened reader sees exactly one live doc per key.

        Deletes are logged against the CURRENT generation before the new
        segment publishes (the new segment can never mask its own docs).
        A reader that opens between the two publishes sees the delete
        without the add — the reference closes that window with its
        in-process reader pool; on shared storage the window is one
        metadata write wide and closes at the next reopen.

        Idempotent on streaming retries: if the batch's segment manifest
        already exists, both the delete phase and the rebuild are skipped
        (re-deleting would wrongly mask the batch's OWN published docs).

        Jobs: the batch is collected once (see process_batch) and its keys
        are read from that frame; the delete probe decodes those keys'
        keyword postings on the driver (IndexSearcher.matching_docids; one
        bucket-pruned Spark scan above LOCAL_MAX_POSTINGS), and the victims
        are routed to their segments and logged with pyarrow. A batch over
        LOCAL_MAX_DOCS takes its keys with one more distinct job and is
        built on Spark.
        """
        key_col = key_col or key_field
        if self._built(batch_id):
            self._add(None, batch_id)  # re-register only
            return
        batch = self._collect(batch_df)
        if self.segments():
            if isinstance(batch, pd.DataFrame):
                keys = sorted(set(batch[key_col].dropna()))
            else:
                keys = sorted(
                    r["k"]
                    for r in batch.select(F.col(key_col).alias("k")).distinct().collect()
                    if r["k"] is not None
                )
            if keys:
                s = self.searcher()
                victims = s.matching_docids([(key_field, k) for k in keys])
                if len(victims):
                    s.delete_docids(victims)
        self._add(batch, batch_id)

    # -- public API ------------------------------------------------------------
    def start(self, stream_df: DataFrame, checkpoint_dir: str, **trigger):
        """Attach to a streaming DataFrame of transcript rows."""
        return (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**trigger)
            .start()
        )

    def searcher(self, **kw) -> IndexSearcher:
        """Fresh reader over the current generation (OpenIfChanged analogue)."""
        segs = self.segments()
        if not segs:
            raise RuntimeError("no segments committed yet")
        return IndexSearcher(self.spark, segs, **kw)
