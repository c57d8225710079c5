"""Seeded benchmark inputs, generated once per (seed, size) and cached.

`ensure` writes, under <work>/inputs/seed<n>-turns<t>-v<LAYOUT>/:
  corpus/        the first whole conversations, about t turns, of a corpus
                 from `datagen.transcripts_spark_dist`, in files that each hold
                 a contiguous conversation range
  nrt/add-0/     the first half of the corpus, cut at a conversation boundary
  nrt/update/    exactly an eighth of the corpus turns, edited from seeded
                 conversations of add-0: every turn gains the token
                 EDIT_TOKEN and multi-turn conversations lose their last turn
  meta.json      row counts, text bytes, the rare terms the corpus holds and
                 the expected NRT end state

The query stream (`query_stream`) and the oracle answers (`OracleAnswers`)
are derived from the same seed; the answers are cached next to these files.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

EDIT_TOKEN = "revised"
# part of the cache key: bump it when what `generate` writes changes, so a
# checkout never reads inputs cached by an older layout
LAYOUT = 2
FAMILIES = (
    "term_hot", "term_mid", "term_rare", "and_hot_mid", "and_hot_rare", "or_mid4",
    "or_common8", "not", "phrase", "phrase_sloppy", "prefix", "field",
)


class _LocalRange:
    """The two calls `transcripts_spark_dist` makes on a session
    (`range(...).mapInPandas(gen, schema)`), run in this process: each
    partition's ids go through the same generator Spark would run on an
    executor, so the rows are the ones Spark would produce, with no JVM.
    Generating through the measured session instead would start its Python
    workers before set-up is timed on a cache miss only, so `setup_s` would
    depend on whether the inputs were cached."""

    def range(self, start, end, step, partitions):
        self.parts = np.array_split(np.arange(start, end, step), partitions)
        return self

    def mapInPandas(self, gen, schema):
        import pandas as pd

        return [pd.concat(gen(iter([pd.DataFrame({"id": ids})]))) for ids in self.parts]


def _write(pdf, path: str, files: int) -> None:
    """Write rows (already in docid order) as `files` contiguous parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), files)):
        t = pa.Table.from_pandas(pdf.iloc[part], preserve_index=False)
        ts = t.schema.get_field_index("ts")
        t = t.set_column(ts, "ts", t["ts"].cast(pa.timestamp("us", tz="UTC")))
        pq.write_table(t, os.path.join(path, f"part-{i:05d}.parquet"))


def generate(out: str, seed: int, turns: int, partitions: int) -> dict:
    """Write the corpus and the NRT batches for (seed, turns) under `out`.

    Every size is a turn count cut at a conversation boundary, so all seeds
    give the same amount of work within one conversation (at most 40 turns)."""
    import pandas as pd

    from lucenenet_spark.datagen import transcripts_spark_dist

    # conversations average about 7 turns: generate a surplus, keep a prefix
    parts = transcripts_spark_dist(_LocalRange(), turns // 3, seed=seed, partitions=partitions)
    corpus = pd.concat(parts, ignore_index=True)
    corpus["turn_idx"] = corpus["turn_idx"].astype("int32")
    conv_no = corpus["conv_id"].str[5:].astype(int)
    ends = conv_no.value_counts().sort_index().cumsum()  # turns up to each conv

    def convs_for(n_turns: int) -> int:
        return int(np.searchsorted(ends.to_numpy(), n_turns)) + 1

    keep = conv_no < convs_for(turns)
    corpus, conv_no = corpus[keep], conv_no[keep]
    os.makedirs(out)
    _write(corpus, os.path.join(out, "corpus"), partitions)

    # NRT streams the first half of the corpus: its merge cost grows with the
    # documents merged, and the run must stay within the time budget
    n_streamed = convs_for(turns // 2)
    streamed = conv_no < n_streamed
    _write(corpus[streamed], os.path.join(out, "nrt", "add-0"), partitions)

    # the update edits random streamed conversations until it holds exactly an
    # eighth of the corpus turns, so every seed updates as many: an edited
    # conversation loses its last turn unless it has only one, and the last
    # one chosen keeps just the turns that make up the count
    order = np.random.default_rng([seed, 1]).permutation(n_streamed)
    sizes = ends.diff().fillna(ends).to_numpy().astype(int)  # turns per conv
    kept = np.maximum(sizes[order] - 1, 1)
    cum = np.cumsum(kept)
    n = int(np.searchsorted(cum, turns // 8)) + 1
    limit = dict(zip(order[:n].tolist(), kept[:n].tolist()))
    limit[int(order[n - 1])] = turns // 8 - (int(cum[n - 2]) if n > 1 else 0)
    old = corpus[conv_no.isin(limit)]
    edited = old[old["turn_idx"] < conv_no[old.index].map(limit)].copy()
    edited["text"] = edited["text"] + " " + EDIT_TOKEN
    _write(edited, os.path.join(out, "nrt", "update"), 1)

    def text_bytes(pdf) -> int:
        return int(sum(len(t.encode("utf-8")) for t in pdf["text"]))

    present = corpus["text"].str.findall(r"\brare(\d+)\b").explode().dropna()
    meta = dict(
        seed=seed,
        rows=len(corpus),
        rare_ids=sorted({int(x) for x in present}),
        text_bytes=text_bytes(corpus),
        nrt_text_bytes=text_bytes(corpus[streamed]) + text_bytes(edited),
        update={
            "old_turns": old.groupby("conv_id").size().to_dict(),
            "new_turns": edited.groupby("conv_id").size().to_dict(),
        },
    )
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    return meta


def ensure(work: str, seed: int, turns: int, partitions: int) -> tuple[str, dict]:
    """The input directory for (seed, turns) and its meta, generated on first use."""
    d = os.path.join(work, "inputs", f"seed{seed}-turns{turns}-v{LAYOUT}")
    if not os.path.exists(os.path.join(d, "meta.json")):
        tmp = d + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(tmp, seed, turns, partitions)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(os.path.join(d, "meta.json")) as f:
        return d, json.load(f)


def query_stream(seed: int, n: int, rare_ids: list[int]) -> list[dict]:
    """Seeded closed-loop request stream: {family, q, fetch}.

    Families take turns in a fixed order and every 4th request fetches, so
    every run of n requests has the same mix whatever the seed; the seed
    picks the terms. Mid-frequency word ids are Zipf-distributed, so popular
    terms repeat (the searcher's term-stats cache stays warm for them). Rare
    terms are drawn uniformly from `rare_ids`, the rare terms the corpus
    holds, so they almost never repeat (cold every time) yet always match:
    about two thirds of the 50k rare ids are absent from the corpus, and an
    absent term takes a much cheaper plan, so drawing from all of them would
    let the seed decide how many cheap queries a run holds. Prefixes are
    `rare100*`..`rare499*`, each of which covers 111 rare ids."""
    rng = np.random.default_rng([seed, 2])

    def mid() -> str:
        return f"word{min(int(rng.zipf(1.3)), 2000) - 1}"

    def rare() -> str:
        return f"rare{rare_ids[int(rng.integers(0, len(rare_ids)))]}"

    def commons(k: int) -> list[str]:
        return [f"common{i}" for i in rng.choice(167, k, replace=False)]

    make = {
        "term_hot": lambda: "popcorn",
        "term_mid": mid,
        "term_rare": rare,
        "and_hot_mid": lambda: f"+popcorn +{mid()}",
        "and_hot_rare": lambda: f"+popcorn +{rare()}",
        "or_mid4": lambda: " ".join(mid() for _ in range(4)),
        "or_common8": lambda: " ".join(commons(8)),
        "not": lambda: f"+{mid()} -popcorn",
        "phrase": lambda: '"{} {}"'.format(*commons(2)),
        "phrase_sloppy": lambda: '"{} {}"~3'.format(*commons(2)),
        "prefix": lambda: f"rare{int(rng.integers(100, 500))}*",
        "field": lambda: f"+role:tool +{mid()}",
    }
    out = []
    for i in range(n):
        fam = FAMILIES[i % len(FAMILIES)]
        out.append({"family": fam, "q": make[fam](), "fetch": i % 4 == 3})
    return out


def corpus_pandas(corpus_dir: str):
    """The corpus in docid order (conversation, then turn), read without Spark."""
    import pyarrow.parquet as pq

    t = pq.read_table(corpus_dir, columns=["conv_id", "turn_idx", "role", "tool", "text"])
    return t.to_pandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def oracle_scores(oidx, q) -> dict | None:
    """docid -> float32 score from the pure-Python oracle, or None when the
    query shape is one this check does not cover. BM25 folds clause scores
    in must-then-should order, like `oracle.boolean_scores`."""
    from collections import Counter

    from lucenenet_spark import oracle
    from lucenenet_spark.plans.query import BooleanQuery, PhraseQuery, TermQuery

    if isinstance(q, TermQuery):
        if q.field == "text":
            return oracle.term_scores(oidx, q.term)
        return oracle.kw_term_scores(oidx, q.field, q.term)
    if isinstance(q, PhraseQuery) and q.field == "text":
        return oracle.phrase_scores(oidx, list(q.terms), list(q.offsets), slop=q.slop)
    if not isinstance(q, BooleanQuery) or q.min_should_match:
        return None
    maps = [oracle_scores(oidx, c) for c in q.must + q.should + q.must_not]
    if any(m is None for m in maps):
        return None
    must = maps[: len(q.must)]
    should = maps[len(q.must) : len(q.must) + len(q.should)]
    banned = set().union(*(m.keys() for m in maps[len(q.must) + len(q.should) :]))
    if must:
        docs = set(must[0]).intersection(*must[1:])
    else:
        cnt: Counter = Counter()
        for m in should:
            cnt.update(m.keys())
        docs = set(cnt)
    out = {}
    for d in sorted(docs - banned):
        s = np.float32(0.0)
        for m in must + should:
            if d in m:
                s = np.float32(s + m[d])
        out[d] = s
    return out


class OracleAnswers:
    """Oracle top-k per query string, cached on disk by (seed, size); the
    oracle index over the corpus is built only when an answer is missing."""

    def __init__(self, inputs_dir: str, k: int):
        self.path = os.path.join(inputs_dir, f"oracle-top{k}.json")
        self.corpus_dir = os.path.join(inputs_dir, "corpus")
        self.k = k
        self._oidx = None
        self.answers: dict[str, list | None] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.answers = json.load(f)
        self._dirty = False

    def get(self, qstr: str) -> list[tuple[int, float]] | None:
        """[(docid, float32 score)] or None when the oracle does not cover q."""
        if qstr not in self.answers:
            from lucenenet_spark import oracle
            from lucenenet_spark.plans import parser

            if self._oidx is None:
                pdf = corpus_pandas(self.corpus_dir)
                self._oidx = oracle.build_index(
                    pdf["text"].tolist(),
                    keyword_docs={"role": pdf["role"].tolist(), "tool": pdf["tool"].tolist()},
                )
            scores = oracle_scores(self._oidx, parser.parse(qstr))
            self.answers[qstr] = (
                None
                if scores is None
                else [[int(d), float(s)] for d, s in oracle.top_k(scores, self.k)]
            )
            self._dirty = True
        ans = self.answers[qstr]
        return None if ans is None else [(d, np.float32(s)) for d, s in ans]

    def save(self) -> None:
        if self._dirty:
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.answers, f)
            os.replace(tmp, self.path)
