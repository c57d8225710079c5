"""Full DFR/IB similarity matrix: vectorized engine kernels vs the scalar
oracle, bit-exact, across every component combination; plus end-to-end Spark
parity on a covering subset.

Reference: Search/Similarities/{BasicModel*,AfterEffect*,Normalization*,
Distribution*,Lambda*}.cs composed per DFRSimilarity.cs:121-125 and
IBSimilarity.cs:90-93.
"""
from __future__ import annotations

import itertools

import numpy as np
import pytest

from lucenenet_spark import oracle
from lucenenet_spark.operators import simbase
from lucenenet_spark.functions.smallfloat import NORM_TABLE

TERMS = ["popcorn", "hello", "common7", "rare42"]

DFR_SPECS = [
    f"dfr:{bm}:{ae}:{nm}"
    for bm, ae, nm in itertools.product(
        simbase.BASIC_MODELS, simbase.AFTER_EFFECTS, simbase.NORMALIZATIONS
    )
]
IB_SPECS = [
    f"ib:{d}:{la}:{nm}"
    for d, la, nm in itertools.product(
        simbase.DISTRIBUTIONS, simbase.LAMBDAS, simbase.NORMALIZATIONS
    )
]


def _kernel_scores(oracle_index, term, spec_name, boost=1.0):
    """Score a term's postings through the engine's vectorized kernels,
    feeding them the same stats/freq/docLen the oracle sees."""
    plist = oracle_index.postings.get(term)
    if not plist:
        return {}
    spec = simbase.parse_spec(spec_name)
    assert spec is not None, spec_name
    df = len(plist)
    ttf = sum(tf for _d, tf in plist)
    st = simbase.make_stats(oracle_index.max_doc, df, ttf, oracle_index.sum_ttf)
    docids = np.array([d for d, _t in plist], dtype=np.int64)
    freq = np.array([t for _d, t in plist], dtype=np.float32)
    dl = NORM_TABLE[oracle_index.norm_bytes[docids]]
    sc = simbase.block_scores(spec, st, np.float32(boost), freq, dl)
    return {int(d): np.float32(s) for d, s in zip(docids, sc)}


@pytest.mark.parametrize("spec", DFR_SPECS + IB_SPECS)
def test_kernel_vs_scalar_oracle_full_matrix(oracle_index, spec):
    for t in TERMS:
        want = oracle.simbase_term_scores(oracle_index, t, spec)
        got = _kernel_scores(oracle_index, t, spec)
        assert set(got) == set(want), (spec, t)
        for d in want:
            assert (
                np.float32(got[d]).tobytes() == np.float32(want[d]).tobytes()
            ), (spec, t, d, got[d], want[d])
        if want:
            vals = np.array(list(want.values()), dtype=np.float32)
            assert np.isfinite(vals).all(), (spec, t)


@pytest.mark.parametrize(
    "alias,fn",
    [
        ("dfr_gb2", oracle.dfr_gb2_term_scores),
        ("dfr_pl2", oracle.dfr_pl2_term_scores),
        ("dfr_inb2", oracle.dfr_inb2_term_scores),
        ("dfr_ineb2", oracle.dfr_ineb2_term_scores),
        ("ib_ll", oracle.ib_ll_term_scores),
        ("ib_spl", oracle.ib_spl_term_scores),
    ],
)
def test_generic_oracle_matches_specific(oracle_index, alias, fn):
    for t in TERMS:
        want = fn(oracle_index, t)
        got = oracle.simbase_term_scores(oracle_index, t, alias)
        assert set(got) == set(want), (alias, t)
        for d in want:
            assert (
                np.float32(got[d]).tobytes() == np.float32(want[d]).tobytes()
            ), (alias, t, d)


# Covering subset for end-to-end engine parity: every basic model,
# after-effect, normalization, distribution, and lambda appears at least once.
E2E_SPECS = [
    "dfr:be:b:h2",  # BB2
    "dfr:d:b:h2",
    "dfr:if:b:h1",
    "dfr:in:l:z",
    "dfr:ine:no:h3",
    "dfr:g:b:no",
    "dfr:p:l:h2",  # PL2 (alias sanity through the generic path)
    "ib:ll:ttf:h2",
    "ib:spl:df:h3",
    "ib:spl:ttf:h1",
]


@pytest.mark.parametrize("spec", E2E_SPECS)
def test_engine_end_to_end_matrix(spark, index_dir, oracle_index, spec):
    from lucenenet_spark.operators.search import IndexSearcher
    from lucenenet_spark.plans.query import TermQuery

    from .conftest import hits

    s = IndexSearcher(spark, index_dir, similarity=spec)
    for t in ["popcorn", "common7"]:
        want = oracle.top_k(oracle.simbase_term_scores(oracle_index, t, spec), 15)
        got = hits(s.search(TermQuery(term=t), 15))
        assert got == want, (spec, t)


# -- the SimScorer kernel, every similarity name the searcher accepts --------
SCORER_SIMS = (
    ["bm25", "classic", "sweetspot", "sweetspot:1.5:2", "lmd", "lmjm"]
    + sorted(simbase.ALIASES)
    + DFR_SPECS
    + IB_SPECS
)


def _grid_index():
    """One term 't' whose postings cover freq 1..64 x every norm byte
    (docid = (freq-1)*256 + byte), inside a larger collection so df < N."""
    freqs = np.repeat(np.arange(1, 65), 256)
    nbytes = np.tile(np.arange(256), 64).astype(np.uint8)
    max_doc = len(freqs) + 3000
    norm_bytes = np.full(max_doc, 124, dtype=np.uint8)
    norm_bytes[: len(freqs)] = nbytes
    ttf = int(freqs.sum())
    return oracle.OracleIndex(
        postings={"t": [(int(d), int(f)) for d, f in enumerate(freqs)]},
        norm_bytes=norm_bytes,
        max_doc=max_doc,
        sum_ttf=ttf + 50_000,
        doc_count=max_doc,
    ), freqs.astype(np.float32), nbytes


def _scalar_oracle(idx, name):
    if name == "bm25":
        return oracle.term_scores(idx, "t")
    if name == "classic":
        return oracle.classic_term_scores(idx, "t")
    if name.startswith("sweetspot"):
        parts = name.split(":")[1:] or ["0", "0"]
        # a one-clause boolean: queryNorm over itself, coord 1
        return oracle.classic_mixed_boolean_scores(
            idx, should=["t"], tf_params=tuple(float(x) for x in parts)
        )
    if name == "lmd":
        return oracle.lmd_term_scores(idx, "t")
    if name == "lmjm":
        return oracle.lmjm_term_scores(idx, "t")
    return oracle.simbase_term_scores(idx, "t", name)


@pytest.mark.parametrize("name", SCORER_SIMS)
def test_sim_scorer_kernel_vs_scalar_oracle(name):
    """SimScorer.score over freq 1..64 x all 256 norm bytes equals the
    scalar oracle's per-doc arithmetic bit for bit (NaN from the infinite
    docLen of byte 0 must be NaN on both sides)."""
    from lucenenet_spark.operators.similarity import SimScorer

    idx, freq, nbytes = _grid_index()
    sim = SimScorer(
        name, 2000.0, 0.1, k1=1.2, b=0.75, max_doc=idx.max_doc,
        avgdl=idx.avgdl, fields_info={"text": {"sum_ttf": idx.sum_ttf}},
    )
    w = sim.normalize([sim.weight([(len(freq), int(freq.sum()))], "text", 1.0)])[0]
    with np.errstate(all="ignore"):
        got = sim.score(w, freq, nbytes, "text")
        want_map = _scalar_oracle(idx, name)
    want = np.array([want_map[d] for d in range(len(freq))], dtype=np.float32)
    assert got.dtype == np.float32
    nan = np.isnan(want)
    assert (np.isnan(got) == nan).all(), name
    assert got[~nan].tobytes() == want[~nan].tobytes(), name
