"""The range reducer's clause bands on hand-built range rows (pandas only,
no Spark): docid-only clauses are unioned per clause, constant-score
clauses add their constant once in clause order, FILTER clauses gate
without scoring, and an unscored reducer emits docids only."""
import numpy as np
import pandas as pd

from lucenenet_spark.operators.search import reduce_ranges

R = 64


def _row(rid: int, clause: int, offs, scores=None) -> dict:
    return {
        "rid": rid,
        "clause": clause,
        "offs": np.asarray(offs, dtype=np.uint32).tobytes(),
        "scores": b"" if scores is None else np.asarray(scores, dtype=np.float32).tobytes(),
    }


def _run(rows, *args, **kw) -> pd.DataFrame:
    out = list(reduce_ranges(R, *args, **kw)(iter([pd.DataFrame(rows)])))
    return pd.concat(out).sort_values("docid").reset_index(drop=True) if out else pd.DataFrame()


def _hits(df) -> dict:
    return dict(zip(df["docid"].tolist(), df["score"].to_numpy(dtype=np.float32)))


def test_repeated_docid_of_one_clause_counts_once():
    """Doc 2 sits in two rows of the docid-only clause (and doc 3 twice in
    one row): it counts once toward MUST and adds the constant once."""
    scored = _row(0, 0, [1, 2, 3], [1.0, 2.0, 3.0])
    const = [_row(0, 1, [1, 2]), _row(0, 1, [2, 3, 3])]
    got = _hits(_run([scored, *const], 2, 2, const={1: np.float32(0.5)}))
    assert got == {1: np.float32(1.5), 2: np.float32(2.5), 3: np.float32(3.5)}
    # the same toward SHOULD: a doc held only by the repeated clause
    # never reaches minShouldMatch 2, and coord sees one clause
    coord = np.array([0, 0.5, 1.0], dtype=np.float32)
    rows = [_row(0, 0, [1], [4.0]), _row(0, 1, [1, 7]), _row(0, 1, [7, 1])]
    got = _hits(_run(rows, 2, 0, 2, coord, const={1: np.float32(0.5)}))
    assert got == {1: np.float32(4.5)}
    got = _hits(_run(rows, 2, 0, 1, coord, const={1: np.float32(0.5)}))
    assert got == {1: np.float32(4.5), 7: np.float32(0.25)}


def test_filter_gates_without_changing_scores():
    scores = np.array([0.1, 0.7, 1.3, 2.9], dtype=np.float32)
    scored = _row(1, 0, [0, 5, 9, 40], scores)
    filt = [_row(1, 1, [5, 9, 63]), _row(1, 1, [9, 40, 40])]
    free = _run([scored], 1)
    gated = _run([scored, *filt], 1, n_filter=1)
    assert gated["docid"].tolist() == [R + 5, R + 9, R + 40]
    kept = free[free["docid"].isin(gated["docid"])]
    assert kept["score"].to_numpy().tobytes() == gated["score"].to_numpy().tobytes()
    # a FILTER clause of two required filters: both must hold
    other = _row(1, 2, [9])
    assert _run([scored, *filt, other], 1, n_filter=2)["docid"].tolist() == [R + 9]


def test_constants_add_in_clause_order():
    """In float32 (1e8 + 3) - 1e8 is 0 but (1e8 - 1e8) + 3 is 3: the
    constant of clause 1 adds between clauses 0 and 2."""
    rows = [
        _row(0, 2, [4], [-1e8]),
        _row(0, 1, [4]),
        _row(0, 0, [4], [1e8]),
    ]
    got = _hits(_run(rows, 3, const={1: np.float32(3.0)}))
    assert got == {4: np.float32(0.0)}
    # and as the DisMax max: max(1e8, 3, -1e8) + 0.5 * (sum - max)
    tie = np.float32(0.5)
    got = _hits(_run(rows, 3, tie=tie, const={1: np.float32(3.0)}))
    assert got == {4: np.float32(1e8) + tie * (np.float32(0.0) - np.float32(1e8))}


def test_unscored_reducer_emits_docid_only():
    rows = [
        _row(0, 0, [1, 2]),
        _row(0, 0, [2, 3]),
        _row(2, 1, [0, 6]),
        _row(2, 2, [6]),  # a ban
    ]
    out = _run(rows, 2, scored=False)
    assert list(out.columns) == ["docid"]
    assert out["docid"].tolist() == [1, 2, 3, 2 * R]
