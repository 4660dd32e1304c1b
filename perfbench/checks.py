"""Output checks, run outside the timed regions."""

from __future__ import annotations

#: BM25 paths must agree with brute force to float64 summation noise; the
#: positional index and its relational twins are pinned to 4 decimals by
#: the package's own tests
BM25_TOL = 1e-9
POSITIONAL_TOL = 5e-5


def same_topk(got, want, tol: float = BM25_TOL) -> bool:
    """Rank- and score-identical ``[(doc_id, score)]`` lists. Doc ids may
    differ at a position only inside a group of scores tied within
    ``tol`` (the same group on both sides)."""
    got = [(int(d), float(s)) for d, s in got]
    want = [(int(d), float(s)) for d, s in want]
    if len(got) != len(want):
        return False

    def close(a, b):
        return abs(a - b) <= tol * max(1.0, abs(b))

    for (gd, gs), (wd, ws) in zip(got, want):
        if not close(gs, ws):
            return False
        if gd != wd:
            tied_g = {d for d, s in got if close(s, ws)}
            tied_w = {d for d, s in want if close(s, ws)}
            if tied_g != tied_w:
                return False
    return True


def rows(df) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]
