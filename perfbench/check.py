"""Answer checkers. Pure Python: they compare collected rows against the
repository's own oracles and return the ids of the answers they reject."""

from __future__ import annotations

from typing import Dict, Iterable, List, Mapping, Sequence, Tuple

Hits = List[Tuple[int, float]]  # [(doc_id, score)] in rank order

SCORE_TOL = 1e-9


def _close(a: float, b: float, tol: float) -> bool:
    return abs(a - b) <= tol * max(1.0, abs(a), abs(b))


def hits_by_query(rows: Iterable) -> Dict[int, Hits]:
    """(query_id, doc_id, score, rank) rows → {query_id: [(doc_id, score)]}."""
    out: Dict[int, list] = {}
    for r in rows:
        out.setdefault(int(r["query_id"]), []).append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"])))
    return {q: [(d, s) for _, d, s in sorted(v)] for q, v in out.items()}


def topk_matches(got: Hits, want: Hits, k: int, tol: float = SCORE_TOL) -> bool:
    """True when ``got`` is a correct top-k given the oracle ranking ``want``.

    ``want`` must extend past rank k (the oracle is asked for more than k)
    so the tie group cut by rank k is visible. Doc ids must match rank for
    rank, except that documents whose oracle scores tie within ``tol`` may
    appear in any order, and the group cut at rank k may be filled by any
    of its members. Scores must match to ``tol`` (relative above 1).
    """
    n = min(k, len(want))
    if len(got) != n:
        return False
    for (_, gs), (_, ws) in zip(got, want):
        if not _close(gs, ws, tol):
            return False
    want_score = {d: s for d, s in want}
    for i, (d, _) in enumerate(got):
        if d == want[i][0]:
            continue
        # a different doc at rank i is only right if it ties with the
        # oracle's doc at rank i
        if d not in want_score or not _close(want_score[d], want[i][1], tol):
            return False
    return len({d for d, _ in got}) == n


def rejected_queries(got: Mapping[int, Hits], want: Mapping[int, Hits],
                     qids: Sequence[int], k: int) -> List[int]:
    """Query ids whose answer is not a correct top-k (missing = no hits)."""
    return [q for q in qids
            if not topk_matches(got.get(q, []), want.get(q, []), k)]


def rejected_classes(got: Mapping, want: Mapping, tol: float = SCORE_TOL) -> List:
    """Classes whose top-k keyword list differs from the oracle's,
    term for term, or whose scores differ by more than ``tol``."""
    bad = []
    for c in sorted(set(got) | set(want), key=repr):
        g, w = got.get(c, []), want.get(c, [])
        if ([t for t, _ in g] != [t for t, _ in w]
                or not all(_close(a, b, tol) for (_, a), (_, b) in zip(g, w))):
            bad.append(c)
    return bad
