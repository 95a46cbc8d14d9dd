"""Pure-Python reference for the exact shingle set-similarity joins
(``shingle_jaccard_pairs`` / ``shingle_containment_pairs``): word
w-shingles of text split on single spaces, scored by brute force over
every document pair."""

from __future__ import annotations

from itertools import combinations


def shingle_sets(rows, w: int = 3) -> dict:
    """{id: set of word w-shingles} for (id, text) rows. NULL text and
    documents shorter than w tokens have no shingles and are left out."""
    sets = {}
    for i, text in rows:
        if text is None:
            continue
        toks = text.split(" ")
        s = {" ".join(toks[p : p + w]) for p in range(len(toks) - w + 1)}
        if s:
            sets[i] = s
    return sets


def reference_pairs(rows, measure: str, threshold: float, w: int = 3) -> dict:
    """Unrounded scores of the qualifying pairs. ``"jaccard"``:
    {(id1, id2): |A ∩ B| / |A ∪ B|} with id1 < id2. ``"containment"``:
    {(id1, id2): |A ∩ B| / |A|}, A = id1's shingles, both directions."""
    sets = shingle_sets(rows, w)
    out = {}
    for a, b in combinations(sorted(sets), 2):
        i = len(sets[a] & sets[b])
        if measure == "jaccard":
            score = i / (len(sets[a]) + len(sets[b]) - i)
            if score >= threshold:
                out[(a, b)] = score
        else:
            for x, y in ((a, b), (b, a)):
                score = i / len(sets[x])
                if score >= threshold:
                    out[(x, y)] = score
    return out
