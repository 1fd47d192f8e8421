"""Fuzzy string-similarity kernels (pure Python, deterministic).

Reimplements from public semantics — no fuzzy library ships in this
environment:

- ``ratio``/``partial_ratio``/``token_sort_ratio``/``token_set_ratio``:
  the fuzzywuzzy/rapidfuzz family the reference scores with
  (block_identification.py:249, 261, 294; auto_id_compare.py:289-292, 545).
  ratio = round(100 * (1 - indel_distance/(len1+len2))) — Levenshtein with
  substitutions forbidden (cost-2), the python-Levenshtein definition.
- ``word_similarity``: PostgreSQL pg_trgm semantics
  (block_identification.py:342, 362; ui/app_ento.R:572): greatest
  similarity between the trigram set of s1 and any continuous extent of
  s2's ordered trigram array, similarity = |∩| / |∪|.

The indel kernel is bit-parallel: indel = len(a) + len(b) − 2·LCS(a, b),
and the LCS length comes from the Allison–Dix / Hyyrö recurrence over a
Python int holding one bit per character of the pattern — one big-int
step per character of the other string instead of an O(len·len) DP
(the rapidfuzz Indel kernel).  A ``Pattern`` holds a string's match-mask
table so batch scoring builds it once per dictionary name, not per pair.
The classic DP survives only in the tests, as the differential reference.

All functions are plain CPython designed to be called *inside* Arrow
batches (pandas UDFs) — the per-pair kernel never crosses the JVM
boundary.  An upper-bound prune (``ratio_upper_bound``) lets cross-join
scoring skip pairs that cannot reach the accept threshold.
"""

from __future__ import annotations

import re
from functools import lru_cache

_NON_WORD = re.compile(r"\W+")


class Pattern:
    """A string's match-mask table: bit i of ``masks[c]`` is set where
    ``text[i] == c``.  Built once, scored against many strings."""

    __slots__ = ("text", "masks", "full")

    def __init__(self, text: str) -> None:
        masks: dict[str, int] = {}
        bit = 1
        for c in text:
            masks[c] = masks.get(c, 0) | bit
            bit <<= 1
        self.text = text
        self.masks = masks
        self.full = bit - 1

    def lcs(self, b: str) -> int:
        """Length of the longest common subsequence of the pattern and
        ``b``: a zero bit in ``v`` marks a pattern position that extends
        the LCS, one ``(v + u) | (v − u)`` step per character of ``b``."""
        full = self.full
        get = self.masks.get
        v = full
        for c in b:
            u = v & get(c, 0)
            if u:
                v = ((v + u) | (v - u)) & full
        return len(self.text) - v.bit_count()

    def ratio(self, b: str) -> int:
        """fuzz.ratio of the pattern against ``b``:
        round(100 · (lensum − indel) / lensum) = round(200 · LCS / lensum)."""
        lensum = len(self.text) + len(b)
        if lensum == 0:
            return 100
        return round(200 * self.lcs(b) / lensum)


def indel_distance(a: str, b: str) -> int:
    """Levenshtein distance with substitution cost 2 (= insertions +
    deletions only) = len(a) + len(b) − 2·LCS(a, b)."""
    if a == b:
        return 0
    if len(a) > len(b):  # the shorter string is the bit pattern
        a, b = b, a
    return len(a) + len(b) - 2 * Pattern(a).lcs(b)


def ratio(a: str, b: str) -> int:
    """fuzz.ratio: 0-100 int."""
    if len(a) > len(b):
        a, b = b, a
    return Pattern(a).ratio(b)


def ratio_upper_bound(len_a: int, len_b: int) -> float:
    """Max achievable ratio given only lengths (indel ≥ |len_a - len_b|)."""
    lensum = len_a + len_b
    if lensum == 0:
        return 100.0
    return 100.0 * (lensum - abs(len_a - len_b)) / lensum


def partial_ratio(a: str, b: str) -> int:
    """Best ratio of the shorter string against any same-length window of
    the longer (fuzzywuzzy partial_ratio semantics)."""
    if len(a) > len(b):
        a, b = b, a
    if len(a) == 0:
        return 100 if len(b) == 0 else 0
    if len(a) == len(b):
        return ratio(a, b)
    pat = Pattern(a)
    best = 0
    for i in range(len(b) - len(a) + 1):
        r = pat.ratio(b[i : i + len(a)])
        if r > best:
            best = r
            if best == 100:
                break
    return best


@lru_cache(maxsize=1 << 16)
def _sorted_tokens(s: str) -> str:
    return " ".join(sorted(_NON_WORD.sub(" ", s.lower()).split()))


def token_sort_ratio(a: str, b: str) -> int:
    """Tokenize, lowercase, sort, rejoin, then ratio (fuzzywuzzy)."""
    return ratio(_sorted_tokens(a), _sorted_tokens(b))


def token_set_ratio(a: str, b: str) -> int:
    """fuzzywuzzy token_set_ratio: max ratio over (sorted-intersection,
    intersection+rest_a, intersection+rest_b) pairings."""
    ta = set(_NON_WORD.sub(" ", a.lower()).split())
    tb = set(_NON_WORD.sub(" ", b.lower()).split())
    inter = " ".join(sorted(ta & tb))
    ra = " ".join(sorted(ta - tb))
    rb = " ".join(sorted(tb - ta))
    combined_a = f"{inter} {ra}".strip()
    combined_b = f"{inter} {rb}".strip()
    return max(
        ratio(inter, combined_a),
        ratio(inter, combined_b),
        ratio(combined_a, combined_b),
    )


# ---------------------------------------------------------------------------
# pg_trgm
# ---------------------------------------------------------------------------


@lru_cache(maxsize=65536)
def _trigram_list(s: str) -> tuple[str, ...]:
    """Ordered trigram array per pg_trgm: each word lowercased, non-alnum
    stripped, padded with 2 leading + 1 trailing space."""
    out: list[str] = []
    for word in re.findall(r"[a-zA-Z0-9]+", s.lower()):
        padded = f"  {word} "
        out.extend(padded[i : i + 3] for i in range(len(padded) - 2))
    return tuple(out)


def similarity(a: str, b: str) -> float:
    """pg_trgm similarity(): |∩| / |∪| of trigram sets."""
    sa, sb = set(_trigram_list(a)), set(_trigram_list(b))
    if not sa and not sb:
        return 1.0
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


def word_similarity(a: str, b: str) -> float:
    """pg_trgm word_similarity(a, b): greatest similarity between a's
    trigram set and any continuous extent of b's ordered trigram array."""
    return word_similarity_pre(frozenset(_trigram_list(a)), _trigram_list(b))


def word_similarity_upper_bound(sa: frozenset, tb_set: frozenset) -> float:
    """Cheap bound: any extent's similarity ≤ |sa ∩ tb| / |sa|."""
    if not sa:
        return 1.0 if not tb_set else 0.0
    return len(sa & tb_set) / len(sa)


def word_similarity_pre(sa: frozenset, tb: tuple[str, ...]) -> float:
    """word_similarity with precomputed trigram forms (hot-path variant:
    batch scoring precomputes sa/tb once per string, not per pair)."""
    if not sa:
        return 1.0 if not tb else 0.0
    if not tb:
        return 0.0
    best = 0.0
    n = len(tb)
    la = len(sa)
    for i in range(n):
        seen: set[str] = set()
        inter = 0
        for j in range(i, n):
            t = tb[j]
            if t not in seen:
                seen.add(t)
                if t in sa:
                    inter += 1
            denom = la + len(seen) - inter
            sim = inter / denom if denom else 0.0
            if sim > best:
                best = sim
    return best
