"""Differential test: the bit-parallel indel kernel ≡ the classic DP.

The O(len·len) dynamic program below is the reference implementation; it
lives here, next to the test that compares against it, and nowhere in the
package."""

from __future__ import annotations

from hypothesis import example, given, settings, strategies as st

from dpo_ocr_spark.interpret.fuzzy import Pattern, indel_distance, partial_ratio


def indel_distance_dp(a: str, b: str) -> int:
    """Levenshtein distance with substitution cost 2 — two-row DP."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return la + lb
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        ca = a[i - 1]
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            if ca == b[j - 1]:
                cur[j] = prev[j - 1]
            else:
                cur[j] = 1 + min(prev[j], cur[j - 1])
        prev = cur
    return prev[lb]


def ratio_dp(a: str, b: str) -> int:
    lensum = len(a) + len(b)
    if lensum == 0:
        return 100
    return round(100 * (lensum - indel_distance_dp(a, b)) / lensum)


def partial_ratio_dp(a: str, b: str) -> int:
    if len(a) > len(b):
        a, b = b, a
    if len(a) == 0:
        return 100 if len(b) == 0 else 0
    return max(
        ratio_dp(a, b[i : i + len(a)]) for i in range(len(b) - len(a) + 1)
    )


# small alphabets force repeated characters and long common subsequences;
# the wide one mixes ASCII, accented Latin, CJK and astral-plane text
_ALPHABETS = st.sampled_from(["a", "ab", "abc ", "aé中😀 ", "abcdefghij"])
_WIDE = st.characters(blacklist_categories=("Cs",))


@st.composite
def _pairs(draw):
    alphabet = draw(st.one_of(_ALPHABETS.map(st.sampled_from), st.just(_WIDE)))
    a = draw(st.text(alphabet=alphabet, max_size=150))
    b = draw(st.text(alphabet=alphabet, max_size=150))
    return a, b


@settings(max_examples=600, deadline=None)
@given(_pairs())
@example(("", ""))
@example(("", "abc"))
@example(("aaaa", "aa"))
@example(("é" * 70, "é" * 65 + "e"))
@example(("x" * 64, "x" * 64))
@example(("ab" * 40, "ba" * 40))
def test_indel_distance_matches_dp(pair):
    a, b = pair
    want = indel_distance_dp(a, b)
    assert indel_distance(a, b) == want
    assert indel_distance(b, a) == want
    lcs = (len(a) + len(b) - want) // 2
    assert Pattern(a).lcs(b) == lcs == Pattern(b).lcs(a)
    assert Pattern(a).ratio(b) == ratio_dp(a, b)


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet="abc é", max_size=12),
    st.text(alphabet="abc é", max_size=40),
)
def test_partial_ratio_matches_dp(a, b):
    assert partial_ratio(a, b) == partial_ratio_dp(a, b)
