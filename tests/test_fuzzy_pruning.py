"""Property test: the pruned best_fuzzy_match is EXACTLY the naive argmax
scan (the upper bounds must never skip a winning candidate)."""

import random

from hypothesis import given, settings, strategies as st

from document_parser_private_spark import semantics as S


def naive_best(query, index, threshold):
    best_score, best = -1.0, None
    for cand in index:
        s = S.wratio(query, cand)
        if s > best_score:
            best_score, best = s, cand
    return best if best is not None and best_score >= threshold else None


WORDS = ["python", "java", "spark", "docker", "aws", "sql", "dev",
         "senior", "3", "x", "batch", "job", "maintained", "using",
         "pythn", "jva", "sprk"]


@st.composite
def phrase(draw):
    n = draw(st.integers(1, 6))
    return " ".join(draw(st.sampled_from(WORDS)) for _ in range(n))


@given(
    q=phrase(),
    idx=st.lists(phrase(), min_size=1, max_size=20),
    thr=st.sampled_from([60.0, 80.0, 85.0, 90.0]),
)
@settings(max_examples=300, deadline=None)
def test_pruned_equals_naive(q, idx, thr):
    assert S.best_fuzzy_match(q, idx, thr) == naive_best(q, idx, thr)


def test_pruned_equals_naive_random_chars():
    rng = random.Random(1)
    alphabet = "abcdef ghij"
    for _ in range(300):
        q = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 25)))
        idx = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 25)))
            for _ in range(rng.randint(1, 15))
        ]
        thr = rng.choice([50.0, 75.0, 80.0, 90.0])
        assert S.best_fuzzy_match(q, idx, thr) == naive_best(q, idx, thr), (q, idx, thr)


def test_index_cache_is_content_keyed():
    """Regression: the token cache must not serve stale data when a new
    same-length list reuses a freed list's address (id() keying bug)."""
    idx1 = ["python one two", "java three four"]
    assert S.best_fuzzy_match("pythn one two", idx1, 60.0) == "python one two"
    del idx1
    # different content, same length — must be recomputed, not aliased
    idx2 = ["completely unrelated", "nothing matches here"]
    assert S.best_fuzzy_match("pythn one two", idx2, 90.0) is None
    idx3 = ["pythn one two", "another candidate x"]
    assert S.best_fuzzy_match("pythn one two", idx3, 90.0) == "pythn one two"


LONG_WORDS = WORDS + ["microservices", "infrastructure", "observability",
                      "kubernetes", "application"]


@st.composite
def long_phrase(draw):
    n = draw(st.integers(6, 14))
    return " ".join(draw(st.sampled_from(LONG_WORDS)) for _ in range(n))


@given(
    q=st.one_of(phrase(), long_phrase()),
    idx=st.lists(st.one_of(phrase(), long_phrase()), min_size=1, max_size=15),
    thr=st.sampled_from([60.0, 80.0, 85.0, 90.0]),
)
@settings(max_examples=300, deadline=None)
def test_pruned_equals_naive_length_divergent(q, idx, thr):
    """Short-vs-long pairs hit the partial branch (len_ratio >= 1.5, and
    >= 8 for 1-word vs 14-word extremes) — bounds must stay exact."""
    assert S.best_fuzzy_match(q, idx, thr) == naive_best(q, idx, thr)


def test_wratio_partial_branch_shape():
    """The public WRatio shape: at len_ratio >= 1.5 partial scorers take
    over — a short skill appearing verbatim inside a long bullet scores
    0.9 * partial_ratio(=100) = 90; at len_ratio >= 8 the scale drops to
    0.6 (60). The shared-token-only floor (no substring window) is
    0.95 * 0.9 * 100 = 85.5."""
    bullet = "maintained python batch jobs on a large cluster"  # 48 chars
    assert S.wratio("python", bullet) == 90.0
    giant = bullet + " with monitoring dashboards and alerts"    # > 8x of 'aws'
    assert len(giant) / 3 >= 8
    giant2 = giant.replace("cluster", "aws cluster")
    assert S.wratio("aws", giant2) == 60.0
    # shared token but NO contiguous window (token reordering breaks the
    # substring): the 0.95 * 0.9 * 100 token floor is what remains
    q = "learning machine"
    cand = "machine learning pipelines deployed at scale"
    assert S.wratio(q, cand) >= 85.5
    # misspelled substring: partial_ratio finds the best window
    assert S.wratio("pythn", "maintained python batch jobs") >= 0.9 * 80.0
    # disjoint everything stays low
    assert S.wratio("zzz", bullet) < 30.0


def test_partial_ratio_window_semantics():
    # exact substring -> perfect window
    assert S._partial_ratio("spark", "running spark jobs") == 100.0
    # one-char-off substring of a much longer string
    assert S._partial_ratio("sparc", "running spark jobs") == 80.0
    assert S._partial_ratio("", "") == 100.0
    assert S._partial_ratio("", "abc") == 0.0
    # symmetric in argument order
    assert S._partial_ratio("running spark jobs", "spark") == 100.0


# Random-syllable words like the longtail benchmark vocabulary: they share
# no token with the ontology and few chars beyond vowels, so they reach the
# disjoint-token join bounds. Separators include whitespace that
# str.split() treats as such but a plain ' ' join does not produce.
SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]
SEPARATORS = [" ", "  ", "\t", "\x1c", "\u3000", " \t "]


@st.composite
def syllable_word(draw):
    w = "".join(draw(st.lists(st.sampled_from(SYLLABLES),
                              min_size=1, max_size=4)))
    case = draw(st.sampled_from(["lower", "capitalize", "upper"]))
    return getattr(w, case)()


@st.composite
def ws_phrase(draw, words):
    """Words (with repeats) joined by random whitespace runs."""
    toks = draw(st.lists(words, min_size=1, max_size=5))
    toks += draw(st.lists(st.sampled_from(toks), max_size=2))  # repeats
    out = toks[0]
    for t in toks[1:]:
        out += draw(st.sampled_from(SEPARATORS)) + t
    return out


@st.composite
def variant_of(draw, q):
    """A near-duplicate of q: reordered, shortened, a token repeated, or
    re-separated — the candidates that land near the threshold."""
    toks = q.split()
    kind = draw(st.sampled_from(["shuffle", "drop", "repeat", "respace"]))
    if kind == "shuffle":
        toks = draw(st.permutations(toks))
    elif kind == "drop" and len(toks) > 1:
        toks.pop(draw(st.integers(0, len(toks) - 1)))
    elif kind == "repeat":
        toks.append(draw(st.sampled_from(toks)))
    sep = draw(st.sampled_from(SEPARATORS))
    return sep.join(toks)


@st.composite
def disjoint_case(draw):
    words = st.one_of(syllable_word(), st.sampled_from(WORDS))
    q = draw(ws_phrase(words))
    idx = draw(st.lists(st.one_of(ws_phrase(words), variant_of(q)),
                        min_size=1, max_size=15))
    return q, idx


@given(case=disjoint_case(), thr=st.sampled_from([40.0, 60.0, 80.0, 90.0]))
@settings(max_examples=400, deadline=None)
def test_pruned_equals_naive_disjoint_tokens(case, thr):
    q, idx = case
    assert S.best_fuzzy_match(q, idx, thr) == naive_best(q, idx, thr)


@given(q=ws_phrase(syllable_word()), thr=st.sampled_from([60.0, 80.0]))
@settings(max_examples=200, deadline=None)
def test_pruned_equals_naive_against_ontology(q, thr):
    from document_parser_private_spark.operators.resume import _INDEX
    assert S.best_fuzzy_match(q, _INDEX, thr) == naive_best(q, _INDEX, thr)


@given(case=disjoint_case())
@settings(max_examples=300, deadline=None)
def test_bound_never_below_score(case):
    """Per pair: with a one-candidate index and the threshold AT its
    score, the candidate survives only if its bound >= its score."""
    q, idx = case
    for c in idx:
        assert S.best_fuzzy_match(q, [c], S.wratio(q, c)) == c, (q, c)


def test_whitespace_only_query():
    """No tokens on one or both sides: token_set falls back to the raw
    ratio and token_sort / partial_token read 0 (100 when neither side
    has tokens) — the bounds must still cover every score."""
    idx = ["   ", "\t", "\u3000 \x1c", " a ", "a", "ab  cd", "\t\tx\t"]
    for q in ["   ", "\t", " \u3000", "\x1c\x1c\x1c\x1c"]:
        for thr in (0.0, 30.0, 50.0, 60.0, 80.0, 95.0):
            assert S.best_fuzzy_match(q, idx, thr) == naive_best(q, idx, thr)
        for c in idx:
            assert S.best_fuzzy_match(q, [c], S.wratio(q, c)) == c, (q, c)


def test_disjoint_phrase_scores_no_candidate(monkeypatch):
    """A random-word phrase sharing no token with the ontology index is
    rejected by the vectorized bounds alone: zero wratio calls. (Bounding
    the disjoint token branch by string length alone let 15-21 of the 45
    candidates through for each of these phrases.)"""
    from document_parser_private_spark.operators.resume import _INDEX
    calls = []
    real = S.wratio

    def counted(a, b):
        calls.append(b)
        return real(a, b)

    monkeypatch.setattr(S, "wratio", counted)
    for q in ["Gehe Zavulafu", "DIGISASA", "Necavoho", "Hurake Dofera",
              "kaji\twuwa\u3000kaji"]:
        assert S.best_fuzzy_match(q, _INDEX, 80.0) is None
    assert calls == []
