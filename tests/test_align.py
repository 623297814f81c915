"""F1/F2 alignment kernel vs a direct difflib oracle (FIXTURES.md F7)."""

from __future__ import annotations

import difflib
import re

from legal_knowledge_graph_spark.operators.align import (
    best_window_by_words,
    find_sentence_range,
)


def _oracle(content: str, target: str):
    """Literal re-statement of the reference loop (chunker.py:93-115),
    written independently as the test oracle."""
    token_spans = [(m.start(), m.end()) for m in re.finditer(r"\S+", content)]
    words = re.findall(r"\S+", target)
    w = len(words)
    if w <= 0 or not token_spans:
        return 0, 0, 0.0
    best = (-1.0, 0, 0)
    cl, tl = content.lower(), target.lower()
    for i in range(len(token_spans) - w + 1):
        ws, we = token_spans[i][0], token_spans[i + w - 1][1]
        r = difflib.SequenceMatcher(None, tl, cl[ws:we]).ratio()
        if r > best[0]:
            best = (r, ws, we)
    return best[1], best[2], best[0]


CONTENT = (
    "Section 1.1 The parties shall cooperate. The parties shall cooperate. "
    "Brisk Falcon 117 Corp acquires Amber Otter 123 Corp. End of section."
)


def test_exact_match():
    s, e, score = best_window_by_words(CONTENT, "Brisk Falcon 117 Corp acquires")
    assert CONTENT[s:e] == "Brisk Falcon 117 Corp acquires"
    assert score == 1.0


def test_case_folded_match():
    s, e, _ = best_window_by_words(CONTENT, "BRISK FALCON 117 CORP ACQUIRES")
    assert CONTENT[s:e] == "Brisk Falcon 117 Corp acquires"


def test_typo_match():
    s, e, score = best_window_by_words(CONTENT, "Brisk Falcn 117 Corp aquires")
    assert CONTENT[s:e] == "Brisk Falcon 117 Corp acquires"
    assert 0.8 < score < 1.0


def test_repeated_sentence_first_wins():
    s, e, _ = best_window_by_words(CONTENT, "The parties shall cooperate.")
    # two identical windows exist; strict > means the FIRST wins
    assert s == CONTENT.index("The parties shall cooperate.")


def test_degenerate_cases():
    assert best_window_by_words(CONTENT, "") == (0, 0, 0.0)
    assert best_window_by_words("", "anything") == (0, 0, 0.0)
    # target longer than content: empty scan range -> initialized values
    s, e, score = best_window_by_words("one two", "a b c d e f")
    assert (s, e) == (0, 0)


def test_range_swap_and_clamp():
    # end-sentence found before start-sentence: swapped
    s, e = find_sentence_range(CONTENT, "End of section.", "Section 1.1 The")
    assert s < e
    # after swap, s = end of the "Section 1.1 The" window (char 15) and
    # e = start of the "End of section." window
    assert s == len("Section 1.1 The")
    assert e == CONTENT.index("End of section.")


def test_matches_oracle_on_fuzz():
    import random

    rng = random.Random(7)
    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    for _ in range(40):
        content = " ".join(rng.choice(words) for _ in range(rng.randrange(1, 30)))
        target = " ".join(rng.choice(words) for _ in range(rng.randrange(1, 6)))
        if rng.random() < 0.3:  # mutate to force fuzziness
            target = target.replace("a", "o", 1)
        assert best_window_by_words(content, target) == _oracle(content, target)


def test_vectorized_path_matches_oracle_on_large_fuzz():
    """The vectorized bound scan must equal the naive difflib scan:
    heavy repetition (near-ties), punctuation-attached tokens (the
    structure-detector shape), and astral codepoints (utf-32 view
    correctness). The cutoff is forced to each side so BOTH paths run
    on identical inputs regardless of the production value."""
    import random

    import legal_knowledge_graph_spark.operators.align as al_mod
    from legal_knowledge_graph_spark.operators.align import DocAligner

    rng = random.Random(13)
    words = [
        "ARTICLE", "IV.", "IV", "Section", "4.12", "shall", "the", "a",
        "née", "🎉x", "aa", "ab", "b",
    ]
    saved = al_mod._VECTORIZE_MIN_WINDOWS
    try:
        for trial in range(60):
            n = rng.randrange(26, 150)
            content = " ".join(rng.choice(words) for _ in range(n))
            target = " ".join(
                rng.choice(words) for _ in range(rng.randrange(1, 5))
            )
            if rng.random() < 0.4:
                target = target.rstrip(".")
            want = _oracle(content, target)
            al_mod._VECTORIZE_MIN_WINDOWS = 8  # force vectorized
            aligner = DocAligner(content)
            got_vec = aligner.best_window(target)
            # repeated target against one aligner (the cached-prefix-
            # sum path structure/chunker uses)
            assert aligner.best_window(target) == got_vec
            al_mod._VECTORIZE_MIN_WINDOWS = 10**9  # force sequential
            got_seq = DocAligner(content).best_window(target)
            assert got_vec == want, (trial, content, target, got_vec, want)
            assert got_seq == want, (trial, content, target, got_seq, want)
    finally:
        al_mod._VECTORIZE_MIN_WINDOWS = saved


def test_char_cum_cache_capped_matches_uncapped(monkeypatch):
    """A document aligned against targets that span more codepoints
    than ``CHAR_CUM_CAP`` keeps at most that many prefix-sum arrays
    and returns the same windows as an aligner with an unbounded
    cache (the LRU evicts and recomputes; counts are never stale)."""
    import random

    import legal_knowledge_graph_spark.operators.align as al_mod
    from legal_knowledge_graph_spark.operators.align import DocAligner

    rng = random.Random(5)
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789éßж🎉"
    words = ["".join(rng.choice(alphabet) for _ in range(rng.randrange(2, 7))) for _ in range(60)]
    content = " ".join(rng.choice(words) for _ in range(400))
    targets = [" ".join(rng.choice(words) for _ in range(rng.randrange(2, 6))) for _ in range(40)]
    targets += [t[::-1] for t in targets]  # mostly not verbatim: the bound scan runs
    assert len(set("".join(targets).lower())) > 8

    monkeypatch.setattr(al_mod, "_VECTORIZE_MIN_WINDOWS", 8)
    monkeypatch.setattr(al_mod, "CHAR_CUM_CAP", 10**9)
    uncapped = DocAligner(content)
    want = [uncapped.best_window(t) for t in targets]
    assert len(uncapped._char_cum) > 8  # the capped run must evict

    monkeypatch.setattr(al_mod, "CHAR_CUM_CAP", 8)
    capped = DocAligner(content)
    got = []
    for t in targets:
        got.append(capped.best_window(t))
        assert len(capped._char_cum) <= 8
    assert got == want
    assert want[:5] == [_oracle(content, t) for t in targets[:5]]
