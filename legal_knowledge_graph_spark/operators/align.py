"""Fuzzy sentence->span alignment kernel (the hot CPU kernel).

Semantics reproduce the reference's ``_best_window_by_words`` /
``find_sentence_range`` exactly (reference: src/generate_knowledge_graph/
nodes/chunker.py:93-121; identical copy in
document_structure_detector.py:56-78):

- tokenize content by ``\\S+`` runs; slide a window of
  ``len(target_tokens)`` tokens
- score each window with ``difflib.SequenceMatcher(None, target_lower,
  window_lower).ratio()``
- strict ``>`` improvement => FIRST (lowest-index) best window wins ties
- empty target or empty content => (0, 0, 0.0)
- range = (start of best window for start_sentence, end of best window
  for end_sentence); caller swaps if end < start and clamps to
  [0, len(content)] (chunker.py:154-158)

Executed as a batched Arrow stage (``mapInPandas``) over
(content, start_sentence, end_sentence) rows grouped per document —
never per-row driver Python. The per-call cost is O(tokens x
window_len); at 100 TB this stage is embarrassingly parallel (keyed by
url) and CPU-bound, so it scales linearly with cores — exactly the
stage a cluster scales.
"""

from __future__ import annotations

import difflib
import re

_TOKEN_RE = re.compile(r"\S+")

# Below this many windows the plain pruning-ladder loop beats numpy
# setup overhead; above it the vectorized bound scan wins (measured
# crossover ~150-200 windows for mid-content targets; the gap grows
# to >40x at 3k windows). Both paths are output-identical — the fuzz
# test in tests/test_align.py pins them against the naive difflib
# oracle with the cutoff forced to each side.
_VECTORIZE_MIN_WINDOWS = 160

# Codepoints whose prefix-sum array a DocAligner keeps (least recently
# used evicted first): one int32 array of len(content)+1 each, so a
# document aligned against many diverse targets stays bounded (64 x
# 4 bytes x doc length). Targets share most of their alphabet, so a
# miss is rare; a miss recomputes the array.
CHAR_CUM_CAP = 64


class DocAligner:
    """Per-document alignment context: tokenization, lowercase view,
    and the token-start index are computed ONCE and reused for every
    boundary-sentence alignment in the document (the reference
    re-tokenizes per call, chunker.py:95-96 — pure waste when a doc has
    10+ sections x 2 boundaries).

    ``best_window`` semantics are EXACTLY the reference's naive scan
    (chunker.py:93-115); three sound prunings make it fast without
    changing any output (guarded by the difflib-oracle test in
    tests/test_align.py):

    1. **Verbatim fast path** — ratio()==1.0 iff the strings are equal,
       and a strict ``>`` can never improve on 1.0, so the FIRST
       token-aligned verbatim occurrence of the target is the final
       answer. Boundary sentences are verbatim in the happy path, so
       this usually answers in one ``str.find`` scan.
    2. **Length bound** — ratio() <= 2*min(la,lb)/(la+lb); windows whose
       bound can't strictly beat the best are skipped without building
       the window string.
    3. **difflib's own ladder** — real_quick_ratio/quick_ratio are
       upper bounds of ratio; only windows that pass both pay the
       quadratic ratio() cost.
    """

    __slots__ = (
        "content",
        "content_lower",
        "token_spans",
        "start_index",
        "_starts",
        "_ends",
        "_codes",
        "_char_cum",
    )

    def __init__(self, content: str):
        self.content = content
        self.content_lower = content.lower()
        self.token_spans = [(m.start(), m.end()) for m in _TOKEN_RE.finditer(content)]
        self.start_index = {s: i for i, (s, _) in enumerate(self.token_spans)}
        # lazy per-document state for the vectorized bound scan
        self._starts = None
        self._ends = None
        self._codes = None
        self._char_cum = {}

    def _cum_for_char(self, code: int):
        """Prefix-sum occurrence count of one codepoint over the
        lowercased content: cum[i] = occurrences in content_lower[:i].
        Cached per document in an LRU of ``CHAR_CUM_CAP`` codepoints."""
        cache = self._char_cum
        cum = cache.pop(code, None)
        if cum is None:
            import numpy as np

            if self._codes is None:
                # one uint32 per codepoint == one array slot per str index
                self._codes = np.frombuffer(
                    self.content_lower.encode("utf-32-le"), dtype=np.uint32
                )
            cum = np.zeros(len(self._codes) + 1, dtype=np.int32)
            np.cumsum(self._codes == code, out=cum[1:], dtype=np.int32)
            if len(cache) >= CHAR_CUM_CAP:
                del cache[next(iter(cache))]
        cache[code] = cum  # dicts keep insertion order: last = most recent
        return cum

    def best_window(self, target_sentence: str) -> tuple[int, int, float]:
        """First-wins argmax of SequenceMatcher.ratio over token windows."""
        token_spans = self.token_spans
        target_words = _TOKEN_RE.findall(target_sentence)
        window = len(target_words)
        if window <= 0 or not token_spans:
            return 0, 0, 0.0

        content_lower = self.content_lower
        target_lower = target_sentence.lower()
        la = len(target_lower)

        n_windows = len(token_spans) - window + 1
        if n_windows > 0 and la > 0:
            # fast path: earliest window whose text equals the target is
            # the first ratio-1.0 window (equality <=> ratio 1.0), wins.
            start_index = self.start_index
            pos = content_lower.find(target_lower)
            while pos != -1:
                i = start_index.get(pos)
                if (
                    i is not None
                    and i < n_windows
                    and token_spans[i + window - 1][1] == pos + la
                ):
                    return pos, pos + la, 1.0
                pos = content_lower.find(target_lower, pos + 1)

        # If the target has more tokens than the content, no full window
        # exists: the scan range is empty and the initialized (0, 0, -1.0)
        # is returned — matching the reference's loop bounds exactly.
        if n_windows > _VECTORIZE_MIN_WINDOWS and la > 0:
            return self._best_window_vectorized(
                target_lower, window, n_windows
            )
        best_score = -1.0
        best_start, best_end = 0, 0
        matcher = difflib.SequenceMatcher(None, target_lower, "")
        for i in range(n_windows):
            w_start = token_spans[i][0]
            w_end = token_spans[i + window - 1][1]
            lb = w_end - w_start
            # length upper bound: cannot strictly beat best -> same
            # result as evaluating (strict > keeps first-wins ties)
            if la + lb > 0 and 2.0 * min(la, lb) / (la + lb) <= best_score:
                continue
            matcher.set_seq2(content_lower[w_start:w_end])
            if (
                matcher.real_quick_ratio() <= best_score
                or matcher.quick_ratio() <= best_score
            ):
                continue
            score = matcher.ratio()
            if score > best_score:
                best_score = score
                best_start, best_end = w_start, w_end
        return best_start, best_end, best_score

    def _best_window_vectorized(
        self, target_lower: str, window: int, n_windows: int
    ) -> tuple[int, int, float]:
        """Same first-wins argmax, computed as: (1) every window's
        ``quick_ratio`` upper bound in one numpy pass — difflib's
        quick_ratio IS ``2*sum_c min(count_a(c), count_b(c))/(la+lb)``
        and only characters present in the target can contribute, so
        per-target-char prefix sums give all windows' bounds at once;
        (2) true ``ratio()`` only for candidates in descending-bound
        order, breaking as soon as the bound drops strictly below the
        running best (``ratio <= quick_ratio``, so skipped windows
        cannot beat OR tie-and-precede the winner once equal bounds
        are still evaluated).

        First-wins equivalence: the sequential strict-``>`` scan keeps
        the LOWEST-index maximum, so out-of-order evaluation with an
        explicit ``(score, index)`` tiebreak reproduces it exactly.
        Guarded by the difflib-oracle fuzz + hypothesis suite."""
        import numpy as np

        if self._starts is None:
            spans = np.asarray(self.token_spans, dtype=np.int64).reshape(-1, 2)
            self._starts = np.ascontiguousarray(spans[:, 0])
            self._ends = np.ascontiguousarray(spans[:, 1])
        w_starts = self._starts[:n_windows]
        w_ends = self._ends[window - 1 :]

        la = len(target_lower)
        t_codes = np.frombuffer(target_lower.encode("utf-32-le"), dtype=np.uint32)
        uniq, t_counts = np.unique(t_codes, return_counts=True)
        matches = np.zeros(n_windows, dtype=np.int64)
        for code, t_c in zip(uniq.tolist(), t_counts.tolist()):
            cum = self._cum_for_char(code)
            w_c = (cum[w_ends] - cum[w_starts]).astype(np.int64)
            np.minimum(w_c, t_c, out=w_c)
            matches += w_c
        bound = (2.0 * matches) / (la + (w_ends - w_starts))

        # descending bound; stable => ascending index within ties
        order = np.argsort(-bound, kind="stable")
        content_lower = self.content_lower
        best_score = -1.0
        best_i = -1
        best_start, best_end = 0, 0
        matcher = difflib.SequenceMatcher(None, target_lower, "")
        for i in order.tolist():
            if bound[i] < best_score:
                break
            w_start = int(w_starts[i])
            w_end = int(w_ends[i])
            matcher.set_seq2(content_lower[w_start:w_end])
            score = matcher.ratio()
            if score > best_score or (score == best_score and i < best_i):
                best_score = score
                best_i = i
                best_start, best_end = w_start, w_end
        return best_start, best_end, best_score

    def sentence_range(self, start_sentence: str, end_sentence: str) -> tuple[int, int]:
        """(start of best start-window, end of best end-window),
        swapped if inverted and clamped to [0, len(content)] —
        reference chunker.py:118-121 + 154-158."""
        s_start, _, _ = self.best_window(start_sentence)
        _, e_end, _ = self.best_window(end_sentence)
        s, e = s_start, e_end
        if e < s:
            s, e = e, s
        n = len(self.content)
        s = max(0, min(s, n))
        e = max(0, min(e, n))
        return s, e


def best_window_by_words(content: str, target_sentence: str) -> tuple[int, int, float]:
    """One-shot form (builds a DocAligner); prefer DocAligner when
    aligning many sentences against the same content."""
    return DocAligner(content).best_window(target_sentence)


def find_sentence_range(content: str, start_sentence: str, end_sentence: str) -> tuple[int, int]:
    """One-shot form of DocAligner.sentence_range."""
    return DocAligner(content).sentence_range(start_sentence, end_sentence)
