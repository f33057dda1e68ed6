"""Pure-Python Aho-Corasick reference for the dictionary scanners.

``RegexTrieScanner`` (operators/mentions.py) must report exactly the hits
of ``AhoCorasick.find_all`` filtered by ``word_bounded``; the property
tests check it against this module. Nothing in the package imports it.
"""

from __future__ import annotations

from collections import deque
from collections.abc import Iterable


class AhoCorasick:
    """Minimal pure-Python Aho-Corasick automaton (lowercase patterns).

    find_all returns (start, end, pattern) for every occurrence; the caller
    applies word-boundary filtering.
    """

    def __init__(self, patterns: Iterable[str]) -> None:
        # goto is a list of dicts: state -> {char: state}
        self.goto: list[dict[str, int]] = [{}]
        self.out: list[list[str]] = [[]]
        self.fail: list[int] = [0]
        for pat in sorted(set(p for p in patterns if p)):
            self._insert(pat)
        self._build_failure()

    def _insert(self, pat: str) -> None:
        state = 0
        for ch in pat:
            nxt = self.goto[state].get(ch)
            if nxt is None:
                self.goto.append({})
                self.out.append([])
                self.fail.append(0)
                nxt = len(self.goto) - 1
                self.goto[state][ch] = nxt
            state = nxt
        self.out[state].append(pat)

    def _build_failure(self) -> None:
        q: deque[int] = deque()
        for s in self.goto[0].values():
            self.fail[s] = 0
            q.append(s)
        while q:
            r = q.popleft()
            for ch, s in self.goto[r].items():
                q.append(s)
                f = self.fail[r]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[s] = self.goto[f].get(ch, 0)
                if self.fail[s] == s:
                    self.fail[s] = 0
                self.out[s] = self.out[s] + self.out[self.fail[s]]

    def find_all(self, text: str) -> list[tuple[int, int, str]]:
        state = 0
        hits: list[tuple[int, int, str]] = []
        goto, fail, out = self.goto, self.fail, self.out
        for i, ch in enumerate(text):
            while state and ch not in goto[state]:
                state = fail[state]
            state = goto[state].get(ch, 0)
            if out[state]:
                for pat in out[state]:
                    hits.append((i - len(pat) + 1, i + 1, pat))
        return hits


def _is_word_char(ch: str) -> bool:
    return ch.isalnum() or ch == "_"


def word_bounded(text: str, start: int, end: int) -> bool:
    """No word char (alphanumeric or ``_``) right before ``start`` or at
    ``end``."""
    if start > 0 and _is_word_char(text[start - 1]):
        return False
    if end < len(text) and _is_word_char(text[end]):
        return False
    return True
