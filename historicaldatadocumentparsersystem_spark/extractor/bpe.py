"""Pure-Python BPE tokenizer with a committed merge table (C4/C5).

The reference counts token budgets with a real HF tokenizer
(``doc_processor.py:89-137`` — reloaded per call, a bug SURVEY.md §6
documents); this is the same greedy lowest-rank-pair-first BPE
*inference algorithm* (Sennrich et al. 2016, the public algorithm every
GPT-2-style tokenizer runs) over a committed, deterministic merge
table, so token budgets are tokenizer-exact and reproducible offline —
no model download, no network.

Spark-free on purpose: like ``extractor/``, this module IS the
correctness oracle — the Arrow-batched Spark operator calls these same
functions, making equality structural. Swapping in a production vocab
is a data swap, not a code change: ``load_merges`` parses a
tokenizer.json-style merge list (HF "a b" strings or [a, b] pairs) or
merges.txt text, and ``BPETokenizer(merges)`` runs the identical
greedy inference over it (the module-level functions are the
committed-table instance).

Pre-tokenization: lowercase words / digit runs / single punctuation
(the same ``_BPE_RE`` class split used by the regex proxy in
``operators/textstats.py``); each word ends with the ``</w>``
end-of-word marker, standard word-level BPE.
"""

from __future__ import annotations

import re
from functools import lru_cache

_W = "</w>"

# Committed merge table, rank = position (lower merges first). Built
# from the highest-frequency English letter pairs/suffixes (public
# linguistic frequency data) so common words collapse to 1-2 tokens
# while rare/gibberish words stay near character count — the property
# token-budget chunking and quality filtering actually rely on.
MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("the", _W), ("i", "n"), ("a", "n"),
    ("an", "d"), ("and", _W), ("e", "r"), ("er", _W), ("o", "n"),
    ("r", "e"), ("a", "t"), ("e", "n"), ("o", "r"), ("e", "s"),
    ("es", _W), ("t", "i"), ("o", "u"), ("in", "g"), ("ing", _W),
    ("a", "l"), ("i", "s"), ("is", _W), ("i", "t"), ("it", _W),
    ("a", "r"), ("l", "e"), ("o", "f"), ("of", _W), ("t", "o"),
    ("to", _W), ("s", "t"), ("e", "d"), ("ed", _W), ("s", "e"),
    ("in", _W), ("n", "d"), ("on", _W), ("l", "l"), ("a", "s"),
    ("as", _W), ("h", "e"), ("he", _W), ("m", "e"), ("c", "o"),
    ("r", "o"), ("at", _W), ("l", "i"), ("d", "e"), ("b", "e"),
    ("be", _W), ("m", "a"), ("s", "i"), ("u", "n"), ("l", "a"),
    ("t", "a"), ("e", "l"), ("p", "o"), ("s", "o"), ("d", "i"),
    ("f", "or"), ("for", _W), ("w", "i"), ("wi", "th"), ("with", _W),
    ("the", "r"), ("ther", _W), ("a", "b"), ("p", "r"), ("c", "h"),
    ("w", "h"), ("s", "h"), ("y", _W), ("e", _W), ("s", _W),
    ("t", _W), ("d", _W), ("n", _W), ("r", _W), ("o", _W),
    ("a", _W), ("g", _W), ("l", _W), ("h", _W), ("er", "s"),
    ("ers", _W), ("ti", "on"), ("tion", _W), ("a", "g"), ("m", "en"),
    ("men", "t"), ("ment", _W), ("c", "e"), ("ce", _W), ("n", "t"),
    ("nt", _W), ("u", "s"), ("us", _W), ("al", _W), ("ar", _W),
    ("es", "t"), ("est", _W), ("i", "c"), ("ic", _W), ("i", "ve"),
    ("ive", _W), ("v", "e"), ("ve", _W), ("s", "u"), ("p", "a"),
    ("p", "e"), ("c", "a"), ("c", "on"), ("d", "o"), ("f", "i"),
    ("f", "a"), ("g", "r"), ("h", "a"), ("h", "o"), ("j", "u"),
    ("k", "e"), ("l", "o"), ("m", "o"), ("n", "e"), ("n", "o"),
    ("p", "l"), ("q", "u"), ("r", "a"), ("r", "i"), ("s", "p"),
    ("t", "r"), ("v", "i"), ("w", "a"), ("w", "e"), ("w", "o"),
    ("e", "x"), ("b", "l"), ("b", "r"), ("c", "l"), ("c", "r"),
    ("d", "r"), ("f", "l"), ("f", "r"), ("g", "l"), ("p", "h"),
    ("s", "c"), ("s", "k"), ("s", "l"), ("s", "m"), ("s", "n"),
    ("s", "w"), ("t", "w"), ("l", "y"), ("ly", _W), ("o", "w"),
    ("ow", _W), ("a", "y"), ("ay", _W), ("e", "y"), ("ey", _W),
    ("i", "d"), ("id", _W), ("a", "m"), ("am", _W), ("u", "m"),
    ("um", _W), ("u", "t"), ("ut", _W), ("i", "l"), ("i", "m"),
    ("i", "r"), ("ir", _W), ("u", "r"), ("ur", _W), ("o", "m"),
    ("om", _W), ("o", "p"), ("op", _W), ("o", "t"), ("ot", _W),
    ("e", "t"), ("et", _W), ("e", "m"), ("em", _W), ("o", "l"),
    ("o", "d"), ("od", _W), ("a", "d"), ("ad", _W), ("a", "p"),
    ("ap", _W), ("a", "c"), ("ac", _W), ("a", "k"), ("ak", _W),
    ("0", _W), ("1", _W), ("2", _W), ("3", _W), ("4", _W),
    ("5", _W), ("6", _W), ("7", _W), ("8", _W), ("9", _W),
    (".", _W), (",", _W), ("!", _W), ("?", _W), (";", _W),
    (":", _W), ("'", _W), ('"', _W), ("-", _W), (")", _W),
    ("(", _W), ("/", _W),
)

_RANK: dict[tuple[str, str], int] = {p: i for i, p in enumerate(MERGES)}

# lowercase word / digit run / single non-alnum (same class split as
# textstats._BPE_RE, so the regex proxy and the real BPE pre-tokenize
# identically and differ only in the merge stage)
_PRETOK = re.compile(r"[a-z]+|[0-9]+|[^a-z0-9\s]")


def _bpe_merge(word: str, rank: dict[tuple[str, str], int]
               ) -> tuple[str, ...]:
    """Greedy BPE inference for one pre-token: start from characters +
    end-of-word marker, repeatedly merge the LOWEST-RANK adjacent pair
    until no merge applies. Shared by the committed table and any
    loaded production vocab — same algorithm, different rank dict."""
    symbols = list(word) + [_W]
    while len(symbols) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(symbols) - 1):
            r = rank.get((symbols[i], symbols[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        symbols[best_i:best_i + 2] = [symbols[best_i]
                                      + symbols[best_i + 1]]
    return tuple(symbols)


@lru_cache(maxsize=65536)
def bpe_word(word: str) -> tuple[str, ...]:
    """Committed-table BPE for one pre-token. lru_cache: real corpora
    repeat words heavily (Zipf), so per-word cost amortizes to a dict
    hit."""
    return _bpe_merge(word, _RANK)


def load_merges(source) -> tuple[tuple[str, str], ...]:
    """Parse a merge table from the formats production tokenizers ship:

    - a parsed tokenizer.json dict (``{"model": {"merges": [...]}}``,
      or any dict with a ``merges`` list at the top level or under
      ``model``), entries either HF ``"left right"`` strings or
      ``[left, right]`` pairs;
    - a merges.txt-style string (one ``left right`` per line,
      ``#``-comment/version headers skipped);
    - an iterable of pairs / "left right" strings.

    Rank = list position, as in every GPT-2-lineage tokenizer. This is
    a VOCAB swap only — pre-tokenization stays this module's
    lowercase word / digit-run / punct split (reference swaps the
    whole HF tokenizer, doc_processor.py:89-137; byte-level
    pre-tokenizers would need their own split rule).
    """
    if isinstance(source, dict):
        model = source.get("model", source)
        entries = model["merges"]
    elif isinstance(source, str):
        entries = [ln for ln in source.splitlines()
                   if ln.strip() and not ln.startswith("#")]
    else:
        entries = list(source)
    out: list[tuple[str, str]] = []
    for e in entries:
        if isinstance(e, str):
            left, right = e.split(" ", 1)
        else:
            left, right = e[0], e[1]
        out.append((left, right))
    return tuple(out)


class BPETokenizer:
    """Greedy BPE over an arbitrary merge table (e.g. ``load_merges``
    output). Instances are picklable (plain dict/tuple state), so a
    production-vocab tokenizer ships to executors inside an Arrow UDF
    closure; the per-instance word cache gives the same Zipf
    amortization as the module-level lru_cache."""

    def __init__(self, merges) -> None:
        self.merges: tuple[tuple[str, str], ...] = tuple(
            (a, b) for a, b in merges)
        self._rank = {p: i for i, p in enumerate(self.merges)}
        self._cache: dict[str, tuple[str, ...]] = {}

    def bpe_word(self, word: str) -> tuple[str, ...]:
        got = self._cache.get(word)
        if got is None:
            got = self._cache[word] = _bpe_merge(word, self._rank)
        return got

    def word_cost(self, word: str) -> int:
        return len(self.bpe_word(word)) if word else 0

    def token_count(self, text: str) -> int:
        n = 0
        for word in _PRETOK.findall(text.lower()):
            n += len(self.bpe_word(word))
        return n

    def __getstate__(self):
        # ship the table, not the cache (rebuilt warm on the executor)
        return {"merges": self.merges}

    def __setstate__(self, state):
        self.__init__(state["merges"])


def _apply_merge(symbols: tuple[str, ...], pair: tuple[str, str]
                 ) -> tuple[str, ...]:
    """One training pass: greedy left-to-right non-overlapping
    replacement of an adjacent ``pair`` (a merge result is never the
    LEFT element of another match in the same pass — the Sennrich
    training semantics, and exactly what string ``replace()`` does on
    the delimited encoding the Spark/DuckDB twins use)."""
    a, b = pair
    out: list[str] = []
    i = 0
    while i < len(symbols):
        if (i + 1 < len(symbols) and symbols[i] == a
                and symbols[i + 1] == b):
            out.append(a + b)
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return tuple(out)


def learn_merges_from_freqs(word_freqs, n_merges: int
                            ) -> tuple[tuple[str, str], ...]:
    """BPE TRAINING (Sennrich et al. 2016 Alg. 1) over aggregated
    (word, freq) pairs: repeatedly take the highest-total-frequency
    adjacent symbol pair (ties: lexicographic smallest (left, right) —
    fully deterministic), merge it everywhere, emit rank = iteration.
    Stops early when no adjacent pair remains. This is the oracle for
    the distributed trainer (operators/bpetrain.py); inference with
    the learned table is ``BPETokenizer(merges)``."""
    vocab: dict[tuple[str, ...], int] = {}
    for word, freq in word_freqs:
        if word:
            key = tuple(word) + (_W,)
            vocab[key] = vocab.get(key, 0) + int(freq)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, freq in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + freq
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        vocab = {_apply_merge(syms, best): f for syms, f in vocab.items()}
    return tuple(merges)


def learn_merges(texts, n_merges: int) -> tuple[tuple[str, str], ...]:
    """BPE training over raw documents: the EXACT pure oracle of the
    distributed trainer (operators/bpetrain.learn_bpe_merges) — same
    ``_PRETOK`` split, same printable-ASCII word gate (the trainer's
    delimited encoding reserves control bytes, so the gate is part of
    the algorithm's contract, not a Spark-side detail). Learned
    merges plug straight into ``BPETokenizer``;
    ``learn_merges_from_freqs`` stays gate-free for callers bringing
    their own word policy."""
    freqs: dict[str, int] = {}
    for t in texts:
        for w in _PRETOK.findall((t or "").lower()):
            if all(" " <= c <= "~" for c in w):
                freqs[w] = freqs.get(w, 0) + 1
    return learn_merges_from_freqs(freqs.items(), n_merges)


def token_count(text: str) -> int:
    """Tokenizer-exact token count — the C5 budget unit."""
    n = 0
    for word in _PRETOK.findall(text.lower()):
        n += len(bpe_word(word))
    return n
