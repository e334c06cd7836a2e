"""Text-analysis chain with lunr 1.0.0 semantics.

The reference (itemsjs) pins ``lunr`` to exactly 1.0.0
(/root/reference/package-lock.json) and builds its full-text index with
lunr's default pipeline [trimmer, stopWordFilter, stemmer]
(/root/reference/src/fulltext.ts:22-50). These functions reproduce that
chain from the public lunr 1.0.0 algorithm description:

* tokenizer: ``null -> []``; arrays -> each element lowercased WITHOUT
  splitting; anything else -> ``toString().trim().toLowerCase()`` split on
  ``/[\\s\\-]+/`` (whitespace or hyphens).
* trimmer: strip leading/trailing ``\\W`` (ASCII: [^A-Za-z0-9_]).
* stopWordFilter: drop tokens in the 119-entry english list ('' included).
* stemmer: Porter (see porter.py).

Pipeline toggles mirror fulltext.ts: ``isExactSearch`` removes
stemmer+stopwords; ``removeStopWordFilter`` removes stopwords only
(``pipeline_flags`` maps a configuration to them).

The chain after the tokenizer is written once (``_memoized_chain``: the
per-token transform and its memo) and exposed in two forms:
``build_pipeline`` (tokens → analyzed tokens, the index build's and the
query analyzer's form) and ``build_token_transform`` (token → analyzed
token or None, for callers that keep raw-token indices via
``analyze_with_raw_indices``). Every
consumer — the Arrow tokenizer driver behind the three postings
artifacts (``engine/indexer.py``), the driver-side query analysis, the
phrase verifiers, snippets and highlighting — builds on these, so they
agree on what a token is.

All pure functions — reusable inside Arrow-batched pandas UDFs (index
build over the cluster) and on the driver (query analysis).
"""

from __future__ import annotations

import re
from typing import Any, Callable, Dict, List, Mapping, Tuple

from .porter import stem

_SPLIT_RE = re.compile(r"[\s\-]+")
_TRIM_LEAD = re.compile(r"^[^A-Za-z0-9_]+")
_TRIM_TRAIL = re.compile(r"[^A-Za-z0-9_]+$")

# lunr 1.0.0 stop_word_filter.js: the classic 119-word english list, plus
# the empty string (pure-punctuation tokens trim to '' and are dropped).
STOP_WORDS = frozenset([
    "",
    "a", "able", "about", "across", "after", "all", "almost", "also", "am",
    "among", "an", "and", "any", "are", "as", "at", "be", "because", "been",
    "but", "by", "can", "cannot", "could", "dear", "did", "do", "does",
    "either", "else", "ever", "every", "for", "from", "get", "got", "had",
    "has", "have", "he", "her", "hers", "him", "his", "how", "however", "i",
    "if", "in", "into", "is", "it", "its", "just", "least", "let", "like",
    "likely", "may", "me", "might", "most", "must", "my", "neither", "no",
    "nor", "not", "of", "off", "often", "on", "only", "or", "other", "our",
    "own", "rather", "said", "say", "says", "she", "should", "since", "so",
    "some", "than", "that", "the", "their", "them", "then", "there", "these",
    "they", "this", "tis", "to", "too", "twas", "us", "wants", "was", "we",
    "were", "what", "when", "where", "which", "while", "who", "whom", "why",
    "will", "with", "would", "yet", "you", "your",
])


def js_to_string(v: Any) -> str:
    """JS ``toString`` for scalars reaching the tokenizer (numbers/bools)."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float) and v == int(v) and abs(v) < 1e21:
        return str(int(v))
    return str(v)


def tokenize(value: Any) -> List[str]:
    """lunr 1.0.0 tokenizer."""
    if type(value) is str:  # hot path: plain strings skip js_to_string
        s = value.strip().lower()
        return _SPLIT_RE.split(s) if s else []
    if value is None:
        return []
    if isinstance(value, (list, tuple)):
        # array elements are lowercased as single tokens, NOT split
        return [js_to_string(t).lower() for t in value if t is not None]
    s = js_to_string(value).strip().lower()
    if not s:
        return []
    return _SPLIT_RE.split(s)


def trimmer(token: str) -> str:
    return _TRIM_TRAIL.sub("", _TRIM_LEAD.sub("", token))


def stop_word_filter(token: str) -> str | None:
    return None if token in STOP_WORDS else token


def pipeline_flags(configuration: Mapping[str, Any]) -> Dict[str, bool]:
    """The ``build_pipeline``/``build_token_transform`` keyword flags for
    an itemsjs configuration (``isExactSearch``, ``removeStopWordFilter``)."""
    return dict(
        is_exact_search=bool(configuration.get("isExactSearch")),
        remove_stop_word_filter=bool(configuration.get("removeStopWordFilter")),
    )


def _memoized_chain(
    is_exact_search: bool, remove_stop_word_filter: bool
) -> Tuple[Callable[[str], str | None], Callable[[List[str]], List[str]]]:
    """The one analysis chain (trim → stopword → stem), memoized, as a
    (per-token, list) pair sharing one memo.

    Token vocabularies are Zipfian: memoize the WHOLE per-token chain
    (trim regexes + stopword set + stem) so repeated tokens cost one
    dict hit. The memo lives in the closure — one per partition in the
    Arrow tokenizer, one per engine on the driver — and is bounded so a
    pathological vocabulary can't exhaust executor memory (beyond the
    cap lookups still hit, new tokens just aren't inserted). The list
    form inlines the memo lookup
    instead of calling the per-token form: it is the index build's
    hottest loop (every corpus token flows through it), where an extra
    function call per token is measurable."""
    use_stopwords = not (is_exact_search or remove_stop_word_filter)
    use_stemmer = not is_exact_search
    memo: dict = {}
    memo_max = 1 << 20
    miss = object()

    def transform(t: str) -> str | None:
        t2 = trimmer(t)
        if use_stopwords and t2 in STOP_WORDS:
            return None
        return stem(t2) if use_stemmer else t2

    def cached(t: str) -> str | None:
        v = memo.get(t, miss)
        if v is miss:
            v = transform(t)
            if len(memo) < memo_max:
                memo[t] = v
        return v

    def run(tokens: List[str]) -> List[str]:
        out: List[str] = []
        get = memo.get
        for t in tokens:
            v = get(t, miss)
            if v is miss:
                v = transform(t)
                if len(memo) < memo_max:
                    memo[t] = v
            if v is not None:
                out.append(v)
        return out

    return cached, run


def build_token_transform(
    is_exact_search: bool = False, remove_stop_word_filter: bool = False
) -> Callable[[str], str | None]:
    """Per-token form of the chain: token → analyzed token, or None when
    the chain drops it. Positional consumers (snippets, highlighting)
    use it to keep raw-token indices (``analyze_with_raw_indices``)."""
    return _memoized_chain(is_exact_search, remove_stop_word_filter)[0]


def build_pipeline(
    is_exact_search: bool = False, remove_stop_word_filter: bool = False
) -> Callable[[List[str]], List[str]]:
    """List form of the chain: tokens → analyzed tokens, mirroring
    lunr.Pipeline.run with the itemsjs toggles applied
    (fulltext.ts:38-49)."""
    return _memoized_chain(is_exact_search, remove_stop_word_filter)[1]


def analyze_with_raw_indices(
    raw: List[str], token_transform: Callable[[str], str | None]
) -> Tuple[List[str], List[int]]:
    """(analyzed tokens, index of each in ``raw``): the list form's
    output together with where each surviving token sat in the raw
    tokenizer output."""
    toks: List[str] = []
    rawidx: List[int] = []
    for i, t in enumerate(raw):
        w = token_transform(t)
        if w is not None:
            toks.append(w)
            rawidx.append(i)
    return toks, rawidx


def term_positions(tokens: List[str]) -> Dict[str, List[int]]:
    """token → its ascending 0-based positions in ``tokens``."""
    posmap: Dict[str, List[int]] = {}
    for i, t in enumerate(tokens):
        posmap.setdefault(t, []).append(i)
    return posmap
