"""Seeded inputs for the benchmark: transcript corpora, request mixes and
append deltas.

Everything here is generated from ``random.Random`` streams keyed by the
seed, and nothing is imported from the engine, so a change to the program
cannot change what the benchmark feeds it. ``fingerprint`` hashes the
generated inputs so two runs (or two commits) can show they measured the
same thing.
"""

from __future__ import annotations

import hashlib
import json
import random
from typing import Any, Dict, List, Tuple

# content words first (Zipf rank order), then stopwords the lunr pipeline
# drops; queries draw only content words so every text request has hits
CONTENT = """
spark join shuffle partition broadcast skew salt index posting merge sort
scan filter facet bucket count score rank query search token stem prefix
trie bitmap varint delta block checkpoint lineage resume executor leader
cluster table iceberg parquet snapshot commit rollback agent user tool
call result error retry timeout plan stage task batch stream window
schema column row file path cache memory disk spill worker thread lock
queue latency throughput budget metric trace span counter gauge alert
deploy build release branch review patch diff test suite fixture mock
model prompt reply context history session turn message summary answer
""".split()
STOPWORDS = "the a and of to in is that it for on with as was".split()
ROLES = [("user", 0.40), ("assistant", 0.45), ("system", 0.05), ("tool", 0.10)]
TOOLS = ["bash", "read", "write", "grep", "search", "browser", "sql"]
TS0 = 1_704_067_200  # 2024-01-01T00:00:00Z

CONFIG: Dict[str, Any] = {
    "aggregations": {
        "role": {"size": 10},
        "tool": {"size": 10},
        "conv_id": {"size": 20},
    },
    "searchableFields": ["text"],
    "sortings": {"ts_desc": {"field": "ts", "order": "desc"}},
}
COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

TEXT_KINDS = ["term", "and2", "prefix2", "query_role", "deep_page"]
FACET_KINDS = [
    "role_tool", "conv_id", "filters_query", "not_filters", "browse",
    "sort_ts", "aggregation",
]


def config() -> Dict[str, Any]:
    """A fresh copy: ``SearchEngine.aggregation`` mutates its config."""
    return json.loads(json.dumps(CONFIG))


def _zipf_weights(n: int, s: float = 1.1) -> List[float]:
    return [1.0 / (r + 1) ** s for r in range(n)]


_WORD_W = _zipf_weights(len(CONTENT))


def _turns(rng: random.Random, conv_ids: List[str], sizes: List[int],
           ts_base: int) -> Dict[str, list]:
    cols: Dict[str, list] = {c: [] for c in COLUMNS}
    roles, role_w = zip(*ROLES)
    i = 0
    for cid, size in zip(conv_ids, sizes):
        for t in range(size):
            role = rng.choices(roles, role_w)[0]
            words = rng.choices(CONTENT, _WORD_W, k=rng.randint(4, 28))
            for _ in range(rng.randint(0, 4)):
                words.insert(rng.randrange(len(words) + 1), rng.choice(STOPWORDS))
            tool = None
            if role == "tool" or (role == "assistant" and rng.random() < 0.5):
                tool = rng.choice(TOOLS)
            cols["conv_id"].append(cid)
            cols["turn_idx"].append(t)
            cols["role"].append(role)
            cols["text"].append(" ".join(words))
            cols["tool"].append(tool)
            cols["ts"].append(ts_base + 37 * i + rng.randrange(30))
            i += 1
    return cols


def corpus(seed: int, n_turns: int) -> Dict[str, list]:
    """Transcript table with exactly ``n_turns`` rows, as column lists
    sorted by (conv_id, turn_idx). Conversation sizes are power-law, so a
    few hot conversations hold many turns and most hold a handful."""
    rng = random.Random(f"corpus/{seed}/{n_turns}")
    sizes: List[int] = []
    while sum(sizes) < n_turns:
        sizes.append(max(1, min(400, int(rng.paretovariate(1.2) * 3))))
    sizes[-1] -= sum(sizes) - n_turns
    conv_ids = [f"c{k:06d}" for k in range(len(sizes))]
    return _turns(rng, conv_ids, sizes, TS0)


def delta(seed: int, round_no: int, n_turns: int) -> Dict[str, list]:
    """Append delta for ``round_no``: conversation ids sort after every
    corpus id and every earlier round (the snapshot-append contract)."""
    rng = random.Random(f"delta/{seed}/{round_no}")
    sizes = []
    while sum(sizes) < n_turns:
        sizes.append(rng.randint(1, 12))
    sizes[-1] -= sum(sizes) - n_turns
    conv_ids = [f"d{round_no:02d}{k:05d}" for k in range(len(sizes))]
    return _turns(rng, conv_ids, sizes, TS0 + 10**8 * (round_no + 1))


def items(cols: Dict[str, list]) -> List[Dict[str, Any]]:
    """Row dicts in table order, absent values omitted (oracle input)."""
    n = len(cols["conv_id"])
    return [
        {c: cols[c][i] for c in COLUMNS if cols[c][i] is not None}
        for i in range(n)
    ]


class RequestGen:
    """Seeded request generator over one corpus.

    Text and facet requests alternate; each family cycles through its
    kinds in a fixed order so every block has the same composition and
    only the parameters (Zipf-drawn terms, hot/cold conversations) vary
    with the seed. Some requests repeat, as they would in real traffic."""

    def __init__(self, seed: int, cols: Dict[str, list], stream: str):
        self.rng = random.Random(f"requests/{seed}/{stream}")
        sizes: Dict[str, int] = {}
        for cid in cols["conv_id"]:
            sizes[cid] = sizes.get(cid, 0) + 1
        # hottest conversation first; a Zipf draw over this list mixes
        # hot (large) and cold (small) conversations
        self.convs = sorted(sizes, key=lambda c: (-sizes[c], c))
        self.conv_w = _zipf_weights(len(self.convs), 0.9)
        self.roles = sorted(set(cols["role"]))
        self.tools = sorted({t for t in cols["tool"] if t is not None})
        self.n_text = 0
        self.n_facet = 0

    def _word(self) -> str:
        return self.rng.choices(CONTENT, _WORD_W)[0]

    def text(self) -> Tuple[str, Dict[str, Any]]:
        kind = TEXT_KINDS[self.n_text % len(TEXT_KINDS)]
        self.n_text += 1
        r = self.rng
        if kind == "term":
            req = {"query": self._word()}
        elif kind == "and2":
            a = self._word()
            b = self._word()
            while b == a:
                b = self._word()
            req = {"query": f"{a} {b}"}
        elif kind == "prefix2":
            req = {"query": self._word()[:2]}
        elif kind == "query_role":
            req = {"query": self._word(), "filters": {"role": [r.choice(self.roles)]}}
        else:
            req = {"query": self._word(), "page": r.randint(3, 6)}
        return kind, req

    def facet(self) -> Tuple[str, Dict[str, Any]]:
        kind = FACET_KINDS[self.n_facet % len(FACET_KINDS)]
        self.n_facet += 1
        r = self.rng
        if kind == "role_tool":
            req = {"filters": {"role": [r.choice(["assistant", "tool"])],
                               "tool": [r.choice(self.tools)]}}
        elif kind == "conv_id":
            req = {"filters": {"conv_id": [r.choices(self.convs, self.conv_w)[0]]}}
        elif kind == "filters_query":
            req = {"filters_query": f"role:{r.choice(self.roles)} OR "
                                    f"tool:{r.choice(self.tools)}"}
        elif kind == "not_filters":
            req = {"not_filters": {"role": [r.choice(self.roles)]}}
        elif kind == "browse":
            req = {"page": r.randint(1, 4)}
        elif kind == "sort_ts":
            req = {"sort": "ts_desc", "page": r.randint(1, 3)}
        else:
            req = {"name": r.choice(["role", "tool"]), "per_page": 5}
        return kind, req

    def block(self) -> List[Tuple[str, str, Dict[str, Any]]]:
        """One full cycle of both families, alternating text and facet:
        (family, kind, request) triples."""
        out = []
        for i in range(max(len(TEXT_KINDS), len(FACET_KINDS))):
            if i < len(TEXT_KINDS):
                out.append(("text",) + self.text())
            if i < len(FACET_KINDS):
                out.append(("facet",) + self.facet())
        return out

    def disk_mix(self) -> List[Tuple[str, str, Dict[str, Any]]]:
        """Requests for a reopened block-store engine: query + filters,
        filter-only (role∧tool) and query-only, in that order."""
        r = self.rng
        return [
            ("text", "query_filters",
             {"query": self._word(), "filters": {"role": [r.choice(self.roles)]}}),
            ("facet", "filter_only",
             {"filters": {"role": [r.choice(["assistant", "tool"])],
                          "tool": [r.choice(self.tools)]}}),
            ("text", "query_only", {"query": self._word(), "per_page": 10}),
        ]


def fingerprint(*parts: Any) -> str:
    """Short stable hash of generated inputs (JSON, sorted keys)."""
    h = hashlib.sha256()
    for p in parts:
        h.update(json.dumps(p, sort_keys=True, separators=(",", ":")).encode())
    return h.hexdigest()[:16]
