"""Output checks and digests.

Responses are compared after the same normalization the engine's
differential tests use: item fields with floats rounded (integral floats
as ints), pagination, and every facet bucket as (key, doc_count,
selected) in order. Nothing is imported from the test suite.
"""

from __future__ import annotations

import hashlib
import json
import math
from typing import Any, Dict


def _norm_val(v: Any) -> Any:
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v):
            return int(v)
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return [_norm_val(x) for x in v]
    return v


def _norm_item(it: Dict[str, Any]) -> Dict[str, Any]:
    return {k: _norm_val(v) for k, v in it.items() if v is not None}


def norm_search(res: Dict[str, Any]) -> Dict[str, Any]:
    """Comparable form of a ``search()`` response."""
    aggs = {}
    for f, entry in (res["data"].get("aggregations") or {}).items():
        aggs[f] = {
            "name": entry["name"],
            "title": entry["title"],
            "position": entry["position"],
            "buckets": [
                [b["key"], b["doc_count"], bool(b["selected"])]
                for b in entry["buckets"]
            ],
        }
        if "facet_stats" in entry:
            aggs[f]["facet_stats"] = {
                k: _norm_val(v) for k, v in entry["facet_stats"].items()
            }
    return {
        "pagination": res["pagination"],
        "items": [_norm_item(i) for i in res["data"]["items"]],
        "aggregations": aggs,
    }


def norm_aggregation(res: Dict[str, Any]) -> Dict[str, Any]:
    """Comparable form of an ``aggregation()`` response."""
    return {
        "pagination": res["pagination"],
        "buckets": [
            [b["key"], b["doc_count"], bool(b["selected"])]
            for b in res["data"]["buckets"]
        ],
    }


def norm(kind: str, res: Dict[str, Any]) -> Dict[str, Any]:
    return norm_aggregation(res) if kind == "aggregation" else norm_search(res)


def digest_record(n: Dict[str, Any]) -> Dict[str, Any]:
    """What the output digest covers: item ids, total, bucket key/count."""
    return {
        "ids": [i.get("_id") for i in n.get("items", [])],
        "total": n["pagination"]["total"],
        "buckets": (
            n["buckets"] if "buckets" in n else
            {f: [b[:2] for b in a["buckets"]] for f, a in n["aggregations"].items()}
        ),
    }


class Digest:
    """One running hash over every response a workload produced."""

    def __init__(self) -> None:
        self._h = hashlib.sha256()
        self.count = 0

    def add(self, n: Dict[str, Any]) -> None:
        self._h.update(
            json.dumps(digest_record(n), sort_keys=True, default=str).encode()
        )
        self.count += 1

    def hexdigest(self) -> str:
        return self._h.hexdigest()[:16]


def first_difference(a: Any, b: Any, path: str = "") -> str:
    """Human-readable location of the first difference (for error logs)."""
    if type(a) is not type(b):
        return f"{path}: {a!r} != {b!r}"
    if isinstance(a, dict):
        for k in sorted(set(a) | set(b), key=str):
            if k not in a or k not in b:
                return f"{path}.{k}: missing on one side"
            d = first_difference(a[k], b[k], f"{path}.{k}")
            if d:
                return d
        return ""
    if isinstance(a, list):
        if len(a) != len(b):
            return f"{path}: length {len(a)} != {len(b)}"
        for i, (x, y) in enumerate(zip(a, b)):
            d = first_difference(x, y, f"{path}[{i}]")
            if d:
                return d
        return ""
    return "" if a == b else f"{path}: {a!r} != {b!r}"
