"""Pure-Python model of the ``serve_mixed`` script.

Replays the same statements against dicts and predicts, for each one,
the DTO rows the server returns, then the final node and edge counts.
It encodes the engine's documented behaviour, quirks included:

- Cypher statements report ``affected_nodes == affected_relationships
  == 0``; only a statement that *starts* with ``CREATE`` is flagged
  ``mutated`` (the conservative prefix rule).
- A statement without ``RETURN`` dumps its bound entities: ``CREATE``
  one node row, the two-pattern link both endpoints, ``SET`` the updated
  node, ``DETACH DELETE`` nothing.
- ``WHERE p.age > k`` compares numerically; ``ORDER BY p.name`` is a
  string sort.
- ``-[:KNOWS*1..2]->`` yields each node whose shortest distance from the
  start is 1 or 2 (never the start itself).

Ids minted by the engine (uuid7) are unknown here, so rows carrying
them are compared with the id masked as ``NEW``.
"""

from __future__ import annotations

import json
import re
from collections import Counter

NEW = "NEW"


class ServeModel:
    def __init__(self, nodes: list[tuple], edges: list[tuple]):
        # name -> (id, props); edges as [src_name, dst_name] pairs
        self.people = {p["name"]: (nid, dict(p)) for nid, _lbl, p in nodes}
        self.id_name = {nid: p["name"] for nid, _lbl, p in nodes}
        self.edges: list[tuple[str, str]] = [(self.id_name[s], self.id_name[d]) for _i, s, d, _l, _p in edges]

    # ---------------------------------------------------------------- helpers
    def _id(self, name: str) -> str:
        nid = self.people[name][0]
        return nid if nid is not None else NEW

    def _node_row(self, name: str) -> dict:
        return {"kind": "node", "id": self._id(name), "label": "Person", "metadata": dict(self.people[name][1])}

    @staticmethod
    def _info(v: str) -> dict:
        return {"kind": "info", "id": "", "info": v}

    @staticmethod
    def _names(q: str) -> list[str]:
        return re.findall(r'name: "([^"]+)"', q)

    # ------------------------------------------------------------------ apply
    def apply(self, st: dict) -> dict:
        """Advance the model by one statement; returns the expected DTO."""
        kind, q = st["kind"], st["query"]
        rows: list[dict] = []
        if kind == "point":
            who = st["params"]["who"]
            rows = [self._info(self.people[who][1]["age"])]
        elif kind == "expand":
            (a,) = self._names(q)
            rows = [self._info(d) for s, d in self.edges if s == a]
        elif kind == "range":
            k = int(re.search(r"p\.age > (\d+)", q).group(1))
            hit = sorted(n for n, (_i, p) in self.people.items() if int(p["age"]) > k)
            rows = [self._info(n) for n in hit[:10]]
        elif kind == "varlen":
            (a,) = self._names(q)
            out = {d for s, d in self.edges if s == a}
            two = {d for s, d in self.edges if s in out}
            rows = [self._info(self._id(n)) for n in sorted((out | two) - {a})]
        elif kind == "create":
            props = dict(re.findall(r'(\w+): "([^"]*)"', q))
            self.people[props["name"]] = (None, props)
            rows = [self._node_row(props["name"])]
        elif kind == "link":
            a, b = self._names(q)
            self.edges.append((a, b))
            rows = [self._node_row(a), self._node_row(b)]
        elif kind == "set":
            (who,) = self._names(q)
            self.people[who][1]["age"] = re.search(r'SET p\.age = "(\d+)"', q).group(1)
            rows = [self._node_row(who)]
        elif kind == "delete":
            (who,) = self._names(q)
            del self.people[who]
            self.edges = [(s, d) for s, d in self.edges if who not in (s, d)]
        else:
            raise ValueError(kind)
        return {
            "rows": rows,
            "affected_nodes": 0,
            "affected_relationships": 0,
            "mutated": q.upper().startswith("CREATE"),
        }

    def counts(self) -> tuple[int, int]:
        return len(self.people), len(self.edges)


def _canon(dto: dict, known_ids: set[str], ordered: bool) -> tuple:
    rows = []
    for r in dto.get("rows", []):
        r = dict(r)
        if r.get("id") and r["id"] not in known_ids:
            r["id"] = NEW
        if r.get("kind") == "info" and r["info"] and r["info"] not in known_ids and "-" in r["info"] and len(r["info"]) == 36:
            r["info"] = NEW  # id(b) of a node the script created
        rows.append(json.dumps(r, sort_keys=True))  # map order is not part of the DTO
    return (rows if ordered else Counter(rows), dto.get("affected_nodes"), dto.get("affected_relationships"), dto.get("mutated"))


def same(expected: dict, got: dict, known_ids: set[str], ordered: bool = False) -> bool:
    """DTO equality (up to row order unless ``ordered``), with
    engine-minted ids masked."""
    return _canon(expected, known_ids, ordered) == _canon(got, known_ids, ordered)
