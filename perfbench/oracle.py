"""Correctness oracles that share no code with Spark or the engine.

* ``kg_expected`` — closed form of the code-ontology closure per repo;
* ``check_proof`` — replays a proof against premises and goals;
* ``ServeMirror`` — the serve store's premises kept in Python, with the
  ancestry closure in closed form.
"""

from __future__ import annotations

from collections import Counter


def kg_expected(counts: list) -> set:
    """Derived ``depends_on`` quads of the code pipeline over a corpus whose
    repo ``r`` has ``counts[r]`` modules: every module depends on itself and
    each lower module of its repo (M(M+1)/2), on the unresolved ``mod://os``
    (M), and, for r > 0, on the unresolved cross-repo import (M)."""
    out = set()
    for r, m_count in enumerate(counts):
        g = f"graph://repo_{r}"
        iri = [f"repo://repo_{r}/src/mod_{m}.py" for m in range(m_count)]
        for a in range(m_count):
            for b in range(a + 1):
                out.add((iri[a], "depends_on", iri[b], g))
            out.add((iri[a], "depends_on", "mod://os", g))
            if r > 0:
                out.add((iri[a], "depends_on", f"mod://repo_{r - 1}.mod_0", g))
    return out


def check_proof(rules, proof, premises, goals) -> bool:
    """Replay ``proof`` in order: every body atom must be a premise or the
    head of an earlier step, and every goal must end up proven."""
    known = set(premises)
    for app in proof:
        rule = rules[app.rule_index]
        canon = rule.canonical_unbound()
        if len(canon) != len(app.instantiations):
            return False
        bind = dict(zip(canon, app.instantiations))

        def ground(atom):
            return tuple(bind[e.value] if e.is_var else e.value for e in atom)

        if not all(ground(a) in known for a in rule.if_all):
            return False
        known.update(ground(a) for a in rule.then)
    return all(tuple(gq) in known for gq in goals)


class ServeMirror:
    """The serve store's premises in plain Python: a forest of ``parent``
    edges plus ``kind`` labels. Under the serve rules the closure is in
    closed form: ``anc(x)`` is the parent chain and ``under(x)`` the kinds
    along it."""

    def __init__(self, parent: dict, kinds: dict, graph: str):
        self.parent = dict(parent)
        self.kinds = dict(kinds)
        self.graph = graph

    def children(self) -> dict:
        ch: dict = {}
        for c, p in self.parent.items():
            ch.setdefault(p, []).append(c)
        return ch

    def ancestors(self, x) -> list:
        out = []
        while x in self.parent:
            x = self.parent[x]
            out.append(x)
        return out

    def under(self, x) -> set:
        return {self.kinds[a] for a in self.ancestors(x) if a in self.kinds}

    def nodes(self) -> set:
        return set(self.parent) | set(self.parent.values()) | set(self.kinds)

    def premises(self) -> set:
        g = self.graph
        return {(c, "parent", p, g) for c, p in self.parent.items()} | {
            (n, "kind", k, g) for n, k in self.kinds.items()
        }

    def closure(self) -> set:
        g = self.graph
        out = self.premises()
        for x in self.nodes():
            for a in self.ancestors(x):
                out.add((x, "anc", a, g))
            for k in self.under(x):
                out.add((x, "under", k, g))
        return out

    def under_counts(self) -> Counter:
        return Counter(k for x in self.nodes() for k in self.under(x))
