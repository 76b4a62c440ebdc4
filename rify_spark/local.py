"""Driver-resident rule engine for list-sized ``infer`` / ``prove`` requests.

A port of the reference engine's single-threaded reasoner (src/reasoner.rs,
src/infer.rs:29-101, src/prove.rs:123-210). A Spark fixpoint pays a fixed
per-job floor on every round, which dominates when the premises already sit
in driver memory as a short Python list; this engine answers such requests
without launching a Spark job.

  * :class:`QuadIndex` is the quad store: a set plus one hash index per
    bound subset of (s, p, o, g), built on first use and maintained on
    insert — the role of the reference's six permutation indexes;
  * rules run in semi-naive rounds: each body atom in turn is seeded from the
    previous round's delta, the other atoms join against the store
    smallest-candidate-first, and atoms before the seed may not match the
    delta, so an instantiation with several delta atoms is enumerated once;
  * prove mode records the first derivation of every quad (first-wins
    lineage) and stops before any round once every goal is known.

The output equals :func:`rify_spark.infer.fixpoint` over the same lowered
rules in string space (``InferConfig(encode_terms=False)``): the same
closure and, in prove mode, the same lineage. Iteration-0 arguments are the
unconditional heads that are not premises (lowest rule index wins); a
derived quad keeps a derivation from the round it first appeared in, the
minimum ``(rule_index, instantiation)`` among them — the ordering of the
Spark loop's first-wins window. Rounds are a loop and proof recall is
iterative, so proof depth never meets Python's recursion limit; recursion
depth is bounded by the number of atoms in one rule body.

Values are opaque and only compared for equality and order; the API passes
:class:`rify_spark.api.TermCodec` strings.
"""

from __future__ import annotations

from typing import Iterable, Optional

from .errors import ExhaustedSearchSpace
from .infer import unconditional_heads
from .prove import LowApplication, recall_proof


class QuadIndex:
    """A set of quads with hash indexes on bound position subsets.

    ``match(mask, key)`` returns the quads whose positions ``mask`` (an
    increasing tuple of 0..3) hold ``key``. The index for a mask is built on
    its first lookup and kept current by :meth:`add`.
    """

    def __init__(self, quads: Iterable = ()) -> None:
        self.quads: set = set(quads)
        self._indexes: dict = {}

    def __contains__(self, quad) -> bool:
        return quad in self.quads

    def __len__(self) -> int:
        return len(self.quads)

    def add(self, quad: tuple) -> None:
        """Insert a quad not yet in the store."""
        self.quads.add(quad)
        for mask, index in self._indexes.items():
            index.setdefault(tuple(quad[i] for i in mask), []).append(quad)

    def match(self, mask: tuple, key: tuple):
        if not mask:
            return self.quads
        if len(mask) == 4:
            return (key,) if key in self.quads else ()
        index = self._indexes.get(mask)
        if index is None:
            index = {}
            for q in self.quads:
                index.setdefault(tuple(q[i] for i in mask), []).append(q)
            self._indexes[mask] = index
        return index.get(key, ())


def _probe(atom: tuple, binding: list) -> tuple:
    """(mask, key) of the positions of ``atom`` fixed by constants or by
    variables already bound."""
    mask, key = [], []
    for pos, (kind, val) in enumerate(atom):
        if kind == "c":
            mask.append(pos)
            key.append(val)
        elif binding[val] is not None:
            mask.append(pos)
            key.append(binding[val])
    return tuple(mask), tuple(key)


def _bind(atom: tuple, quad: tuple, binding: list) -> Optional[list]:
    """Bind ``atom``'s free variables to ``quad`` in place. Returns the slots
    bound, or None (binding unchanged) when a variable repeated inside the
    atom meets two different values."""
    bound = []
    for (kind, val), x in zip(atom, quad):
        if kind != "v":
            continue
        cur = binding[val]
        if cur is None:
            binding[val] = x
            bound.append(val)
        elif cur != x:
            for v in bound:
                binding[v] = None
            return None
    return bound


def _join(atoms: list, store: QuadIndex, delta: QuadIndex, binding: list, emit) -> None:
    """Extend ``binding`` over ``atoms`` — (atom, old_only) pairs, where
    ``old_only`` atoms may not match a delta quad — calling ``emit`` for
    every complete binding. Joins the atom with the fewest candidates next."""
    if not atoms:
        emit()
        return
    pick, cands = 0, None
    for k, (atom, _) in enumerate(atoms):
        c = store.match(*_probe(atom, binding))
        if cands is None or len(c) < len(cands):
            pick, cands = k, c
            if not c:
                return
    atom, old_only = atoms[pick]
    rest = atoms[:pick] + atoms[pick + 1:]
    for q in cands:
        if old_only and q in delta:
            continue
        bound = _bind(atom, q, binding)
        if bound is None:
            continue
        _join(rest, store, delta, binding, emit)
        for v in bound:
            binding[v] = None


def _round(rules: list, store: QuadIndex, delta: QuadIndex, lineage: bool) -> dict:
    """One semi-naive round: every quad derivable from ``store`` with at least
    one body atom in ``delta`` and not yet in ``store``, mapped to its
    minimum (rule_index, instantiation) when ``lineage`` is set, else None."""
    found: dict = {}
    # in the first round the delta is the whole store and the old facts are
    # empty, so only seeds at body position 0 can complete
    first_round = len(delta) == len(store)
    for r in rules:
        binding = [None] * r.n_vars

        def emit(r=r, binding=binding) -> None:
            inst = tuple(binding)
            for atom in r.head:
                q = tuple(v if k == "c" else binding[v] for k, v in atom)
                if q in store:
                    continue
                if not lineage:
                    found[q] = None
                elif q not in found or (r.index, inst) < found[q]:
                    found[q] = (r.index, inst)

        for i in range(1) if first_round else range(len(r.body)):
            seed = r.body[i]
            rest = [(a, j < i) for j, a in enumerate(r.body) if j != i]
            for d in delta.match(*_probe(seed, binding)):
                bound = _bind(seed, d, binding)
                if bound is None:
                    continue
                _join(rest, store, delta, binding, emit)
                for v in bound:
                    binding[v] = None
    return found


def fixpoint(premises: Iterable, lrules: list, goals: Optional[list] = None) -> tuple:
    """Run ``lrules`` to fixpoint over ``premises``.

    With ``goals`` (prove mode) lineage is recorded and the loop stops before
    any round once every goal is in the store. Returns ``(store, arguments)``:
    the :class:`QuadIndex` of premises and everything derived, and in prove
    mode the quad -> :class:`LowApplication` map of first derivations (None
    otherwise).
    """
    prem = set(premises)
    store = QuadIndex(prem)
    lineage = goals is not None
    arguments: Optional[dict] = {} if lineage else None
    for *quad, rule_index in unconditional_heads(lrules):
        quad = tuple(quad)
        if quad not in prem:
            store.add(quad)
            if lineage:
                arguments[quad] = LowApplication(rule_index, ())
    rules = [r for r in lrules if not r.unconditional]
    delta = QuadIndex(store.quads)
    while len(delta) and rules:
        if lineage and all(g in store for g in goals):
            break
        found = _round(rules, store, delta, lineage)
        for q, app in found.items():
            store.add(q)
            if lineage:
                arguments[q] = LowApplication(*app)
        delta = QuadIndex(found)
    return store, arguments


def infer(premises: list, lrules: list) -> list:
    """Every derivable quad that is not a premise, sorted."""
    store, _ = fixpoint(premises, lrules)
    return sorted(store.quads - set(premises))


def prove(premises: list, goals: list, lrules: list) -> list:
    """The proof of ``goals`` as :class:`LowApplication` steps, in the order
    of :func:`rify_spark.prove.recall_proof`. Raises
    :class:`ExhaustedSearchSpace` when a goal is not derivable."""
    store, arguments = fixpoint(premises, lrules, goals)
    if not all(g in store for g in goals):
        raise ExhaustedSearchSpace()
    return recall_proof(goals, arguments, lrules)
