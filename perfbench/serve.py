"""``serve``: one closed-loop client against an ``IncrementalReasoner``.

Set-up loads a seeded forest of ``parent`` edges and ``kind`` labels. The
timed loop then sends one request at a time, the next only after the last
returned, in cycles of SPARQL reads over the store (bound-subject lookup,
2-atom join, ``parent+`` path, GROUP BY COUNT) and a write (``process_batch``
of new leaves, which also compacts the store). A Python mirror of the premises checks every read exactly and
the whole store at the end.
"""

from __future__ import annotations

import os
import random
import time

from . import gen
from .oracle import ServeMirror

N_NODES = 1000
N_ROOTS = 100
INSERT_LEAVES = 20
# the initial load is the expensive part of set-up: done once
SETUP_REPEATS = 1
SCHEMA = "s string, p string, o string, g string"
G = gen.SERVE_GRAPH


def serve_rules() -> list:
    from rify_spark.rules import Bound as B, Rule, Unbound as U

    a, b, c, g = U("a"), U("b"), U("c"), U("g")
    return [
        Rule.create([[a, B("parent"), b, g]], [[a, B("anc"), b, g]]),
        Rule.create([[a, B("anc"), b, g], [b, B("anc"), c, g]], [[a, B("anc"), c, g]]),
        # cross-predicate: a node is under every kind labelling an ancestor
        Rule.create([[a, B("anc"), b, g], [b, B("kind"), c, g]], [[a, B("under"), c, g]]),
    ]


def _node(i) -> str:
    return f"n{i}"


def setup(ctx) -> dict:
    from rify_spark.streaming.incremental import IncrementalReasoner

    parent, kinds = gen.forest(ctx.seed, N_NODES, N_ROOTS)
    mirror = ServeMirror(
        {_node(c): _node(p) for c, p in parent.items()},
        {_node(n): k for n, k in kinds.items()},
        G,
    )
    store = os.path.join(ctx.workdir, "store")
    reasoner = IncrementalReasoner(
        ctx.spark, serve_rules(), store, n_buckets=8, compact_files_every=2
    )
    if ctx.tracer.enabled:
        compact = reasoner.compact_store

        def traced_compact():
            with ctx.tracer.span("streaming.compact"):
                compact()

        reasoner.compact_store = traced_compact
    with ctx.tracer.span("streaming.load"):
        reasoner.process_batch(ctx.spark.createDataFrame(sorted(mirror.premises()), SCHEMA), 0)
    return {"reasoner": reasoner, "mirror": mirror, "store": store, "next_batch": 1,
            "next_leaf": 0, "rng": random.Random(f"serve-ops:{ctx.seed}")}


def _read(kind: str, st: dict):
    """(query, expected rows as a sorted list, sparql layer) for one read."""
    m, rng = st["mirror"], st["rng"]
    nodes = sorted(m.nodes())
    x = rng.choice(nodes)
    if kind == "lookup":
        q = f"SELECT ?o WHERE {{ <{x}> <anc> ?o }}"
        return q, sorted((a,) for a in m.ancestors(x)), "sparql.lookup"
    if kind == "join":
        ch = m.children()
        y = rng.choice(sorted(p for p in ch if any(c in ch for c in ch[p])) or nodes)
        q = f"SELECT ?x WHERE {{ ?x <parent> ?y . ?y <parent> <{y}> }}"
        exp = sorted((c2,) for c in ch.get(y, []) for c2 in ch.get(c, []))
        return q, exp, "sparql.join"
    if kind == "path":
        q = f"SELECT ?o WHERE {{ <{x}> <parent>+ ?o }}"
        return q, sorted((a,) for a in m.ancestors(x)), "sparql.path"
    q = "SELECT ?k (COUNT(?x) AS ?c) WHERE { ?x <under> ?k } GROUP BY ?k"
    return q, sorted(m.under_counts().items()), "sparql.agg"


def _insert(st: dict) -> list:
    """New leaves under seeded existing nodes (some under earlier leaves)."""
    m, rng = st["mirror"], st["rng"]
    nodes = sorted(m.nodes())
    quads = []
    for _ in range(INSERT_LEAVES):
        leaf = f"m{st['next_leaf']}"
        st["next_leaf"] += 1
        quads.append((leaf, "parent", rng.choice(nodes), G))
        nodes.append(leaf)
    return quads


def _do_read(ctx, st: dict, kind: str, lat: dict) -> int:
    """One timed SPARQL read; returns 1 when its rows disagree with the
    mirror."""
    from rify_spark.sparql import parse_select, sparql_query

    q, expected, layer = _read(kind, st)
    tr = ctx.tracer
    if tr.enabled:
        # the parse share of a request, measured apart: sparql_query parses
        # again inside the read span
        with tr.span("sparql.parse"):
            parse_select(q)
    t0 = time.perf_counter()
    with tr.span(layer):
        rows = sparql_query(st["reasoner"].facts(), q).collect()
    lat["read"].append(time.perf_counter() - t0)
    got = sorted(tuple(r) for r in rows)
    st["outputs"].append(got)
    tr.count("sparql.rows", len(got))
    if got != expected:
        ctx.log(f"serve: {kind} read mismatch: {len(got)} rows, expected {len(expected)}")
        return 1
    return 0


def _do_insert(ctx, st: dict, lat: dict) -> None:
    quads = _insert(st)
    t0 = time.perf_counter()
    with ctx.tracer.span("streaming.insert"):
        st["reasoner"].process_batch(ctx.spark.createDataFrame(quads, SCHEMA), st["next_batch"])
    lat["insert"].append(time.perf_counter() - t0)
    st["next_batch"] += 1
    for c, _, p, _ in quads:
        st["mirror"].parent[c] = p


# one cycle of the closed loop: sixteen reads around one insert. The path
# read runs a transitive closure per request and costs ~10 plain reads, so
# it comes once. With compact_files_every=2 the insert compacts the store
# (the load is the batch before it).
CYCLE = ("lookup", "join", "path", "agg", "lookup", "join", "agg", "lookup", "insert",
         "lookup", "join", "agg", "lookup", "join", "agg", "lookup", "lookup")


def run(ctx, st: dict) -> dict:
    """Whole cycles until ``ctx.seconds`` have passed (at least one)."""
    lat = {"read": [], "insert": []}
    st["outputs"] = []
    failed = ops = 0
    t_start = time.perf_counter()
    while True:
        for op in CYCLE:
            if op == "insert":
                _do_insert(ctx, st, lat)
            else:
                failed += _do_read(ctx, st, op, lat)
            ops += 1
        if time.perf_counter() - t_start >= ctx.seconds:
            break
    wall = time.perf_counter() - t_start
    # the whole store against the mirror's closure (untimed)
    store = {tuple(r) for r in st["reasoner"].facts().collect()}
    closure = st["mirror"].closure()
    attempted = ops + 1
    if store != closure:
        failed += 1
        ctx.log(f"serve: store has {len(store)} quads, expected {len(closure)}")
    ctx.tracer.count("streaming.store_rows", len(store))
    ctx.tracer.count("streaming.store_bytes", _dir_bytes(st["store"]))
    return {
        "attempted": attempted,
        "failed": failed,
        "samples": {f"{k}_s": v for k, v in lat.items()},
        "ops": ops,
        "wall_s": wall,
        "outputs": {"results": st["outputs"], "store_rows": len(store)},
    }


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
