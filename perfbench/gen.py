"""Seeded input generators for the workloads.

Everything here is pure Python and depends only on ``seed`` and the size
arguments: the same seed always yields the same inputs, and the program under
test only ever sees what these functions return.
"""

from __future__ import annotations

import hashlib
import random

# --- kg_build: a code corpus -----------------------------------------------


def repo_module_counts(seed: int, n_repos: int, n_deep: int, deep_range: tuple) -> list:
    """Heavy-tailed modules-per-repo: most repos get 4-8 modules, exactly
    ``n_deep`` seed-chosen repos get ``deep_range`` modules (their closures
    dominate the fixpoint's work, concentrated in a few graphs)."""
    rng = random.Random(f"kg-counts:{seed}")
    counts = [rng.randint(4, 8) for _ in range(n_repos)]
    for r in rng.sample(range(n_repos), n_deep):
        counts[r] = rng.randint(*deep_range)
    return counts


def corpus_rows(seed: int, counts: list) -> list:
    """``code_files(repo, path, commit, lang, content)`` rows, one file per
    module, bodies from the program's own deterministic module generator."""
    from rify_spark.extract.synthetic import module_content

    rows = []
    for r, m_count in enumerate(counts):
        for m in range(m_count):
            commit = hashlib.sha256(f"{seed}:{r}:{m}".encode()).hexdigest()[:12]
            rows.append(
                (f"repo_{r}", f"src/mod_{m}.py", commit, "python",
                 module_content(r, m, 3, seed))
            )
    return rows


# --- serve: an ancestry forest under a read/write mix ----------------------

SERVE_GRAPH = "default_graph"
KINDS = ("alpha", "beta", "gamma", "delta")


def forest(seed: int, n_nodes: int, n_roots: int) -> tuple:
    """(parent edges, kind labels) of a seeded forest over ``n<i>`` nodes:
    each non-root hangs under a uniformly chosen earlier node (a random
    recursive tree, depth ~ ln n); roots and every 16th node carry a
    ``kind`` label."""
    rng = random.Random(f"forest:{seed}")
    roots = set(range(n_roots))
    parent = {}
    for i in range(n_roots, n_nodes):
        parent[i] = rng.randrange(0, i)
    kinds = {i: rng.choice(KINDS) for i in range(n_nodes) if i in roots or i % 16 == 0}
    return parent, kinds
