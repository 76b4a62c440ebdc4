"""The benchmark's own checks: seeded inputs, oracles, metric names.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
No Spark session is started.
"""

import json
import re
from pathlib import Path

from perfbench import gen, oracle, run, serve
from rify_spark.pipeline import code_ontology_rules
from rify_spark.reference import naive_closure
from rify_spark.rules import RuleApplication

ROOT = Path(__file__).resolve().parents[2]


def _toy_forest(seed):
    parent, kinds = gen.forest(seed, 40, 3)
    return oracle.ServeMirror(
        {f"n{c}": f"n{p}" for c, p in parent.items()},
        {f"n{n}": k for n, k in kinds.items()},
        gen.SERVE_GRAPH,
    )


def test_same_seed_same_inputs():
    for seed in (1, 7):
        c1 = gen.repo_module_counts(seed, 30, 2, (24, 32))
        assert c1 == gen.repo_module_counts(seed, 30, 2, (24, 32))
        assert gen.corpus_rows(seed, c1[:4]) == gen.corpus_rows(seed, c1[:4])
        assert gen.forest(seed, 100, 4) == gen.forest(seed, 100, 4)
    assert gen.forest(1, 100, 4) != gen.forest(2, 100, 4)


def test_corpus_is_heavy_tailed():
    counts = gen.repo_module_counts(3, 80, 2, (12, 16))
    assert sum(m >= 12 for m in counts) == 2
    assert all(4 <= m <= 8 for m in counts if m < 12)


def _toy_canonical(seed, counts):
    """Canonical quads of the toy corpus, resolved by hand from the module
    sources: imports of sibling modules and calls to defined functions link
    inside the repo graph; other references stay unresolved mentions."""
    quads = set()
    for repo, path, _, _, content in gen.corpus_rows(seed, counts):
        g = f"graph://{repo}"
        mod = f"repo://{repo}/{path}"
        sym = None
        for line in content.splitlines():
            if line.startswith("import "):
                name = line.split()[1]
                o = (f"repo://{repo}/src/{name}.py" if name.startswith("mod_")
                     else f"mod://{name}")
                quads.add((mod, "imports", o, g))
            elif line.startswith("from "):
                _, pkg, _, name = line.split()
                quads.add((mod, "imports", f"mod://{pkg}.{name}", g))
            elif line.startswith("def "):
                sym = line[4:line.index("(")]
                quads.add((f"{mod}#{sym}", "defines", mod, g))
            elif "(" in line and sym:
                callee = line.split("=")[1].strip().split("(")[0]
                m = callee.split("_")[1]
                quads.add((f"{mod}#{sym}", "calls",
                           f"repo://{repo}/src/mod_{m}.py#{callee}", g))
    return quads


def test_kg_oracle_matches_reference_chainer():
    counts = [3, 5, 2]
    prem = _toy_canonical(11, counts)
    derived = naive_closure(prem, code_ontology_rules()) - prem
    assert derived == oracle.kg_expected(counts)
    assert len(oracle.kg_expected([8] * 5000)) == 259_992


def test_serve_oracle_matches_reference_chainer():
    m = _toy_forest(4)
    assert m.closure() == naive_closure(m.premises(), serve.serve_rules())
    # after the workload's write shape: new leaves, some under new leaves
    m.parent["m0"] = "n5"
    m.parent["m1"] = "m0"
    assert m.closure() == naive_closure(m.premises(), serve.serve_rules())


def test_proof_checker():
    rules = serve.serve_rules()
    g = gen.SERVE_GRAPH
    prem = [("a", "parent", "b", g), ("b", "parent", "c", g)]
    goal = [("a", "anc", "c", g)]
    proof = [RuleApplication(0, ("a", "b", g)), RuleApplication(0, ("b", "c", g)),
             RuleApplication(1, ("a", "b", g, "c"))]
    assert oracle.check_proof(rules, proof, prem, goal)
    assert not oracle.check_proof(rules, proof[1:], prem, goal)


def test_metric_names():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in bench[k]]
    names += [w["name"] for w in bench["workloads"]]
    names += list(run.END_TO_END) + list(run.PER_LAYER)
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", n), n
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
