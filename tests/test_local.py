"""The driver-resident engine (rify_spark/local.py) behind list-sized
``api.infer`` / ``api.prove``: exact parity with the Spark fixpoint in
string space, no Spark jobs, and proof depth free of recursion limits."""

import pytest
from hypothesis import given, settings, strategies as st

from rify_spark import (
    Bound as B,
    ExhaustedSearchSpace,
    InferConfig,
    Rule,
    Unbound as U,
    api,
    infer,
    prove,
    validate,
)
from rify_spark.pipeline import code_ontology_rules
from conftest import spark_fixpoint
from test_property import _SETTINGS, CONSTS, VARS, _atom, facts_st


@st.composite
def _rule_st(draw):
    """Range-restricted rules with up to three body atoms, so the join order
    (smallest candidate set first) has something to choose."""
    body_pool = [U(v) for v in VARS] + [B(c) for c in CONSTS]
    body = draw(st.lists(_atom(body_pool), min_size=0, max_size=3))
    body_vars = {e.value for a in body for e in a if e.is_var}
    head_pool = [B(c) for c in CONSTS] + [U(v) for v in sorted(body_vars)]
    head = draw(st.lists(_atom(head_pool), min_size=1, max_size=2))
    return Rule.create([list(a) for a in body], [list(a) for a in head])


def _outcome(fn, *args):
    try:
        return fn(*args)
    except ExhaustedSearchSpace:
        return ExhaustedSearchSpace


@settings(max_examples=8, **_SETTINGS)
@given(
    facts=facts_st,
    rules=st.lists(_rule_st(), min_size=1, max_size=3),
    data=st.data(),
)
def test_local_engine_equals_spark_string_engine(spark, facts, rules, data):
    """Same closure in the same order, and the same proof step for step (or
    the same ExhaustedSearchSpace), as the Spark fixpoint over strings."""
    cfg = InferConfig(encode_terms=False)
    got = infer(spark, facts, rules, cfg)
    with spark_fixpoint():
        assert got == infer(spark, facts, rules, cfg)

    known = sorted({t for q in facts for t in q} | {
        t for r in rules for t in r.bound_terms()
    })
    if not known:
        return
    term = st.sampled_from(known)
    candidates = sorted(set(got) | set(facts))
    goal = st.tuples(term, term, term, term)
    if candidates:
        goal = st.one_of(st.sampled_from(candidates), goal)
    goals = data.draw(st.lists(goal, min_size=1, max_size=3), label="goals")
    local_outcome = _outcome(prove, spark, facts, goals, rules, cfg)
    with spark_fixpoint():
        assert local_outcome == _outcome(prove, spark, facts, goals, rules, cfg)


def _repo_premises(g="graph://repo_1", modules=12):
    """One repository graph shaped like the KG pipeline's canonical quads:
    each module defines two symbols, calls into an earlier module and
    sometimes imports one."""
    mods = [f"repo://repo_1/src/mod_{k}.py" for k in range(modules)]
    quads = []
    for k, mod in enumerate(mods):
        for j in range(2):
            quads.append((f"sym://repo_1/mod_{k}/f{j}", "defines", mod, g))
        if k:  # two calls into the previous module: tied derivations
            for a, b in (("f0", "f1"), ("f1", "f0")):
                quads.append((f"sym://repo_1/mod_{k}/{a}", "calls",
                              f"sym://repo_1/mod_{k - 1}/{b}", g))
        if k % 3 == 2:
            quads.append((mod, "imports", mods[k - 2], g))
    quads.append((mods[1], "imports", "mod://repo_0.mod_0", g))
    goals = [(mods[1], "depends_on", mods[0], g),
             (mods[2], "depends_on", mods[0], g),
             (mods[1], "depends_on", "mod://repo_0.mod_0", g)]
    return mods, quads, goals


def test_list_sized_prove_runs_no_spark_job(spark):
    _, premises, goals = _repo_premises()
    rules = code_ontology_rules()
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    proof = prove(spark, premises, goals, rules)
    assert set(tracker.getJobIdsForGroup(None)) == before
    valid = validate(rules, proof)
    assert all(q in valid.implied for q in goals)
    assert valid.assumed <= set(premises)


def test_kg_shaped_proof_ties_match_spark_string_engine(spark):
    """Round-1 ties between call-rule instantiations resolve to the same
    minimum (rule_index, instantiation) on both engines."""
    _, premises, goals = _repo_premises()
    rules = code_ontology_rules()
    cfg = InferConfig(encode_terms=False)
    got = prove(spark, premises, goals, rules, cfg)
    with spark_fixpoint():
        assert got == prove(spark, premises, goals, rules, cfg)
    assert got[0].instantiations[0] == "sym://repo_1/mod_1/f0"


def test_prove_over_2000_node_chain_has_no_recursion_limit(spark):
    n = 1999  # edges: nodes n0..n1999
    facts = [(f"n{i}", "next", f"n{i + 1}", "g") for i in range(n)]
    facts.append((f"n{n}", "reached", "yes", "g"))
    assert api._runs_local(InferConfig())  # one Spark round per node otherwise
    rules = [Rule.create(
        [[U("a"), B("next"), U("b"), U("g")], [U("b"), B("reached"), B("yes"), U("g")]],
        [[U("a"), B("reached"), B("yes"), U("g")]],
    )]
    goal = ("n0", "reached", "yes", "g")
    proof = prove(spark, facts, [goal], rules)
    assert len(proof) == n
    valid = validate(rules, proof)
    assert goal in valid.implied and valid.assumed == set(facts)


@pytest.mark.parametrize(
    "cfg, local",
    [
        (InferConfig(), True),
        (InferConfig(encode_terms=False, collect_arguments_max_rows=0), True),
        (InferConfig(checkpoint_dir="ck"), False),
        (InferConfig(resume=True), False),
        (InferConfig(max_iterations=3), False),
    ],
)
def test_gate_keeps_spark_iteration_requests_on_spark(cfg, local):
    assert api._runs_local(cfg) is local
