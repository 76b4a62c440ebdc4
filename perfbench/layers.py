"""Traced composition of the inference path.

``api.infer`` runs: encode the premises, build the audited dictionary, lower
the rules, seed, run the fixpoint, take the derived quads, decode. The traced
run calls those public functions itself, one span each, so that self times
stay disjoint; ``matcher.round1`` re-runs the first semi-naive round's rule
bodies through ``matcher.bindings`` to count its candidates.
"""

from __future__ import annotations


def traced_infer(spark, facts_df, rules, tr):
    """Derived quads of ``rules`` over the SPOG-unique string quads
    ``facts_df``, configured as ``run_pipeline`` configures a small input."""
    from rify_spark import dictionary as D
    from rify_spark.infer import InferConfig, derived_facts, fixpoint, seed_facts
    from rify_spark.matcher import bindings, project_heads
    from rify_spark.rules import lower_rule

    cfg = InferConfig(input_deduped=True, use_stats=False, salt_hot_values=False)
    bound = list(dict.fromkeys(t for r in rules for t in r.bound_terms()))
    with tr.span("dictionary.encode"):
        const_ids = D.hash_terms(spark, bound)
        facts_in = D.encode_quads(facts_df).localCheckpoint(eager=True)
    with tr.span("dictionary.audit"):
        dict_df = D.build_dict_audited(spark, facts_df, bound)
        tr.count("dictionary.terms", dict_df.count())
    lrules = [lower_rule(r, i, lambda t: const_ids[t]) for i, r in enumerate(rules)]
    with tr.span("infer.seed"):
        facts0 = seed_facts(spark, facts_in, lrules, D.ID_TYPE,
                            assume_deduped=True).localCheckpoint(eager=True)
    with tr.span("matcher.round1"):
        dtype = facts0.schema["s"].dataType
        cands = [project_heads(bindings(facts0, lr), lr, dtype) for lr in lrules if lr.body]
        n_cand = sum(c.count() for c in cands)
        tr.count("matcher.round1_candidates", n_cand)
    with tr.span("infer.fixpoint"):
        res = fixpoint(spark, facts0, lrules, cfg, track_deltas=True)
    with tr.span("infer.derived"):
        derived = derived_facts(spark, res, facts_in, lrules, D.ID_TYPE).localCheckpoint(eager=True)
    with tr.span("dictionary.decode"):
        out = D.decode_quads(derived, dict_df).localCheckpoint(eager=True)
        n_derived = out.count()
    walls = [m.get("wall_s", 0.0) for m in res.metrics]
    deltas = [m.get("delta_rows", 0) for m in res.metrics]
    tr.count("infer.iterations", res.iterations)
    tr.count("infer.derived_rows", n_derived)
    tr.count("infer.max_delta_rows", max(deltas, default=0))
    tr.count("infer.iter_wall_max_s", max(walls, default=0.0))
    tr.count("infer.plans_built", sum(m.get("plans_built", 0) for m in res.metrics))
    tr.count("matcher.round1_novel", deltas[0] if deltas else 0)
    return out
