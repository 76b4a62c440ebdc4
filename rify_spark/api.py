"""User-facing API: ``infer``, ``prove``, ``validate`` — the reference's
three entry points (src/lib.rs:14-17).

List inputs run on the driver-resident engine (local.py): no Spark job,
no session access. Requests that set ``checkpoint_dir``, ``resume`` or
``max_iterations``, and the DataFrame entry point ``infer_df``, run the
Spark fixpoint. Both engines give the same ``infer`` closure in the same
order. A ``prove`` step keeps the first round's derivation of its quad,
with ties going to the smallest ``(rule_index, instantiation)``. The
driver-resident engine compares codec strings, so its proofs equal Spark's
under ``InferConfig(encode_terms=False)``. Under the default hashed ids a
tie may resolve to a different, equally valid derivation.

Front half shared by all entry points, mirroring the reference lifecycle
(translate -> lower -> reason in id space -> translate back):

  1. term codec: arbitrary orderable Python terms -> strings (the reference
     is generic over ``Bound: Ord``; our engines require strings, so
     non-string terms are mapped through a driver-side bijection — only
     meaningful for list-sized inputs, which is the only place non-string
     terms can occur);
  2. optional dictionary encoding (Spark only): strings -> 128-bit (h, l)
     ids (dictionary.py);
  3. rule lowering (rules.py: lower_rule);
  4. fixpoint (local.py, or infer.py / prove.py);
  5. decode back.

DataFrame-level entry points (``infer_df``) skip steps 1 and 5 and are what
the KG-construction pipeline uses.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass
from typing import Iterable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import dictionary as D
from . import local
from .errors import ExhaustedSearchSpace, NovelName
from .infer import (
    SPOG,
    FixpointResult,
    InferConfig,
    derived_facts,
    fixpoint,
    seed_facts,
)
from .prove import (
    LowApplication,
    collect_reachable_arguments,
    prove_fixpoint,
    recall_proof,
)
from .rules import Rule, RuleApplication, freeze_term, lower_rule, thaw_term
from .validate import Valid, valid_to_dfs, validate  # re-export  # noqa: F401

_QUAD_STR_SCHEMA = "s string, p string, o string, g string"
_NONSTR_PREFIX = "\x00t"


class TermCodec:
    """Bijection between user terms and engine strings.

    Identity when every term is already a string (the common case and the
    only scale-relevant one). Otherwise each distinct term gets a reserved
    surrogate string in first-appearance order.
    """

    def __init__(self, terms: Iterable) -> None:
        terms = list(terms)
        self.identity = all(isinstance(t, str) for t in terms)
        if self.identity:
            for t in terms:
                if t.startswith(_NONSTR_PREFIX):
                    raise ValueError("terms may not start with the reserved codec prefix")
            return
        self._fwd: dict = {}
        self._back: dict = {}
        for t in terms:
            if t not in self._fwd:
                key = f"{_NONSTR_PREFIX}{len(self._fwd)}"
                self._fwd[t] = key
                self._back[key] = t

    def encode(self, term):
        return term if self.identity else self._fwd[term]

    def decode(self, s):
        return s if self.identity else self._back[s]


def _all_terms(premises: Sequence, rules: Sequence[Rule], extra: Sequence = ()):
    return itertools.chain(
        (x for q in premises for x in q),
        (t for r in rules for t in r.bound_terms()),
        (x for q in extra for x in q),
    )


def _check_quads(quads: Sequence) -> list:
    out = []
    for q in quads:
        q = tuple(freeze_term(x) for x in q)
        if len(q) != 4:
            raise ValueError(f"facts are quads; got {len(q)} elements")
        out.append(q)
    return out


# List requests run on the driver-resident engine (local.py). Their premises
# are in driver memory already, and the Spark path collects the whole closure
# to the driver too. Measured with api.infer on a 4-core local[4] session
# (driver heap 2 GB), Spark vs driver-resident, the driver won at every size:
#   code-ontology repos (pipeline.code_ontology_rules): 9.3 s vs 0.03 s at
#     1k premises, 10.9 s vs 2.2 s at 50k;
#   a linear-TC chain, whose closure is quadratic in the premises: 12.5 s vs
#     0.4 s at 250 edges, 47.4 s vs 30.7 s at 2,000 (2M derived quads).
def _runs_local(cfg: InferConfig) -> bool:
    """Whether a list request runs on the driver-resident engine: it asks
    nothing about the Spark iteration process (checkpoints, resume, an
    iteration cap)."""
    return (
        cfg.checkpoint_dir is None
        and not cfg.resume
        and cfg.max_iterations is None
    )


def _encode_quads(codec: TermCodec, quads: Sequence) -> list:
    return [tuple(codec.encode(x) for x in q) for q in quads]


def _lower_strings(rules: Sequence[Rule], codec: TermCodec) -> list:
    """Rules lowered to codec-string space (no dictionary ids)."""
    return [lower_rule(r, i, codec.encode) for i, r in enumerate(rules)]


@dataclass
class _Lowered:
    """Shared front half: encoded premise DF + lowered rules + decode state."""

    premises_df: DataFrame      # string space, not deduped
    facts_in: DataFrame         # engine value space, not deduped
    lrules: list
    dtype_str: str
    dict_df: Optional[DataFrame]
    codec: TermCodec


def _lower_inputs(
    spark: SparkSession,
    premises: Sequence,
    rules: Sequence[Rule],
    cfg: InferConfig,
    codec: TermCodec,
) -> _Lowered:
    prem_str = _encode_quads(codec, premises)
    bound_strs = list(
        dict.fromkeys(codec.encode(t) for r in rules for t in r.bound_terms())
    )
    premises_df = spark.createDataFrame(prem_str, _QUAD_STR_SCHEMA)
    if cfg.encode_terms:
        const_ids = D.hash_terms(spark, bound_strs)
        facts_in = D.encode_quads(premises_df)
        dict_df = D.build_dict_audited(
            spark,
            premises_df if prem_str else None,
            bound_strs,
            audit=cfg.collision_audit,
        )
        lrules = [
            lower_rule(r, i, lambda t: const_ids[codec.encode(t)])
            for i, r in enumerate(rules)
        ]
        dtype_str = D.ID_TYPE
    else:
        facts_in = premises_df
        dict_df = None
        lrules = _lower_strings(rules, codec)
        dtype_str = "string"
    return _Lowered(premises_df, facts_in, lrules, dtype_str, dict_df, codec)


def infer(
    spark: SparkSession,
    premises: Sequence,
    rules: Sequence[Rule],
    config: Optional[InferConfig] = None,
) -> list:
    """All derivable quads not among the premises (src/infer.rs:9-26).

    Returns a sorted list of 4-tuples. The reference returns insertion
    order; its own tests sort before comparing (src/infer.rs:148-153), and
    set semantics is the honest contract for a distributed engine.
    """
    cfg = config or InferConfig()
    premises = _check_quads(premises)
    codec = TermCodec(_all_terms(premises, rules))
    if _runs_local(cfg):
        rows = local.infer(
            _encode_quads(codec, premises), _lower_strings(rules, codec)
        )
    else:
        low = _lower_inputs(spark, premises, rules, cfg, codec)
        facts0 = seed_facts(spark, low.facts_in, low.lrules, low.dtype_str)
        res = fixpoint(spark, facts0, low.lrules, cfg, track_deltas=True)
        derived = derived_facts(
            spark, res, low.facts_in.dropDuplicates(SPOG), low.lrules, low.dtype_str
        )
        if low.dict_df is not None:
            derived = D.decode_quads(derived, low.dict_df)
        rows = sorted(tuple(r) for r in derived.collect())
    # thaw so structured terms round-trip to their original JSON shapes
    return [tuple(thaw_term(codec.decode(x)) for x in q) for q in rows]


def infer_df(
    spark: SparkSession,
    facts_df: DataFrame,
    rules: Sequence[Rule],
    config: Optional[InferConfig] = None,
) -> tuple[DataFrame, FixpointResult]:
    """DataFrame-level infer over string-term quads (columns s,p,o,g).

    Returns (derived_df in string space, FixpointResult). This is the
    KG-pipeline entry point: no collect, no codec.
    """
    cfg = config or InferConfig()
    bound_strs = list(dict.fromkeys(t for r in rules for t in r.bound_terms()))
    for t in bound_strs:
        if not isinstance(t, str):
            raise TypeError("infer_df requires string terms in rules")
    audit_thread = None
    audit_err: list = []
    if cfg.encode_terms:
        const_ids = D.hash_terms(spark, bound_strs)
        facts_in = D.encode_quads(facts_df)
        # the collision audit is a driver barrier independent of inference
        # until decode: run its job in a background thread overlapped with
        # the fixpoint iterations (Spark's scheduler handles concurrent job
        # submission; at high core counts the audit hides entirely in
        # otherwise-idle slots, at low counts it fair-shares). Joined —
        # and re-raised — before decode reads the dictionary.
        dict_df, audit_fn = D.build_dict_deferred(spark, facts_df, bound_strs)
        if cfg.collision_audit:
            # InheritableThread, not threading.Thread: it propagates the
            # py4j thread-local connection / local properties and cleans up
            # the paired JVM thread on exit (a bare Thread leaks JVM threads
            # under pinned-thread mode)
            from pyspark import InheritableThread

            def _run_audit() -> None:
                try:
                    audit_fn()
                except Exception as e:  # noqa: BLE001 — re-raised at join
                    audit_err.append(e)

            audit_thread = InheritableThread(target=_run_audit, daemon=True)
            audit_thread.start()
        lrules = [lower_rule(r, i, lambda t: const_ids[t]) for i, r in enumerate(rules)]
        dtype_str = D.ID_TYPE
    else:
        dict_df = None
        lrules = [lower_rule(r, i, lambda t: t) for i, r in enumerate(rules)]
        facts_in = facts_df.select(*SPOG)
        dtype_str = "string"
    facts0 = seed_facts(
        spark, facts_in, lrules, dtype_str, assume_deduped=cfg.input_deduped
    )
    try:
        res = fixpoint(spark, facts0, lrules, cfg, track_deltas=True)
        prem_dedup = facts_in if cfg.input_deduped else facts_in.dropDuplicates(SPOG)
        derived = derived_facts(spark, res, prem_dedup, lrules, dtype_str)
    finally:
        # joined even when the fixpoint raises, so the audit thread is never
        # abandoned mid-job; a collision found while the fixpoint ALSO
        # failed must not mask the fixpoint's error, hence the re-raise
        # below is outside the finally
        if audit_thread is not None:
            audit_thread.join()
    if audit_err:
        raise audit_err[0]
    if dict_df is not None:
        derived = D.decode_quads(derived, dict_df)
    return derived, res


def prove(
    spark: SparkSession,
    premises: Sequence,
    to_prove: Sequence,
    rules: Sequence[Rule],
    config: Optional[InferConfig] = None,
) -> list:
    """Locate a proof of ``to_prove`` from ``premises`` under ``rules``
    (src/prove.rs:58-88). Returns a list of :class:`RuleApplication`.

    Raises :class:`NovelName` if a goal mentions an unknown term and
    :class:`ExhaustedSearchSpace` if no proof exists.
    """
    cfg = config or InferConfig()
    premises = _check_quads(premises)
    to_prove = _check_quads(to_prove)

    known = set(x for q in premises for x in q) | {
        t for r in rules for t in r.bound_terms()
    }
    for q in to_prove:
        for x in q:
            if x not in known:
                raise NovelName()

    codec = TermCodec(_all_terms(premises, rules, extra=to_prove))
    goals_str = _encode_quads(codec, to_prove)
    if _runs_local(cfg):
        lproof = local.prove(
            _encode_quads(codec, premises), goals_str, _lower_strings(rules, codec)
        )
    else:
        lproof = _prove_spark(spark, premises, goals_str, rules, cfg, codec)
    return [
        RuleApplication(
            app.rule_index, tuple(codec.decode(v) for v in app.instantiations)
        )
        for app in lproof
    ]


def _prove_spark(
    spark: SparkSession,
    premises: list,
    goals_str: list,
    rules: Sequence[Rule],
    cfg: InferConfig,
    codec: TermCodec,
) -> list:
    """The Spark half of :func:`prove`: the proof as :class:`LowApplication`
    steps over codec strings."""
    low = _lower_inputs(spark, premises, rules, cfg, codec)
    if cfg.encode_terms:
        gids = D.hash_terms(spark, [x for q in goals_str for x in q])
        goal_quads = [tuple(gids[x] for x in q) for q in goals_str]
        goals_df = spark.createDataFrame(
            goal_quads,
            f"s {D.ID_TYPE}, p {D.ID_TYPE}, o {D.ID_TYPE}, g {D.ID_TYPE}",
        )
    else:
        goal_quads = goals_str
        goals_df = spark.createDataFrame(goals_str, _QUAD_STR_SCHEMA)

    prem_dedup = low.facts_in.dropDuplicates(SPOG)
    facts0 = seed_facts(spark, low.facts_in, low.lrules, low.dtype_str)
    res = prove_fixpoint(
        spark, facts0, prem_dedup, goals_df, low.lrules, cfg, low.dtype_str
    )

    if goals_df.join(res.facts, SPOG, "left_anti").count() > 0:
        raise ExhaustedSearchSpace()

    args = collect_reachable_arguments(
        spark, res.arguments, goal_quads, low.lrules, cfg, low.dtype_str
    )
    lproof = recall_proof(goal_quads, args, low.lrules)
    if low.dict_df is None:
        return lproof

    # raise: engine values -> terms (src/common.rs:52-77)
    ids = {tuple(v) for app in lproof for v in app.instantiations}
    back = {}
    if ids:
        iddf = spark.createDataFrame([(v,) for v in ids], f"id {D.ID_TYPE}")
        rows = low.dict_df.join(F.broadcast(iddf), "id", "left_semi").collect()
        back = {tuple(r["id"]): r["term"] for r in rows}
    return [
        LowApplication(
            app.rule_index, tuple(back[tuple(v)] for v in app.instantiations)
        )
        for app in lproof
    ]
