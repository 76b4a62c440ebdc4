"""Smart transitive closure: unique-decomposition doubling.

The naive doubling rewrite (rewrite.py) closes a k-deep chain in O(log k)
iterations, but the nonlinear rule re-derives every pair once per split
point — O(paths x length) join output, measured 114 s on the LAST iteration
alone of a 1024-link chain (vs ~1 s for the early ones). The classic fix
(smart TC, Ioannidis 1986; Valduriez & Boral's delta-wavefront variant)
gives every derivation a UNIQUE binary decomposition:

    round 1:  R <- C0             # copy-image of the edges; H-facts already
                                  # among the premises are in the store
              D <- B              # paths of length exactly 2^0 (NOT squared
                                  # yet — round 2 must consume exponent 1)
    round i = 2, 3, ...:
        R <- R ∪ (D ∘ R)          # D = B^(2^(i-2)); R = B^(<2^(i-2)) ∘ C0,
                                  # so round i adds exponents
                                  # [2^(i-2), 2^(i-1)-1], each k = 2^(i-2)+r
                                  # with exactly one (D, R) split
        D <- D ∘ D                # B^(2^(i-1)), deduplicated

so total join output is O(|closure|) for acyclic inputs (each pair produced
once per distinct path length, once total on chains/trees) while the round
count stays O(log depth). Termination: when a round adds nothing, D ∘ R ⊆ R,
hence D^m ∘ R ⊆ R for all m by induction, and any B^k ∘ C0 (k >= 2^(i-2))
factors as D^q ∘ (B^r ∘ C0) with r < 2^(i-2) and B^r ∘ C0 already ⊆ R — so
the fixpoint is complete even though D itself may keep cycling on cyclic
graphs; we stop at the first empty round (or when D itself empties).

Engaged by :func:`rify_spark.infer.fixpoint` only for the pure two-rule
linear-TC program detected by rewrite.py (``smart_eligible``), in plain
batch mode (no lineage, goals, checkpoints, incremental deltas, or store
reuse — those paths use the plain doubling rewrite or the user's own
rules). The derived fact set is identical to semi-naive evaluation of the
original program; only the derivation schedule differs.
"""

from __future__ import annotations

import hashlib
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .matcher import SPOG, term_lit

PAIR = ["s", "o", "g"]


def _tc_fingerprint(rec: dict, dtype_str: str) -> str:
    """Checkpoint identity of a smart-TC job: strategy + the detected pair.
    The ``smart_tc;`` prefix guarantees a generic-loop checkpoint directory
    (fingerprinted by infer.job_fingerprint over the lowered rules) is
    refused on resume and vice versa — the two strategies persist different
    state (smart TC needs the D wavefront; the generic loop needs F_old)."""
    h = hashlib.sha256()
    h.update(
        (
            f"smart_tc;dtype={dtype_str};p={rec['predicate']!r};"
            f"b={rec['edge_predicate']!r};dir={rec['direction']};"
            f"shape={rec.get('shape', 'linear')}"
        ).encode()
    )
    return "smart_tc:" + h.hexdigest()[:32]


def _compose(left: DataFrame, right: DataFrame) -> DataFrame:
    """Relational composition of (s, o, g) path sets within each graph:
    {(x, z, g) | (x, y, g) ∈ left, (y, z, g) ∈ right}."""
    lt = left.select(F.col("s"), F.col("o").alias("__mid"), F.col("g"))
    rt = right.select(F.col("s").alias("__mid"), F.col("o"), F.col("g"))
    return lt.join(rt, ["__mid", "g"]).select("s", "o", "g")


def smart_tc_fixpoint(
    spark: SparkSession,
    facts0: DataFrame,
    rec: dict,
    cfg,
    rewrites: list,
    track_deltas: bool = False,
):
    """Evaluate the detected linear-TC program over ``facts0`` (already
    deduplicated, value-space quads). Returns a FixpointResult whose
    ``facts`` equal the program's least fixpoint: premises ∪ copy-image ∪
    all B-path compositions, per graph."""
    from .checkpoint import CheckpointManager
    from .infer import FactStore, FixpointResult, restore_confs, saved_confs

    dtype = facts0.schema["p"].dataType
    p_lit = term_lit(rec["predicate"], dtype)
    b_lit = term_lit(rec["edge_predicate"], dtype)
    prepend = rec["direction"] == "prepend"

    store = FactStore(
        spark,
        fixed_partitions=cfg.store_partitions,
        compact_every=cfg.store_compact_every,
    )
    ckpt = (
        CheckpointManager(
            spark,
            cfg.checkpoint_dir,
            fingerprint=_tc_fingerprint(rec, dtype.simpleString()),
        )
        if cfg.checkpoint_dir
        else None
    )
    metrics: list = []
    tracked_deltas: list = []  # post-seed novel blocks == derived facts
    last_base = 0  # iteration of the newest full-facts parquet base

    # Adaptive codegen / AQE / constraint propagation, mirroring the generic
    # loop (infer.fixpoint): below the per-core threshold a round is
    # floor-bound — driver-serial janino compile plus AQE's per-exchange
    # stage-materialization jobs dominate a sub-second data path (profiled
    # ~1-1.5 s/round of the sf0.1 ancestry closure's ~1.2 s/round wall) —
    # so both flip off while the store is small and back on once the
    # closure grows data-bound. Constraint propagation is off for the whole
    # run (quad columns are non-null by construction; every join is an
    # inner equi-join), scoped here and restored in the finally, same as
    # the generic loop. Results are unaffected: all three are plan-cost
    # knobs read at compile time.
    _toggles = {
        "spark.sql.codegen.wholeStage": None,
        "spark.sql.adaptive.enabled": None,
        "spark.sql.constraintPropagation.enabled": None,
        "spark.sql.shuffle.partitions": None,
    }
    _saved = saved_confs(spark, _toggles)
    _session_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    _percore = 250_000 * max(1, spark.sparkContext.defaultParallelism)
    codegen_below = (
        cfg.codegen_below_rows if cfg.codegen_below_rows is not None else _percore
    )
    aqe_below = cfg.aqe_below_rows if cfg.aqe_below_rows is not None else _percore

    def _set_conf(key: str, on: bool) -> None:
        if _toggles[key] is not on:
            spark.conf.set(key, str(on).lower())
            _toggles[key] = on

    def _set_width(w: int) -> None:
        key = "spark.sql.shuffle.partitions"
        if _toggles[key] != w:
            spark.conf.set(key, str(w))
            _toggles[key] = w

    resumed = None
    if ckpt and cfg.resume:
        resumed = ckpt.latest()
    if resumed is not None:
        # smart-TC resume state is simpler than the generic loop's: the
        # composition reads the WHOLE R each round (no F_old split), so
        # store + post-squaring D + round number fully determine the run
        it, facts_df, _delta_df, _args, meta = resumed
        seed_lc, facts_rows = store.seed(
            facts_df, rows_hint=meta.get("facts_rows")
        )
        # bare parquet read, same as the in-loop re-point: stable one-node
        # plan, no localCheckpoint copy of the wavefront into executor
        # storage
        d = spark.read.parquet(ckpt.extra_path(it, "d.parquet"))
        d_rows = meta.get("d_rows", d.count())
        last_base = meta.get("base_iter", it)
        metrics.append(
            {
                "iteration": it,
                "resumed": True,
                "strategy": "smart_tc",
                "delta_rows": meta.get("delta_rows"),
            }
        )
    else:
        seed_lc, facts_rows = store.seed(facts0)
        it = 0

        # D = the base relation, length exactly 1. Linear shape: the B
        # edges (LFP = B* ∘ C0, and only B ever extends a path). Nonlinear
        # shape (H <- B copy; H <- H∘H): LFP = (C ∪ H0)+, so the wavefront
        # seeds from the B-image ∪ premise H-facts — deduplicated as pairs,
        # since the same (s,o,g) can occur under both predicates.
        if rec.get("shape") == "nonlinear":
            d = (
                seed_lc.filter((F.col("p") == b_lit) | (F.col("p") == p_lit))
                .select(*PAIR)
                .dropDuplicates(PAIR)
            )
        else:
            # facts0 is SPOG-unique, so (s,o,g) under the single predicate
            # B is already duplicate-free
            d = seed_lc.filter(F.col("p") == b_lit).select(*PAIR)
        d = d.localCheckpoint(eager=False)
        # D materializes lazily inside round 1's block-count job (the copy
        # round consumes it) — no dedicated count barrier; d_rows stays
        # unknown (None) until a checkpointing run needs it for meta
        d_rows = None

    try:
        _set_conf("spark.sql.constraintPropagation.enabled", False)
        while cfg.max_iterations is None or it < cfg.max_iterations:
            it += 1
            t0 = time.time()
            # the round's data volume: the compose scans the whole R plus
            # the D wavefront, so key the codegen/AQE decision to the larger
            # of the two; with a lazy (uncounted) wavefront, facts_rows
            # alone decides — it already dominates every prior delta
            work_rows = max(facts_rows, d_rows or 0)
            if codegen_below:
                _set_conf("spark.sql.codegen.wholeStage", work_rows > codegen_below)
            if aqe_below:
                _set_conf("spark.sql.adaptive.enabled", work_rows > aqe_below)
                # with AQE off nothing coalesces the session's shuffle
                # width, so a floor-bound round pays (width) near-empty
                # tasks per implicit exchange (the compose join) — size the
                # width to the round's rows, same rule as the pipeline's
                # small-input mode, and restore once the closure grows past
                # the AQE threshold (or on exit)
                if work_rows <= aqe_below:
                    _set_width(max(8, min(_session_width, work_rows // 25_000 + 1)))
                else:
                    _set_width(_session_width)
            if it == 1:
                # round 1 = the copy rule: seed the H relation with the edge
                # image. H-facts already among the premises are in the store.
                cand = d
            else:
                r = store.union().filter(F.col("p") == p_lit).select(*PAIR)
                cand = _compose(d, r) if prepend else _compose(r, d)
            cand = (
                cand.select(
                    F.col("s"), p_lit.alias("p"), F.col("o"), F.col("g")
                )
                # ONE explicit exchange per round, mirroring the main loop: the
                # s-hash satisfies the SPOG dedup clustering and co-partitions
                # the anti with every store block
                .repartition(store.partitions, "s")
                .dropDuplicates(SPOG)
            )
            novel = store.anti(cand).localCheckpoint(eager=False)
            block = store.stage_block(novel)
            delta_rows = block.count()
            if delta_rows == 0:
                block.unpersist()
                metrics.append(
                    {
                        "iteration": it,
                        "delta_rows": 0,
                        "strategy": "smart_tc",
                        "wall_s": round(time.time() - t0, 4),
                    }
                )
                if it == 1:
                    # an empty ROUND 1 only means the copy image is subsumed by
                    # premise H-facts (e.g. the program seeded entirely from H0)
                    # — no composition has run yet, so nothing is proven closed;
                    # the termination theorem (D∘R ⊆ R ⇒ D^m∘R ⊆ R) applies only
                    # to rounds that composed. Fall through to round 2.
                    continue
                break
            store.add_block(block, rows=delta_rows, src=novel)
            if track_deltas:
                tracked_deltas.append(novel)
            facts_rows += delta_rows

            # square the wavefront for the next round — but NOT after the copy
            # round, which never consumed D: round 2 must compose with D = B^1
            # (else exponent 1 — and with it every even total length — is
            # skipped). Round i >= 2 consumes D = B^(2^(i-2)) and squares it,
            # so round i adds exponents [2^(i-2), 2^(i-1)-1], each with a
            # unique (D, R) split. Stop early if D empties (no path of the
            # next power length exists).
            if it >= 2:
                d = (
                    _compose(d, d)
                    .repartition(store.partitions, "s")
                    .dropDuplicates(PAIR)
                    .localCheckpoint(eager=False)
                )
                # LAZY: the squared wavefront materializes inside the next
                # round's block-count job (its compose reads it) — removing
                # the dedicated count saved one driver barrier per round.
                # Termination still holds: an empty D makes the next
                # round's candidate set empty, so delta_rows==0 breaks one
                # (cheap, empty-compose) round later. Checkpoint mode keeps
                # an exact count below (parquet-footer read) for meta.
                d_rows = None
            metrics.append(
                {
                    "iteration": it,
                    "delta_rows": delta_rows,
                    "facts_rows": facts_rows,
                    "d_rows": d_rows,
                    "strategy": "smart_tc",
                    "store_blocks": len(store.blocks),
                    "store_partitions": store.partitions,
                    "compacted": store.just_compacted,
                    "wall_s": round(time.time() - t0, 4),
                }
            )
            if ckpt:
                # persisted AFTER the squaring so the saved D is exactly the
                # wavefront round it+1 consumes (round 1 never squares, so its
                # saved D = B^1, what round 2 needs). d.parquet lands before
                # save_iteration — meta.json stays the commit marker.
                write_base = ckpt.base_due(it, last_base, cfg.store_compact_every)
                if write_base:
                    last_base = it
                d.write.mode("overwrite").parquet(ckpt.extra_path(it, "d.parquet"))
                # re-point D at the parquet just written: bounds the D lineage
                # plan (localCheckpoint chains of compose∘compose) and drops
                # any dependency a resumed run carried on soon-pruned files
                d = spark.read.parquet(ckpt.extra_path(it, "d.parquet"))
                if d_rows is None:
                    d_rows = d.count()  # footer-count of the parquet just written
                    metrics[-1]["d_rows"] = d_rows
                ckpt.save_iteration(
                    it,
                    novel,
                    facts=store.union() if write_base else None,
                    extra_meta={
                        "facts_rows": facts_rows,
                        "delta_rows": delta_rows,
                        "d_rows": d_rows,
                        "base_iter": last_base,
                        "strategy": "smart_tc",
                    },
                )
                if write_base and not cfg.checkpoint_retain_history:
                    ckpt.prune(last_base)
            if d_rows is not None and d_rows == 0:
                break

    finally:
        restore_confs(spark, _saved, [k for k, v in _toggles.items() if v is not None])

    return FixpointResult(
        facts=store.union(),
        arguments=None,
        metrics=metrics,
        iterations=it,
        facts_rows=facts_rows,
        delta_dfs=tracked_deltas,
        rewrites=rewrites,
        resumed=resumed is not None,
    )
