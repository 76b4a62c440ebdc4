"""Infer end-to-end tests — ports of reference src/infer.rs:108-275 vectors.

Each runs through both the hash-encoded (default) and raw-string engine
paths where it adds coverage.
"""

import pytest

from rify_spark import Bound as B, InferConfig, Rule, Unbound as U, infer

DG = "default_graph"


def decl_rules(rs):
    return [Rule.create(ifa, then) for ifa, then in rs]


def ancestry_rules(parent="parent", ancestor="ancestor", dg=DG):
    return decl_rules(
        [
            (
                [[U("a"), B(parent), U("b"), B(dg)]],
                [[U("a"), B(ancestor), U("b"), B(dg)]],
            ),
            (
                [
                    [U("a"), B(ancestor), U("b"), B(dg)],
                    [U("b"), B(ancestor), U("c"), B(dg)],
                ],
                [[U("a"), B(ancestor), U("c"), B(dg)]],
            ),
        ]
    )


@pytest.mark.parametrize("encode", [True, False])
def test_ancestry(spark, encode):
    # reference src/infer.rs:117-154: 10-node parent cycle => full closure
    nodes = [f"node_{n}" for n in range(10)]
    facts = [
        (a, "parent", b, DG)
        for a, b in zip(nodes, nodes[1:] + nodes[:1])
    ]
    out = infer(spark, facts, ancestry_rules(), InferConfig(encode_terms=encode))
    expected = sorted(
        (a, "ancestor", b, DG) for a in nodes for b in nodes
    )
    assert out == expected


def test_unconditional_rule(spark):
    # reference src/infer.rs:157-165
    rules = decl_rules([([], [[B("nachos"), B("are"), B("food"), B(DG)]])])
    out = infer(spark, [], rules)
    assert out == [("nachos", "are", "food", DG)]


def test_reasoning_is_already_complete(spark):
    # reference src/infer.rs:168-179
    facts = [
        ("nachos", "are", "tasty", DG),
        ("nachos", "are", "food", DG),
    ]
    rules = decl_rules(
        [
            (
                [[B("nachos"), B("are"), B("tasty"), B(DG)]],
                [[B("nachos"), B("are"), B("food"), B(DG)]],
            )
        ]
    )
    assert infer(spark, facts, rules) == []


def test_empty_ruleset(spark):
    # reference src/infer.rs:182-191
    facts = [
        ("nachos", "are", "tasty", DG),
        ("nachos", "are", "food", DG),
    ]
    assert infer(spark, facts, []) == []


def test_empty_claimgraph(spark):
    # reference src/infer.rs:194-203
    rules = decl_rules(
        [
            (
                [[B("nachos"), B("are"), B("tasty"), B(DG)]],
                [[B("nachos"), B("are"), B("food"), B(DG)]],
            )
        ]
    )
    assert infer(spark, [], rules) == []


def test_duplicate_premises_deduped(spark):
    # premises deduped before inference; never reported (src/infer.rs:32-34,79-98)
    facts = [
        ("a", "parent", "b", DG),
        ("a", "parent", "b", DG),
    ]
    out = infer(spark, facts, ancestry_rules())
    assert out == [("a", "ancestor", "b", DG)]


def test_sum_of_consecutive_ints_is_odd(spark):
    # reference src/infer.rs:206-274: 5-rule symbolic-math chain
    facts = [
        ("B", "is a consecutive int to", "A", DG),
        ("A+B", "result of op", "op_add_A_B", DG),
        ("op_add_A_B", "op_type", "add", DG),
        ("op_add_A_B", "left_hand", "A", DG),
        ("op_add_A_B", "right_hand", "B", DG),
    ]
    rules = decl_rules(
        [
            (
                [[U("y"), B("is a consecutive int to"), U("x"), B(DG)]],
                [[U("y"), B("equals (t -> t+1) of"), U("x"), B(DG)]],
            ),
            (
                [
                    [U("y"), B("is type"), B("int"), B(DG)],
                    [U("x"), B("is type"), B("int"), B(DG)],
                    [U("x+y"), B("result of op"), U("op1"), B(DG)],
                    [U("op1"), B("op_type"), B("add"), B(DG)],
                    [U("op1"), B("left_hand"), U("x"), B(DG)],
                    [U("op1"), B("right_hand"), U("y"), B(DG)],
                ],
                [[U("x+y"), B("is type"), B("int"), B(DG)]],
            ),
            (
                [
                    [U("y"), B("equals (t -> t+1) of"), U("x"), B(DG)],
                    [U("x+y"), B("result of op"), U("op1"), B(DG)],
                    [U("op1"), B("op_type"), B("add"), B(DG)],
                    [U("op1"), B("left_hand"), U("x"), B(DG)],
                    [U("op1"), B("right_hand"), U("y"), B(DG)],
                ],
                [[U("x+y"), B("equals (t -> 2*t+1) of"), U("x"), B(DG)]],
            ),
            (
                [
                    [U("v"), B("equals (t -> 2*t+1) of"), U("w"), B(DG)],
                    [U("v"), B("is type"), B("int"), B(DG)],
                    [U("w"), B("is type"), B("int"), B(DG)],
                ],
                [[U("v"), B("is"), B("odd"), B(DG)]],
            ),
            (
                [[U("p"), B("is a consecutive int to"), U("q"), B(DG)]],
                [
                    [U("p"), B("is type"), B("int"), B(DG)],
                    [U("q"), B("is type"), B("int"), B(DG)],
                ],
            ),
        ]
    )
    out = infer(spark, facts, rules)
    assert ("A+B", "is", "odd", DG) in out


def test_non_string_terms(spark):
    # reference is generic over Bound: Ord; u32 terms (src/prove.rs:630-637)
    nodes = list(range(10, 14))
    facts = [(a, 1, b, 2) for a, b in zip(nodes, nodes[1:] + nodes[:1])]
    rules = decl_rules(
        [
            ([[U("a"), B(1), U("b"), B(2)]], [[U("a"), B(99), U("b"), B(2)]]),
        ]
    )
    out = infer(spark, facts, rules)
    assert sorted(out) == sorted(
        (a, 99, b, 2) for a, b in zip(nodes, nodes[1:] + nodes[:1])
    )


def test_graph_is_a_join_column(spark):
    # graph separation: ?g cannot straddle graphs (src/prove.rs:443-500 shape)
    rules = decl_rules(
        [
            (
                [
                    [U("boi"), B("is"), B("awesome"), U("g")],
                    [U("boi"), B("score"), U("s"), U("g")],
                ],
                [[U("boi"), B("score"), B("awesome"), U("g")]],
            )
        ]
    )
    same_graph = [
        ("you", "score", "unspecified", DG),
        ("you", "is", "awesome", DG),
    ]
    assert infer(spark, same_graph, rules) == [("you", "score", "awesome", DG)]
    split = [
        ("you", "score", "unspecified", DG),
        ("you", "is", "awesome", "other_graph"),
    ]
    assert infer(spark, split, rules) == []


def test_intra_atom_repeated_variable(spark):
    # [?a ?a ?b ?g] must only match quads with s == p
    rules = decl_rules(
        [
            (
                [[U("a"), U("a"), U("b"), U("g")]],
                [[U("b"), B("selfpred_of"), U("a"), U("g")]],
            )
        ]
    )
    facts = [
        ("x", "x", "y", DG),
        ("x", "z", "y", DG),
    ]
    assert infer(spark, facts, rules) == [("y", "selfpred_of", "x", DG)]


def test_head_can_create_multiple_atoms(spark):
    rules = decl_rules(
        [
            (
                [[U("a"), B("p"), U("b"), U("g")]],
                [
                    [U("a"), B("q"), U("b"), U("g")],
                    [U("b"), B("r"), U("a"), U("g")],
                ],
            )
        ]
    )
    facts = [("1", "p", "2", DG)]
    assert infer(spark, facts, rules) == [
        ("1", "q", "2", DG),
        ("2", "r", "1", DG),
    ]


def test_unconditional_head_equal_to_premise_not_reported(spark):
    rules = decl_rules([([], [[B("a"), B("b"), B("c"), B(DG)]])])
    facts = [("a", "b", "c", DG)]
    assert infer(spark, facts, rules) == []


def test_disconnected_body_cross_product(spark):
    # body atoms sharing no variables require a cartesian join
    rules = decl_rules(
        [
            (
                [
                    [U("a"), B("p"), U("b"), B(DG)],
                    [U("c"), B("q"), U("d"), B(DG)],
                ],
                [[U("a"), B("pq"), U("d"), B(DG)]],
            )
        ]
    )
    facts = [
        ("1", "p", "2", DG),
        ("3", "q", "4", DG),
        ("5", "q", "6", DG),
    ]
    assert infer(spark, facts, rules) == [
        ("1", "pq", "4", DG),
        ("1", "pq", "6", DG),
    ]


def test_broadcast_cutoff_is_memory_and_cores_aware(spark):
    from rify_spark.infer import InferConfig, _broadcast_cutoff_rows, _heap_mb

    heap = _heap_mb(spark)
    assert heap > 0
    cfg = InferConfig()
    cut = _broadcast_cutoff_rows(spark, cfg)
    assert cut <= cfg.broadcast_delta_max_rows
    # at the test session's <=8 cores the cores clamp is the identity
    assert cut == min(cfg.broadcast_delta_max_rows, heap * 500)
    # a small heap must clamp below a raised cutoff (the 2-core OOM case:
    # a 4 GB executor cannot absorb a multi-million-row broadcast build)
    big = InferConfig(broadcast_delta_max_rows=5_000_000)
    assert min(big.broadcast_delta_max_rows, 4096 * 500) < big.broadcast_delta_max_rows
    # the cores clamp halves the cap per parallelism doubling beyond 8
    # (the serial HashedRelation build is the Amdahl term), floored at 64k
    cap8 = max(64_000, cfg.broadcast_delta_max_rows * 8 // 8)
    cap32 = max(64_000, cfg.broadcast_delta_max_rows * 8 // 32)
    assert cap8 == cfg.broadcast_delta_max_rows
    assert cap32 == cfg.broadcast_delta_max_rows // 4
    assert max(64_000, cfg.broadcast_delta_max_rows * 8 // 1024) == 64_000


def test_seed_plan_pruning_preserves_fixpoint(spark):
    """Predicate-dead seeded plans are skipped without changing the derived
    set: once the delta is all `anc`, the parent-seeded and likes-seeded
    plans must not be built."""
    from rify_spark.api import infer_df
    from rify_spark.infer import InferConfig
    from rify_spark.rules import Bound as B, Rule, Unbound as U

    edges = [(f"n{i}", "parent", f"n{i // 2}", "g") for i in range(1, 32)] + [
        (f"n{i}", "likes", f"n{(i * 7) % 31}", "g") for i in range(1, 10)
    ]
    facts = spark.createDataFrame(edges, "s string, p string, o string, g string")
    rules = [
        Rule.create(
            [[U("a"), B("parent"), U("b"), U("g")]],
            [[U("a"), B("anc"), U("b"), U("g")]],
        ),
        Rule.create(
            [
                [U("a"), B("anc"), U("b"), U("g")],
                [U("b"), B("anc"), U("c"), U("g")],
            ],
            [[U("a"), B("anc"), U("c"), U("g")]],
        ),
        Rule.create(
            [[U("a"), B("likes"), U("b"), U("g")]],
            [[U("b"), B("liked_by"), U("a"), U("g")]],
        ),
    ]
    # fuse_rounds=1: this test asserts per-round plan counts, which fusion
    # deliberately coarsens (plans_built sums the fused rounds)
    df_on, fx_on = infer_df(
        spark, facts, rules,
        config=InferConfig(prune_seed_plans=True, fuse_rounds=1),
    )
    df_off, fx_off = infer_df(
        spark, facts, rules,
        config=InferConfig(prune_seed_plans=False, fuse_rounds=1),
    )
    assert sorted(map(tuple, df_on.collect())) == sorted(map(tuple, df_off.collect()))
    # 4 seed plans exist (1 + 2 + 1); after iteration 1 the delta carries
    # only anc (+liked_by in it1's output), so later iterations build fewer
    on_plans = [m["plans_built"] for m in fx_on.metrics if "plans_built" in m]
    off_plans = [m["plans_built"] for m in fx_off.metrics if "plans_built" in m]
    assert off_plans and all(p == 4 for p in off_plans)
    # iteration 1: seed delta has {parent, likes} but no anc yet -> the two
    # anc-seeded plans are dead (2 live); iteration 2+: delta is anc (+
    # liked_by once) -> parent/likes-seeded plans are dead (2 live)
    assert on_plans and all(0 < p < 4 for p in on_plans)
    assert sum(on_plans) < sum(off_plans)


def test_hot_values_sampled_detection(spark):
    """_hot_values must find a dominant key even when sampling kicks in
    (hot_scan_sample_rows << occurrence count)."""
    from pyspark.sql import functions as F

    from rify_spark.infer import InferConfig, _hot_values

    n = 4000
    facts = spark.range(n).select(
        F.concat(F.lit("n"), F.col("id")).alias("s"),
        F.lit("p").alias("p"),
        F.when(F.col("id") % 2 == 0, F.lit("hub"))
        .otherwise(F.concat(F.lit("m"), F.col("id")))
        .alias("o"),
        F.lit("g").alias("g"),
    )
    cfg = InferConfig(hot_value_min_share=0.2, hot_scan_sample_rows=500)
    hot = _hot_values(facts, n, cfg)
    assert len(hot) == 1  # "hub" holds 25% of s/o occurrences; no one else is close
    cfg_off = InferConfig(salt_hot_values=False)
    assert _hot_values(facts, n, cfg_off) == []


def test_fixpoint_rescan_hot_on_compact_preserves_results(spark):
    """A deep linear chain with frequent compaction + hot-key rescan and
    forced shuffle joins must derive exactly the plain closure."""
    from rify_spark.api import infer_df
    from rify_spark.infer import InferConfig
    from rify_spark.rules import Bound as B, Rule, Unbound as U

    n = 12
    edges = [(f"c{i}", "parent", f"c{i + 1}", "g") for i in range(n)]
    facts = spark.createDataFrame(edges, "s string, p string, o string, g string")
    rules = [
        Rule.create(
            [[U("a"), B("parent"), U("b"), U("g")]],
            [[U("a"), B("anc"), U("b"), U("g")]],
        ),
        Rule.create(
            [
                [U("a"), B("anc"), U("b"), U("g")],
                [U("b"), B("parent"), U("c"), U("g")],
            ],
            [[U("a"), B("anc"), U("c"), U("g")]],
        ),
    ]
    cfg = InferConfig(
        broadcast_delta_max_rows=0,
        store_compact_every=2,
        rescan_hot_on_compact=True,
        hot_value_min_share=0.05,
        hot_salt_n=4,
        # this test needs the GENERIC loop to run one iteration per link so
        # compaction + hot-rescan actually trigger; the doubling rewrite
        # would close the chain in O(log n) rounds via tc.py
        rewrite_linear_recursion=False,
    )
    df, fx = infer_df(spark, facts, rules, config=cfg)
    got = sorted(map(tuple, df.collect()))
    want = sorted(
        (f"c{i}", "anc", f"c{j}", "g")
        for i in range(n)
        for j in range(i + 1, n + 1)
    )
    assert got == want
    # linear rule: one hop per fused round, fuse_rounds hops per iteration
    assert fx.iterations >= n // InferConfig().fuse_rounds
    assert any(m.get("compacted") for m in fx.metrics)


def test_store_partitions_grow_at_compaction(spark):
    """A store that outgrows its seed-time width must re-pick the block
    partition count at compaction (all blocks re-blocked to ONE width) and
    still derive the exact closure."""
    from rify_spark.api import infer_df
    from rify_spark.infer import InferConfig
    from rify_spark.rules import Bound as B, Rule, Unbound as U

    n = 14
    edges = [(f"c{i}", "parent", f"c{i + 1}", "g") for i in range(n)]
    facts = spark.createDataFrame(edges, "s string, p string, o string, g string")
    rules = [
        Rule.create(
            [[U("a"), B("parent"), U("b"), U("g")]],
            [[U("a"), B("anc"), U("b"), U("g")]],
        ),
        Rule.create(
            [
                [U("a"), B("anc"), U("b"), U("g")],
                [U("b"), B("parent"), U("c"), U("g")],
            ],
            [[U("a"), B("anc"), U("c"), U("g")]],
        ),
    ]

    # rows_per_partition is a FactStore ctor arg, not an InferConfig knob:
    # patch the ctor default so a ~100-quad closure triggers growth
    # (rify_spark.__init__ re-exports the infer *function*, shadowing the
    # module attribute — resolve the module via sys.modules)
    import sys

    inf = sys.modules["rify_spark.infer"]

    orig = inf.FactStore.__init__

    def patched(self, spark_, fixed_partitions=None, compact_every=8,
                rows_per_partition=200_000):
        orig(self, spark_, fixed_partitions=fixed_partitions,
             compact_every=2, rows_per_partition=8)

    inf.FactStore.__init__ = patched
    try:
        df, fx = infer_df(spark, facts, rules, config=InferConfig())
        got = sorted(map(tuple, df.collect()))
    finally:
        inf.FactStore.__init__ = orig
    want = sorted(
        (f"c{i}", "anc", f"c{j}", "g")
        for i in range(n)
        for j in range(i + 1, n + 1)
    )
    assert got == want
    widths = [m["store_partitions"] for m in fx.metrics if "store_partitions" in m]
    assert widths and widths[-1] > widths[0], f"no growth: {widths}"


def test_derived_union_equals_anti_join(spark):
    """infer_df's derived set (union of tracked per-iteration deltas +
    unconditional heads) must equal the facts-minus-premises anti-join on a
    case with duplicate premises, unconditional rules whose heads repeat a
    premise, and a multi-iteration closure."""
    from rify_spark.api import infer_df
    from rify_spark.infer import InferConfig
    from rify_spark.rules import Bound as B, Rule, Unbound as U

    edges = [(f"c{i}", "parent", f"c{i + 1}", "g") for i in range(6)]
    dup = edges + edges[:3]  # duplicates in the input
    facts = spark.createDataFrame(dup, "s string, p string, o string, g string")
    rules = [
        # unconditional: one head equal to a premise, one novel
        Rule.create([], [[B("c0"), B("parent"), B("c1"), B("g")]]),
        Rule.create([], [[B("axiom"), B("is"), B("true"), B("g")]]),
        Rule.create(
            [[U("a"), B("parent"), U("b"), U("g")]],
            [[U("a"), B("anc"), U("b"), U("g")]],
        ),
        Rule.create(
            [
                [U("a"), B("anc"), U("b"), U("g")],
                [U("b"), B("anc"), U("c"), U("g")],
            ],
            [[U("a"), B("anc"), U("c"), U("g")]],
        ),
    ]
    derived, res = infer_df(spark, facts, rules, config=InferConfig())
    got = sorted(map(tuple, derived.collect()))
    # oracle: full facts minus deduped premises
    anti = res.facts
    prem = facts.dropDuplicates(["s", "p", "o", "g"])
    from rify_spark.dictionary import encode_quads

    want = sorted(
        map(
            tuple,
            res.facts.join(
                encode_quads(prem), ["s", "p", "o", "g"], "left_anti"
            ).collect(),
        )
    )
    # decode side: compare by count + the novel unconditional head presence
    assert len(got) == len(want)
    assert ("axiom", "is", "true", "g") in got
    assert ("c0", "parent", "c1", "g") not in got  # premise-equal head excluded
    assert ("c0", "anc", "c6", "g") in got
    # input_deduped on pre-deduped input gives the identical set
    derived2, _ = infer_df(
        spark, prem, rules, config=InferConfig(input_deduped=True)
    )
    assert sorted(map(tuple, derived2.collect())) == got


def test_store_growth_triggers_on_rows_not_only_block_count(spark):
    """A closure with FEW iterations but steep growth must still re-pick its
    block width: the row-based compaction trigger fires even when the block
    chain never reaches compact_every (the BIGRUN shape: ~22x growth in 7
    iterations vs the default compact_every=8)."""
    from rify_spark.infer import FactStore

    store = FactStore(spark, compact_every=100, rows_per_partition=50)
    quad = ["cast(id as string) as s", "'p' as p", "'o' as o", "'g' as g"]
    store.seed(spark.range(8).selectExpr(*quad))
    w0 = store.partitions
    assert w0 is not None

    big = spark.range(100, 1100).selectExpr(*quad).localCheckpoint()
    blk = store.stage_block(big)
    n = blk.count()
    store.add_block(blk, rows=n, src=big)
    assert store.total_rows == 1008
    assert store.just_compacted, "row-growth compaction did not fire"
    assert store.partitions > w0, f"width did not grow: {w0} -> {store.partitions}"
    assert store.union().count() == 1008


def test_fixpoint_scopes_constraint_propagation(spark):
    """The constraintPropagation off-toggle is scoped to the fixpoint run:
    whatever the caller had set is restored on exit (round 5: the global
    off in session.py cost the shallow ops queries ~10%, AB_KNN_LSH.json)."""
    from rify_spark.api import infer_df
    from rify_spark.rules import Bound as B, Rule, Unbound as U

    key = "spark.sql.constraintPropagation.enabled"
    rules = [
        Rule.create(
            [[U("a"), B("p"), U("b"), U("g")]],
            [[U("a"), B("q"), U("b"), U("g")]],
        )
    ]
    facts = spark.createDataFrame(
        [("x", "p", "y", "g")], "s string, p string, o string, g string"
    )
    saved = spark.conf.get(key)
    try:
        for preset in ("true", "false"):
            spark.conf.set(key, preset)
            infer_df(spark, facts, rules)
            assert spark.conf.get(key) == preset
    finally:
        spark.conf.set(key, saved)


def test_fused_iterations_reach_identical_fixpoint(spark):
    """Iteration fusion (fuse_rounds>1) is a coarser chaotic iteration of the
    same monotone operator: the derived set must be identical to plain
    semi-naive, in fewer outer iterations. Exercises the re-seeded fused
    rounds (delta_k = round-k novelty minus earlier fused novelty,
    facts = store ∪ accumulated novelty, F_old = the previous round's
    facts) including the head-predicate prune set. fuse_rounds=3 covers
    the k>=3 accumulation path: round 3 joins round-1 novelty against
    round-2 novelty inside ONE outer iteration, which the pre-fix code
    (round_facts rebuilt from the pre-fusion store) could not do."""
    from rify_spark.api import infer_df
    from rify_spark.infer import InferConfig
    from rify_spark.rules import Bound as B, Rule, Unbound as U

    # 64-deep chain => 6+ semi-naive iterations; plus a renaming rule so the
    # fused round-2 prune set sees several head predicates
    edges = [(f"n{i}", "parent", f"n{i+1}", "g") for i in range(64)]
    facts = spark.createDataFrame(edges, "s string, p string, o string, g string")
    rules = [
        Rule.create(
            [[U("a"), B("parent"), U("b"), U("g")]],
            [[U("a"), B("anc"), U("b"), U("g")]],
        ),
        Rule.create(
            [
                [U("a"), B("anc"), U("b"), U("g")],
                [U("b"), B("anc"), U("c"), U("g")],
            ],
            [[U("a"), B("anc"), U("c"), U("g")]],
        ),
    ]
    # rewrite detection OFF: the pure nonlinear pair would otherwise
    # delegate to smart TC (tc.py) and never reach the fused generic loop
    # this test exists to exercise
    df_plain, fx_plain = infer_df(
        spark, facts, rules,
        config=InferConfig(fuse_rounds=1, rewrite_linear_recursion=False),
    )
    expected = sorted(map(tuple, df_plain.collect()))
    for k in (2, 3):
        df_fused, fx_fused = infer_df(
            spark, facts, rules,
            config=InferConfig(
                fuse_rounds=k,
                fuse_below_rows=10**9,
                rewrite_linear_recursion=False,
            ),
        )
        assert sorted(map(tuple, df_fused.collect())) == expected
        assert fx_fused.iterations < fx_plain.iterations
        assert any(m.get("fused_rounds") == k for m in fx_fused.metrics)


def test_tiered_compaction_keeps_base_and_exact_union(spark):
    """Past compact_every the store folds only the geometric TAIL of the
    prefix (LSM tiering): the big base block is never rewritten by
    chain-length compactions, the chain stays bounded, and
    union()/union_except_last() stay exact. This is what keeps per-batch
    walls flat in a long-running incremental stream — the full fold paid
    O(store) every ~compact_every appends."""
    from rify_spark.infer import FactStore

    quad = ["cast(id as string) as s", "'p' as p", "'o' as o", "'g' as g"]
    store = FactStore(spark, compact_every=3, rows_per_partition=10**9)
    store.seed(spark.range(10_000).selectExpr(*quad))
    base = store.blocks[0]
    lo = 10_000
    for _ in range(6):
        src = spark.range(lo, lo + 50).selectExpr(*quad).localCheckpoint()
        blk = store.stage_block(src)
        n = blk.count()
        store.add_block(blk, rows=n, src=src)
        lo += 50
        assert len(store.blocks) <= store.compact_every + 1
        assert store.blocks[0] is base, "tiered merge must not rewrite the base"
        assert sum(store.block_rows) == store.total_rows
    assert store.total_rows == 10_300
    assert store.union().count() == 10_300
    assert store.union_except_last().count() == 10_250


@pytest.mark.parametrize("smart_tc", [True, False])
def test_fixpoint_on_session_without_shuffle_width(spark, smart_tc):
    """A session not built by get_spark may leave spark.sql.shuffle.partitions
    unset: the fixpoint (tc.py for the TC pair, infer.py otherwise) reads the
    built-in default and leaves the key unset on exit."""
    from rify_spark.api import infer_df

    key = "spark.sql.shuffle.partitions"
    s = spark.newSession()
    s.conf.unset(key)
    nodes = [f"node_{n}" for n in range(4)]
    facts = [(a, "parent", b, DG) for a, b in zip(nodes, nodes[1:])]
    df = s.createDataFrame(facts, "s string, p string, o string, g string")
    derived, _ = infer_df(
        s, df, ancestry_rules(), InferConfig(encode_terms=False, smart_tc=smart_tc)
    )
    assert sorted(map(tuple, derived.collect())) == sorted(
        (a, "ancestor", b, DG) for i, a in enumerate(nodes) for b in nodes[i + 1:]
    )
    assert s.conf.get(key, None) is None
