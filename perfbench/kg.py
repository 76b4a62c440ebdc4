"""``kg_build``: code corpus -> canonical quads -> code-ontology closure,
then a provenance question answered with ``prove`` and checked with
``validate``.

Untraced, the build is one ``pipeline.run_pipeline`` call whose derived
quads are forced through a noop sink. Traced, the harness composes the same
stages from the modules' public functions, forcing each boundary, so every
layer gets its own span and row counts.
"""

from __future__ import annotations

import os
import random
import time

from . import gen, oracle

# sizes: ~500 files; two deep repos make the closure take 6 rounds
N_REPOS = 80
N_DEEP = 2
DEEP_RANGE = (12, 16)
# corpus generation is cheap: repeated, the median goes into setup_s
SETUP_REPEATS = 3


def setup(ctx) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    counts = gen.repo_module_counts(ctx.seed, N_REPOS, N_DEEP, DEEP_RANGE)
    rows = gen.corpus_rows(ctx.seed, counts)
    path = os.path.join(ctx.workdir, "corpus.parquet")
    cols = ("repo", "path", "commit", "lang", "content")
    pq.write_table(pa.table({c: list(v) for c, v in zip(cols, zip(*rows))}), path)
    return {"counts": counts, "files": len(rows), "path": path,
            "expected": oracle.kg_expected(counts)}


def _build_untraced(spark, code_files):
    from rify_spark.pipeline import run_pipeline

    res = run_pipeline(spark, code_files)
    res.derived.write.format("noop").mode("overwrite").save()
    return res.canonical, res.derived


def _build_traced(spark, code_files, tr):
    """The pipeline's stages composed from public functions, each boundary
    forced so that its span holds exactly its own work."""
    from rify_spark.extract.canonicalize import canonicalize_quads
    from rify_spark.extract.code import assert_sha256, extract_triples
    from rify_spark.pipeline import candidate_links, code_ontology_rules, link_mapping

    from .layers import traced_infer

    with tr.span("extract.triples"):
        triples = extract_triples(assert_sha256(code_files)).localCheckpoint(eager=True)
        n_triples = triples.count()
    with tr.span("extract.links"):
        links = candidate_links(triples).localCheckpoint(eager=True)
        tr.count("extract.links_rows", links.count())
    with tr.span("extract.canonicalize"):
        canonical = canonicalize_quads(triples, link_mapping(links)).localCheckpoint(eager=True)
        n_canonical = canonical.count()
    tr.count("extract.triples_rows", n_triples)
    tr.count("extract.canonical_rows", n_canonical)
    derived = traced_infer(spark, canonical, code_ontology_rules(), tr)
    return canonical, derived


def _goals(seed: int, counts: list) -> tuple:
    """A seeded small repo and ``depends_on`` goals inside it that need the
    call, import and transitivity rules (each provable within two rounds)."""
    rng = random.Random(f"kg-goals:{seed}")
    r = rng.choice([i for i, m in enumerate(counts) if m <= 8 and i > 0])
    iri = [f"repo://repo_{r}/src/mod_{k}.py" for k in range(3)]
    g = f"graph://repo_{r}"
    return g, [(iri[1], "depends_on", iri[0], g),
               (iri[2], "depends_on", iri[0], g),
               (iri[1], "depends_on", f"mod://repo_{r - 1}.mod_0", g)]


def run(ctx, st: dict) -> dict:
    from pyspark.sql import functions as F

    from rify_spark.api import prove
    from rify_spark.pipeline import code_ontology_rules
    from rify_spark.validate import validate

    spark, tr = ctx.spark, ctx.tracer
    builds, proves, failed, attempted = [], [], 0, 0
    outputs = {}
    t_end = time.perf_counter() + ctx.seconds
    while True:
        attempted += 1
        t0 = time.perf_counter()
        with tr.span("op.build"):
            code_files = spark.read.parquet(st["path"])
            if tr.enabled:
                canonical, derived = _build_traced(spark, code_files, tr)
            else:
                canonical, derived = _build_untraced(spark, code_files)
        builds.append(time.perf_counter() - t0)
        got = {tuple(r) for r in derived.collect()}
        ok = got == st["expected"]
        failed += not ok
        outputs["derived"] = sorted(got)
        if not ok:
            ctx.log(f"kg_build: derived {len(got)} quads, expected {len(st['expected'])}")

        # provenance: why does a module depend on another? (premises are
        # the built KG's quads of one repo graph)
        g, goals = _goals(ctx.seed, st["counts"])
        premises = [tuple(r) for r in canonical.filter(F.col("g") == g).collect()]
        rules = code_ontology_rules()
        attempted += 1
        t0 = time.perf_counter()
        with tr.span("prove.prove"):
            proof = prove(spark, premises, goals, rules)
        with tr.span("validate.validate"):
            valid = validate(rules, proof)
        proves.append(time.perf_counter() - t0)
        ok = oracle.check_proof(rules, proof, premises, goals) and all(
            q in valid.implied or q in valid.assumed for q in goals
        ) and valid.assumed <= set(premises)
        failed += not ok
        tr.count("prove.proof_steps", len(proof))
        tr.count("validate.implied", len(valid.implied))
        outputs["proof"] = [(a.rule_index, a.instantiations) for a in proof]
        if not ok:
            ctx.log("kg_build: proof did not check")
        if time.perf_counter() >= t_end:
            break
    return {
        "attempted": attempted,
        "failed": failed,
        "samples": {"build_s": builds, "prove_s": proves},
        "files": st["files"],
        "outputs": outputs,
    }
