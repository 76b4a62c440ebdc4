"""rify_spark benchmark: ``kg_build`` and ``serve`` workloads.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5

Run from the repository root. One workload per invocation prints a report
line (environment, workload-named metrics, samples, an output digest) and, as
the last line, ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
``--workload all`` runs every workload untraced and then traced with the same
seed, checks that both runs produced the same outputs, and prints every
metric with its unit plus the tracing overhead. Exits non-zero when any
output disagrees with its oracle.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("kg_build", "serve")

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "query_p50_s": "s",
    "update_p50_s": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "extract.triples_s": "s",
    "extract.triples_rows": "count",
    "extract.links_s": "s",
    "extract.links_rows": "count",
    "extract.canonicalize_s": "s",
    "extract.canonical_rows": "count",
    "extract.canonical_per_triple": "ratio",
    "dictionary.encode_s": "s",
    "dictionary.audit_s": "s",
    "dictionary.decode_s": "s",
    "dictionary.terms": "count",
    "matcher.round1_s": "s",
    "matcher.round1_candidates": "count",
    "matcher.round1_novel_ratio": "ratio",
    "infer.seed_s": "s",
    "infer.fixpoint_s": "s",
    "infer.derived_s": "s",
    "infer.iterations": "count",
    "infer.derived_rows": "count",
    "infer.max_delta_rows": "count",
    "infer.iter_wall_max_s": "s",
    "infer.plans_built": "count",
    "prove.prove_s": "s",
    "prove.proof_steps": "count",
    "validate.validate_s": "s",
    "validate.implied": "count",
    "sparql.parse_s": "s",
    "sparql.lookup_s": "s",
    "sparql.join_s": "s",
    "sparql.path_s": "s",
    "sparql.agg_s": "s",
    "sparql.rows_per_query": "count",
    "streaming.insert_s": "s",
    "streaming.compact_s": "s",
    "streaming.store_rows": "count",
    "streaming.store_bytes_per_quad": "B",
}


class Ctx:
    def __init__(self, spark, tracer, seed: int, seconds: float, workdir: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.workdir = workdir

    @staticmethod
    def log(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)


def _prepare_env(workdir: Path) -> dict:
    """Keep every file the run writes inside ``workdir`` and let Spark's
    Python workers import ``rify_spark`` from the checkout (pandas UDFs
    unpickle functions by module path on the workers)."""
    tmp = workdir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["RIFY_SPARK_LOCAL_DIR"] = str(workdir / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["RIFY_DRIVER_MEMORY"] = "2g"
    # the session's generic warm-up job costs more than it saves here: each
    # workload's first operation warms exactly what it uses, inside the
    # timed phase (kg_build) or the initial load (serve)
    os.environ["RIFY_SESSION_WARMUP"] = "0"
    opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.driver.extraJavaOptions": opts,
        "spark.executor.extraJavaOptions": opts,
        "spark.sql.warehouse.dir": str(workdir / "warehouse"),
    }


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()[:16]


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    if not (ROOT / "rify_spark" / "__init__.py").is_file():
        print(f"rify_spark not found under {ROOT}: run from a repository checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import envinfo, kg, serve
    from perfbench.trace import Tracer

    mod = {"kg_build": kg, "serve": serve}[workload]
    workdir = ROOT / ".bench_build" / "perfbench" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(workdir, ignore_errors=True)
    workdir.mkdir(parents=True)
    conf = _prepare_env(workdir)
    tracer = Tracer(trace, run_id=f"{workload}-{seed}-{int(time.time())}")
    cpus = os.cpu_count() or 1
    master = f"local[{cpus}]"
    cpu0 = envinfo.cpu_times()
    try:
        with envinfo.MemSampler() as mem:
            from rify_spark.session import get_spark

            t0 = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = get_spark(master=master, extra_conf=conf)
            session_s = time.perf_counter() - t0
            try:
                ctx = Ctx(spark, tracer, seed, seconds, str(workdir))
                # the session starts once per process; cheap input set-ups
                # are repeated and their median kept
                setups = []
                for _ in range(mod.SETUP_REPEATS):
                    t0 = time.perf_counter()
                    st = mod.setup(ctx)
                    setups.append(time.perf_counter() - t0)
                res = mod.run(ctx, st)
                versions = envinfo.versions(spark)
            finally:
                envinfo.stop_spark(spark)
        env = {
            "master": master,
            "steal_fraction": envinfo.steal_fraction(cpu0, envinfo.cpu_times()),
            "store_fs": envinfo.fs_type(str(workdir)),
            **versions,
        }
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    named = mod_metrics(workload, res)
    # reported, not gated: JVM heap growth makes the peak vary by up to
    # ~25% between runs
    named["peak_pss_mb"] = [mem.peak_mb, "MB"]
    report = {
        "workload": workload, "seed": seed, "trace": int(trace), "env": env,
        "named_metrics": named,
        "samples": {k: [round(x, 6) for x in v] for k, v in res["samples"].items()},
        "outputs_digest": _digest(res["outputs"]),
        "setup_repeats_s": setups,
        "op_wall_s": sum(sum(v) for v in res["samples"].values()),
    }
    if trace:
        tracer.write(str(workdir.parent / f"trace-{workload}-{seed}.json"))
        metrics = layer_metrics(tracer, session_s)
    else:
        s = res["samples"]
        if workload == "kg_build":
            query, update = s["prove_s"], s["build_s"]
            throughput = res["files"] / _median(update)
        else:
            query, update = s["read_s"], s["insert_s"]
            throughput = res["ops"] / res["wall_s"]
        values = {
            "setup_s": session_s + _median(setups),
            "throughput_per_s": throughput,
            "query_p50_s": _median(query),
            "update_p50_s": _median(update),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(report), flush=True)
    out = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }
    print(json.dumps(out), flush=True)
    return 0 if res["failed"] == 0 else 1


def mod_metrics(workload: str, res: dict) -> dict:
    """The workload's own metrics, by name with unit."""
    s = res["samples"]
    if workload == "kg_build":
        return {
            "build_files_per_s": [res["files"] / _median(s["build_s"]), "files/s"],
            "build_s": [_median(s["build_s"]), "s"],
            "prove_s": [_median(s["prove_s"]), "s"],
            "builds": [len(s["build_s"]), "count"],
        }
    return {
        "read_p50_s": [_median(s["read_s"]), "s"],
        "read_max_s": [max(s["read_s"]), "s"],
        "insert_p50_s": [_median(s["insert_s"]), "s"],
        "serve_ops_per_s": [res["ops"] / res["wall_s"], "ops/s"],
        "reads": [len(s["read_s"]), "count"],
        "inserts": [len(s["insert_s"]), "count"],
    }


def layer_metrics(tr, session_s: float) -> dict:
    """Per-layer values from the spans and counts of a traced run; a layer
    the workload does not run reads 0."""
    self_s = tr.self_times()
    c = tr.counts
    v = {k: 0.0 for k in PER_LAYER}
    v["session.get_spark_s"] = session_s
    for name in ("extract.triples", "extract.links", "extract.canonicalize",
                 "dictionary.encode", "dictionary.audit", "dictionary.decode",
                 "matcher.round1", "infer.seed", "infer.fixpoint", "infer.derived",
                 "prove.prove", "validate.validate"):
        v[f"{name}_s"] = self_s.get(name, 0.0)
    # per-request layers: mean self time per call (an insert's excludes the
    # compaction it triggers)
    reads = ("sparql.lookup", "sparql.join", "sparql.path", "sparql.agg")
    for name in reads + ("sparql.parse", "streaming.insert", "streaming.compact"):
        n = len(tr.durations(name))
        if n:
            v[f"{name}_s"] = self_s[name] / n
    n_reads = sum(len(tr.durations(name)) for name in reads)
    for k in ("extract.triples_rows", "extract.links_rows", "extract.canonical_rows",
              "dictionary.terms", "matcher.round1_candidates", "infer.iterations",
              "infer.derived_rows", "infer.max_delta_rows", "infer.iter_wall_max_s",
              "infer.plans_built", "prove.proof_steps", "validate.implied",
              "streaming.store_rows"):
        v[k] = c.get(k, 0)
    if c.get("extract.triples_rows"):
        v["extract.canonical_per_triple"] = c["extract.canonical_rows"] / c["extract.triples_rows"]
    if c.get("matcher.round1_candidates"):
        v["matcher.round1_novel_ratio"] = c.get("matcher.round1_novel", 0) / c["matcher.round1_candidates"]
    if n_reads:
        v["sparql.rows_per_query"] = c.get("sparql.rows", 0) / n_reads
    if c.get("streaming.store_rows"):
        v["streaming.store_bytes_per_quad"] = c["streaming.store_bytes"] / c["streaming.store_rows"]
    return {k: {"value": v[k], "unit": u} for k, u in PER_LAYER.items()}


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced, then traced with the same seed."""
    status = 0
    for w in WORKLOADS:
        lines = {}
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, str(Path(__file__).resolve()), "--workload", w,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=900,
            )
            out = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
            if p.returncode != 0 or len(out) < 2:
                print(f"{w} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}",
                      file=sys.stderr)
                status = 1
                break
            lines[trace] = (json.loads(out[-2]), json.loads(out[-1]))
        if len(lines) < 2:
            continue
        (rep0, res0), (rep1, res1) = lines[0], lines[1]
        print(f"== {w}: attempted {res0['attempted']}, failed {res0['failed']} "
              f"(traced: {res1['attempted']}, {res1['failed']}); env {json.dumps(rep0['env'])}")
        for name, (val, unit) in rep0["named_metrics"].items():
            print(f"  {name} = {val:.6g} {unit}")
        for name, m in res0["metrics"].items():
            print(f"  {name} = {m['value']:.6g} {m['unit']}")
        for name, m in res1["metrics"].items():
            if m["value"]:
                print(f"  [trace] {name} = {m['value']:.6g} {m['unit']}")
        print(f"  tracing overhead = {rep1['op_wall_s'] - rep0['op_wall_s']:.3f} s "
              f"(traced minus untraced wall of the timed ops)")
        same = rep0["outputs_digest"] == rep1["outputs_digest"]
        print(f"  traced outputs equal untraced: {same}")
        if not (same and res0["correct"] and res1["correct"]):
            status = 1
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.workload == "all":
        return run_all(a.seed, a.seconds)
    return run_one(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
