#!/usr/bin/env python3
"""The repository's benchmark.

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 15 --trace 0

Run from the repository root. Generates its inputs from ``--seed`` in a
work directory under the root, starts Spark through
``pikes_spark.session.get_spark`` with its defaults on ``local[nproc]``,
sets up (session start, warm-up), measures the workload for
``--seconds`` of operation time, checks every output, prints each
metric with its unit and, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones. Exits 1 when
a check failed, 2 when the package is missing. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from typing import Dict, List

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("bulk_build", "sparql_serve")
N_DOCS = 500           # generated documents per seed (plus the 15 gold pages)
WARM_BUILDS = 1        # bulk_build: untimed builds before timing
WARM_ROUNDS = 3        # sparql_serve: untimed rounds (every template each)
MIN_BUILDS = 3         # bulk_build: timed builds per run, whatever --seconds says
MIN_ROUNDS = 3         # sparql_serve: timed rounds per run

END_TO_END = {
    "setup_s": "s",
    "work_s": "s",
    "stored_bytes_per_triple": "B",
}
# the `component` tags distill emits on the generated corpus; a tag
# outside this list is kept in the run record but not reported
_J3_COMPONENTS = (
    "mention", "mention_link", "instance", "edge", "meta", "attribute",
    "type_fn", "role_fn", "role_fb", "role_nb", "type_sumo", "type_nb",
    "role_pb", "role_vn", "type_fb", "role_sem", "type_pb", "type_vn",
    "factuality", "type_entity", "link", "owltime", "sameas", "type_eso",
    "type_yago", "type_timex", "include")
PER_LAYER: Dict[str, str] = {
    "session.start_s": "s", "session.peak_rss_mb": "MB",
    "j1.wall_s": "s", "j1.cpu_s": "s", "j1.boundary_s": "s",
    "j1.py_bytes_sent": "B", "j1.py_bytes_received": "B",
    "j1.docs_in": "count", "j1.docs_error": "count", "j1.docs_guarded": "count",
    "htmltext.extract_ms_p50": "ms",
    "nlp.annotate_ms_p50": "ms", "nlp.annotate_ms_p90": "ms",
    "j2.wall_s": "s", "j2.mentions": "count", "j2.links": "count",
    "j2.link_ratio": "ratio",
    "j3.wall_s": "s", "j3.cpu_s": "s",
    "j3.py_bytes_sent": "B", "j3.py_bytes_received": "B",
    "distill.doc_ms_p50": "ms", "j3.triples": "count",
    **{f"j3.triples.{c}": "count" for c in _J3_COMPONENTS},
    "j3.docs_without_triples": "count",
    "j4.wall_s": "s", "j4.cpu_s": "s", "j4.shuffle_bytes": "B",
    "j4.spill_bytes": "B", "j4.sameas_edges": "count",
    "j4.components": "count", "j4.largest_component": "count",
    "j4.triples_in": "count", "j4.triples_out": "count",
    "j5.spo_s": "s", "j5.pos_s": "s", "j5.spo_bytes": "B",
    "j5.pos_bytes": "B", "j5.files": "count",
    "pipeline.unattributed_s": "s",
    **{f"kgquery.{c}.{k}": u for c in ("point", "analytic")
       for k, u in (("compile_ms", "ms"), ("execute_ms", "ms"),
                    ("jobs", "count"), ("bytes_read", "B"), ("rows", "count"))},
    "serve.point_p50_ms": "ms", "serve.point_tail_ms": "ms",
    "serve.analytic_p50_ms": "ms", "serve.analytic_tail_ms": "ms",
    "trace.overhead_s": "s",
}


def _environment(work: str) -> None:
    """Pin everything the run depends on to the checkout and the host:
    Spark's core count, where workers import the package from, temp
    and shuffle dirs, and resource resolution (an empty resource root
    means every resource misses and the in-code fixtures run)."""
    from host import RESOURCES, host_cpus

    for sub in ("input", "resources", "tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    os.environ["PIKES_RESOURCES_DIR"] = os.path.join(work, "resources")
    for env, _ in RESOURCES:
        os.environ.pop(env, None)


def _start(work: str, trace: bool):
    from pikes_spark.session import get_spark

    extra = None
    if trace:
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
                 "spark.eventLog.compress": "false"}
    t0 = time.perf_counter()
    spark = get_spark(app="perfbench", extra_conf=extra)
    return spark, time.perf_counter() - t0


def bulk_build(args, work: str, sf_dir: str, docs: Dict) -> Dict:
    import host
    import kg
    from eventlog import fold_dir
    from spans import Tracer

    t_setup = time.perf_counter()
    spark, session_s = _start(work, args.trace)
    docs_in = len(docs["doc_id"]) + len(kg.GOLD_PAGES)
    problems: List[str] = []
    walls, traced, untraced_walls = [], [], []
    attempted = failed = 0
    try:
        fp = host.fingerprint(spark)
        ref_digest = None
        for i in range(WARM_BUILDS):
            out = os.path.join(work, f"warm{i}")
            _, m = kg.build(spark, sf_dir, out)
            ok, ref_digest, why = kg.check_build(out, m["added_triples"])
            problems += why
            shutil.rmtree(out)
        setup_s = time.perf_counter() - t_setup
        tracer = Tracer(spark.sparkContext)
        bpt, triples = [], 0
        with host.PeakRss(host.jvm_process().pid) as rss:
            i = 0
            while i < MIN_BUILDS or sum(walls) < args.seconds:
                out = os.path.join(work, f"kg{i}")
                if args.trace and i % 2 == 0:
                    t = kg.traced_build(spark, tracer, sf_dir, out, str(len(traced)))
                    wall, added, digest = t["wall_s"], t["added_triples"], t["spo_digest"]
                    traced.append(t)
                    ok = digest == ref_digest
                    why = [] if ok else [f"traced digest {digest} != untraced {ref_digest}"]
                else:
                    wall, m = kg.build(spark, sf_dir, out)
                    added = m["added_triples"]
                    ok, digest, why = kg.check_build(out, added)
                    if digest != ref_digest:
                        ok = False
                        why.append(f"build digest {digest} != warm-up {ref_digest}")
                    untraced_walls.append(wall)
                walls.append(wall)
                n_ann, n_err = kg.error_docs(out)
                attempted += docs_in
                failed += docs_in if not ok else n_err
                problems += why
                bpt.append(kg.bytes_per_triple(out))
                triples = added
                shutil.rmtree(out)
                i += 1
    finally:
        host.stop_spark(spark)
    fp.update(state=f"warm: {WARM_BUILDS} untimed builds first", triples=triples,
              documents=docs_in, walls_s=[round(w, 4) for w in walls],
              peak_rss_mb=round(rss.peak_mb))
    if not args.trace:
        # min-of-N: the first timed build still runs slower while the
        # JIT warms, and build-to-build noise is one-sided
        metrics = {"setup_s": setup_s, "work_s": min(walls),
                   "stored_bytes_per_triple": stats.median(bpt)}
        return dict(metrics=metrics, attempted=attempted, failed=failed,
                    problems=problems, fingerprint=fp)
    rules = kg.rule_timings(docs)
    folded = fold_dir(os.path.join(work, "events"))
    metrics = kg.layer_metrics(traced, tracer, folded, rules, docs_in,
                               n_ann, n_err)
    metrics["session.start_s"] = session_s
    metrics["session.peak_rss_mb"] = rss.peak_mb
    metrics["trace.overhead_s"] = (min(t["wall_s"] for t in traced)
                                   - min(untraced_walls))
    return dict(metrics=metrics, attempted=attempted, failed=failed,
                problems=problems, fingerprint=fp, spans=tracer.spans)


def sparql_serve(args, work: str, sf_dir: str, docs: Dict) -> Dict:
    import host
    import kg
    import serve
    from eventlog import fold_dir
    from spans import Tracer

    t_setup = time.perf_counter()
    spark, session_s = _start(work, args.trace)
    kg_root = os.path.join(work, "kg")
    problems: List[str] = []
    rounds, untraced_rounds, traced_rounds = [], [], []
    try:
        fp = host.fingerprint(spark)
        _, m = kg.build(spark, sf_dir, kg_root)
        ok, _, why = kg.check_build(kg_root, m["added_triples"])
        problems += why
        store = serve.Store(kg.parquet_files(kg.latest(kg_root, "triples")["data_dirs"]))
        client = serve.Client(spark, kg_root, store,
                              serve.Mix(args.seed, store.param_pools()))
        for _ in range(WARM_ROUNDS):
            client.round(keep=False)
        # warm-up queries are not part of the result
        client.attempted = client.failed = 0
        failed_setup = 0 if ok else 1
        setup_s = time.perf_counter() - t_setup
        tracer = Tracer(spark.sparkContext)
        with host.PeakRss(host.jvm_process().pid) as rss:
            i = 0
            while i < MIN_ROUNDS or sum(rounds) < args.seconds:
                if args.trace and i % 2 == 0:
                    traced_rounds.append(client.round(tracer, str(i)))
                    rounds.append(traced_rounds[-1])
                else:
                    untraced_rounds.append(client.round())
                    rounds.append(untraced_rounds[-1])
                i += 1
    finally:
        host.stop_spark(spark)
    problems += client.problems
    attempted = client.attempted + 1
    failed = client.failed + failed_setup
    class_m, tails = serve.class_metrics(
        client.samples, fold_dir(os.path.join(work, "events")) if args.trace else None)
    fp.update(state=f"warm: {WARM_ROUNDS} untimed rounds of every template",
              triples=m["added_triples"], documents=len(docs["doc_id"]) + len(kg.GOLD_PAGES),
              walls_s=[round(w, 4) for w in rounds], tails=tails,
              peak_rss_mb=round(rss.peak_mb))
    if not args.trace:
        metrics = {"setup_s": setup_s, "work_s": client.round_cost(),
                   "stored_bytes_per_triple": kg.bytes_per_triple(kg_root)}
    else:
        metrics = dict(class_m)
        metrics["session.start_s"] = session_s
        metrics["session.peak_rss_mb"] = rss.peak_mb
        metrics["trace.overhead_s"] = (stats.median(traced_rounds)
                                       - stats.median(untraced_rounds))
    return dict(metrics=metrics, attempted=attempted, failed=failed,
                problems=problems, fingerprint=fp, spans=tracer.spans)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "pikes_spark")):
        print(f"pikes_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    _environment(work)
    try:
        import corpus

        sf_dir = os.path.join(work, "input")
        docs = corpus.documents(args.seed, N_DOCS)
        corpus.write_documents(args.seed, N_DOCS, sf_dir)
        run = bulk_build if args.workload == "bulk_build" else sparql_serve
        res = run(args, work, sf_dir, docs)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = PER_LAYER if args.trace else END_TO_END
    metrics = {k: {"value": float(res["metrics"].get(k, 0.0)), "unit": u}
               for k, u in wanted.items()}
    correct = not res["problems"] and res["failed"] == 0
    res["fingerprint"].update(workload=args.workload, seed=args.seed,
                              seconds=args.seconds, trace=args.trace)
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{tag}.json"), "w", encoding="utf-8") as fh:
        json.dump({"fingerprint": res["fingerprint"], "metrics": metrics,
                   "problems": res["problems"], "spans": res.get("spans", [])},
                  fh, indent=1)
    for p in res["problems"]:
        print("CHECK FAILED:", p)
    for k, v in metrics.items():
        print(f"{k:32s} {v['value']:>16.6g} {v['unit']}")
    print("error_frac", res["failed"] / res["attempted"])
    print("fingerprint", json.dumps(res["fingerprint"], sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
