"""KG construction: the untraced build, its output checks, and the
traced stage-by-stage build that attributes cost to J1-J5."""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Dict, List, Tuple

import duckdb

from pikes_spark.functions.htmltext import MAX_TEXT_LEN, extract_text, wrap_html
from pikes_spark.functions.nlp import annotate_document
from pikes_spark.operators.annotate import annotate_pages, distill_annotations
from pikes_spark.operators.canonicalize import (
    build_sameas_edges, canonicalize_triples, dissolve_composites)
from pikes_spark.operators.distill import distill_document
from pikes_spark.operators.linking import (
    candidates_df, entity_mentions, link_entities)
from pikes_spark.pipeline import raw_table_for, run_pipeline
from pikes_spark.sources.gold import GOLD_PAGES
from pikes_spark.sources.pages import pages_from_documents
from pikes_spark.sources.tables import SnapshotTable

import stats
from spans import Tracer

# run_pipeline's default, used by the traced build so both build the same KG
CC_MAX_ITER = 8
STAGES = ("J1", "J2", "J3", "J4", "J5")


def parquet_files(data_dirs: List[str]) -> List[str]:
    """The parquet files of a snapshot's data dirs, in a stable order."""
    out = []
    for d in data_dirs:
        out += [os.path.join(d, f) for f in sorted(os.listdir(d))
                if f.endswith(".parquet")]
    return out


def table_digest(data_dirs: List[str]) -> Tuple[int, str]:
    """(rows, order-insensitive digest over every column of every row)."""
    files = parquet_files(data_dirs)
    if not files:
        return 0, "0"
    n, d = duckdb.sql(
        "SELECT count(*), coalesce(sum(hash(t)::HUGEINT), 0) "
        f"FROM read_parquet({files!r}) t").fetchone()
    return int(n), str(d)


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(root):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in names)
    return total


def latest(out_root: str, table: str) -> dict:
    return SnapshotTable(os.path.join(out_root, table), name=table).latest_snapshot()


def error_docs(out_root: str) -> Tuple[int, int]:
    """(annotated documents, documents with a non-null J1 error)."""
    files = parquet_files(latest(out_root, "annotations")["data_dirs"])
    n, e = duckdb.sql(
        "SELECT count(*), count(error) "
        f"FROM read_parquet({files!r})").fetchone()
    return int(n), int(e)


def check_build(out_root: str, added_triples: int) -> Tuple[bool, str, List[str]]:
    """spo and pos hold the same rows, each as many as were added."""
    n_spo, d_spo = table_digest(latest(out_root, "triples")["data_dirs"])
    n_pos, d_pos = table_digest(latest(out_root, "triples_pos")["data_dirs"])
    problems = []
    if d_spo != d_pos:
        problems.append(f"spo digest {d_spo} != pos digest {d_pos}")
    if not n_spo == n_pos == added_triples:
        problems.append(f"rows spo={n_spo} pos={n_pos} added={added_triples}")
    return not problems, d_spo, problems


def bytes_per_triple(out_root: str) -> float:
    return dir_bytes(out_root) / latest(out_root, "triples")["total_rows"]


def build(spark, sf_dir: str, out_root: str) -> Tuple[float, dict]:
    """One bulk build into an empty store; (wall seconds, manifest)."""
    t0 = time.perf_counter()
    m = run_pipeline(spark, sf_dir, out_root, resume=False)
    return time.perf_counter() - t0, m


def traced_build(spark, tracer: Tracer, sf_dir: str, out_root: str,
                 tag: str) -> Dict:
    """run_pipeline's stages called one by one, in its order and at its
    materialization points, each inside a span whose name labels its
    Spark jobs. One extra materialization after J2 keeps link cost out
    of J3. Returns the wall time and the counts the stages produced."""
    spo = SnapshotTable(f"{out_root}/triples", ["subject", "predicate", "object"],
                        name="triples")
    pos = SnapshotTable(f"{out_root}/triples_pos", ["predicate", "object", "subject"],
                        name="triples_pos")
    t0 = time.perf_counter()
    pages = pages_from_documents(spark, sf_dir, include_gold=True)
    with tracer.span(f"J1#{tag}"):
        ann_table = SnapshotTable(f"{out_root}/annotations", name="annotations")
        ann_manifest = ann_table.append(annotate_pages(pages), spark,
                                        lineage={"sf_dir": sf_dir, "stage": "J1 annotate"})
        ann = spark.read.parquet(ann_manifest["data_dirs"][-1])
    with tracer.span(f"J2#{tag}"):
        links = link_entities(ann, candidates_df(spark)).persist()
        n_links = links.count()
    with tracer.span(f"J3#{tag}"):
        raw_manifest = raw_table_for(out_root).append(
            distill_annotations(ann, links), spark,
            lineage={"from_snapshot": ann_manifest["snapshot_id"], "stage": "J3 distill"})
    with tracer.span(f"J4#{tag}"):
        triples_raw = spark.read.parquet(*raw_manifest["data_dirs"])
        triples = canonicalize_triples(triples_raw, max_iter=CC_MAX_ITER).persist()
        n_out = triples.count()
    lineage = {"sf_dir": sf_dir, "skipped_done_urls": 0,
               "from_raw_snapshot": raw_manifest["snapshot_id"],
               "stage": "pages->annotate->link->distill->canonicalize"}
    sc = spark.sparkContext

    def write(name: str, table: SnapshotTable, lin: dict) -> dict:
        # job labels are per thread: set it in the writer thread itself
        sc.setJobDescription(f"{name}#{tag}")
        start = time.perf_counter()
        try:
            return table.overwrite(triples, spark, lin)
        finally:
            tracer.record(f"{name}#{tag}", start, time.perf_counter(), parent=None)
            sc.setJobDescription(None)

    j5_start = time.perf_counter()
    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(write, "J5.spo", spo, lineage)
        f2 = pool.submit(write, "J5.pos", pos, {"derived_from": "triples"})
        m1, m2 = f1.result(), f2.result()
    tracer.record(f"J5#{tag}", j5_start, time.perf_counter())
    wall = time.perf_counter() - t0
    triples.unpersist()

    # counts, outside every stage span (their jobs carry their own label)
    with tracer.span(f"counts#{tag}"):
        mentions = entity_mentions(ann).count()
        edges = build_sameas_edges(dissolve_composites(triples_raw)).collect()
    links.unpersist()
    comp_sizes = _component_sizes([(r["src"], r["dst"]) for r in edges])
    out = {
        "wall_s": wall, "added_triples": m1["added_rows"],
        "mentions": mentions, "links": n_links,
        "raw_triples": raw_manifest["added_rows"], "triples_out": n_out,
        "sameas_edges": len(edges), "components": len(comp_sizes),
        "largest_component": max(comp_sizes, default=0),
        "spo_bytes": sum(map(dir_bytes, m1["data_dirs"])),
        "pos_bytes": sum(map(dir_bytes, m2["data_dirs"])),
        "files": len(parquet_files(m1["data_dirs"] + m2["data_dirs"])),
        "spo_digest": table_digest(m1["data_dirs"])[1],
    }
    out.update(stage_counts(raw_manifest["data_dirs"][-1],
                            ann_manifest["data_dirs"][-1]))
    return out


def _component_sizes(edges: List[Tuple[str, str]]) -> List[int]:
    """Sizes of the sameAs components, counting instance nodes only
    (the ``surface:`` name hubs join components but are not members)."""
    parent: Dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    sizes: Dict[str, int] = {}
    for node in list(parent):
        if not node.startswith("surface:"):
            root = find(node)
            sizes[root] = sizes.get(root, 0) + 1
    return list(sizes.values())


def stage_counts(raw_dir: str, ann_dir: str) -> Dict[str, float]:
    """Per-component triple counts and documents that yielded none."""
    raw = parquet_files([raw_dir])
    ann = parquet_files([ann_dir])
    rows = dict(duckdb.sql(
        f"SELECT component, count(*) FROM read_parquet({raw!r}) GROUP BY 1"
    ).fetchall())
    (empty,) = duckdb.sql(
        f"SELECT count(*) FROM read_parquet({ann!r}) a WHERE error IS NULL AND "
        f"url NOT IN (SELECT DISTINCT url FROM read_parquet({raw!r}))").fetchone()
    counts = {f"j3.triples.{c}": float(n) for c, n in rows.items()}
    counts["j3.docs_without_triples"] = float(empty)
    return counts


def rule_timings(docs: Dict[str, List]) -> Dict[str, List[float]]:
    """In-process per-document rule time (ms) for the J1/J3 rule code on
    the documents J1's guards let through: html extraction, annotation
    and distillation, each called directly without Spark."""
    rows = [(f"http://example.org/doc/{d}", t, lang)
            for d, t, lang in zip(docs["doc_id"], docs["text"], docs["lang"])
            if lang == "en" and 0 < len(t) <= MAX_TEXT_LEN]
    rows += [(f"http://example.org/gold/{g}", t, "en") for g, t in GOLD_PAGES]
    out: Dict[str, List[float]] = {"extract": [], "annotate": [], "distill": []}
    for url, text, lang in rows:
        html = wrap_html(text)
        t0 = time.perf_counter()
        extracted = extract_text(html)
        t1 = time.perf_counter()
        ann = annotate_document(extracted)
        t2 = time.perf_counter()
        distill_document(url, extracted, ann, lang)
        t3 = time.perf_counter()
        out["extract"].append((t1 - t0) * 1e3)
        out["annotate"].append((t2 - t1) * 1e3)
        out["distill"].append((t3 - t2) * 1e3)
    return out


def layer_metrics(traced: List[Dict], tracer: Tracer, folded: Dict,
                  rules: Dict[str, List[float]], docs_in: int,
                  ann_rows: int, ann_errors: int) -> Dict[str, float]:
    """Per-layer metrics of the traced builds (medians over builds)."""
    def med(fn) -> float:
        return stats.median([fn(str(i), t) for i, t in enumerate(traced)])

    def ev(label: str, field: str) -> float:
        return float(folded.get(label, {}).get(field, 0))

    span = tracer.seconds
    rule_total_s = (sum(rules["extract"]) + sum(rules["annotate"])) / 1e3
    m = {
        "j1.wall_s": med(lambda i, t: span(f"J1#{i}")),
        "j1.cpu_s": med(lambda i, t: ev(f"J1#{i}", "cpu_s")),
        "j1.py_bytes_sent": med(lambda i, t: ev(f"J1#{i}", "py_bytes_sent")),
        "j1.py_bytes_received": med(lambda i, t: ev(f"J1#{i}", "py_bytes_received")),
        "j1.boundary_s": med(lambda i, t: ev(f"J1#{i}", "run_s")) - rule_total_s,
        "j1.docs_in": float(docs_in),
        "j1.docs_error": float(ann_errors),
        "j1.docs_guarded": float(docs_in - ann_rows),
        "htmltext.extract_ms_p50": stats.percentile(rules["extract"], 50),
        "nlp.annotate_ms_p50": stats.percentile(rules["annotate"], 50),
        "nlp.annotate_ms_p90": stats.percentile(rules["annotate"], 90),
        "j2.wall_s": med(lambda i, t: span(f"J2#{i}")),
        "j2.mentions": med(lambda i, t: t["mentions"]),
        "j2.links": med(lambda i, t: t["links"]),
        "j2.link_ratio": med(lambda i, t: t["links"] / t["mentions"] if t["mentions"] else 0.0),
        "j3.wall_s": med(lambda i, t: span(f"J3#{i}")),
        "j3.cpu_s": med(lambda i, t: ev(f"J3#{i}", "cpu_s")),
        "j3.py_bytes_sent": med(lambda i, t: ev(f"J3#{i}", "py_bytes_sent")),
        "j3.py_bytes_received": med(lambda i, t: ev(f"J3#{i}", "py_bytes_received")),
        "distill.doc_ms_p50": stats.percentile(rules["distill"], 50),
        "j3.triples": med(lambda i, t: t["raw_triples"]),
        "j4.wall_s": med(lambda i, t: span(f"J4#{i}")),
        "j4.cpu_s": med(lambda i, t: ev(f"J4#{i}", "cpu_s")),
        "j4.shuffle_bytes": med(lambda i, t: ev(f"J4#{i}", "shuffle_write_bytes")),
        "j4.spill_bytes": med(lambda i, t: ev(f"J4#{i}", "spill_bytes")),
        "j4.sameas_edges": med(lambda i, t: t["sameas_edges"]),
        "j4.components": med(lambda i, t: t["components"]),
        "j4.largest_component": med(lambda i, t: t["largest_component"]),
        "j4.triples_in": med(lambda i, t: t["raw_triples"]),
        "j4.triples_out": med(lambda i, t: t["triples_out"]),
        "j5.spo_s": med(lambda i, t: span(f"J5.spo#{i}")),
        "j5.pos_s": med(lambda i, t: span(f"J5.pos#{i}")),
        "j5.spo_bytes": med(lambda i, t: t["spo_bytes"]),
        "j5.pos_bytes": med(lambda i, t: t["pos_bytes"]),
        "j5.files": med(lambda i, t: t["files"]),
        "pipeline.unattributed_s": med(
            lambda i, t: t["wall_s"] - sum(span(f"{s}#{i}") for s in STAGES)),
    }
    for key in [k for k in traced[0] if k.startswith("j3.")]:
        m[key] = med(lambda i, t: t[key])
    return m
