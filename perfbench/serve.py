"""SPARQL serving: seed-drawn query mix over a built KG, one closed-loop
client, and DuckDB oracles for the point queries."""

from __future__ import annotations

import time
from typing import Dict, List, Optional, Tuple

import duckdb
import numpy as np

from pikes_spark.operators.kgquery import query_snapshot

import stats
from spans import Tracer

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
GAF_DENOTED = "http://groundedannotationframework.org/gaf#denotedBy"
PREFIXES = """PREFIX ks: <http://dkm.fbk.eu/ontologies/knowledgestore#>
PREFIX nif: <http://persistence.uni-leipzig.org/nlp2rdf/ontologies/nif-core#>
PREFIX gaf: <http://groundedannotationframework.org/gaf#>
"""

# name -> (class, SPARQL with {param} slots). point: one selective
# pattern; analytic: multi-pattern joins, aggregates, property paths.
TEMPLATES = {
    "subject": ("point", "SELECT ?p ?o WHERE {{ <{subject}> ?p ?o }}"),
    "type": ("point", "SELECT ?s WHERE {{ ?s a <{point_type}> }}"),
    "type_regex": ("point",
                   'SELECT ?s WHERE {{ ?s a <{point_type}> . '
                   'FILTER (regex(?s, "{prefix}")) }}'),
    "bgp4": ("analytic",
             "SELECT (COUNT(*) AS ?n) WHERE {{ ?d ks:hasMention ?m . "
             "?m nif:anchorOf ?a . ?e gaf:denotedBy ?m . ?e a <{entity_type}> }}"),
    "group_count": ("analytic",
                    "SELECT ?t (COUNT(?s) AS ?n) WHERE {{ ?s a ?t . ?s <{predicate}> ?o }} "
                    "GROUP BY ?t ORDER BY DESC(?n) LIMIT 10"),
    "path": ("analytic",
             "SELECT ?a (COUNT(?e) AS ?n) WHERE {{ ?e a <{entity_type}> . "
             "?e gaf:denotedBy/nif:anchorOf ?a }} GROUP BY ?a ORDER BY DESC(?n) LIMIT 10"),
}
CLASSES = ("point", "analytic")


class Store:
    """DuckDB view over the spo snapshot the queries read: draws query
    parameters and answers the point-query oracles."""

    def __init__(self, spo_files: List[str]):
        self.con = duckdb.connect()
        self.con.execute(f"CREATE VIEW spo AS SELECT * FROM read_parquet({spo_files!r})")

    def _col(self, sql: str, *args) -> List[str]:
        return sorted(r[0] for r in self.con.execute(sql, list(args)).fetchall())

    def param_pools(self) -> Dict[str, List[str]]:
        types = ("SELECT object FROM spo WHERE predicate = ? AND NOT object_is_literal "
                 "GROUP BY object HAVING count(*) BETWEEN ? AND ?")
        return {
            "subject": self._col(
                "SELECT DISTINCT subject FROM spo WHERE predicate = ?", GAF_DENOTED),
            "point_type": self._col(types, RDF_TYPE, 20, 5000),
            "entity_type": self._col(
                "SELECT object FROM spo WHERE predicate = ? AND subject IN "
                "(SELECT subject FROM spo WHERE predicate = ?) "
                "GROUP BY object HAVING count(*) >= 50", RDF_TYPE, GAF_DENOTED),
            # predicates of typed subjects, so group_count has rows
            "predicate": self._col(
                "SELECT predicate FROM spo WHERE subject IN "
                "(SELECT subject FROM spo WHERE predicate = ?) "
                "GROUP BY predicate HAVING count(*) >= 100", RDF_TYPE),
            "prefix": [f"doc/{k}" for k in range(10, 100)],
        }

    def oracle(self, template: str, params: Dict[str, str]) -> List[Tuple]:
        if template == "subject":
            sql, args = ("SELECT predicate, object FROM spo WHERE subject = ?",
                         [params["subject"]])
        else:
            sql = ("SELECT subject FROM spo WHERE predicate = ? AND object = ? "
                   "AND NOT object_is_literal")
            args = [RDF_TYPE, params["point_type"]]
            if template == "type_regex":
                sql += " AND regexp_matches(subject, ?)"
                args.append(params["prefix"])
        return sorted(self.con.execute(sql, args).fetchall())


class Mix:
    """The seed-ordered query sequence: rounds of every template once,
    in a seed-shuffled order, each with fresh seed-drawn parameters."""

    def __init__(self, seed: int, pools: Dict[str, List[str]]):
        self.rng = np.random.default_rng(seed)
        self.pools = pools

    def round(self) -> List[Tuple[str, Dict[str, str]]]:
        names = list(TEMPLATES)
        self.rng.shuffle(names)
        out = []
        for name in names:
            params = {k: str(self.rng.choice(v)) for k, v in self.pools.items()}
            out.append((name, params))
        return out


def run_query(spark, kg_root: str, template: str, params: Dict[str, str]
              ) -> Tuple[float, float, list]:
    """(compile seconds, execute seconds, rows) of one query."""
    text = PREFIXES + TEMPLATES[template][1].format(**params)
    t0 = time.perf_counter()
    df = query_snapshot(spark, kg_root, text)
    t1 = time.perf_counter()
    rows = df.collect()
    return t1 - t0, time.perf_counter() - t1, rows


class Client:
    """One closed-loop client: the next query is sent only after the
    previous one returned. Point results are checked against DuckDB
    outside the timed part; a raised query or a mismatch is a failure."""

    def __init__(self, spark, kg_root: str, store: Store, mix: Mix):
        self.spark, self.kg_root, self.store, self.mix = spark, kg_root, store, mix
        self.attempted = 0
        self.failed = 0
        self.problems: List[str] = []
        self.samples: Dict[str, List[Dict]] = {c: [] for c in CLASSES}

    def round(self, tracer: Optional[Tracer] = None, tag: str = "",
              keep: bool = True) -> float:
        """Run one round; returns its summed query latency in seconds.
        ``keep`` adds its per-query samples to ``samples``."""
        total = 0.0
        for qi, (name, params) in enumerate(self.mix.round()):
            cls = TEMPLATES[name][0]
            self.attempted += 1
            label = f"{cls}#{tag}.{qi}"
            try:
                if tracer is None:
                    c, e, rows = run_query(self.spark, self.kg_root, name, params)
                else:
                    with tracer.span(label):
                        c, e, rows = run_query(self.spark, self.kg_root, name, params)
            except Exception as exc:  # a raised query is a counted failure
                self.failed += 1
                self.problems.append(f"{name} raised {exc!r}"[:300])
                continue
            total += c + e
            if keep:
                self.samples[cls].append({"label": label, "template": name,
                                          "compile_s": c, "execute_s": e,
                                          "rows": len(rows)})
            if not self._correct(name, params, rows):
                self.failed += 1
        return total

    def round_cost(self) -> float:
        """Seconds one round costs at best: the sum over templates of
        each template's fastest latency in this run (min-of-N per
        template; later queries still run faster while the JIT warms,
        and host noise only ever adds time)."""
        lat: Dict[str, List[float]] = {}
        for xs in self.samples.values():
            for s in xs:
                lat.setdefault(s["template"], []).append(s["compile_s"] + s["execute_s"])
        return sum(min(v) for v in lat.values())

    def _correct(self, name: str, params: Dict[str, str], rows: list) -> bool:
        if TEMPLATES[name][0] == "point":
            want = self.store.oracle(name, params)
            got = sorted(tuple(r) for r in rows)
            if got != want:
                self.problems.append(f"{name} {params}: {len(got)} rows, oracle {len(want)}")
                return False
        elif not rows:
            self.problems.append(f"{name} {params}: no rows")
            return False
        return True


def class_metrics(samples: Dict[str, List[Dict]], folded: Optional[Dict]
                  ) -> Tuple[Dict[str, float], Dict]:
    """Per-class latency percentiles (and, with an event-log fold, the
    per-query job, byte and row counts); plus the tail fingerprint."""
    m: Dict[str, float] = {}
    tails = {}
    for cls in CLASSES:
        xs = samples[cls]
        lat = [(s["compile_s"] + s["execute_s"]) * 1e3 for s in xs]
        t = stats.tail(lat)
        tails[cls] = {"samples": len(lat),
                      "tail_percentile": round(t[0], 2) if t else None}
        m[f"serve.{cls}_p50_ms"] = stats.median(lat) if lat else 0.0
        # with too few samples for a tail, report the slowest
        m[f"serve.{cls}_tail_ms"] = t[1] if t else (max(lat) if lat else 0.0)
        if folded is None or not xs:
            continue
        ev = [folded.get(s["label"], {}) for s in xs]
        m[f"kgquery.{cls}.compile_ms"] = stats.median([s["compile_s"] * 1e3 for s in xs])
        m[f"kgquery.{cls}.execute_ms"] = stats.median([s["execute_s"] * 1e3 for s in xs])
        m[f"kgquery.{cls}.jobs"] = stats.median([e.get("jobs", 0) for e in ev])
        m[f"kgquery.{cls}.bytes_read"] = stats.median([e.get("input_bytes", 0) for e in ev])
        m[f"kgquery.{cls}.rows"] = stats.median([s["rows"] for s in xs])
    return m, tails
