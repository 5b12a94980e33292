"""N11 entity linking: broadcast candidate-dictionary join + context
scoring + per-span argmax.

Reference behavior (AnnotationPipeline.java:197-206 collect spans,
:461-481 best-scoring candidate assigned to the entity whose span
matches exactly): candidates come from an external service; here they
come from a broadcast dictionary (surface -> candidate URIs with
priors), scored with a deterministic context-similarity term, and the
argmax per mention span is selected with a window — the exact plan
shape the north_rule prescribes:

    mentions (url, begin, end, surface)
      JOIN broadcast(candidates) ON surface          -- map-side, no shuffle
      -> score = prior * (1 + jaccard(doc context, candidate context))
      -> groupBy(url, begin, end).agg(min_by((uri, score), (-score, uri)))
         (the argmax the reference's per-span best pick implements; a
         partial aggregation, so the exchange carries one candidate per
         span per task instead of every scored candidate row)

Scale notes: the candidate dictionary is the small side (<= a few GB
-> broadcast); mentions are the big side and never shuffle for the
join. The window shuffles by (url, begin, end) which is near-unique ->
no skew. At 10^12 documents the surface-form distribution is power-law
but that affects only the JOIN FANOUT, not a groupBy, so no salting is
needed here (canonicalization is where the salted groupBy lives).
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.resources import LINKING_STOPWORDS
from ..functions.el_dict import el_candidates


def candidates_df(spark: SparkSession) -> DataFrame:
    """The broadcast dictionary as a DataFrame: fixture rows + the
    bundled base dictionary + any $PIKES_EL_DICT deployment file
    (functions/el_dict.py — the Spotlight-lexicalizations layering)."""
    rows = []
    for surface, cands in el_candidates().items():
        for uri, prior in cands:
            # context tokens = URI localname words, the deterministic
            # stand-in for an entity-description embedding
            ctx = [w.lower() for w in
                   uri.rsplit("/", 1)[-1].replace("_", " ").replace(",", " ").split()]
            rows.append((surface, uri, float(prior), ctx))
    return spark.createDataFrame(rows, "surface string, uri string, prior double, ctx array<string>")


def entity_mentions(annotations: DataFrame) -> DataFrame:
    """Explode named-entity mentions to (url, begin, end, surface,
    doc_tokens). Pure Catalyst: explode + element_at, no UDF."""
    ents = (annotations
            .select("url", "tokens",
                    F.explode("entities").alias("ent"))
            .filter(F.col("ent.named"))
            .withColumn("tids", F.array_sort("ent.term_ids")))
    first_tok = F.element_at("tokens", F.element_at("tids", 1) + 1)
    last_tok = F.element_at("tokens", F.element_at("tids", -1) + 1)
    return (ents
            .withColumn("begin", first_tok["begin"])
            .withColumn("end", last_tok["begin"] + last_tok["len"])
            .withColumn("surface",
                        F.lower(F.concat_ws(" ", F.transform(
                            "tids", lambda i: F.element_at("tokens", i + 1)["form"]))))
            .withColumn("doc_tokens",
                        F.transform("tokens", lambda t: F.lower(t["form"])))
            .select("url", "begin", "end", "surface", "doc_tokens"))


OPEN_VOCAB_PRIOR = 0.15  # below every dictionary prior: dict rows win
_DBR = "http://dbpedia.org/resource/"


def minted_uri(surface_col):
    """Deterministic open-vocabulary candidate: DBpedia IRIs are
    minted from the title-cased, underscore-joined surface (the
    Wikipedia article-naming convention Spotlight's open vocabulary
    rests on): "white house" -> dbr:White_House. Pure Catalyst."""
    return F.concat(F.lit(_DBR),
                    F.regexp_replace(F.initcap(surface_col), " ", "_"))


def link_entities(annotations: DataFrame, candidates: DataFrame,
                  open_vocab: bool = False) -> DataFrame:
    """-> links(url, begin, end, uri, score): best candidate per span.

    open_vocab=True adds the Spotlight-style backstop: named mentions
    with NO dictionary surface get a minted dbr: candidate at a low
    fixed prior (left_anti against the broadcast surface set — still
    no shuffle on the mention side). Off by default: the backstop
    links every named mention, which costs precision on corpora whose
    gold links only well-known entities (measured in EVAL.md)."""
    mentions = entity_mentions(annotations)
    stop = F.array(*[F.lit(s) for s in sorted(LINKING_STOPWORDS)])
    mentions = mentions.filter(~F.array_contains(stop, F.col("surface")))
    joined = mentions.join(F.broadcast(candidates), "surface", "inner")
    # context similarity: |candidate ctx ∩ doc tokens| / |ctx|
    overlap = F.size(F.array_intersect("ctx", "doc_tokens")) / F.size("ctx")
    # project BEFORE the exchange: doc_tokens/ctx are consumed by the
    # score expression map-side; shipping them through the per-span
    # shuffle was the measured cost of this stage (every candidate row
    # carried the full lowered token list of its document). The argmax
    # is a partial-aggregated min_by — same (score desc, uri asc)
    # winner the row_number window picked, but map-side combine sends
    # one candidate per span per task instead of all of them. A struct
    # orders a NULL field first, so a NULL score is coalesced to +inf
    # to rank last, as desc(score) (NULLS LAST) did.
    scored = (joined.withColumn("score", F.col("prior") * (1.0 + overlap))
              .select("url", "begin", "end", "uri", "score"))
    rank = F.coalesce(-F.col("score"), F.lit(float("inf")))
    best = F.min_by(F.struct("uri", "score"),
                    F.struct(rank.alias("s"), F.col("uri").alias("u")))
    linked = (scored.groupBy("url", "begin", "end")
              .agg(best.alias("_best"))
              .select("url", "begin", "end",
                      F.col("_best.uri").alias("uri"),
                      F.col("_best.score").alias("score")))
    if not open_vocab:
        return linked
    surfaces = candidates.select("surface").distinct()
    minted = (mentions
              .join(F.broadcast(surfaces), "surface", "left_anti")
              .select("url", "begin", "end",
                      minted_uri(F.col("surface")).alias("uri"),
                      F.lit(float(OPEN_VOCAB_PRIOR)).alias("score")))
    return linked.unionByName(minted)
