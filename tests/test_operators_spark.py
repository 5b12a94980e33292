"""Spark-level operator tests at sf0.001 (fast): linking argmax,
minhash-vs-exact equivalence, IVF recall, dedup, multimodal plumbing,
pipeline resume."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_linking_picks_best_candidate(spark):
    from pikes_spark.sources.pages import pages_from_documents
    from pikes_spark.operators.annotate import annotate_pages
    from pikes_spark.operators.linking import candidates_df, link_entities
    ann = annotate_pages(pages_from_documents(spark, SF))
    links = link_entities(ann, candidates_df(spark)).collect()
    assert links, "gold pages must produce links"
    by_uri = {r["uri"] for r in links}
    assert "http://dbpedia.org/resource/George_W._Bush" in by_uri
    # ambiguous "Paris": must pick the higher-scored candidate
    paris = [r for r in links if "Paris" in r["uri"]]
    assert paris and all(r["uri"] == "http://dbpedia.org/resource/Paris" for r in paris)


def test_linking_null_score_ranks_last(spark):
    """A candidate whose prior is NULL never beats a scored one for the
    same span, whichever sorts first by uri."""
    from pikes_spark.operators.linking import link_entities
    ann = spark.createDataFrame(
        [("u", [("Paris", 0, 5)], [(True, [0])])],
        "url string, tokens array<struct<form:string, begin:int, len:int>>, "
        "entities array<struct<named:boolean, term_ids:array<int>>>")
    cands = spark.createDataFrame(
        [("paris", "http://x/A_null", None, ["a"]),
         ("paris", "http://x/B_scored", 0.5, ["b"])],
        "surface string, uri string, prior double, ctx array<string>")
    links = link_entities(ann, cands).collect()
    assert [(r["uri"], r["score"]) for r in links] == [("http://x/B_scored", 0.5)]


def test_minhash_lsh_equals_exact_jaccard(spark):
    from pikes_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs
    lsh = {(r["a"], r["b"], r["jaccard_x1000"])
           for r in minhash_lsh_pairs(spark, SF).collect()}
    exact = {(r["a"], r["b"], r["jaccard_x1000"])
             for r in ngram_jaccard_pairs(spark, SF).collect()}
    assert lsh == exact


def test_minhash_lsh_megadup_bucket_stays_linear(spark):
    """VERDICT r4 finding 5: f identical docs collide into one
    (band, bucket) by construction, so the naive probe emits f²/2
    candidates. The hardened path pushes one representative per exact
    shingle set through LSH, so the candidate/verify stage must stay
    O(distinct sets) — assert that with 1k planted copies, and that
    the expanded OUTPUT still contains every true pair."""
    from pyspark.sql import functions as F
    from pikes_spark.operators import dedup as D
    n_copies = 1000
    boiler = "the same boilerplate footer text repeated on every page of this site"
    rows = ([(i, boiler) for i in range(n_copies)]
            + [(n_copies + i, f"unique document number {i} about topic {i}")
               for i in range(5)])
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    sh = D._shingles_of(docs)
    keyed = sh.withColumn(
        "grp", F.xxhash64(F.concat_ws("\x1f", F.array_sort("shingles"))))
    reps = (keyed.groupBy("grp").agg(F.min("doc_id").alias("doc_id"))
            .join(keyed, ["grp", "doc_id"])
            .select("doc_id", "shingles"))
    n_cands = D._lsh_candidates(reps).count()
    # 6 distinct shingle sets -> at most 6*5/2 candidates, never ~f²/2
    assert n_cands <= 15, n_cands
    out = D._lsh_pairs_from_shingles(sh, 800)
    n_within = out.filter((F.col("a") < n_copies)
                          & (F.col("b") < n_copies)).count()
    assert n_within == n_copies * (n_copies - 1) // 2
    assert out.filter(F.col("jaccard_x1000") < 800).count() == 0


def test_ivf_recall_vs_brute_force(spark):
    from pikes_spark.operators.similarity import brute_force_topk, ivf_topk
    bf = [r["vec_id"] for r in brute_force_topk(spark, SF, 0, 10).collect()]
    ivf = [r["vec_id"] for r in ivf_topk(spark, SF, 0, 10, nlist=8, nprobe=4).collect()]
    recall = len(set(bf) & set(ivf)) / len(bf)
    assert recall >= 0.6, (bf, ivf)


def test_multimodal_features_deterministic(spark):
    from pikes_spark.operators.multimodal import synthetic_media, extract_features
    rows1 = extract_features(synthetic_media(spark, 16)).orderBy("media_id").collect()
    rows2 = extract_features(synthetic_media(spark, 16)).orderBy("media_id").collect()
    assert [r["sha256"] for r in rows1] == [r["sha256"] for r in rows2]
    assert all(len(r["feat"]) == 8 for r in rows1)
    video_frames = [r["frames"] for r in rows1 if r["kind"] == "video"]
    assert video_frames and all(f >= 1 for f in video_frames)


def test_pipeline_resume_no_duplicates(spark):
    from pikes_spark.pipeline import run_pipeline
    out = tempfile.mkdtemp(prefix="pikes_resume_")
    try:
        r1 = run_pipeline(spark, SF, out, resume=True, cc_max_iter=4)
        assert r1["added_triples"] > 0
        # second run: every url already in triples_raw -> no new raw
        # work; spo/pos are REBUILT from the same raw corpus (global
        # canonicalization), so the canonical output must be identical
        r2 = run_pipeline(spark, SF, out, resume=True, cc_max_iter=4)
        assert r2["triples_snapshot"]["lineage"]["skipped_done_urls"] > 0
        assert (r2["triples_snapshot"]["total_rows"]
                == r1["triples_snapshot"]["total_rows"])
        # spo and pos can never diverge: both derive from triples_raw
        assert (r2["pos_snapshot"]["added_rows"]
                == r2["triples_snapshot"]["added_rows"])
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_gold_triples_contain_expected_facts(spark):
    from pikes_spark.sources.gold import gold_pages_df
    from pikes_spark.operators.annotate import annotate_pages, distill_annotations
    from pikes_spark.operators.linking import candidates_df, link_entities
    ann = annotate_pages(gold_pages_df(spark))
    links = link_entities(ann, candidates_df(spark))
    triples = distill_annotations(ann, links).collect()
    idx = {(t["url"], t["predicate"], t["object"]) for t in triples}
    g9 = "http://example.org/gold/g9"
    assert (g9, "http://xmlns.com/foaf/0.1/name", "G.W. Bush") in idx
    sameas = [t for t in triples
              if t["predicate"] == "http://www.w3.org/2002/07/owl#sameAs"
              and t["object"] == "http://dbpedia.org/resource/George_W._Bush"]
    assert sameas, "linked entity must emit owl:sameAs to DBpedia"
    types = [t for t in triples if t["url"] == g9 and
             t["object"] == "http://www.newsreader-project.eu/ontologies/PERSON"]
    assert len(types) >= 2  # Bush + Bono typed PERSON


def test_gold_triples_match_frozen_fixture(spark):
    """The distillation core's VALUE gate: per-(page, component)
    counts + checksums vs the reviewed frozen fixture. A failure means
    the rule engine's output drifted — re-review and refreeze with
    scripts/refreeze_gold_triples.py."""
    import __spark_entry__ as e
    from pikes_spark.sources.gold_expected_triples import (
        EXPECTED_TRIPLE_STATS, EXPECTED_CANONICAL_STATS)
    rows = [(r["gold_id"], r["component"], r["n"], r["checksum"])
            for r in e.queries()["kg_gold_triples"](spark, "").collect()]
    assert rows == EXPECTED_TRIPLE_STATS
    canon = [(r["component"], r["n"], r["n_subjects"])
             for r in e.queries()["kg_gold_canonicalize"](spark, "").collect()]
    assert canon == EXPECTED_CANONICAL_STATS


def test_embedding_pairs_blocked_equals_crossjoin_free(spark):
    """Blocked-GEMM exact pairs == the SQL brute force, and the plan has
    no row-level CartesianProduct/BroadcastNestedLoop over vectors."""
    import duckdb
    from pikes_spark.operators.dedup import embedding_neardup_pairs
    sf = "/root/testdata/sf0.001"
    df = embedding_neardup_pairs(spark, sf, n_blocks=4)
    got = [(r["a"], r["b"], r["cos_x1e6"]) for r in df.collect()]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'")
    from pikes_spark.operators.dedup import EMB_NEARDUP_SQL
    want = [tuple(r) for r in con.sql(EMB_NEARDUP_SQL).fetchall()]
    assert got == want
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the only join is over B x B block metadata rows, not vector rows
    assert "CartesianProduct" not in plan or "rows" not in plan.split(
        "CartesianProduct")[0]


def test_simhash_block_lsh_equals_brute_force(spark):
    """Pigeonhole completeness of the block-LSH candidate stage: the
    operator's pairs == brute-force pairwise Hamming over the same
    signatures (the VERDICT-requested brute-force oracle)."""
    import itertools
    from pikes_spark.operators.dedup import (
        shingle_df, simhash_signatures, simhash_pairs, SIMHASH_MAX_HAMMING)
    sf = "/root/testdata/sf0.001"
    sigs = {r["doc_id"]: r["simhash"] for r in
            simhash_signatures(shingle_df(spark, sf)).collect()}
    want = set()
    for a, b in itertools.combinations(sorted(sigs), 2):
        h = bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")
        if h <= SIMHASH_MAX_HAMMING:
            want.add((a, b, h))
    got = {(r["a"], r["b"], r["hamming"])
           for r in simhash_pairs(spark, sf).collect()}
    assert got == want


def test_multimodal_codecs_roundtrip_and_real_features(spark):
    """PNG/WAV payloads are real files: stdlib codecs round-trip, and
    features come from decoded pixels/samples (image channel means in
    [0,1] with nonzero variance; audio RMS consistent with the tone)."""
    import numpy as np
    from pikes_spark.operators.multimodal import (
        decode_png, decode_wav, extract_features, synthetic_media)
    media = {r["media_id"]: r for r in synthetic_media(spark, 6).collect()}
    px = decode_png(bytes(media[0]["payload"]))
    assert px.shape == (media[0]["height"], media[0]["width"], 3)
    samples, rate = decode_wav(bytes(media[1]["payload"]))
    assert rate == 16000 and len(samples) == 16000 * media[1]["duration_ms"] // 1000
    feats = {r["media_id"]: r for r in
             extract_features(synthetic_media(spark, 6)).collect()}
    img = feats[0]["feat"]
    assert all(0.0 <= v <= 1.0 for v in img[:6]) and img[3] > 0.05
    rms = feats[1]["feat"][0]
    expect = float(np.sqrt(np.mean((samples / 32768.0) ** 2)))
    assert abs(rms - expect) < 1e-6


def test_asof_join_semantics(spark):
    """Every matched click joins its user's most recent purchase
    at-or-before the click time (inner as-of)."""
    from pikes_spark.operators.events import asof_join
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = asof_join(spark, SF).collect()
    assert out
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    clicks = {r["event_id"]: r for r in ev if r["event_type"] == "click"}
    purch = [r for r in ev if r["event_type"] == "purchase"]
    for r in out[:50]:
        c = clicks[r["event_id"]]
        best = max((p for p in purch
                    if p["user_id"] == c["user_id"] and p["ts"] <= c["ts"]),
                   key=lambda p: p["ts"])
        assert r["purchase_value_x1000"] == int(best["value"] * 1000 // 1)


def test_dedup_groups_cover_all_pair_members(spark):
    from pikes_spark.operators.dedup import (dedup_group_representatives,
                                             minhash_lsh_pairs)
    groups = dedup_group_representatives(spark, SF).collect()
    by_doc = {r["doc_id"]: r for r in groups}
    pairs = minhash_lsh_pairs(spark, SF).collect()
    for p in pairs:
        ra, rb = by_doc[p["a"]], by_doc[p["b"]]
        assert ra["rep_id"] == rb["rep_id"]        # same component
        assert by_doc[ra["rep_id"]]["keep"] == 1   # rep kept
        assert ra["rep_id"] <= p["a"]              # min-id representative


def test_decontaminate_semantics(spark):
    import duckdb
    from pikes_spark.operators import dedup
    rows = dedup.decontaminate(spark, SF).collect()
    assert len(rows) > 300  # every train doc present, hit or not
    assert any(r["contaminated"] for r in rows)      # signal fires
    assert any(not r["contaminated"] for r in rows)
    for r in rows:
        assert 0 <= r["n_hits"] <= r["n_grams"]
        assert r["contaminated"] == (r["n_hits"] > 0)
    # exactly the train split, no test doc leaks into the output
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    train_ids = {i for (i,) in con.sql(
        "SELECT doc_id FROM documents WHERE substr(md5(CAST(doc_id AS "
        "VARCHAR)),1,8) >= '33333333'").fetchall()}
    assert {r["doc_id"] for r in rows} == train_ids


def test_decontaminate_verbatim_copy_is_caught(spark):
    # a train doc that verbatim-contains a test doc's text must flag
    import duckdb
    from pikes_spark.operators import dedup
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    test_txt = con.sql(
        "SELECT text FROM documents WHERE substr(md5(CAST(doc_id AS "
        "VARCHAR)),1,8) < '33333333' ORDER BY doc_id LIMIT 1").fetchone()[0]
    train_id = max(
        i for (i,) in con.sql("SELECT doc_id FROM documents").fetchall()) + 1
    import tempfile, os
    # md5 split of the new id must land in train for the probe to
    # make sense; shift the id until it does
    import hashlib
    while hashlib.md5(str(train_id).encode()).hexdigest()[:8] < "33333333":
        train_id += 1
    with tempfile.TemporaryDirectory() as td:
        doc = spark.read.parquet(f"{SF}/documents.parquet")
        leak = spark.createDataFrame(
            [(train_id, "padding before " + test_txt + " padding after")],
            "doc_id long, text string")
        doc.select("doc_id", "text").unionByName(leak) \
           .write.parquet(os.path.join(td, "documents.parquet"))
        out = {r["doc_id"]: r["contaminated"]
               for r in dedup.decontaminate(spark, td).collect()}
        assert out[train_id] is True


def test_decontaminate_plan_jvm_side(spark):
    from pikes_spark.operators import dedup
    plan = (dedup.decontaminate(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "EvalPython" not in plan and "PythonUDF" not in plan


def test_repeated_spans_semantics(spark):
    import duckdb
    from pikes_spark.operators import dedup
    # build a corpus with a planted 60-token verbatim repeat
    import tempfile, os
    span = " ".join(f"w{i}" for i in range(60))
    rows = [
        (1, "alpha " + span + " omega"),
        (2, "prefix text here " + span + " and a different tail"),
        (3, "no repeats in this one at all " + " ".join(
            f"u{i}" for i in range(70))),
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(rows, "doc_id long, text string") \
             .write.parquet(os.path.join(td, "documents.parquet"))
        got = [tuple(r) for r in dedup.repeated_spans(spark, td).collect()]
    # doc 1: span at tokens 1..60 -> hits at gram positions 1..11
    # (60-token repeat = 11 repeated 50-grams), span 1..61? no:
    # maximal interval = [first_pos, last_pos + 49]
    by_doc = {}
    for d, s, e, n in got:
        by_doc.setdefault(d, []).append((s, e, n))
    assert set(by_doc) == {1, 2}          # doc 3 clean
    (s1, e1, n1), = by_doc[1]
    (s2, e2, n2), = by_doc[2]
    assert n1 == n2 == 60                 # exactly the planted span
    assert s1 == 1 and e1 == 60           # after the 1-token prefix
    assert s2 == 3 and e2 == 62           # after the 3-token prefix
    # and parity with the DuckDB formulation on the same data
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(rows, "doc_id long, text string") \
             .write.parquet(os.path.join(td, "documents.parquet"))
        got2 = [tuple(r) for r in dedup.repeated_spans(spark, td).collect()]
        con = duckdb.connect()
        con.sql("CREATE VIEW documents AS SELECT * FROM "
                f"'{td}/documents.parquet/*.parquet'")
        exp = [tuple(r) for r in con.sql(dedup.REPEATED_SPANS_SQL).fetchall()]
        assert got2 == exp


def test_label_centroids_partial_agg_and_values(spark):
    import numpy as np
    from pikes_spark.operators import similarity
    sf = "/root/testdata/sf0.001"
    df = similarity.label_centroids(spark, sf)
    rows = df.collect()
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    by_label = {}
    for r in emb:
        by_label.setdefault(r["label"], []).append(
            np.floor(np.asarray(r["embedding"], dtype=np.float64) * 1e7))
    import math
    for r in rows:
        vs = by_label[r["label"]]
        want = math.floor(sum(v[r["dim"]] for v in vs) / len(vs))
        assert r["centroid_x1e7"] == want
    # plan: partial aggregation before the exchange, no Python
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial" in plan.lower()
    assert "EvalPython" not in plan and "PythonUDF" not in plan


def test_simhash_votes_are_signed_majority(spark):
    """Regression: the signature must implement true majority voting.
    An earlier kernel subtracted a Python int from a uint64 vote
    array, wrapping negative votes positive — every odd-shingle-count
    doc got the all-ones signature and sf0.01 reported 36k bogus
    hamming-0 pairs."""
    import numpy as np
    from pikes_spark.operators.dedup import simhash_signatures
    # three known hashes: bit b of the signature is set iff >= 2 of
    # them have bit b set
    hs = [0b1011, 0b0011, 0b0100]
    df = spark.createDataFrame([(1, [f"s{i}" for i in range(3)])],
                               "doc_id long, shingles array<string>")
    # bypass xxhash64 by recomputing expectation from the REAL hashes
    from pyspark.sql import functions as F
    real = [r[0] for r in df.select(
        F.explode(F.transform("shingles", lambda s: F.xxhash64(s)))
    ).collect()]
    got = simhash_signatures(df).collect()[0]["simhash"] & (2**64 - 1)
    want = 0
    for b in range(64):
        ones = sum((h >> b) & 1 for h in np.array(real, dtype=np.int64)
                   .astype(np.uint64).tolist())
        if 2 * ones - 3 > 0:
            want |= 1 << b
    assert got == want
    assert got != 2**64 - 1      # odd count must NOT force all-ones
