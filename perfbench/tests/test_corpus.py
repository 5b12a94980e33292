import pyarrow.parquet as pq

import corpus


def test_same_seed_same_bytes(tmp_path):
    a = corpus.write_documents(7, 200, str(tmp_path / "a"))
    b = corpus.write_documents(7, 200, str(tmp_path / "b"))
    assert open(a, "rb").read() == open(b, "rb").read()


def test_different_seeds_different_documents():
    a, b = corpus.documents(1, 300), corpus.documents(2, 300)
    assert set(a["doc_id"]).isdisjoint(b["doc_id"])
    assert a["text"] != b["text"]


def test_urls_distinct_and_table_shape(tmp_path):
    d = corpus.documents(3, 500)
    assert len(set(d["doc_id"])) == 500
    assert all(0 <= i < corpus.ID_SPACE for i in d["doc_id"])
    t = pq.read_table(corpus.write_documents(3, 500, str(tmp_path)))
    assert t.schema == corpus.SCHEMA
    assert t.column("n_chars").to_pylist() == [len(x) for x in d["text"]]


def test_text_mix_matches_the_source_shape():
    d = corpus.documents(4, 2000)
    words = {w for t in d["text"] for w in t.split()}
    assert words == set(corpus.VOCAB) | {"dup"}
    plain = [t for t in d["text"] if not t.endswith(" dup")]
    assert all(10 <= len(t.split()) <= 99 for t in plain)
    dups = [t for t in d["text"] if t.endswith(" dup")]
    assert len(dups) == 100
    assert [d["lang"].count(x) for x in corpus.LANGS] == [840, 300, 280, 280, 300]


def test_seeds_differ_only_in_the_draw():
    a, b = corpus.documents(5, 400), corpus.documents(6, 400)
    assert sorted(a["lang"]) == sorted(b["lang"]) and a["lang"] != b["lang"]
    assert [sum(t.endswith(" dup") for t in d["text"]) for d in (a, b)] == [20, 20]
