"""Engine facade: the full reference API surface end-to-end on one object."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fugu_spark.engine import FuguSparkEngine
from fugu_spark.facets import derive_facets


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    docs = spark.createDataFrame(
        [
            (1, "merge join engine", "py", "ns1"),
            (2, "sort merge runner", "rs", "ns1"),
            (3, "hash table probe", "py", "ns2"),
            (4, "bad doc removed later", "go", "ns2"),
        ],
        "doc_id long, text string, lang string, ns string",
    ).withColumn(
        "facets",
        F.concat(
            derive_facets(("lang", F.col("lang"))),
            F.array(F.concat(F.lit("/namespace/"), F.col("ns"))),
        ),
    )
    return FuguSparkEngine.build(docs, str(tmp_path_factory.mktemp("eng") / "idx"))


def test_health_and_search(engine):
    h = engine.health()
    assert h["status"] == "ok" and h["n_docs"] == 4
    got = [r.doc_id for r in engine.search("merge", k=10).collect()]
    assert set(got) == {1, 2}


def test_search_with_filters_and_clamp(engine):
    got = [r.doc_id for r in engine.search("merge", k=0, filters=["/lang/py"]).collect()]
    assert got == [1]  # k clamp → 20; filter keeps py docs only


def test_point_and_list(engine):
    assert engine.get(3).first().text == "hash table probe"
    assert engine.list_objects(2).count() == 2


def test_suggest(engine):
    got = [r.suggestion for r in engine.suggest("merge").collect()]
    assert "merge join engine" in got


def test_facet_surface(engine):
    assert [r.value for r in engine.namespaces().collect()] == ["ns1", "ns2"]
    tree = engine.facet_tree()
    assert tree["children"]["lang"]["count"] == 4
    vals = [r.value for r in engine.filter_values("/lang").collect()]
    assert vals == ["go", "py", "rs"]
    pairs = {(r.parent, r.leaf) for r in engine.namespace_filters("ns1").collect()}
    assert ("/lang", "py") in pairs and ("/lang", "go") not in pairs


def test_filtered_search_serves_locally(spark, tmp_path):
    """Equals/Prefix facet filters run through the LocalSearcher filter
    index with pushdown; parity with the distributed path across the full
    ingest→delete→compact lifecycle. Wildcard filters fall back."""
    docs = spark.createDataFrame(
        [
            (1, "merge join alpha", ["/lang/py", "/source/s1"]),
            (2, "merge join beta", ["/lang/rs", "/source/s1"]),
            (3, "merge gamma", ["/lang/py", "/source/s2"]),
        ],
        "doc_id long, text string, facets array<string>",
    )
    eng = FuguSparkEngine.build(docs, str(tmp_path / "idx"))

    def both(q, filters):
        loc = [(r.doc_id, round(r.score, 9)) for r in eng.search(q, k=10, filters=filters).collect()]
        eng.serve_max_postings = 0
        dist = [(r.doc_id, round(r.score, 9)) for r in eng.search(q, k=10, filters=filters).collect()]
        eng.serve_max_postings = 5_000_000
        return loc, dist

    loc, dist = both("merge", ["/lang/py"])
    assert loc == dist and {d for d, _ in loc} == {1, 3}
    loc, dist = both("merge join", ["/source/s1"])
    assert loc == dist and {d for d, _ in loc} == {1, 2}
    # prefix filter
    loc, dist = both("merge", ["/lang/*"])
    assert loc == dist and {d for d, _ in loc} == {1, 2, 3}
    # OR across filters
    loc, dist = both("merge", ["/lang/rs", "/source/s2"])
    assert loc == dist and {d for d, _ in loc} == {2, 3}
    # wildcard → ValueError inside, transparent fallback, same answer
    loc, dist = both("merge", ["*lang*"])
    assert loc == dist and len(loc) == 3
    # no match
    loc, dist = both("merge", ["/lang/go"])
    assert loc == dist == []

    # lifecycle: upsert re-facets doc 3, delete doc 2, compact
    batch = spark.createDataFrame(
        [(3, "merge gamma v2", ["/lang/go"])], "doc_id long, text string, facets array<string>"
    )
    eng.ingest(batch)
    loc, dist = both("merge", ["/lang/py"])
    assert loc == dist and {d for d, _ in loc} == {1}  # doc 3 left /lang/py
    loc, dist = both("merge", ["/lang/go"])
    assert loc == dist and {d for d, _ in loc} == {3}
    eng.delete(spark.createDataFrame([(2,)], "doc_id long"))
    loc, dist = both("merge", ["/source/s1"])
    assert loc == dist and {d for d, _ in loc} == {1}
    eng.compact()
    loc, dist = both("merge", ["/lang/go"])
    assert loc == dist and {d for d, _ in loc} == {3}
    loc, dist = both("merge", ["/lang/py"])
    assert loc == dist and {d for d, _ in loc} == {1}


def test_compact_invalidates_serving_cache(spark, tmp_path):
    """Regression: search → ingest → compact → search. compact() resets to
    (gen=0, no deletes), colliding with a fresh build's cache key; a stale
    LocalSearcher would read rmtree'd segment files or pre-ingest results."""
    docs = spark.createDataFrame(
        [(1, "alpha merge"), (2, "beta join")], "doc_id long, text string"
    )
    eng = FuguSparkEngine.build(docs, str(tmp_path / "idx"), facets_col=None)
    assert {r.doc_id for r in eng.search("merge", k=10).collect()} == {1}
    batch = spark.createDataFrame([(3, "gamma merge fresh")], "doc_id long, text string")
    eng.ingest(batch)
    eng.compact()
    assert {r.doc_id for r in eng.search("merge", k=10).collect()} == {1, 3}
    assert {r.doc_id for r in eng.search("fresh", k=10).collect()} == {3}


def test_ingest_delete_compact_cycle(engine, spark):
    batch = spark.createDataFrame(
        [(5, "vector merge index", "py", "ns1")], "doc_id long, text string, lang string, ns string"
    ).withColumn(
        "facets",
        F.concat(
            derive_facets(("lang", F.col("lang"))),
            F.array(F.concat(F.lit("/namespace/"), F.col("ns"))),
        ),
    )
    engine.ingest(batch)
    assert 5 in {r.doc_id for r in engine.search("vector", k=10).collect()}
    engine.delete(spark.createDataFrame([(4,)], "doc_id long"))
    assert engine.get(4).count() == 0
    engine.compact()
    assert engine.health()["generations"] == 1
    assert 5 in {r.doc_id for r in engine.search("vector", k=10).collect()}


def test_min_score_served_matches_spark_path(engine):
    """min_score now runs on the serving fast path (VERDICT r3 Next #7):
    slice-then-threshold over the served frame must equal the Spark
    path's threshold-then-slice (scores are non-increasing)."""
    from fugu_spark.segment_search import search_segments

    base = search_segments(
        engine.si, "merge join", k=10, docs=engine.docs, mode=engine.mode
    ).collect()
    assert base, "fixture should match docs"
    thr = (base[0].score + base[-1].score) / 2  # cuts the list mid-way
    expected = [(r.doc_id, round(r.score, 9)) for r in base if r.score >= thr]
    got = [
        (r.doc_id, round(r.score, 9))
        for r in engine.search("merge join", k=10, min_score=thr).collect()
    ]
    assert got == expected and 0 < len(got) < len(base)

    # offset + min_score: threshold applies to the post-offset slice
    got2 = [r.doc_id for r in engine.search("merge join", k=10, offset=1, min_score=thr).collect()]
    assert got2 == [d for d, _ in expected][1:]


def test_maybe_compact_triggers(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, f"text number {i} merge", "en", "ns1") for i in range(6)],
        "doc_id long, text string, lang string, ns string",
    ).withColumn("facets", F.array(F.concat(F.lit("/lang/"), F.col("lang"))))
    eng = FuguSparkEngine.build(docs, str(tmp_path / "idx"))
    assert eng.maybe_compact() is False  # fresh index: 1 generation

    # pile up generations past the threshold
    for i in range(3):
        eng.ingest(
            spark.createDataFrame(
                [(100 + i, f"new doc {i} merge", "en", "ns1")],
                "doc_id long, text string, lang string, ns string",
            ).withColumn("facets", F.array(F.concat(F.lit("/lang/"), F.col("lang"))))
        )
    assert eng.si.max_gen() == 3
    assert eng.maybe_compact(max_generations=3) is True
    assert eng.si.max_gen() == 0  # compacted back to a single generation
    assert eng.maybe_compact(max_generations=3) is False

    # delete-ratio trigger: delete >25% of docs
    ids = spark.createDataFrame([(0,), (1,), (2,)], "doc_id long")
    eng.delete(ids)
    assert eng.maybe_compact(max_generations=99, max_delete_ratio=0.25) is True
    got = [r.doc_id for r in eng.search("merge", k=20).collect()]
    assert 0 not in got and 100 in got


def test_served_more_like_this_matches_distributed(spark, engine):
    """LocalSearcher.more_like_this == resultops.more_like_this on the
    same corpus: identical term selection (tokenize + tf×idf), identical
    ranks and scores (the serving pipeline is score-identical to the
    distributed engines)."""
    from fugu_spark.postings import build_index
    from fugu_spark.resultops import more_like_this as dist_mlt
    from fugu_spark.serve import LocalSearcher

    docs = engine.si.spark.read.parquet(f"{engine.si.index_dir}/doc_store").select(
        F.col("_doc_key").alias("doc_id"), "text"
    )
    idx = build_index(docs, id_col="doc_id", text_col="text")
    ls = LocalSearcher(engine.si.index_dir)
    for seed in (1, 3):
        want = [(r.doc_id, r.score) for r in dist_mlt(idx, seed, max_terms=3, k=5).collect()]
        got = ls.more_like_this(seed, max_terms=3, k=5)
        assert [(int(d), pytest.approx(s, abs=1e-9)) for d, s in zip(got["doc_id"], got["score"])] == want
        assert seed not in set(got["doc_id"])


def test_served_mlt_missing_doc(engine):
    from fugu_spark.serve import LocalSearcher

    ls = LocalSearcher(engine.si.index_dir)
    assert len(ls.more_like_this(99999, k=5)) == 0


def test_served_grouped_topk_matches_filtered_searches(engine):
    """Served collapse (facet-grouped top-k) assembles per-value
    filtered searches; groups with no hits are absent; ranks contiguous."""
    from fugu_spark.serve import LocalSearcher

    ls = LocalSearcher(engine.si.index_dir)
    out = ls.grouped_topk("merge", "lang", k_per_group=2)
    assert len(out), "no grouped hits"
    by_group: dict[str, list] = {}
    for r in out.itertuples():
        by_group.setdefault(r.group, []).append(r)
    # the original corpus guarantees at least the py and rs merge docs
    assert {"py", "rs"} <= set(by_group)
    for v, rows in by_group.items():
        assert [r.rank_in_group for r in rows] == list(range(1, len(rows) + 1))
        single = ls.search("merge", k=2, filters=[f"/lang/{v}"])
        assert [(r.doc_id, r.score) for r in rows] == list(
            zip(single["doc_id"], single["score"])
        )


def test_ingest_rejects_duplicate_doc_ids(spark, tmp_path):
    """A batch that repeats an id fails before any sidecar or segment
    write: the facet counts and the search results stay as they were."""
    docs = spark.createDataFrame(
        [(1, "alpha merge", ["/lang/py"]), (2, "beta join", ["/lang/go"])],
        "doc_id long, text string, facets array<string>",
    )
    eng = FuguSparkEngine.build(docs, str(tmp_path / "idx"))
    ledger = str(tmp_path / "idx" / "counts_index")
    n_ledger = spark.read.parquet(ledger).count()
    tree = eng.facet_tree()
    hits = sorted((r.doc_id, r.score) for r in eng.search("merge", k=10).collect())
    batch = spark.createDataFrame(
        [(2, "merge one", ["/lang/rs"]), (2, "merge two", ["/lang/rs"])],
        "doc_id long, text string, facets array<string>",
    )
    with pytest.raises(ValueError, match="duplicate doc_id 2"):
        eng.ingest(batch)
    assert eng.si.max_gen() == 0
    assert spark.read.parquet(ledger).count() == n_ledger
    assert eng.facet_tree() == tree
    assert sorted((r.doc_id, r.score) for r in eng.search("merge", k=10).collect()) == hits
