"""Segment format + query-v2 fixtures: codec round-trips (128-block
boundaries, FIXTURES.md §4), build/decode parity, rank identity vs the
table-native engine, salting under a hot term, checkpoint/resume."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from fugu_spark import codecs
from fugu_spark.postings import build_index
from fugu_spark.search import search
from fugu_spark.segment_search import decode_postings, heap_topk, search_segments, _term_meta
from fugu_spark.segments import build_segments

from .test_search import DOCS


class TestCodecs:
    def test_varint_roundtrip(self):
        vals = np.array([0, 1, 127, 128, 300, 2**21, 2**42, 2**63, 2**64 - 1], dtype=np.uint64)
        assert list(codecs.varint_decode(codecs.varint_encode(vals), len(vals))) == list(vals)

    def test_delta_roundtrip_negative_ids(self):
        # signed int64 doc ids (xxhash64) reinterpreted as uint64: wrap-exact
        ids = np.array([-(2**62), -5, -3, 2, 2**62], dtype=np.int64)
        enc = codecs.delta_encode(ids.view(np.uint64))
        dec = codecs.delta_decode(enc).view(np.int64)
        assert list(dec) == list(ids)

    def test_block_roundtrip_with_positions(self):
        doc_ids = np.arange(0, 128, dtype=np.uint64) * 7
        tfs = (doc_ids % 5 + 1).astype(np.uint64)
        doc_lens = (doc_ids % 90 + 10).astype(np.uint64)
        pos_counts = tfs.copy()
        flat = np.concatenate([np.arange(t, dtype=np.uint64) * 3 + 1 for t in tfs])
        enc = codecs.encode_posting_block(doc_ids, tfs, doc_lens, flat, pos_counts)
        dec = codecs.decode_posting_block(enc)
        assert list(dec["doc_ids"]) == list(doc_ids)
        assert list(dec["tfs"]) == list(tfs)
        assert list(dec["doc_lens"]) == list(doc_lens)
        got_flat = np.concatenate(dec["positions"])
        assert list(got_flat) == list(flat)
        assert enc["max_doc_id"] == int(doc_ids[-1])
        assert enc["max_tf"] == int(tfs.max())
        assert enc["min_doc_len"] == int(doc_lens.min())

    def test_varint_roundtrip_property(self):
        """Property: varint/delta round-trip is identity for ANY uint64
        multiset and ANY sorted-by-view doc-id list (hypothesis)."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=200, deadline=None)
        @given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
        def roundtrip(vals):
            arr = np.array(vals, dtype=np.uint64)
            assert list(codecs.varint_decode(codecs.varint_encode(arr), len(arr))) == vals

        @settings(max_examples=200, deadline=None)
        @given(
            st.lists(
                st.integers(min_value=-(2**63), max_value=2**63 - 1),
                max_size=300,
                unique=True,
            )
        )
        def delta_roundtrip(ids):
            arr = np.sort(np.array(ids, dtype=np.int64))
            dec = codecs.delta_decode(codecs.delta_encode(arr.view(np.uint64))).view(np.int64)
            assert list(dec) == list(arr)

        roundtrip()
        delta_roundtrip()

    def test_compression_shrinks(self):
        doc_ids = np.sort(np.arange(1000, dtype=np.uint64) * 3)
        enc = codecs.varint_encode(codecs.delta_encode(doc_ids))
        assert len(enc) < 1000 * 3  # gaps of 3 → 1 byte each vs 8 raw


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(list(DOCS.items()), "doc_id long, content string")


@pytest.fixture(scope="module")
def seg_index(spark, docs_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("segidx"))
    return build_segments(docs_df, d, id_col="doc_id", text_col="content", n_buckets=4)


def test_segment_block_boundaries(spark, tmp_path_factory):
    """One term across 300 docs → 3 blocks (128/128/44), FIXTURES.md §4."""
    docs = spark.createDataFrame(
        [(i, "blockterm filler%d" % i) for i in range(300)], "doc_id long, content string"
    )
    d = str(tmp_path_factory.mktemp("blk"))
    si = build_segments(docs, d, n_buckets=2)
    blocks = (
        si.segments_df(terms=["blockterm"]).orderBy("block_id").select("block_id", "n_docs").collect()
    )
    assert [(r.block_id, r.n_docs) for r in blocks] == [(0, 128), (1, 128), (2, 44)]


def test_decode_matches_table_native(spark, docs_df, seg_index):
    idx = build_index(docs_df)
    expected = sorted(
        (r.term, r.doc_id, r.tf, tuple(r.positions), r.doc_len) for r in idx.postings.collect()
    )
    terms = sorted({t for t, *_ in expected})
    meta = _term_meta(seg_index, terms)
    got = sorted(
        (r.term, r.doc_id, r.tf, tuple(r.positions), r.doc_len)
        for r in decode_postings(seg_index, terms, meta, with_positions=True).collect()
    )
    assert got == expected


QUERIES = [
    "merge",
    "merge join",
    "merge join sort quick",
    "merge AND join",
    "merge NOT join",
    '"merge join"',
    "merge^2 join",
    "the quick brown",  # includes hot term
    "zzznotfound merge",
]


@pytest.mark.parametrize("query", QUERIES)
def test_rank_parity_segments_vs_table(spark, docs_df, seg_index, query):
    idx = build_index(docs_df)
    expected = [(r.doc_id, r.score) for r in search(idx, query, k=10, docs=docs_df).collect()]
    wand = [
        (r.doc_id, r.score)
        for r in search_segments(
            seg_index, query, k=10, docs=docs_df, use_wand=True, wand_min_postings=0
        ).collect()
    ]
    exhaustive = [
        (r.doc_id, r.score)
        for r in search_segments(seg_index, query, k=10, docs=docs_df, use_wand=False).collect()
    ]
    assert [d for d, _ in wand] == [d for d, _ in expected], f"wand ranks: {query!r}"
    assert [d for d, _ in exhaustive] == [d for d, _ in expected]
    for (gd, gs), (ed, es) in zip(wand, expected):
        assert gs == pytest.approx(es, abs=1e-9)


def test_salting_preserves_results(spark, docs_df, tmp_path_factory):
    """hot_df_threshold=2 → every term with df>2 splits into salted
    sub-lists; merged results must be identical."""
    d = str(tmp_path_factory.mktemp("salted"))
    si = build_segments(docs_df, d, n_buckets=4, hot_df_threshold=2)
    n_salts = si.terms.filter(F.col("term") == "merge").first()["n_salts"]
    assert n_salts >= 2  # 'merge' df=5 → split
    idx = build_index(docs_df)
    for q in ["merge", "merge join", '"merge join"']:
        expected = [(r.doc_id, round(r.score, 9)) for r in search(idx, q, k=12).collect()]
        got = [
            (r.doc_id, round(r.score, 9))
            for r in search_segments(si, q, k=12, docs=docs_df).collect()
        ]
        assert got == expected, q


def test_salting_bounds_sublists_under_zipf(spark, tmp_path_factory):
    """Hot-term skew (SURVEY.md §7.4): with threshold H, every (term, salt)
    posting sub-list stays ≤ 2H on a Zipf corpus — no unbounded reducer."""
    from fugu_spark.corpus import generate_corpus

    H = 100
    docs = generate_corpus(spark, 600).withColumn("doc_id", F.xxhash64("repo", "path", "commit"))
    d = str(tmp_path_factory.mktemp("zipf"))
    si = build_segments(docs, d, id_col="doc_id", text_col="content", hot_df_threshold=H)
    sizes = (
        si.segments_df()
        .groupBy("term", "salt")
        .agg(F.sum("n_docs").alias("n"))
        .agg(F.max("n").alias("mx"))
        .first()
    )
    hot = si.terms.orderBy(F.desc("df")).first()
    assert hot["df"] > H  # the corpus really has a hot term
    assert hot["n_salts"] >= 2
    assert sizes["mx"] <= 2 * H


def test_resume_skips_completed_stages(spark, docs_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("resume"))
    si1 = build_segments(docs_df, d, n_buckets=4, build_id="build1")
    m1 = spark.read.parquet(f"{d}/manifest").count()
    si2 = build_segments(docs_df, d, n_buckets=4, build_id="build2", resume=True)
    m2 = spark.read.parquet(f"{d}/manifest").count()
    assert m1 == m2  # nothing re-ran → no new manifest rows
    assert si2.stats.n_docs == si1.stats.n_docs


def test_resume_rebuilds_missing_stage(spark, docs_df, tmp_path_factory):
    import shutil

    d = str(tmp_path_factory.mktemp("resume2"))
    build_segments(docs_df, d, n_buckets=4, build_id="b1")
    before = {r.term: r.df for r in spark.read.parquet(f"{d}/terms").collect()}
    shutil.rmtree(f"{d}/terms")
    si = build_segments(docs_df, d, n_buckets=4, build_id="b2", resume=True)
    after = {r.term: r.df for r in si.terms.collect()}
    assert after == before  # stage 3 rebuilt deterministically


def test_manifest_lineage_and_metrics(spark, seg_index):
    m = spark.read.parquet(f"{seg_index.index_dir}/manifest")
    per_bucket = m.filter(
        (F.col("stage") == "segments") & (F.col("partition_key") != "all")
    )
    assert per_bucket.count() > 0  # per-partition lineage rows exist
    assert per_bucket.filter(F.col("bytes_encoded") <= 0).count() == 0
    import json

    with open(f"{seg_index.index_dir}/stats.json") as f:
        stats = json.load(f)
    assert stats["n_postings"] > 0
    assert stats["postings_per_sec"] > 0
    assert stats["bytes_encoded"] > 0


def test_heap_topk_matches_orderby(spark):
    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97).cast("double").alias("score")
    ).repartition(8)
    got = [(r.doc_id, r.score) for r in heap_topk(df, 10).collect()]
    exp = [
        (r.doc_id, r.score)
        for r in df.orderBy(F.desc("score"), F.asc("doc_id")).limit(10).collect()
    ]
    assert got == exp


def test_negative_doc_ids_roundtrip(spark, tmp_path_factory):
    """xxhash64-style ids (negative int64) survive the segment round-trip."""
    docs = spark.createDataFrame(
        [(-(2**62) - 5, "alpha beta"), (-7, "alpha gamma"), (9, "alpha beta beta")],
        "doc_id long, content string",
    )
    d = str(tmp_path_factory.mktemp("negids"))
    si = build_segments(docs, d, n_buckets=2)
    meta = _term_meta(si, ["alpha", "beta"])
    rows = sorted(
        (r.term, r.doc_id, r.tf) for r in decode_postings(si, ["alpha", "beta"], meta).collect()
    )
    assert rows == [
        ("alpha", -(2**62) - 5, 1),
        ("alpha", -7, 1),
        ("alpha", 9, 1),
        ("beta", -(2**62) - 5, 1),
        ("beta", 9, 2),
    ]


def test_fused_build_matches_staged(spark, tmp_path):
    """checkpoint_postings=False (fused tokenize→shuffle→encode, sampled
    hot sketch) must produce result-identical indexes; sketch_fraction=1
    makes the sketch exact so salting decisions match too."""
    import json

    from fugu_spark.corpus import generate_corpus
    from fugu_spark.segment_search import search_segments

    docs = (
        generate_corpus(spark, 120)
        .withColumn("doc_id", F.xxhash64("repo", "path", "commit"))
        .cache()
    )
    a = build_segments(docs, str(tmp_path / "staged"), id_col="doc_id", text_col="content")
    b = build_segments(
        docs,
        str(tmp_path / "fused"),
        id_col="doc_id",
        text_col="content",
        checkpoint_postings=False,
        sketch_fraction=1.0,
    )
    sa = json.load(open(str(tmp_path / "staged" / "stats.json")))
    sb = json.load(open(str(tmp_path / "fused" / "stats.json")))
    for k in ("n_docs", "total_tokens", "n_postings", "bytes_encoded"):
        assert sa[k] == sb[k], k
    for q in ("merge join", '"merge join"', "merge NOT sort"):
        ra = [(r.doc_id, round(r.score, 9)) for r in search_segments(a, q, k=10, docs=docs).collect()]
        rb = [(r.doc_id, round(r.score, 9)) for r in search_segments(b, q, k=10, docs=docs).collect()]
        assert ra == rb, q
    # fused mode has no postings_raw checkpoint, but the segments marker
    # still makes re-builds resume-free
    import os
    import time

    assert not os.path.exists(str(tmp_path / "fused" / "postings_raw"))
    t0 = time.time()
    build_segments(
        docs, str(tmp_path / "fused"), id_col="doc_id", text_col="content",
        checkpoint_postings=False, resume=True,
    )
    assert time.time() - t0 < 5.0


def test_term_dictionary_sorted_for_pruning(spark, tmp_path):
    """The dictionary must be range-partitioned + sorted by term so the
    driver-side pyarrow lookup prunes by row-group min/max: files cover
    disjoint term ranges, and rows inside each file are sorted."""
    import glob

    import pyarrow.parquet as pq

    from fugu_spark.corpus import generate_corpus

    docs = (
        generate_corpus(spark, 100)
        .withColumn("doc_id", F.xxhash64("repo", "path", "commit"))
        .cache()
    )
    build_segments(docs, str(tmp_path / "idx"), id_col="doc_id", text_col="content")
    files = sorted(glob.glob(str(tmp_path / "idx" / "terms" / "part-*.parquet")))
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        if md.num_rows == 0:
            continue
        i = md.schema.to_arrow_schema().get_field_index("term")
        lo = min(md.row_group(g).column(i).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(i).statistics.max for g in range(md.num_row_groups))
        ranges.append((lo, hi))
        col = pq.read_table(f, columns=["term"]).column("term").to_pylist()
        assert col == sorted(col), f"{f} not sorted"
    ranges.sort()
    for (_, hi_a), (lo_b, _) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b, "term ranges overlap across files"


def test_dict_merge_reads_metadata_only(spark, seg_index):
    """Stage-3 dictionary merge must never read the encoded posting
    streams: bytes_enc is precomputed per block at encode time, so the
    parquet scan prunes every binary column (at scale, the alternative
    re-reads the whole index payload to sum lengths)."""
    import re

    from fugu_spark import segments as seg

    sdf = spark.read.schema(seg.SEG_READ_SCHEMA).parquet(f"{seg_index.index_dir}/segments")
    plan = seg._dict_agg(sdf)._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m, plan
    for col in ("doc_ids_enc", "tfs_enc", "doc_lens_enc", "pos_counts_enc", "positions_enc"):
        assert col not in m.group(1), f"dictionary merge reads binary column {col}"
    # and the precomputed sum is identical to recomputing from the streams
    recomputed = sdf.agg(
        F.sum(
            F.length("doc_ids_enc")
            + F.length("tfs_enc")
            + F.length("doc_lens_enc")
            + F.length("pos_counts_enc")
            + F.length("positions_enc")
        )
    ).collect()[0][0]
    assert sdf.agg(F.sum("bytes_enc")).collect()[0][0] == recomputed


# ---- stage-2 encode: batch-boundary and salt invariance ----------------

def _ref_segment_rows(postings):
    """Spark-free reference encoder: salt every posting the way the build
    does, then encode each (term, salt) group ALONE, block by block, with
    codecs.encode_posting_block. ``postings`` is a pandas frame with an
    unencoded ``positions`` column and a ``salt`` column."""
    rows = []
    for (term, salt), g in postings.groupby(["term", "salt"], sort=False):
        g = g.sort_values("doc_id")
        doc = g["doc_id"].to_numpy(np.int64)
        tf = g["tf"].to_numpy(np.uint64)
        dl = g["doc_len"].to_numpy(np.uint64)
        pos = list(g["positions"])
        for k, s in enumerate(range(0, len(g), codecs.BLOCK_SIZE)):
            e = min(s + codecs.BLOCK_SIZE, len(g))
            flat = np.concatenate([np.asarray(p, dtype=np.uint64) for p in pos[s:e]])
            enc = codecs.encode_posting_block(doc[s:e].view(np.uint64), tf[s:e], dl[s:e], flat, tf[s:e])
            streams = tuple(
                enc[c]
                for c in ("doc_ids_enc", "tfs_enc", "doc_lens_enc", "pos_counts_enc", "positions_enc")
            )
            rows.append((
                term, int(salt), k, e - s, int(tf[s:e].sum()), int(doc[s]), int(doc[e - 1]),
                int(tf[s:e].max()), int(dl[s:e].min()), *streams,
                int(g["term_bucket"].iloc[0]), sum(map(len, streams)),
            ))
    return sorted(rows)


def _seg_rows(spark, path):
    from fugu_spark.segments import SEGMENT_SCHEMA

    cols = [f.name for f in SEGMENT_SCHEMA.fields]
    return sorted(
        tuple(bytes(v) if isinstance(v, (bytearray, memoryview)) else v for v in r)
        for r in spark.read.parquet(path).select(cols).collect()
    )


def test_encode_byte_identical_across_batches_and_salts(spark, tmp_path):
    """The per-partition encode (runs found per Arrow batch, a run cut by
    a batch boundary carried into the next batch) writes exactly the
    blocks a per-group encoder writes — with 5-row Arrow batches, salted
    hot terms of several blocks per salt, negative doc ids, multi-byte
    position varints, and both position inputs (stage 1's pre-encoded
    ``pos_enc`` and compact()'s unencoded ``positions``)."""
    from fugu_spark.postings import build_postings
    from fugu_spark.segments import encode_postings_df

    H = 150
    docs = spark.createDataFrame(
        [
            (
                i * 7919 - 1_000_000,
                ("pad " * 200 if i % 50 == 0 else "")
                + f"alpha {'beta ' * (i % 3 + 1)}gamma{i % 7} delta{i} alpha",
            )
            for i in range(400)
        ],
        "doc_id long, content string",
    )

    def raw(encode_positions):
        return build_postings(
            docs, id_col="doc_id", text_col="content", encode_positions=encode_positions
        ).withColumn("term_bucket", F.pmod(F.xxhash64("term"), F.lit(4)).cast("int"))

    n_salts = F.ceil(F.count(F.lit(1)).over(Window.partitionBy("term")) / H).cast("int")
    ref_input = (
        raw(False)
        .withColumn("n", n_salts)
        .withColumn(
            "salt",
            F.when(F.col("n") > 1, F.pmod(F.xxhash64("doc_id"), F.col("n")).cast("int"))
            .otherwise(F.lit(0)),
        )
        .toPandas()
    )
    expected = _ref_segment_rows(ref_input)
    salts = {(r[0], r[1]) for r in expected}
    assert len({s for t, s in salts if t == "alpha"}) >= 2  # 'alpha' (df 400) is salted
    assert max(r[2] for r in expected) >= 1  # some salt holds more than one block

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "5")
    try:
        for name, enc in (("pos_enc", True), ("positions", False)):
            path = str(tmp_path / name)
            encode_postings_df(raw(enc), path, H, gen=0, append=False)
            assert _seg_rows(spark, path) == expected, name
    finally:
        spark.conf.set(key, old)


def _postings_batch(terms, salts, doc_ids):
    import pyarrow as pa

    n = len(terms)
    return pa.RecordBatch.from_pydict({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "term": pa.array(terms, pa.string()),
        "tf": pa.array([1] * n, pa.int32()),
        "pos_enc": pa.array([codecs.varint_encode(np.array([d % 5], np.uint64)) for d in doc_ids], pa.binary()),
        "doc_len": pa.array([3] * n, pa.int32()),
        "term_bucket": pa.array([0] * n, pa.int32()),
        "salt": pa.array(salts, pa.int32()),
    })


def test_encode_kernel_batch_split_invariant():
    """Spark-free: the same sorted partition split into different Arrow
    batch sizes encodes to the same block rows."""
    import pyarrow as pa

    from fugu_spark.segments import _encode_sorted_batches

    terms = ["a"] * 300 + ["b"] * 3 + ["b"] * 140 + ["c"]
    salts = [0] * 300 + [0] * 3 + [1] * 140 + [0]
    docs = list(range(-150, 150)) + [1, 5, 9] + list(range(0, 1400, 10)) + [7]
    whole = _postings_batch(terms, salts, docs)

    def encode(size):
        parts = [whole.slice(i, size) for i in range(0, whole.num_rows, size)]
        return pa.Table.from_batches(list(_encode_sorted_batches(iter(parts)))).to_pylist()

    ref = encode(whole.num_rows)
    assert [(r["term"], r["salt"], r["n_docs"]) for r in ref] == [
        ("a", 0, 128), ("a", 0, 128), ("a", 0, 44), ("b", 0, 3), ("b", 1, 128), ("b", 1, 12), ("c", 0, 1),
    ]
    for size in (1, 5, 128, 301):
        assert encode(size) == ref, size


@pytest.mark.parametrize(
    "batches",
    [
        # doc ids of a run go backwards
        [(["a", "a"], [0, 0], [3, 1])],
        # a duplicate posting split across a batch boundary
        [(["a", "a"], [0, 0], [1, 2]), (["a", "a"], [0, 0], [2, 3])],
        # run (a, 0) reappears after (b, 0) in the same partition
        [(["a", "b"], [0, 0], [1, 2]), (["a"], [0], [5])],
        # salts interleaved within a term
        [(["a", "a", "a"], [0, 1, 0], [1, 2, 3])],
    ],
)
def test_encode_kernel_rejects_unsorted_input(batches):
    """Spark-free: the encode kernel relies on (term, salt, doc_id) order
    and must raise on input that breaks it, never write a corrupt block."""
    from fugu_spark.segments import _encode_sorted_batches

    with pytest.raises(ValueError, match="segment encode"):
        list(_encode_sorted_batches(iter([_postings_batch(*b) for b in batches])))


def test_build_drops_postings_raw_after_segments_commit(spark, seg_index):
    """Stage 1's checkpoint is deleted once the segments stage commits;
    its marker (and wall) stays, and stats.json sums all three stage
    walls."""
    import json
    import os

    d = seg_index.index_dir
    assert not os.path.exists(f"{d}/postings_raw")
    with open(f"{d}/stats.json") as f:
        stats = json.load(f)
    walls = []
    for st in ("postings_raw", "segments", "terms"):
        with open(f"{d}/_stage_{st}.json") as f:
            walls.append(json.load(f)["wall_sec"])
    assert stats["build_wall_sec"] == pytest.approx(sum(walls))


def test_encode_kernel_names_duplicate_doc_id():
    """Spark-free: a doc id repeated within a run is reported as a
    duplicate id, not as a sort-order fault."""
    from fugu_spark.segments import _encode_sorted_batches

    with pytest.raises(ValueError, match="duplicate doc_id 2 "):
        list(_encode_sorted_batches(iter([_postings_batch(["a"] * 3, [0] * 3, [1, 2, 2])])))


def test_build_rejects_duplicate_doc_ids(spark, tmp_path):
    """A corpus that repeats an id fails before stage 1 with the id named,
    and writes no segments."""
    import os

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (2, "delta only")], "doc_id long, content string"
    )
    d = str(tmp_path / "idx")
    with pytest.raises(ValueError, match="duplicate doc_id 2"):
        build_segments(docs, d, n_buckets=4)
    assert not os.path.exists(f"{d}/postings_raw") and not os.path.exists(f"{d}/segments")


def test_upsert_rejects_duplicate_doc_ids_unchanged(spark, docs_df, tmp_path):
    """An upsert batch that repeats an id raises before the delete mask is
    written: the index keeps its generation, mask and results."""
    import os

    from fugu_spark.segments import SegmentIndex, upsert_segments

    d = str(tmp_path / "idx")
    si = build_segments(docs_df, d, id_col="doc_id", text_col="content", n_buckets=4)
    before = sorted((r.doc_id, r.score) for r in search_segments(si, "merge", k=50).collect())
    ids = [r.doc_id for r in docs_df.select("doc_id").collect()]
    batch = spark.createDataFrame(
        [(ids[0], "merge rewritten"), (ids[0], "merge again"), (ids[1], "other merge")],
        "doc_id long, content string",
    )
    with pytest.raises(ValueError, match=f"duplicate doc_id {ids[0]}"):
        upsert_segments(si, batch, id_col="doc_id", text_col="content")
    assert not os.path.exists(f"{d}/deletes")
    si2 = SegmentIndex.load(spark, d)
    assert si2.max_gen() == si.max_gen() == 0
    after = sorted((r.doc_id, r.score) for r in search_segments(si2, "merge", k=50).collect())
    assert after == before
