"""Engine facade: the reference's HTTP API surface as one Python object.

Every route of the reference server (/root/reference/src/server/routes.rs:29-84)
maps to a method here, so a fugu user can switch 1:1:

| fugu route | method |
|---|---|
| GET/POST /search            | ``search(query, k, offset, filters)`` |
| GET /objects/{id}           | ``get(doc_id)`` |
| GET /objects                | ``list_objects(n)`` |
| PUT /objects, POST /ingest, /batch/upsert | ``ingest(batch)`` |
| DELETE /objects/{id}        | ``delete(ids)`` |
| GET /namespaces             | ``namespaces()`` |
| GET /namespaces/{ns}/facets | ``namespace_filters(ns)`` |
| GET /filters, /filters/all  | ``all_filters()`` |
| GET /filters/path/{path}    | ``filter_values(path)`` |
| GET /facets/tree            | ``facet_tree(max_depth)`` |
| (query_index)               | ``suggest(prefix, n)`` |
| GET /health                 | ``health()`` |
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import facets as FC
from .dataset import Dataset, build_dataset, validate
from .dates import DATE_FIELDS, date_range_filter, with_date_fields
from .segment_search import search_segments
from .segments import (
    SegmentIndex,
    build_segments,
    compact,
    count_unique_ids,
    delete_doc_ids,
    upsert_segments,
)
from .tokenizer import DEFAULT_MODE


def _write_filter_index(
    docs: DataFrame, index_dir: str, id_col: str, facets_col: str, gen: int, mode: str
) -> None:
    """Persist (doc_id, facet, gen) next to the segments so the
    driver-side LocalSearcher can serve Equals/Prefix facet filters with
    parquet pushdown; generations are delete-masked exactly like posting
    blocks (the reference's filter index analog, SURVEY D5)."""
    from . import fsio
    from .dataset import build_filter_index

    rows = (
        build_filter_index(docs, id_col=id_col, facets_col=facets_col)
        .select(F.col(id_col).cast("long").alias("doc_id"), "facet")
        .withColumn("gen", F.lit(gen))
    )
    from .segments import SIDECAR_PART_BYTES, sized_range_partitions

    # clustered on the lookup key: Equals/Prefix facet predicates prune
    # to the row groups whose [min, max] facet range matches; partition
    # count scales with sidecar bytes (not shuffle.partitions)
    (
        rows.repartitionByRange(sized_range_partitions(rows, SIDECAR_PART_BYTES), "facet")
        .sortWithinPartitions("facet")
        .write.mode(mode)
        .parquet(fsio.join(index_dir, "filter_index"))
    )


def _write_date_index(
    docs: DataFrame, index_dir: str, id_col: str, gen: int, mode: str
) -> None:
    """Persist (doc_id, <date_field>_us …, gen) — epoch micros of every
    parsed date column (X5) — so the driver-side LocalSearcher serves
    [start, end) date-range filters at ms latency with parquet min/max
    pushdown instead of forcing a Spark job over the docs table. Same
    generation delete-masking as the filter_index."""
    from . import fsio

    types = dict(docs.dtypes)
    present = [c for c in DATE_FIELDS if types.get(c, "").startswith("timestamp")]
    if not present:
        return
    rows = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        *[F.unix_micros(F.col(c)).alias(f"{c}_us") for c in present],
    ).withColumn("gen", F.lit(gen))
    # clustered on the first date column (the common range filter);
    # other date columns usually correlate, so their min/max stats stay
    # tight enough to prune too
    from .segments import SIDECAR_PART_BYTES, sized_range_partitions

    key = f"{present[0]}_us"
    (
        rows.repartitionByRange(sized_range_partitions(rows, SIDECAR_PART_BYTES), key)
        .sortWithinPartitions(key)
        .write.mode(mode)
        .parquet(fsio.join(index_dir, "date_index"))
    )


def _write_code_sidecars(
    docs: DataFrame,
    index_dir: str,
    id_col: str,
    text_col: str,
    lang_col: str | None,
    gen: int,
    mode: str,
) -> None:
    """Code-search sidecars: the trigram posting index (append-safe by
    construction — it is a verified prefilter, see trigram.py) and the
    symbol index with a ``gen`` column so lookups can apply the SAME
    segment delete mask that retires replaced docs' postings."""
    from .analytics import symbols as SY
    from .trigram import build_trigram_index

    build_trigram_index(docs, index_dir, id_col=id_col, text_col=text_col, mode=mode)
    syms = SY.extract_symbols(
        docs, id_col=id_col, text_col=text_col, lang_col=lang_col
    ).withColumn("gen", F.lit(gen))
    SY.build_symbol_index(syms, index_dir, mode=mode)


def _counts_rows_from_facets(fac_rows: DataFrame, sign: int) -> DataFrame:
    """(facet) rows → per-prefix occurrence-count deltas."""
    return (
        fac_rows.select(F.explode(FC.prefix_expand(F.col("facet"))).alias("prefix"))
        .groupBy("prefix")
        .agg((F.count(F.lit(1)) * sign).cast("long").alias("delta"))
    )


def _counts_delta_rows(docs: DataFrame, facets_col: str, sign: int) -> DataFrame:
    """Per-prefix occurrence-count deltas for a doc batch — the exact
    quantity `facet_tree_counts` aggregates, so sidecar-served analytics
    are value-identical to the docs-scan path."""
    return _counts_rows_from_facets(FC._exploded(docs, facets_col), sign)


def live_facet_rows_for_ids(spark, index_dir: str, ids: DataFrame) -> DataFrame | None:
    """The currently-LIVE filter_index (doc_id, facet) rows for these ids
    — max generation per doc, delete-masked. The streaming sink uses this
    to write negative counts-ledger deltas for docs a micro-batch
    replaces (it has no docs table to consult)."""
    from pyspark.sql import Window

    from . import fsio

    path = fsio.join(index_dir, "filter_index")
    if not fsio.exists(path):
        return None
    fi = spark.read.schema("doc_id long, facet string, gen int").parquet(path)
    fi = fi.join(ids.select(F.col(ids.columns[0]).cast("long").alias("doc_id")),
                 "doc_id", "left_semi")
    w = Window.partitionBy("doc_id")
    live = fi.withColumn("_mx", F.max("gen").over(w)).filter(F.col("gen") == F.col("_mx"))
    del_path = fsio.join(index_dir, "deletes")
    if fsio.exists(del_path):
        dels = (
            spark.read.parquet(del_path)
            .groupBy("doc_id")
            .agg(F.max("del_gen").alias("del_gen"))
        )
        live = live.join(F.broadcast(dels), "doc_id", "left").filter(
            F.col("del_gen").isNull() | (F.col("gen") >= F.col("del_gen"))
        )
    return live.select("doc_id", "facet")


def _write_counts_index(
    docs: DataFrame, index_dir: str, facets_col: str, mode: str, sign: int = 1
) -> None:
    """Persist the pre-rolled facet-count ledger (`counts_index`): append-
    only (prefix, delta) rows. Serving sums the tiny ledger instead of
    scanning the corpus — at 10^12 docs facet analytics stay O(|facets|),
    not O(docs). Upserts/deletes append negative deltas for the replaced
    docs' facets; compaction rewrites the ledger from live docs."""
    from . import fsio

    if facets_col not in docs.columns:
        return
    rows = _counts_delta_rows(docs, facets_col, sign)
    rows.write.mode(mode).parquet(fsio.join(index_dir, "counts_index"))


def _write_suggest_index(
    docs: DataFrame, index_dir: str, id_col: str, text_col: str, gen: int, mode: str
) -> None:
    """Persist the suggestion index (D6) — the third of the reference's
    three per-namespace indexes (records/filters/suggestions,
    /root/reference/src/db/core.rs:39-79). Rows: (doc_id, suggestion,
    s_lower, gen); ``s_lower`` exists so the driver-side prefix lookup
    pushes a byte-range filter into the parquet scan. Same generation
    delete-masking as the filter_index."""
    from . import fsio
    from .dataset import build_query_index

    rows = (
        build_query_index(docs, id_col, text_col)
        .select(
            F.col(id_col).cast("long").alias("doc_id"),
            "suggestion",
            F.lower(F.col("suggestion")).alias("s_lower"),
        )
        .withColumn("gen", F.lit(gen))
    )
    from .segments import SIDECAR_PART_BYTES, sized_range_partitions

    # clustered on s_lower so the driver-side prefix byte-range filter
    # prunes row groups
    (
        rows.repartitionByRange(sized_range_partitions(rows, SIDECAR_PART_BYTES), "s_lower")
        .sortWithinPartitions("s_lower")
        .write.mode(mode)
        .parquet(fsio.join(index_dir, "suggest_index"))
    )


def _doc_store_partitions(rows: DataFrame, target_bytes: int | None = None) -> int:
    """Partition count for the doc_store sidecar: proportional to input
    size (one range partition per ~``target_bytes`` of source data, env
    FUGU_SPARK_DOC_STORE_PART_BYTES, default 256 MB) instead of a fixed
    cap — at 10^12 docs a capped sidecar is both a write bottleneck and
    a read-pruning ceiling (VERDICT r3 What's-wrong #4)."""
    import os

    if target_bytes is None:
        target_bytes = int(
            os.environ.get("FUGU_SPARK_DOC_STORE_PART_BYTES", str(256 << 20))
        )
    from .segments import sized_range_partitions

    return sized_range_partitions(rows, target_bytes)


def _write_doc_store(
    docs: DataFrame, index_dir: str, id_col: str, gen: int, mode: str
) -> None:
    """Persist the stored-document sidecar (S8's serving half): full doc
    rows keyed by doc_id + generation, range-partitioned and sorted on
    doc_id so point lookups prune to one row group. get() and
    search_response(include_data=...) hydrate from here driver-side
    instead of running a Spark job per response."""
    from . import fsio

    rows = docs.withColumn("_gen", F.lit(gen)).withColumn(
        "_doc_key", F.col(id_col).cast("long")
    )
    (
        rows.repartitionByRange(_doc_store_partitions(rows), "_doc_key")
        .sortWithinPartitions("_doc_key")
        .write.mode(mode)
        .parquet(fsio.join(index_dir, "doc_store"))
    )


@dataclass
class FuguSparkEngine:
    spark: SparkSession
    index_dir: str
    docs: DataFrame
    si: SegmentIndex
    ds: Dataset
    id_col: str = "doc_id"
    text_col: str = "text"
    facets_col: str = "facets"
    mode: str = DEFAULT_MODE
    # Max Σdf a single query may decode driver-side before routing to the
    # distributed engine (posting arrays are ~24 B/posting decoded: 5M ≈
    # 120 MB of driver RAM; hot-term queries at corpus scale go to Spark).
    serve_max_postings: int = 5_000_000
    k1: float = 1.2
    b: float = 0.75
    code_lang_col: str | None = None

    # ---- lifecycle -------------------------------------------------

    @classmethod
    def build(
        cls,
        docs: DataFrame,
        index_dir: str | None = None,
        id_col: str = "doc_id",
        text_col: str = "text",
        facets_col: str | None = "facets",
        strict_validation: bool | None = None,
        mode: str | None = None,
        config: "EngineConfig | None" = None,
        code_search: bool = False,
        code_lang_col: str | None = None,
    ) -> "FuguSparkEngine":
        """Build all indexes. ``config`` (S6: an EngineConfig from
        fugu_spark.config.load_config — YAML/JSON file + FUGU_SPARK_* env)
        supplies engine parameters; explicit kwargs win over it.

        ``code_search=True`` additionally builds the code-search
        sidecars: the trigram index (substring/regex/grep without a
        corpus scan — fugu_spark/trigram.py) and the symbol index
        (definition lookup — analytics/symbols.py, gen-stamped so the
        segment delete mask retires replaced docs' definitions).
        ``code_lang_col`` names a per-doc language column for the
        symbol patterns; None applies the default-language set."""
        from .config import EngineConfig

        cfg = config or EngineConfig()
        index_dir = index_dir or cfg.index_dir
        if not index_dir:
            raise ValueError("index_dir required (argument or config)")
        mode = mode or cfg.mode
        strict = cfg.strict_validation if strict_validation is None else strict_validation
        good, _bad = validate(
            docs,
            id_col=id_col,
            text_col=text_col,
            facets_col=facets_col if facets_col and facets_col in docs.columns else None,
            strict=strict,
            max_text_len=cfg.max_text_len,
        )
        good = FC.normalize_metadata(good)  # struct metadata → JSON string (X6)
        good = with_date_fields(good).cache()  # RFC3339 → timestamp (X5)
        if facets_col and facets_col in good.columns:
            _write_filter_index(good, index_dir, id_col, facets_col, gen=0, mode="overwrite")
            _write_counts_index(good, index_dir, facets_col, mode="overwrite")
        _write_date_index(good, index_dir, id_col, gen=0, mode="overwrite")
        _write_suggest_index(good, index_dir, id_col, text_col, gen=0, mode="overwrite")
        _write_doc_store(good, index_dir, id_col, gen=0, mode="overwrite")
        if code_search:
            _write_code_sidecars(
                good, index_dir, id_col, text_col, code_lang_col, gen=0,
                mode="overwrite",
            )
        si = build_segments(
            good,
            index_dir,
            id_col=id_col,
            text_col=text_col,
            mode=mode,
            n_buckets=cfg.n_buckets,
            hot_df_threshold=cfg.hot_df_threshold,
        )
        ds = build_dataset(good, id_col=id_col, text_col=text_col, facets_col=facets_col)
        return cls(
            spark=docs.sparkSession,
            index_dir=index_dir,
            docs=good,
            si=si,
            ds=ds,
            id_col=id_col,
            text_col=text_col,
            facets_col=facets_col or "facets",
            mode=mode,
            serve_max_postings=cfg.serve_max_postings,
            k1=cfg.k1,
            b=cfg.b,
            code_lang_col=code_lang_col,
        )

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        index_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        facets_col: str | None = "facets",
        mode: str | None = None,
        config: "EngineConfig | None" = None,
    ) -> "FuguSparkEngine":
        """Reopen an existing index WITHOUT rebuilding — the restart path
        a long-lived service needs. Segments/dictionary come from
        SegmentIndex.load; the docs table is reconstructed from the
        doc_store sidecar (latest live generation per doc, delete-masked
        — the same row-selection the served get() applies), so every
        fallback path (AllQuery, arbitrary predicates, highlights,
        suggest rebuild) works identically to a freshly-built engine."""
        from pyspark.sql import Window

        from . import fsio
        from .config import EngineConfig

        cfg = config or EngineConfig()
        mode = mode or cfg.mode
        si = SegmentIndex.load(spark, index_dir)
        store = fsio.join(index_dir, "doc_store")
        if not fsio.exists(store):
            raise ValueError(
                f"no doc_store at {index_dir!r} — this index predates 0.4.0 "
                "or was built with build_segments directly; rebuild through "
                "FuguSparkEngine.build"
            )
        raw = spark.read.parquet(store)
        w = Window.partitionBy("_doc_key")
        docs = (
            raw.withColumn("_mx", F.max("_gen").over(w))
            .filter(F.col("_gen") == F.col("_mx"))
        )
        mask = si.deletes_df()
        if mask is not None:
            docs = (
                docs.join(
                    F.broadcast(mask),
                    docs["_doc_key"] == mask["doc_id"],
                    "left",
                )
                .filter(F.col("del_gen").isNull() | (F.col("_gen") >= F.col("del_gen")))
                .drop(mask["doc_id"])
                .drop("del_gen")
            )
        docs = docs.drop("_gen", "_mx", "_doc_key").cache()
        fc = facets_col if facets_col and facets_col in docs.columns else None
        ds = build_dataset(docs, id_col=id_col, text_col=text_col, facets_col=fc)
        return cls(
            spark=spark,
            index_dir=index_dir,
            docs=docs,
            si=si,
            ds=ds,
            id_col=id_col,
            text_col=text_col,
            facets_col=facets_col or "facets",
            mode=mode,
            serve_max_postings=cfg.serve_max_postings,
            k1=cfg.k1,
            b=cfg.b,
        )

    def health(self) -> dict:
        return {
            "status": "ok",
            "n_docs": self.si.stats.n_docs,
            "avgdl": self.si.stats.avgdl,
            "generations": self.si.max_gen() + 1,
        }

    # ---- search ----------------------------------------------------

    def search(
        self,
        query: str | None,
        k: int = 20,
        offset: int = 0,
        filters: list[str] | None = None,
        min_score: float | None = None,
        date_ranges: dict[str, tuple[str | None, str | None]] | None = None,
        min_should_match: int = 0,
        sort_by: str | None = None,
        sort_ascending: bool = False,
        synonyms: dict | None = None,
    ) -> DataFrame:
        """Scored search with facet filters; per_page clamp like the
        reference ((0,100] → 20, src/server/handlers/search.rs:370-374).

        ``min_should_match`` — Lucene minimumNumberShouldMatch on the
        top-level boolean (see search.execute_plan); served locally and
        distributed with identical semantics.

        ``sort_by`` — order results by this docs column instead of
        relevance (Tantivy sort_by_field; search.top_k_by_field) →
        (doc_id, sort_key, score). Runs distributed (the serving sidecars
        hold no arbitrary doc columns).

        ``date_ranges`` maps a date column (e.g. ``date_created``) to an
        RFC3339 ``(start, end)`` half-open range (X5). The query string
        may also carry Tantivy-style range clauses over the date fields
        (``date_created:[2024-01-01T00:00:00Z TO *]``) — they are pulled
        out here and merged into ``date_ranges`` (dates.extract_date_ranges
        documents the pinned bound mapping)."""
        if k <= 0 or k > 100:
            k = 20
        from .dates import DATE_FIELDS, extract_date_ranges

        date_cols = tuple(c for c in DATE_FIELDS if c in self.docs.columns)
        if query and date_cols:
            query, extracted = extract_date_ranges(query, date_cols)
            if extracted:
                date_ranges = {**(date_ranges or {}), **extracted}
        # facet filters resolve against the persisted filter_index (no
        # docs-table scan); only date ranges need a docs predicate
        doc_filter = None
        for col, (start, end) in (date_ranges or {}).items():
            rng = date_range_filter(F.col(col), start, end)
            doc_filter = rng if doc_filter is None else (doc_filter & rng)
        if sort_by is not None:
            out = search_segments(
                self.si,
                query,
                k=k + offset,
                docs=self.docs,
                id_col=self.id_col,
                doc_filter=doc_filter,
                mode=self.mode,
                k1=self.k1,
                b=self.b,
                filter_paths=filters or None,
                min_should_match=min_should_match,
                sort_by=sort_by,
                sort_ascending=sort_ascending,
                min_score=min_score,
                synonyms=synonyms,
            )
            if offset:
                rows = out.collect()[offset : offset + k]
                return self.spark.createDataFrame(rows, out.schema)
            return out
        # serving fast path: LocalSearcher over the same segment +
        # filter-index + date-index files (rank/score-identical; ~ms, no
        # Spark job). min_score applies AFTER the top-(k+offset) slice;
        # scores are non-increasing, so slice-then-threshold here equals
        # the Spark path's threshold-then-slice.
        try:
            pdf = self._local_searcher().search(
                query,
                k=k,
                offset=offset,
                max_postings=self.serve_max_postings,
                filters=filters,
                date_ranges=date_ranges,
                min_should_match=min_should_match,
                synonyms=synonyms,
            )
            if min_score is not None and len(pdf):
                pdf = pdf[pdf["score"] >= min_score]
            return self.spark.createDataFrame(
                pdf if len(pdf) else [], "doc_id long, score double"
            )
        except ValueError:
            # AllQuery / NOT-only (needs the docs table), posting
            # volume above the serve cap, a contains/wildcard filter
            # (no parquet pushdown), or a date filter on an index
            # without a date sidecar: run distributed
            pass
        out = search_segments(
            self.si,
            query,
            k=k + offset,
            docs=self.docs,
            id_col=self.id_col,
            doc_filter=doc_filter,
            mode=self.mode,
            k1=self.k1,
            b=self.b,
            filter_paths=filters or None,
            min_should_match=min_should_match,
            synonyms=synonyms,
        )
        if min_score is not None:
            out = out.filter(F.col("score") >= min_score)
        if offset:
            rows = out.collect()[offset : offset + k]
            return self.spark.createDataFrame(rows or [], "doc_id long, score double")
        return out

    def _local_searcher(self):
        from . import fsio
        from .serve import LocalSearcher

        key = (
            self.si.max_gen(),
            # delete-only ops add files, not generations
            len(fsio.listdir(fsio.join(self.index_dir, "deletes"))),
            # stats.json is rewritten by every build/upsert/compact: after
            # compact() resets to (gen=0, no deletes) the first two fields
            # collide with a fresh build's key and a stale searcher would
            # read rmtree'd segment files — the mtime disambiguates
            fsio.mtime_token(fsio.join(self.index_dir, "stats.json")),
        )
        cached = getattr(self, "_ls_cache", None)
        if cached is None or cached[0] != key:
            cached = (
                key,
                LocalSearcher(
                    self.index_dir,
                    mode=self.mode,
                    k1=self.k1,
                    b=self.b,
                    session_tz=self.spark.conf.get("spark.sql.session.timeZone", None),
                ),
            )
            self._ls_cache = cached
        return cached[1]

    @staticmethod
    def is_targeting_conv_or_org(filters: list[str] | None) -> bool:
        """F8 helper (/root/reference/src/server/handlers/utils.rs:4-13):
        normalize each filter to a leading '/' and look for the
        /conversation or /organization segments."""
        for f in filters or []:
            norm = f if f.startswith("/") else "/" + f
            if "/conversation" in norm or "/organization" in norm:
                return True
        return False

    def search_response(
        self,
        query: str | None,
        k: int = 20,
        offset: int = 0,
        filters: list[str] | None = None,
        include_data: bool | None = None,
        include_text: bool = True,
        include_highlights: bool = False,
        **kw,
    ) -> dict:
        """Reference-shaped JSON response (F8,
        /root/reference/src/server/handlers/search.rs:242-286; shape
        /root/reference/API.md:108-121 — hits + took_ms, optional
        highlights): ``include_data`` defaults to NOT targeting conv/org
        filters; when set, each hit carries the full stored object (minus
        ``text`` unless ``include_text``)."""
        import time as _time

        t0 = _time.time()
        targeting = self.is_targeting_conv_or_org(filters)
        if include_data is None:
            include_data = not targeting
        hits = self.search(query, k=k, offset=offset, filters=filters, **kw)
        if include_highlights:
            from .highlights import with_snippets

            hits = with_snippets(
                hits, self.docs, query or "", id_col=self.id_col, text_col=self.text_col
            )
        results = [
            {
                "doc_id": r["doc_id"],
                "score": r["score"],
                **({"highlights": r["snippet"]} if include_highlights else {}),
            }
            for r in hits.collect()
        ]
        if include_data and results:
            ids = [r["doc_id"] for r in results]
            rows = None
            try:
                import numpy as _np

                def _py(v):
                    if isinstance(v, _np.ndarray):
                        return v.tolist()
                    if isinstance(v, _np.generic):
                        return v.item()
                    return v

                pdf = self._local_searcher().get_docs([int(i) for i in ids])
                rows = {
                    int(rec[self.id_col]): {k: _py(v) for k, v in rec.items()}
                    for rec in pdf.to_dict(orient="records")
                }
            except (ValueError, TypeError):
                pass
            if rows is None:
                rows = {
                    row[self.id_col]: row.asDict()
                    for row in self.docs.filter(F.col(self.id_col).isin(ids)).collect()
                }
            for r in results:
                data = dict(rows.get(r["doc_id"], {}))
                if not include_text:
                    data.pop(self.text_col, None)
                r["data"] = data
        return {
            "results": results,
            "includes_data_objects": include_data,
            "targeting_conversations_or_organizations": targeting,
            "took_ms": int((_time.time() - t0) * 1000),
        }

    def get(self, doc_id, serve: bool = True) -> DataFrame:
        """S8 point lookup; serve-first from the doc_store sidecar (one
        pruned row group, no Spark job), docs-table fallback."""
        if serve:
            try:
                pdf = self._local_searcher().get_docs([int(doc_id)])
                if len(pdf):
                    return self.spark.createDataFrame(pdf)
                return self.docs.filter(F.lit(False))
            except (ValueError, TypeError):
                pass
        return self.docs.filter(F.col(self.id_col) == doc_id).limit(1)

    def list_objects(self, n: int = 20) -> DataFrame:
        return self.docs.limit(n)

    def suggest(self, prefix: str, n: int = 10, serve: bool = True) -> DataFrame:
        """D6 autocomplete; serve-first from the persisted suggest_index
        (byte-range pushdown, ms), query_index scan fallback."""
        if serve:
            try:
                pdf = self._local_searcher().suggest(prefix, n=n)
                return self.spark.createDataFrame(
                    pdf if len(pdf) else [], "suggestion string, count long"
                )
            except ValueError:
                pass
        return (
            self.ds.query_index.filter(F.lower(F.col("suggestion")).startswith(prefix.lower()))
            .groupBy("suggestion")
            .agg(F.count(F.lit(1)).alias("count"))
            .orderBy(F.desc("count"), "suggestion")
            .limit(n)
        )

    # ---- DML -------------------------------------------------------

    def ingest(self, batch: DataFrame, strict: bool = True) -> "FuguSparkEngine":
        good, _ = validate(
            batch,
            id_col=self.id_col,
            text_col=self.text_col,
            facets_col=self.facets_col if self.facets_col in batch.columns else None,
            strict=strict,
        )
        good = FC.normalize_metadata(good)
        good = with_date_fields(good)
        # a repeated id must fail before the counts ledger is touched
        n_good = count_unique_ids(good, self.id_col)
        # A9 (/root/reference/src/server/handlers/ingest.rs:88-117): tally
        # objects arriving with explicit facets vs facet-less (generated)
        if self.facets_col in good.columns:
            t = good.agg(
                F.sum(
                    F.when(
                        F.col(self.facets_col).isNotNull() & (F.size(self.facets_col) > 0), 1
                    ).otherwise(0)
                ).alias("explicit"),
                F.count(F.lit(1)).alias("total"),
            ).first()
            explicit = int(t["explicit"] or 0)
            self.last_ingest_tally = {
                "explicit_facets_count": explicit,
                "generated_facets_count": int(t["total"]) - explicit,
            }
        else:
            self.last_ingest_tally = {
                "explicit_facets_count": 0,
                "generated_facets_count": n_good,
            }
        # counts ledger: subtract the REPLACED docs' facet prefixes (their
        # old rows are about to be delete-masked), then add the batch's
        if self.facets_col in good.columns and self.facets_col in self.docs.columns:
            replaced = self.docs.join(
                good.select(F.col(self.id_col)), self.id_col, "left_semi"
            )
            _write_counts_index(
                replaced, self.index_dir, self.facets_col, mode="append", sign=-1
            )
            _write_counts_index(good, self.index_dir, self.facets_col, mode="append")
        self.si = upsert_segments(
            self.si, good, id_col=self.id_col, text_col=self.text_col, mode=self.mode
        )
        if self.facets_col in good.columns:
            _write_filter_index(
                good,
                self.index_dir,
                self.id_col,
                self.facets_col,
                gen=self.si.max_gen(),
                mode="append",
            )
        _write_date_index(
            good, self.index_dir, self.id_col, gen=self.si.max_gen(), mode="append"
        )
        _write_suggest_index(
            good, self.index_dir, self.id_col, self.text_col,
            gen=self.si.max_gen(), mode="append",
        )
        _write_doc_store(good, self.index_dir, self.id_col, gen=self.si.max_gen(), mode="append")
        from . import fsio

        if fsio.exists(fsio.join(self.index_dir, "trigram_index")):
            _write_code_sidecars(
                good, self.index_dir, self.id_col, self.text_col,
                self.code_lang_col, gen=self.si.max_gen(), mode="append",
            )
        from .dataset import upsert as ds_upsert

        self.docs = ds_upsert(self.docs, good, id_col=self.id_col).cache()
        self.ds = build_dataset(
            self.docs, id_col=self.id_col, text_col=self.text_col, facets_col=self.facets_col
        )
        return self

    def delete(self, ids: DataFrame) -> "FuguSparkEngine":
        if self.facets_col in self.docs.columns:
            gone = self.docs.join(ids, self.id_col, "left_semi")
            _write_counts_index(gone, self.index_dir, self.facets_col, mode="append", sign=-1)
        self.si = delete_doc_ids(self.si, ids, id_col=self.id_col)
        self.docs = self.docs.join(ids, self.id_col, "left_anti").cache()
        return self

    def delete_by_query(
        self,
        query: str | dict | None,
        filters: list[str] | None = None,
        date_ranges: dict[str, tuple[str | None, str | None]] | None = None,
        min_should_match: int = 0,
    ) -> "FuguSparkEngine":
        """ES ``_delete_by_query``: tombstone every document matching the
        query — full boolean/phrase/DSL semantics plus facet filters and
        date ranges, exactly what :meth:`search` would match (no top-k
        cap, no per_page clamp). The match set is computed with
        ``search_segments(k=None)`` and flows into :meth:`delete` as a
        DataFrame end-to-end — ids are never collected to the driver, so
        a delete matching 10⁹ docs shuffles ids, not documents. Deletes
        are generational tombstones like :meth:`delete`; reclaim space
        with :meth:`compact` / :meth:`maybe_compact` (whose
        max_delete_ratio trigger is built for exactly this op)."""
        from .dates import DATE_FIELDS, extract_date_ranges

        date_cols = tuple(c for c in DATE_FIELDS if c in self.docs.columns)
        if query and isinstance(query, str) and date_cols:
            query, extracted = extract_date_ranges(query, date_cols)
            if extracted:
                date_ranges = {**(date_ranges or {}), **extracted}
        doc_filter = None
        for col, (start, end) in (date_ranges or {}).items():
            rng = date_range_filter(F.col(col), start, end)
            doc_filter = rng if doc_filter is None else (doc_filter & rng)
        matched = search_segments(
            self.si,
            query,
            k=None,
            docs=self.docs,
            id_col=self.id_col,
            doc_filter=doc_filter,
            mode=self.mode,
            k1=self.k1,
            b=self.b,
            filter_paths=filters or None,
            min_should_match=min_should_match,
        )
        return self.delete(matched.select(F.col("doc_id").alias(self.id_col)))

    def maybe_compact(
        self, max_generations: int = 8, max_delete_ratio: float = 0.25
    ) -> bool:
        """Merge-policy trigger (the Lucene/Tantivy background-merge
        analog for this generational layout): run :meth:`compact` when
        the generation count exceeds ``max_generations`` — every extra
        generation adds a segment family to each query's read set — or
        when delete-masked docs exceed ``max_delete_ratio`` of the
        corpus (wasted decode + df/cf drift, the documented divergence
        of B5). Both tests are metadata-only (directory listing + a
        count over the tiny deletes sidecar); the compaction itself is
        the expensive full rewrite, which is why it is gated here rather
        than run after every ingest. Returns True iff a compaction ran."""
        trigger = (self.si.max_gen() + 1) > max_generations
        if not trigger and max_delete_ratio is not None:
            dd = self.si.deletes_df()
            if dd is not None:
                n_docs = max(int(self.si.stats.n_docs), 1)
                trigger = dd.count() / n_docs > max_delete_ratio
        if not trigger:
            return False
        self.compact()
        return True

    def compact(self) -> "FuguSparkEngine":
        self.si = compact(self.si)
        # segments reset to gen 0 and the delete masks are gone: the
        # filter index must be rewritten too or stale generations revive
        if self.facets_col in self.docs.columns:
            _write_filter_index(
                self.docs, self.index_dir, self.id_col, self.facets_col, gen=0, mode="overwrite"
            )
            _write_counts_index(self.docs, self.index_dir, self.facets_col, mode="overwrite")
        _write_date_index(self.docs, self.index_dir, self.id_col, gen=0, mode="overwrite")
        _write_suggest_index(
            self.docs, self.index_dir, self.id_col, self.text_col, gen=0, mode="overwrite"
        )
        _write_doc_store(self.docs, self.index_dir, self.id_col, gen=0, mode="overwrite")
        return self

    # ---- facet analytics --------------------------------------------

    def _fd(self) -> DataFrame:
        return self.docs

    def namespaces(self) -> DataFrame:
        return FC.namespaces(self._fd(), self.facets_col)

    def facet_tree(self, max_depth: int | None = None, serve: bool = True) -> dict:
        """A3 facet tree; served from the pre-rolled counts_index ledger
        (ms, no Spark job) when present, else the docs-scan path."""
        if serve:
            try:
                pdf = self._local_searcher().facet_tree_counts()
                rows = list(zip(pdf["prefix"], (int(c) for c in pdf["count"])))
                return FC.assemble_tree(rows, max_depth=max_depth)
            except ValueError:
                pass
        rows = [
            (r["prefix"], r["count"])
            for r in FC.facet_tree_counts(self._fd(), self.facets_col).collect()
        ]
        return FC.assemble_tree(rows, max_depth=max_depth)

    def facet_counts(self, root: str, serve: bool = True) -> DataFrame:
        """A1 facet counts; serve-first from counts_index, docs-scan
        fallback — value-identical (pinned by tests)."""
        if serve:
            try:
                pdf = self._local_searcher().facet_counts(root)
                return self.spark.createDataFrame(
                    pdf if len(pdf) else [], "child string, count long"
                )
            except ValueError:
                pass
        return FC.facet_counts(self._fd(), root, self.facets_col)

    def all_filters(self) -> DataFrame:
        return FC.all_filter_paths(self._fd(), self.facets_col)

    def namespace_filters(self, namespace: str) -> DataFrame:
        return FC.namespace_filter_paths(self._fd(), namespace, self.facets_col)

    def filter_values(self, path: str, serve: bool = True) -> DataFrame:
        """A6; serve-first from the counts ledger, docs-scan fallback."""
        if serve:
            try:
                pdf = self._local_searcher().filter_values(path)
                return self.spark.createDataFrame(
                    pdf if len(pdf) else [], "value string"
                )
            except ValueError:
                pass
        return FC.filter_values_at_path(self._fd(), path, self.facets_col)

    def search_facets(self, prefix: str, text: str | None = None) -> DataFrame:
        return FC.search_facets(self._fd(), prefix, text, self.facets_col)

    # ---- code search (optional sidecars: build(code_search=True)) ----

    def _require_trigram(self) -> None:
        from . import fsio

        if not fsio.exists(fsio.join(self.index_dir, "trigram_index")):
            raise ValueError(
                "no trigram_index sidecar — build with code_search=True"
            )

    def substring_search(self, needle: str, ignore_case: bool = False) -> DataFrame:
        """Exact substring search over raw text (doc_id, n_occ) via the
        trigram prefilter; verification always runs against the LIVE
        docs frame, so upserted/deleted docs are correct by construction."""
        from .trigram import substring_search as _ss

        self._require_trigram()
        return _ss(
            self.spark, self.index_dir, self.docs, needle,
            id_col=self.id_col, text_col=self.text_col, ignore_case=ignore_case,
        )

    def grep(self, pattern: str) -> DataFrame:
        """Line-level regex grep (doc_id, line_no, line), trigram-pruned."""
        from .trigram import trigram_grep

        self._require_trigram()
        return trigram_grep(
            self.spark, self.index_dir, self.docs, pattern,
            id_col=self.id_col, text_col=self.text_col,
        )

    def regex_count(self, pattern: str) -> DataFrame:
        """Per-doc regex match counts (doc_id, n_matches), trigram-pruned."""
        from .trigram import regex_search as _rs

        self._require_trigram()
        return _rs(
            self.spark, self.index_dir, self.docs, pattern,
            id_col=self.id_col, text_col=self.text_col,
        )

    def symbol_search(
        self, name: str, kind: str | None = None, prefix: bool = False
    ) -> DataFrame:
        """Definition lookup (doc_id, line_no, kind, name) with the
        SEGMENT delete mask applied: a symbol row written at generation
        g is live iff its doc has no del_gen or g >= del_gen — replaced
        docs' old definitions retire exactly when their postings do."""
        from . import fsio
        from .analytics import symbols as SY

        if not fsio.exists(fsio.join(self.index_dir, SY.SYMBOLS_DIR)):
            raise ValueError("no symbols sidecar — build with code_search=True")
        rows = SY.symbol_search(self.spark, self.index_dir, name, kind=kind, prefix=prefix)
        dels = self.si.deletes_df()
        if dels is not None:
            rows = rows.join(dels, "doc_id", "left").filter(
                F.col("del_gen").isNull() | (F.col("gen") >= F.col("del_gen"))
            ).drop("del_gen")
        return rows.select("doc_id", "line_no", "kind", "name").orderBy(
            "name", "doc_id", "line_no"
        )
