"""Seeded benchmark inputs: corpus rows, serving query mix, batch and
standing query sets.

Everything is a pure function of (workload config, seed). Corpus rows
come from ``fugu_spark.corpus.generate_batch`` over the index window
``[seed * 10**9, seed * 10**9 + n_docs)``: the same code-like Zipf
distribution as the repository's bench corpus, but different files per
seed. Query terms are drawn from two bands of the corpus vocabulary:

- mid-tail: the single-token integer entries around vocabulary ranks
  1200-2400 (the ``bench.build_batch_qset`` band), df of a few percent of
  the documents;
- head: the plain base words of the vocabulary, df >= 50% of the
  documents.
"""

from __future__ import annotations

import os
import warnings

import numpy as np
import pandas as pd

ABSENT_TERM = "zz_absent_term_zz"
WINDOW = 10**9
HEAD_TERMS = (
    "merge", "join", "scan", "filter", "sort", "index", "query", "term",
    "segment", "shard", "batch", "stream", "cache", "token", "score", "fetch",
)
# shapes of the serving mix (QueryMix.query builds each)
SHAPES = ("or2", "and", "not", "phrase", "or4", "boost", "k100", "lang_filter")
LANGS = ("py", "rs", "go", "js", "java", "c")


def mid_tail_terms() -> list[str]:
    from fugu_spark.corpus import build_vocab

    vocab = build_vocab()
    return [vocab[i] for i in range(1200, 2400) if i % 5 == 3]


def corpus_frame(seed: int, n_docs: int, max_text_len: int) -> tuple[pd.DataFrame, int]:
    """Corpus rows for this seed → (frame, number of truncated texts).

    Texts longer than the engine's accepted maximum are cut at the last
    whole token that fits, so every generated row is a valid document
    (the engine would otherwise quarantine ~40% of the rows)."""
    from fugu_spark.corpus import generate_batch

    lo = seed * WINDOW
    idx = np.arange(lo, lo + n_docs, dtype=np.int64)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)  # uint64 hash wraparound
        pdf = generate_batch(idx)
    long = pdf["content"].str.len() > max_text_len
    pdf.loc[long, "content"] = pdf.loc[long, "content"].map(
        lambda c: c[: c.rfind(" ", 0, max_text_len + 1)]
    )
    out = pd.DataFrame(
        {
            "doc_id": idx,
            "text": pdf["content"],
            "repo": pdf["repo"],
            "path": pdf["path"],
            "lang": pdf["lang"],
            "facets": [[f"/lang/{lg}"] for lg in pdf["lang"]],
        }
    )
    return out, int(long.sum())


def write_corpus(frame: pd.DataFrame, out_dir: str, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(frame)), n_files)):
        tbl = pa.Table.from_pandas(frame.iloc[part], preserve_index=False)
        pq.write_table(tbl, os.path.join(out_dir, f"part-{i:05d}.parquet"))


class QueryMix:
    """Seeded query generator over the two vocabulary bands."""

    def __init__(self, seed: int, head_share: float, frame: pd.DataFrame):
        self.rng = np.random.default_rng([seed, 7])
        self.head_share = head_share
        self.mid = mid_tail_terms()
        self.texts = frame["text"]
        self._slot = int(self.rng.integers(1000))

    def term(self) -> str:
        """Head terms fill evenly spaced term slots, exactly ``head_share``
        of them: a seed changes which terms, not how many are head terms,
        so the cost mix of the queries stays the same across seeds."""
        i, self._slot = self._slot, self._slot + 1
        if int((i + 1) * self.head_share) > int(i * self.head_share):
            return str(self.rng.choice(HEAD_TERMS))
        return str(self.rng.choice(self.mid))

    def phrase(self) -> str:
        """Two adjacent tokens of a random document: a phrase that occurs."""
        from fugu_spark.tokenizer import tokenize_py

        toks = tokenize_py(self.texts.iloc[int(self.rng.integers(len(self.texts)))])
        i = int(self.rng.integers(len(toks) - 1))
        return f'"{toks[i][0]} {toks[i + 1][0]}"'

    def query(self, shape: str) -> tuple[str, int, list[str] | None]:
        t: list[str] = []
        for _ in range(4 if shape == "or4" else 0 if shape == "phrase" else 2):
            w = self.term()
            while w in t:  # distinct terms, redrawn from the same band
                w = str(self.rng.choice(HEAD_TERMS if w in HEAD_TERMS else self.mid))
            t.append(w)
        k, filters = 10, None
        if shape == "or2":
            q = f"{t[0]} {t[1]}"
        elif shape == "and":
            q = f"{t[0]} AND {t[1]}"
        elif shape == "not":
            q = f"{t[0]} NOT {t[1]}"
        elif shape == "phrase":
            q = self.phrase()
        elif shape == "or4":
            q = " ".join(t)
        elif shape == "boost":
            q = f"{t[0]}^2 {t[1]}"
        elif shape == "k100":
            q, k = f"{t[0]} {t[1]}", 100
        else:
            q = f"{t[0]} {t[1]}"
            filters = [f"/lang/{self.rng.choice(LANGS)}"]
        return q, k, filters

    def mix(self, n: int) -> list[tuple[str, int, list[str] | None]]:
        """``n`` queries; every run of len(SHAPES) holds each shape once."""
        shapes = [SHAPES[int(s)] for _ in range(0, n, len(SHAPES))
                  for s in self.rng.permutation(len(SHAPES))]
        return [self.query(s) for s in shapes[:n]]

    def batch_set(self, n: int, n_hot: int) -> dict[int, str]:
        """Batch retrieval set: selective mid-tail queries plus ``n_hot``
        queries over head terms (the skewed per-query combine)."""
        qs: dict[int, str] = {}
        for i in range(n):
            a, b, c = (str(x) for x in self.rng.choice(self.mid, 3, replace=False))
            qs[i] = (f"{a} {b}", f"{a} AND {b}", f"{a} NOT {b}", f"{a} {b} {c}")[i % 4]
        for j in range(n_hot):
            qs[n + j] = f"{HEAD_TERMS[2 * j]} {HEAD_TERMS[2 * j + 1]}"
        return qs

    def standing_set(self, n: int) -> dict[int, str]:
        """Standing (percolation) queries: OR / AND / NOT / phrase shapes,
        drawn from the same bands as the serving mix."""
        shapes = ("or2", "and", "not", "phrase")
        out = {}
        for i in range(n):
            q, _, _ = self.query(shapes[i % len(shapes)])
            out[i] = q
        return out
