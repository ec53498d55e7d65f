"""Seeded synthetic code corpus, cached on disk by (seed, size).

Rows come from ``stractt_spark.sources.corpus.make_row`` (the repo's
synthetic code corpus).  Each row also gets a ``site`` attribute for
goggle site boosts and a deterministic ``pre_score`` for the presorted
flavors.  Next to the parquet file the cache keeps the per-field document
frequencies the query generator draws terms from.  Generation time is
reported on its own, never inside ``setup_s``.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter

import numpy as np

ANALYZER = "ascii"


def pre_score(orig_id: int) -> float:
    """Query-independent score of a doc (the same shape the repo's tests
    use); the index stores it as float32."""
    return 2048.0 * ((orig_id * 2654435761) % 1000) / 1000.0


def pre_f32(orig_id: int) -> float:
    return float(np.float32(pre_score(orig_id)))


def site_of(repo: str) -> str:
    return repo.replace("/", ".") + ".com"


def make_rows(seed: int, n_docs: int) -> list[dict]:
    """The corpus drawn with ``seed``, plus doc id, site and pre-score."""
    from stractt_spark.sources.corpus import make_row

    rows = []
    for i in range(n_docs):
        r = make_row(i, seed)
        r["doc_id"] = i
        r["site"] = site_of(r["repo"])
        r["pre_score"] = pre_score(i)
        rows.append(r)
    return rows


def is_word(term: str) -> bool:
    return any(c.isalnum() for c in term)


def generate(seed: int, n_docs: int) -> tuple[list[dict], dict[str, Counter]]:
    """The rows and their per-field document frequencies (of terms that
    hold a letter or digit)."""
    from stractt_spark.functions.tokenizer import get_analyzer

    tok = get_analyzer(ANALYZER)
    rows = make_rows(seed, n_docs)
    dfs = {f_: Counter() for f_ in ("content", "path")}
    for r in rows:
        for f_, df in dfs.items():
            df.update({t for t in tok(r[f_]) if is_word(t)})
    return rows, dfs


class Corpus:
    """The rows of one (seed, size) corpus plus their term dfs."""

    def __init__(self, cache_dir: str, seed: int, n_docs: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(cache_dir, exist_ok=True)
        stem = os.path.join(cache_dir, f"corpus-s{seed}-n{n_docs}")
        self.path = stem + ".parquet"
        vocab_path = stem + ".vocab.json"
        t0 = time.perf_counter()
        self.cached = os.path.exists(self.path) and os.path.exists(vocab_path)
        if self.cached:
            self.rows = pq.read_table(self.path).to_pylist()
            with open(vocab_path) as f:
                self.dfs = json.load(f)
        else:
            self.rows, counts = generate(seed, n_docs)
            self.dfs = {f_: dict(df) for f_, df in counts.items()}
            tmp = self.path + f".tmp{os.getpid()}"
            pq.write_table(pa.Table.from_pylist(self.rows), tmp)
            os.replace(tmp, self.path)
            tmp = vocab_path + f".tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(self.dfs, f)
            os.replace(tmp, vocab_path)
        self.gen_s = time.perf_counter() - t0
        self.seed = seed
        self.input_bytes = sum(len(r["content"]) + len(r["path"]) for r in self.rows)

    def __len__(self) -> int:
        return len(self.rows)
