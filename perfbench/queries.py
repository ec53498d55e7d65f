"""Seeded query generator.

Terms are drawn from the corpus vocabulary by document frequency, each
pool in a seeded shuffled order without replacement (refilled when used
up), so a run's queries cover the pool evenly and the work per run
varies little between seeds.  Terms in more than ``COMMON_MAX`` of the
docs are left out: in this corpus they are code syntax (``for``, ``i``,
``0``).

No query text repeats within a run, so every ``search()`` call misses the
handle's plan memo and every DataFrame is collected exactly once (a
second ``collect()`` of the same plan reuses existing shuffle output and
would time almost nothing).  Classes rotate in a fixed cycle, so every
seed gets the same mix and only the terms change.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

# df share of the corpus that separates the buckets
COMMON_MAX = 0.60
COMMON_MIN = 0.20
MID_MIN = 0.01

SF_CLASSES = ["common", "rare_or", "and2", "and3", "or4"]
MF_CLASSES = ["mf_or", "mf_goggle", "mf_ladder"]


@dataclass
class Query:
    cls: str
    text: str
    mode: str
    terms: list[str]
    dfs: dict[str, int] = field(default_factory=dict)
    goggle: str | None = None

    @property
    def kind(self) -> str:
        return "mf" if self.cls.startswith("mf_") else "sf"

    def log(self) -> dict:
        return {"class": self.cls, "text": self.text, "mode": self.mode,
                "dfs": self.dfs, "goggle": self.goggle}


class QueryGen:
    def __init__(self, seed: int, dfs: dict[str, dict[str, int]],
                 n_docs: int, sites: list[str]) -> None:
        self.rng = random.Random(seed)
        self.dfs = dfs["content"]
        self.path_dfs = dfs["path"]
        self.sites = sorted(sites)
        by_share = sorted(self.dfs.items())
        self.common = [t for t, d in by_share
                       if COMMON_MIN * n_docs <= d < COMMON_MAX * n_docs]
        self.mid = [t for t, d in by_share if MID_MIN * n_docs <= d < COMMON_MIN * n_docs]
        self.rare = [t for t, d in by_share if d < MID_MIN * n_docs]
        # path terms shared by several docs (directories, extensions)
        self.path_terms = sorted(
            t for t, d in self.path_dfs.items() if d >= MID_MIN * n_docs
        )
        self.seen: set[str] = set()
        self._queues: dict[int, list[str]] = {}

    def _pick(self, pool: list[str], n: int) -> list[str]:
        """``n`` distinct terms: the next ones of the pool's shuffled order."""
        queue = self._queues.setdefault(id(pool), [])
        out: list[str] = []
        while len(out) < n:
            if not queue:
                queue.extend(self.rng.sample(pool, len(pool)))
            t = queue.pop()
            if t not in out:
                out.append(t)
        return out

    def _terms(self, cls: str) -> tuple[list[str], str]:
        if cls == "common":
            return self._pick(self.common, 1), "should"
        if cls == "rare_or":
            return self._pick(self.rare, 1) + self._pick(self.common, 1), "should"
        if cls == "and2":
            return self._pick(self.mid, 2), "must"
        if cls == "and3":
            return self._pick(self.common, 1) + self._pick(self.mid, 2), "must"
        if cls == "or4":
            return self._pick(self.mid, 4), "should"
        if cls == "mf_or":
            return self._pick(self.path_terms, 1) + self._pick(self.mid, 1), "should"
        if cls in ("mf_goggle", "mf_ladder"):
            return self._pick(self.mid, 2), "should"
        raise ValueError(f"unknown query class {cls!r}")

    def draw(self, cls: str) -> Query:
        for _ in range(1000):
            terms, mode = self._terms(cls)
            goggle = None
            if cls == "mf_goggle":
                goggle = f"$boost={self.rng.randint(1, 5)},site={self.rng.choice(self.sites)}"
            text = " ".join(terms)
            if text not in self.seen:
                self.seen.add(text)
                dfs = {t: self.dfs.get(t, 0) + self.path_dfs.get(t, 0)
                       if cls.startswith("mf_") else self.dfs.get(t, 0)
                       for t in terms}
                return Query(cls, text, mode, terms, dfs, goggle)
        raise RuntimeError(f"vocabulary exhausted for class {cls!r}")

    def cycle(self, classes: list[str]):
        """Endless stream of distinct queries, classes in a fixed rotation."""
        i = 0
        while True:
            yield self.draw(classes[i % len(classes)])
            i += 1
