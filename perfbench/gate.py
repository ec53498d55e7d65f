"""Correctness gate: runs after the timed phase, outside every metric.

Results collected during the timed phase are compared with the repo's
pure-Python oracles (``stractt_spark.oracle.OracleIndex`` and
``MultiFieldOracle``).  To keep the oracle small, postings are filled only
for the terms of the sampled queries, while document lengths and token
totals come from every doc, so idf, avgdl and dl are exact.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np

from corpus import ANALYZER

REL_TOL = 1e-9


def _tokenizer():
    from stractt_spark.functions.tokenizer import get_analyzer

    return get_analyzer(ANALYZER)


def oracle_for(texts: dict[int, str], terms: set[str]):
    """OracleIndex over ``texts`` (doc id → text) with postings for
    ``terms`` only and exact global stats."""
    from stractt_spark.functions.fieldnorm import quantize_length
    from stractt_spark.oracle import OracleIndex

    tok = _tokenizer()
    o = OracleIndex(analyzer=ANALYZER)
    for d, text in texts.items():
        toks = tok(text)
        o.num_docs += 1
        o.total_tokens += len(toks)
        o.doc_dl[d] = int(quantize_length(len(toks)))
        for t, tf in Counter(toks).items():
            if t in terms:
                o.postings.setdefault(t, {})[d] = tf
    return o


def mf_oracle_for(rows: dict[int, dict], fields: list[str],
                  boosts: dict[str, float], terms: set[str]):
    from stractt_spark.operators.multifield import MultiFieldOracle

    o = MultiFieldOracle(field_boosts=boosts, analyzer=ANALYZER)
    o.num_docs = len(rows)
    for f_ in fields:
        o.fields[f_] = oracle_for({d: r[f_] for d, r in rows.items()}, terms)
    return o


def ranked(scores: list[tuple[int, float]], k: int) -> list[tuple[int, float]]:
    return sorted(scores, key=lambda t: (-t[1], t[0]))[:k]


def same(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> str | None:
    """None when ``got`` is rank-identical to ``want`` with scores equal
    to rel 1e-9, else a description of the first difference."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return f"ranks differ: got {got[:5]} want {want[:5]}"
    for (d, s1), (_, s2) in zip(got, want):
        if not math.isclose(s1, s2, rel_tol=REL_TOL, abs_tol=1e-12):
            return f"score of doc {d}: got {s1!r} want {s2!r}"
    return None


def ladder_expected(oracle, content: dict[int, str], terms: list[str],
                    boost: float, avgdl: float, query: str, mode: str,
                    k: int) -> list[tuple[int, float]]:
    """MF proximity ladder: oracle base score plus the (boost, slop) rung
    bonuses over the content field's positions (the same recomputation
    the repo's multifield parity test uses)."""
    from stractt_spark.functions.bm25 import K1, tf_component
    from stractt_spark.functions.bm25 import idf as idf_fn
    from stractt_spark.functions.fieldnorm import FIELD_NORMS_TABLE, fieldnorm_to_id
    from stractt_spark.operators.wand import PROXIMITY_LADDER, sloppy_chain_count

    tok = _tokenizer()
    fidx = oracle.fields["content"]
    w_phrase = boost * sum(
        idf_fn(len(fidx.postings.get(t, {})), oracle.num_docs) for t in terms
    ) * (K1 + 1.0)
    out = []
    for d, s in oracle.search(query, k=10**9, mode=mode):
        toks = tok(content[d])
        pos: dict[str, list[int]] = {}
        for j, t in enumerate(toks):
            if t in terms:
                pos.setdefault(t, []).append(j)
        bonus = 0.0
        if all(t in pos for t in terms):
            arrs = [np.asarray(pos[t]) for t in terms]
            dl_q = float(FIELD_NORMS_TABLE[fieldnorm_to_id(np.array([len(toks)]))[0]])
            for b, slop in PROXIMITY_LADDER:
                f = sloppy_chain_count(arrs, slop)
                if f:
                    bonus += b * w_phrase * float(tf_component(f, dl_q, avgdl))
        out.append((d, s + bonus))
    return ranked(out, k)
