"""Gale-Church sentence alignment for bitext construction.

The reference engine (whisperaven/atiesh) is an event mover with no
alignment surface; this extends the engine for its LLM-data-pipeline
role: after q210's margin mining pairs parallel DOCUMENTS, the next
step of a translation-data pipeline is aligning their SENTENCES —
Gale & Church (Computational Linguistics 1993), the length-based
dynamic program that needs no dictionary and started the field.

Algorithm (the published one exactly): beads 1-1, 1-0, 0-1, 2-1,
1-2, 2-2 with the paper's priors (0.89 / 0.0099 / 0.0099 / 0.089 /
0.089 / 0.011); a bead matching source chars l1 against target chars
l2 costs -log prior - log 2(1 - Phi(|delta|)) with
delta = (l2 - l1) / sqrt(l1 * 6.8) (c = 1, s^2 = 6.8 per the paper);
minimum-cost path by DP over the (i, j) sentence grid.

Engine shape: the DP is inherently sequential per pair and ~tens of
sentences deep — exactly the Arrow-batched Python boundary (the codec
rule, operators/png.py): one mapInPandas pass over
(pair, src_sentences, tgt_sentences) rows, widened first so a narrow
scan cannot serialize the corpus onto one core. Work is
O(n_src * n_tgt) per pair with bounded bead lookback — never
corpus-quadratic, and no state leaves the row it arrived in.

Determinism: the DP is pure float arithmetic on sentence lengths with
deterministic tie-breaks (lowest bead index wins equal cost), so the
output is a pure function of the inputs on any engine/partitioning.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from atiesh_spark.session import widen_for_python_stage

__all__ = ["gale_church_align"]

#: (di, dj, prior) per bead, in tie-break order.
_BEADS = [
    (1, 1, 0.89),
    (1, 0, 0.0099),
    (0, 1, 0.0099),
    (2, 1, 0.089),
    (1, 2, 0.089),
    (2, 2, 0.011),
]

_VAR_PER_CHAR = 6.8


def _match_cost(l1: int, l2: int) -> float:
    """-log 2(1 - Phi(|delta|)) with delta = (l2 - l1)/sqrt(l1 * s^2).

    Insertion/deletion beads are length-penalized too (delta computed
    with the empty side at 0 and the sqrt floor max(l1, 1)), matching
    the published implementation's behavior — deletions of long
    sentences are expensive, which is why 1-0/0-1 beads only win when
    no merge can absorb the sentence (see the unit tests). Only the
    doubly-empty case short-circuits to the bare prior. Note the
    penalty is asymmetric between 1-0 and 0-1 (delta normalizes by
    the SOURCE length), as in the original."""
    if l1 <= 0 and l2 <= 0:
        return 0.0
    delta = (l2 - l1) / math.sqrt(max(l1, 1) * _VAR_PER_CHAR)
    # two-sided tail; floor the probability so -log stays finite
    p = max(2.0 * (1.0 - 0.5 * (1.0 + math.erf(abs(delta) / math.sqrt(2.0)))),
            1e-300)
    return -math.log(p)


def _align_one(lens1: list[int], lens2: list[int]):
    """Min-cost bead path over the sentence grid; returns a list of
    (src_lo, src_hi, tgt_lo, tgt_hi, bead) with inclusive 0-based
    spans and -1 for the empty side of an insertion/deletion bead."""
    n, m = len(lens1), len(lens2)
    inf = float("inf")
    cost = [[inf] * (m + 1) for _ in range(n + 1)]
    back = [[None] * (m + 1) for _ in range(n + 1)]
    cost[0][0] = 0.0
    for i in range(n + 1):
        for j in range(m + 1):
            c0 = cost[i][j]
            if c0 == inf:
                continue
            for bi, (di, dj, prior) in enumerate(_BEADS):
                ni, nj = i + di, j + dj
                if ni > n or nj > m:
                    continue
                l1 = sum(lens1[i:ni])
                l2 = sum(lens2[j:nj])
                c = c0 - math.log(prior) + _match_cost(l1, l2)
                # strict < : earlier (lower-index) beads win exact ties
                if c < cost[ni][nj]:
                    cost[ni][nj] = c
                    back[ni][nj] = (i, j, bi)
    out = []
    i, j = n, m
    while (i, j) != (0, 0):
        pi, pj, bi = back[i][j]
        di, dj, _ = _BEADS[bi]
        out.append((
            pi if di else -1, i - 1 if di else -1,
            pj if dj else -1, j - 1 if dj else -1,
            f"{di}-{dj}",
        ))
        i, j = pi, pj
    out.reverse()
    return out


def gale_church_align(
    pairs: DataFrame,
    pair_col: str,
    src_col: str,
    tgt_col: str,
) -> DataFrame:
    """Align each pair's sentence arrays: (pair_col, k, bead, src_lo,
    src_hi, tgt_lo, tgt_hi) — one row per bead k in path order,
    inclusive 0-based sentence spans, -1 spans for the empty side of
    1-0 / 0-1 beads. ``src_col``/``tgt_col`` are array<string>
    sentence columns (split upstream, e.g. sentence_chunks' boundary
    rule) — alignment uses character lengths only, per the paper.
    """
    import pandas as pd

    out_schema = (
        f"{pair_col} long, k int, bead string, "
        "src_lo int, src_hi int, tgt_lo int, tgt_hi int"
    )

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for b in batches:
            rows = []
            for pid, src, tgt in zip(b[pair_col], b[src_col], b[tgt_col]):
                # Arrow hands array columns over as numpy arrays, whose
                # truth value is ambiguous — test None explicitly
                lens1 = [len(s) for s in src] if src is not None else []
                lens2 = [len(s) for s in tgt] if tgt is not None else []
                if not lens1 and not lens2:
                    continue
                for k, (slo, shi, tlo, thi, bead) in enumerate(
                    _align_one(lens1, lens2)
                ):
                    rows.append((int(pid), k, bead, slo, shi, tlo, thi))
            yield pd.DataFrame(
                rows,
                columns=[pair_col, "k", "bead", "src_lo", "src_hi",
                         "tgt_lo", "tgt_hi"],
            )

    narrow = widen_for_python_stage(
        pairs.select(pair_col, src_col, tgt_col)
    )
    return narrow.mapInPandas(gen, schema=out_schema)
