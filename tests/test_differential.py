"""Seeded-random differential tests: the newest operators vs pure-Python
brute-force references on a few hundred random rows (one Spark job per
operator — the repo's property-testing convention, SURVEY §5.2 item 5).

These catch the class of bug the oracle queries cannot: the oracle SQL
is written by the same author with the same mental model, while the
brute-force reference below is an independent O(n^2) restatement of the
semantics.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta
from decimal import ROUND_HALF_UP, Decimal


def _round_half_up(x: float, places: int) -> float:
    """Spark's F.round semantics (HALF_UP) — Python's round() is
    banker's and diverges on exact .5 boundaries."""
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))

from atiesh_spark.operators.diffing import snapshot_diff
from atiesh_spark.operators.timeseries import rolling_aggregate

_T0 = datetime(2024, 1, 1)


def test_rolling_aggregate_matches_bruteforce(spark):
    rng = random.Random(42)
    rows = [
        (i, rng.randrange(5), _T0 + timedelta(seconds=rng.randrange(0, 400)),
         round(rng.uniform(0, 100), 2))
        for i in range(300)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, value double"
    )
    out = {
        r["event_id"]: r
        for r in rolling_aggregate(df, "user_id", "ts", "value", 60).collect()
    }
    for i, k, ts, v in rows:
        frame = [v2 for (_, k2, t2, v2) in rows
                 if k2 == k and ts - timedelta(seconds=60) <= t2 <= ts]
        assert out[i]["rolling_n"] == len(frame), i
        assert abs(out[i]["rolling_sum"] - round(sum(frame), 4)) <= 1e-4, i


def test_snapshot_diff_matches_set_algebra(spark):
    rng = random.Random(43)
    old_rows = {k: (rng.choice("abc"), rng.randrange(5)) for k in range(200)
                if rng.random() < 0.8}
    new_rows = {k: (rng.choice("abc"), rng.randrange(5)) for k in range(200)
                if rng.random() < 0.8}
    old = spark.createDataFrame(
        [(k, s, v) for k, (s, v) in old_rows.items()], "k long, s string, v long"
    )
    new = spark.createDataFrame(
        [(k, s, v) for k, (s, v) in new_rows.items()], "k long, s string, v long"
    )
    out = {r["k"]: r for r in snapshot_diff(old, new, keys=["k"]).collect()}
    assert set(out) == set(old_rows) | set(new_rows)
    for k, r in out.items():
        if k not in old_rows:
            want = "added"
        elif k not in new_rows:
            want = "removed"
        elif old_rows[k] != new_rows[k]:
            want = "changed"
        else:
            want = "unchanged"
        assert r["status"] == want, (k, r, old_rows.get(k), new_rows.get(k))
        if want == "changed":
            diff = [c for c, (a, b) in zip(("s", "v"),
                    zip(old_rows[k], new_rows[k])) if a != b]
            assert r["changed_cols"] == ",".join(sorted(diff)), k


def test_scd2_matches_bruteforce_run_collapse(spark):
    from atiesh_spark.operators.diffing import scd2_intervals

    rng = random.Random(44)
    rows = [
        (i, rng.randrange(8), rng.randrange(1000), rng.choice(["a", "b", "c", None]))
        for i in range(400)
    ]
    # unique (key, t): random duplicate order keys would make the truth
    # itself tiebreak-dependent; the tiebreak path is covered by the
    # streaming SCD2 suite
    seen = set()
    rows = [r for r in rows if (r[1], r[2]) not in seen and not seen.add((r[1], r[2]))]
    df = spark.createDataFrame(rows, "i long, k long, t long, v string")
    got = sorted(
        (r["k"], r["t"], r["v"], r["valid_to"], r["is_current"])
        for r in scd2_intervals(
            df.select("k", "t", "v"), ["k"], "t", ["v"]
        ).withColumnRenamed("valid_from", "t").collect()
    )
    expect = []
    by_key: dict = {}
    for _, k, t, v in rows:
        by_key.setdefault(k, []).append((t, v))
    for k, obs in by_key.items():
        obs.sort()
        runs = []
        for t, v in obs:
            if not runs or runs[-1][1] != v:
                runs.append((t, v))
        for idx, (t, v) in enumerate(runs):
            nxt = runs[idx + 1][0] if idx + 1 < len(runs) else None
            expect.append((k, t, v, nxt, nxt is None))
    assert got == sorted(expect)


def test_weighted_sample_matches_bruteforce_es_keys(spark):
    import hashlib
    import math

    from atiesh_spark.operators.sampling import weighted_sample

    rng = random.Random(45)
    rows = [(i, round(rng.uniform(0.1, 50.0), 3)) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = [(r["id"], r["sample_key"])
           for r in weighted_sample(df, "id", "w", k=40).collect()]

    def es_key(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        return _round_half_up(-math.log((h + 1) / float(1 << 60)) / w, 6)

    expect = sorted(((i, es_key(i, w)) for i, w in rows),
                    key=lambda t: (t[1], t[0]))[:40]
    assert got == expect


def test_cap_per_group_matches_bruteforce_hash_order(spark):
    import hashlib

    from atiesh_spark.operators.curation import cap_per_group

    rng = random.Random(46)
    rows = [(i, f"s{rng.randrange(4)}") for i in range(250)]
    df = spark.createDataFrame(rows, "id long, src string")
    got = {(r["id"], r["src"])
           for r in cap_per_group(df, "src", "id", cap=9, shards=5).collect()}

    def h(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)

    expect = set()
    by_src: dict = {}
    for i, s in rows:
        by_src.setdefault(s, []).append(i)
    for s, ids in by_src.items():
        for i in sorted(ids, key=lambda x: (h(x), x))[:9]:
            expect.add((i, s))
    assert got == expect


def test_transition_matrix_matches_bruteforce(spark):
    from collections import Counter

    from atiesh_spark.operators.timeseries import transition_matrix

    rng = random.Random(47)
    rows = [(i, rng.randrange(6), rng.choice("xyz")) for i in range(300)]
    # make (k, t) unique so the truth is tiebreak-free
    seen = set()
    rows = [r for r in rows if (r[1], r[0]) not in seen and not seen.add((r[1], r[0]))]
    df = spark.createDataFrame(rows, "t long, k long, s string")
    got = {(r["from_state"], r["to_state"]): (r["n"], r["p"])
           for r in transition_matrix(df, "k", "t", "s").collect()}
    c: Counter = Counter()
    by_key: dict = {}
    for t, k, s in rows:
        by_key.setdefault(k, []).append((t, s))
    for k, obs in by_key.items():
        obs.sort()
        for (_, a), (_, b) in zip(obs, obs[1:]):
            c[(a, b)] += 1
    totals: Counter = Counter()
    for (a, _), n in c.items():
        totals[a] += n
    expect = {p: (n, _round_half_up(n / totals[p[0]], 4)) for p, n in c.items()}
    assert got == expect


def test_window_overlap_pairs_matches_sequential_replay(spark):
    """q93's Manber mod-p window sampling replayed sequentially: every
    position hashed, the md5-mod-rate content gate, distinct (doc,
    hash), the doc-frequency cap, and O(n^2) pair counting — the full
    chain, not just the planted-copy property the corpus tests pin."""
    import hashlib
    from itertools import combinations

    from atiesh_spark.operators.corpus import window_overlap_pairs

    rng = random.Random(93)
    width, stride, max_df, min_shared = 8, 4, 3, 1
    # tiny alphabet so windows genuinely repeat across docs (exercising
    # the doc-frequency cap), plus empties and shorter-than-width docs
    alpha = "ab "
    rows = []
    for i in range(60):
        n = rng.choice([0, 3, 7, 8, 20, 50, 120])
        rows.append((i, "".join(rng.choice(alpha) for _ in range(n))))

    def windows(text: str) -> set[str]:
        if not text:
            return set()
        out = set()
        for start in range(max(len(text) - width, 0) + 1):
            w = text[start:start + width]
            h = hashlib.md5(w.encode()).hexdigest()
            if int(h[:15], 16) % stride == 0:
                out.add(h)
        return out

    per_doc = {i: windows(t) for i, t in rows}
    freq: dict[str, int] = {}
    for ws in per_doc.values():
        for h in ws:
            freq[h] = freq.get(h, 0) + 1
    rare = {i: {h for h in ws if freq[h] <= max_df}
            for i, ws in per_doc.items()}
    expect = {}
    for i, j in combinations(sorted(per_doc), 2):
        n = len(rare[i] & rare[j])
        if n >= min_shared:
            expect[(i, j)] = n

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_1"], r["id_2"]): r["n_shared"]
           for r in window_overlap_pairs(
               df, "doc_id", "text", width=width, stride=stride,
               min_shared=min_shared, max_doc_freq=max_df,
           ).collect()}
    assert expect, "degenerate fixture: no overlapping pairs generated"
    assert got == expect


def test_perplexity_buckets_matches_window_ntile(spark):
    """q170's boundary-based range-parallel tiering vs the one-window
    ntile restatement (which also matches the DuckDB oracle verbatim):
    skewed languages, heavy score ties, NULL lang, NULL scores, and
    languages with fewer rows than buckets."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from atiesh_spark.operators.textstats import perplexity_buckets

    rng = random.Random(170)
    langs = ["en"] * 10 + ["fr"] * 3 + ["zh", "tiny", None]
    rows = []
    for i in range(800):
        lang = rng.choice(langs)
        score = None if rng.random() < 0.05 else round(rng.uniform(1, 3), 1)
        rows.append((i, lang, score))
    # a language with fewer rows than buckets
    rows += [(9001, "rare", 2.5), (9002, "rare", 2.5)]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, bpc double"
    ).repartition(7)

    for k, labels in ((3, ("head", "middle", "tail")),
                      (5, ("a", "b", "c", "d", "e"))):
        got = {r["doc_id"]: (r["bucket_idx"], r["bucket"])
               for r in perplexity_buckets(
                   df, "doc_id", "lang", "bpc", buckets=k, labels=labels
               ).collect()}
        w = Window.partitionBy("lang").orderBy(
            F.col("bpc").asc(), F.col("doc_id").asc()
        )
        ref_scored = (
            df.filter(F.col("bpc").isNotNull())
            .withColumn("bucket_idx", F.ntile(k).over(w))
            .withColumn(
                "bucket",
                F.element_at(F.array(*[F.lit(x) for x in labels]),
                             F.col("bucket_idx")),
            )
        )
        ref = {r["doc_id"]: (r["bucket_idx"], r["bucket"])
               for r in ref_scored.collect()}
        for i, lang, score in rows:
            if score is None:
                assert got[i] == (None, "unscored"), i
            else:
                assert got[i] == ref[i], (i, lang, score, k)


def test_cdf_normalize_matches_window_percent_rank(spark):
    """q99's digest-based percent_rank vs the fact-table window
    restatement: heavy ties, NULL groups, NULL values, single-row
    groups (percent_rank 0.0), and multi-column groups."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from atiesh_spark.operators.profile import cdf_normalize

    rng = random.Random(99)
    rows = []
    for i in range(900):
        g = rng.choice(["a", "a", "a", "b", None])
        h = rng.choice([1, 2])
        val = None if rng.random() < 0.06 else float(rng.randrange(20))
        rows.append((i, g, h, val))
    rows.append((9001, "solo", 9, 5.0))  # single-row group
    df = spark.createDataFrame(rows, "id long, g string, h int, v double")

    got = {r["id"]: r["pct_rank"]
           for r in cdf_normalize(df, ["g", "h"], "v").collect()}
    w = Window.partitionBy("g", "h").orderBy("v")
    ref = {r["id"]: r["pct_rank"] for r in (
        df.filter(F.col("v").isNotNull())
        .withColumn("pct_rank", F.round(F.percent_rank().over(w), 4))
        .unionByName(
            df.filter(F.col("v").isNull())
            .withColumn("pct_rank", F.lit(None).cast("double"))
        )
        .collect()
    )}
    assert got == ref


def test_bootstrap_ci_matches_sequential_replay(spark):
    """q229's Poisson bootstrap replayed sequentially: md5(id:replica)
    -> uniform -> Poisson(1) weight via the CDF table, exact integer
    ratio replica means, nearest-rank 5th/95th percentiles — the full
    documented chain on random integer metrics (a formula replay: it
    pins determinism and engine portability of every step)."""
    import hashlib
    import math

    import pytest

    from atiesh_spark.operators.profile import _POISSON1_CDF, bootstrap_ci

    rng = random.Random(229)
    rows = [(i, rng.randrange(0, 500)) for i in range(300)]
    replicas = 40

    def weight(doc_id: int, b: int) -> int:
        h = hashlib.md5(f"{doc_id}:{b}".encode()).hexdigest()
        u = int(h[:15], 16) / float(1 << 60)
        for k, c in enumerate(_POISSON1_CDF):
            if u < c:
                return k
        return 6

    n = len(rows)
    sx = sum(v for _, v in rows)
    means = []
    for b in range(replicas):
        wx = sum(weight(i, b) * v for i, v in rows)
        w = sum(weight(i, b) for i, _ in rows)
        means.append(wx / w if w > 0 else sx / n)
    means.sort()
    lo = means[max(1, math.ceil(0.05 * replicas)) - 1]
    hi = means[math.ceil(0.95 * replicas) - 1]

    df = spark.createDataFrame(rows, "id long, v long")
    got = bootstrap_ci(df, "id", "v", replicas=replicas).collect()[0]
    assert got["n"] == n
    assert got["mean"] == pytest.approx(round(sx / n, 4), abs=1e-9)
    assert got["ci_lo"] == pytest.approx(round(lo, 4), abs=1e-9)
    assert got["ci_hi"] == pytest.approx(round(hi, 4), abs=1e-9)
    assert got["ci_lo"] <= got["mean"] <= got["ci_hi"]
