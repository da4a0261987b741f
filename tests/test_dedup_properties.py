"""Property-style invariants for the dedup family (SURVEY §5.2 item 5).

Run on small synthesized corpora (one Spark job per case, so cases are
hand-picked rather than hypothesis-generated — each example costs a
distributed job).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from atiesh_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)


def corpus(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


BASE = "the quick brown fox jumps over the lazy dog and runs far away home"


def test_identical_texts_always_minhash_candidates(spark):
    """Identical texts have identical signatures in every band -> the
    pair MUST be produced (LSH has false positives, never false
    negatives for exact duplicates)."""
    df = corpus(spark, [BASE, BASE, "completely different words here entirely", BASE])
    pairs = {(r["id_1"], r["id_2"]) for r in
             minhash_lsh_pairs(df, "doc_id", "text").collect()}
    assert {(0, 1), (0, 3), (1, 3)} <= pairs


def test_identical_texts_jaccard_one(spark):
    df = corpus(spark, [BASE, BASE])
    rows = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.99).collect()
    assert [(r["id_1"], r["id_2"], r["jaccard"]) for r in rows] == [(0, 1, 1.0)]


def test_identical_texts_same_simhash(spark):
    df = corpus(spark, [BASE, BASE, "unrelated content z z z"])
    sims = {r["doc_id"]: r["simhash"] for r in simhash(df, "doc_id", "text").collect()}
    assert sims[0] == sims[1]
    assert sims[0] != sims[2]


def test_exact_dedup_groups_identical_only(spark):
    df = corpus(spark, [BASE, BASE, BASE + "!", "other"])
    rows = {r["keep_id"]: r["n_dups"] for r in
            exact_dedup(df, "doc_id", "text").collect()}
    assert rows == {0: 2, 2: 1, 3: 1}


def test_connected_components_transitivity(spark):
    """a-b and b-c pairs must place a, b, c in ONE cluster even though
    (a, c) was never a direct pair."""
    pairs = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], "id_1 long, id_2 long")
    ids = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    labels = {r["doc_id"]: r["cluster_id"] for r in
              connected_components(pairs, ids, "doc_id").collect()}
    assert labels[0] == labels[1] == labels[2] == 0
    assert labels[5] == labels[6] == 5
    for singleton in (3, 4, 7):
        assert labels[singleton] == singleton


def test_connected_components_long_chain(spark):
    """A path graph is the worst case for label propagation — pointer
    jumping must still converge within max_iter."""
    n = 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_1 long, id_2 long"
    )
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    labels = connected_components(pairs, ids, "doc_id", max_iter=10)
    assert labels.select(F.countDistinct("cluster_id")).first()[0] == 1
    assert labels.agg(F.max("cluster_id")).first()[0] == 0


def test_jaccard_and_containment_match_bruteforce(spark):
    """Randomized differential for the exact verifiers: n-gram Jaccard
    (no candidates = exact mode) and containment (full candidate grid)
    vs O(n^2) set arithmetic over the same char-shingle definition,
    including the 4dp HALF_UP rounding the thresholds are applied to
    and sub-k documents whose single shingle is the whole text."""
    import random
    from decimal import ROUND_HALF_UP, Decimal
    from itertools import combinations

    from atiesh_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    rng = random.Random(3)
    base = "the quick brown fox jumps over the lazy dog "
    texts = []
    for _ in range(14):
        if rng.random() < 0.4:  # near-dup family: shared base + noise
            t = base + "".join(rng.choice("xyz ")
                               for _ in range(rng.randint(0, 10)))
        else:
            t = "".join(rng.choice("abcdef ")
                        for _ in range(rng.randint(1, 50)))
        texts.append(t)
    texts += ["ab", base[:30]]  # sub-k and contained-quote cases
    rows = [(i, t) for i, t in enumerate(texts)]
    k, jac_thr, con_thr = 3, 0.2, 0.5

    def rnd4(x: float) -> float:
        return float(Decimal(repr(x)).quantize(
            Decimal("0.0001"), rounding=ROUND_HALF_UP))

    def shingle_set(t: str) -> set[str]:
        n = max(len(t) - k + 1, 1)
        return {t[i:i + k] for i in range(n)} - {""}

    sets_ = {i: shingle_set(t) for i, t in rows}
    want_jac, want_con = {}, {}
    for a, b in combinations(sorted(sets_), 2):
        inter = len(sets_[a] & sets_[b])
        union = len(sets_[a] | sets_[b])
        j = rnd4(inter / union) if union else 0.0
        if j >= jac_thr:
            want_jac[(a, b)] = j
        c1 = rnd4(inter / len(sets_[a]))
        c2 = rnd4(inter / len(sets_[b]))
        if max(c1, c2) >= con_thr:
            want_con[(a, b)] = (c1, c2, j)

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got_jac = {
        (r["id_1"], r["id_2"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", k=k, threshold=jac_thr
        ).collect()
    }
    assert got_jac == want_jac

    grid = spark.createDataFrame(
        [(a, b) for a, b in combinations(sorted(sets_), 2)],
        "id_1 long, id_2 long",
    )
    got_con = {
        (r["id_1"], r["id_2"]):
            (r["containment_1_in_2"], r["containment_2_in_1"], r["jaccard"])
        for r in containment_pairs(
            df, "doc_id", "text", k=k, threshold=con_thr, candidates=grid
        ).collect()
    }
    assert got_con == want_con


def test_minhash_signatures_match_python_reference(spark):
    """Randomized differential for the signature math itself: the
    documented hash family (first 15 hex digits of md5(seed ':'
    shingle) as a long, min over longs) re-implemented sequentially
    must give identical (seed, mh) rows — including sub-k documents
    whose single shingle is the whole text."""
    import hashlib
    import random

    from atiesh_spark.operators.dedup import _minhash_wide

    rng = random.Random(7)
    texts = ["".join(rng.choice("abcd ") for _ in range(rng.randint(1, 40)))
             for _ in range(18)]
    texts += ["a", "ab", "abc"]  # < k, == k boundaries
    rows = [(i, t) for i, t in enumerate(texts)]
    k, num_hashes = 3, 8

    def ref(text: str) -> dict[int, int]:
        n = max(len(text) - k + 1, 1)
        shingles = {text[i:i + k] for i in range(n)} - {""}
        return {
            s: min(
                int(hashlib.md5(f"{s}:{sh}".encode()).hexdigest()[:15], 16)
                for sh in shingles
            )
            for s in range(num_hashes)
        }

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got: dict[int, dict[int, int]] = {}
    for r in _minhash_wide(
        df, "doc_id", "text", k=k, num_hashes=num_hashes
    ).collect():
        got[r["doc_id"]] = {s: r[f"mh_{s}"] for s in range(num_hashes)}
    want = {i: ref(t) for i, t in rows}
    assert got == want


def test_simhash_matches_python_reference(spark):
    """Randomized differential for the SimHash vote math: frequency-
    weighted ±1 votes per bit of the 60-bit md5 token hash, bit set
    iff strictly positive — re-implemented sequentially."""
    import hashlib
    import random

    from atiesh_spark.operators.dedup import simhash

    rng = random.Random(60)
    vocab = ["alpha", "beta", "gamma", "x", "the", "thé"]
    texts = [" ".join(rng.choice(vocab)
                      for _ in range(rng.randint(1, 30)))
             for _ in range(15)]
    rows = [(i, t) for i, t in enumerate(texts)]
    bits = 60

    def ref(text: str) -> int:
        votes = [0] * bits
        for tok in text.split():
            th = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            for b in range(bits):
                votes[b] += 1 if (th >> b) & 1 else -1
        return sum(1 << b for b in range(bits) if votes[b] > 0)

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"]
           for r in simhash(df, "doc_id", "text", bits=bits).collect()}
    want = {i: ref(t) for i, t in rows}
    assert got == want


def test_connected_components_matches_union_find(spark):
    """Randomized differential against a sequential union-find: on
    random graphs (dense and sparse, with duplicate edges and
    self-loops) the distributed min-label propagation must produce
    exactly the min-id-per-component labeling. The hand-built cases
    above pin shapes; this pins bulk correctness where component
    structure is too tangled to enumerate."""
    import random

    rng = random.Random(41)
    for n, m in ((60, 80), (50, 12)):
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges += [(7 % n, 7 % n)]  # self-loop must be harmless

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {i: find(i) for i in range(n)}
        # min-label: find() roots are min ids because unions keep the
        # smaller root as parent
        pairs = spark.createDataFrame(edges, "id_1 long, id_2 long")
        ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        got = {r["doc_id"]: r["cluster_id"] for r in
               connected_components(pairs, ids, "doc_id").collect()}
        assert got == want, f"n={n} m={m}: " + str(
            {k: (got[k], want[k]) for k in want if got[k] != want[k]})


def test_jaccard_candidate_filter_mode(spark):
    """The scale path: exact Jaccard restricted to LSH candidate pairs
    returns exactly the candidate subset of the full result."""
    texts = [BASE, BASE + " extra", "totally different tokens qq ww ee rr", BASE + " more"]
    df = corpus(spark, texts)
    full = {(r["id_1"], r["id_2"]): r["jaccard"] for r in
            ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.2).collect()}
    cands = spark.createDataFrame([(0, 1)], "id_1 long, id_2 long")
    filtered = {(r["id_1"], r["id_2"]): r["jaccard"] for r in
                ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.2,
                                    candidates=cands).collect()}
    assert set(filtered) == {(0, 1)}
    assert filtered[(0, 1)] == full[(0, 1)]


def test_connected_components_ignores_foreign_pair_ids(spark):
    """Pairs referencing ids outside all_ids must not drop known nodes
    from the output or leak foreign labels."""
    pairs = spark.createDataFrame([(0, 1), (1, 999)], "id_1 long, id_2 long")
    ids = spark.createDataFrame([(i,) for i in range(3)], "doc_id long")
    labels = {r["doc_id"]: r["cluster_id"] for r in
              connected_components(pairs, ids, "doc_id").collect()}
    assert set(labels) == {0, 1, 2}         # every known id present
    assert labels[0] == labels[1] == 0      # known edge still clusters
    assert labels[2] == 2


def test_incremental_candidates_cover_batch_pairs(spark):
    """Incremental (old-store + new-batch) candidates must equal the
    full-corpus LSH pairs restricted to pairs touching a new doc, with
    old->new direction normalized."""
    from atiesh_spark.operators.dedup import (
        incremental_lsh_candidates,
        minhash_band_signatures,
        minhash_lsh_pairs,
    )
    from atiesh_spark.sources.tables import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    new_pred = "doc_id % 5 = 0"
    old_bands = minhash_band_signatures(docs.filter(f"NOT ({new_pred})"), "doc_id", "text")
    new_bands = minhash_band_signatures(docs.filter(new_pred), "doc_id", "text")
    inc = {(r["id_1"], r["id_2"]) for r in
           incremental_lsh_candidates(new_bands, old_bands).collect()}

    full = {(r["id_1"], r["id_2"]) for r in
            minhash_lsh_pairs(docs, "doc_id", "text").collect()}
    expected = set()
    for a, b in full:
        a_new, b_new = a % 5 == 0, b % 5 == 0
        if a_new and b_new:
            expected.add((min(a, b), max(a, b)))
        elif a_new:
            expected.add((b, a))   # old first
        elif b_new:
            expected.add((a, b))
    assert inc == expected and len(inc) > 0


def test_hot_band_bucket_is_star_routed_not_quadratic(spark):
    """A boilerplate-identical band bucket (every doc the same text —
    the degenerate worst case of millions of near-dup pages) must not
    self-join quadratically once it exceeds max_bucket: the cap routes
    the bucket through its min-id hub, keeping connectivity identical
    while pair count drops from C(n,2) to n-1 (round-11 hardening,
    mirrors rare_shingle_candidates' max_df)."""
    n = 12
    df = corpus(spark, [BASE] * n)
    capped = {(r["id_1"], r["id_2"]) for r in
              minhash_lsh_pairs(df, "doc_id", "text", max_bucket=5).collect()}
    # star edges only: hub 0 to every other member
    assert capped == {(0, i) for i in range(1, n)}
    # connectivity unchanged vs the uncapped quadratic join
    from atiesh_spark.operators.dedup import connected_components

    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs_df = spark.createDataFrame(sorted(capped), "id_1 long, id_2 long")
    labels = {r["doc_id"]: r["cluster_id"] for r in
              connected_components(pairs_df, ids, "doc_id").collect()}
    assert set(labels.values()) == {0}
    # small buckets are untouched by the cap
    uncapped = {(r["id_1"], r["id_2"]) for r in
                minhash_lsh_pairs(df, "doc_id", "text",
                                  max_bucket=None).collect()}
    assert len(uncapped) == n * (n - 1) // 2
    import pytest

    with pytest.raises(ValueError, match="max_bucket"):
        minhash_lsh_pairs(df, "doc_id", "text", max_bucket=1)


def test_simhash_hot_block_is_star_routed(spark):
    """Identical texts share a simhash, hence a prefix block; past
    max_block the block must star-route (hamming 0 edges to the min-id
    hub), not self-join quadratically — and small blocks plus the
    hamming threshold behave exactly as uncapped."""
    from atiesh_spark.operators.dedup import simhash, simhash_near_pairs

    n = 10
    df = corpus(spark, [BASE] * n + ["something quite different here zz"])
    sims = simhash(df, "doc_id", "text")
    capped = {(r["id_1"], r["id_2"]): r["hamming"] for r in
              simhash_near_pairs(sims, "doc_id", max_block=4).collect()}
    assert capped == {(0, i): 0 for i in range(1, n)}
    full = {(r["id_1"], r["id_2"]) for r in
            simhash_near_pairs(sims, "doc_id", max_block=None).collect()}
    assert len(full) == n * (n - 1) // 2


def test_incremental_hot_old_bucket_routes_to_representative(spark):
    """A hot OLD-store bucket must fan each matching new doc out to ONE
    representative old id, not the whole bucket — and new docs must
    still all be flagged as duplicates of the old corpus."""
    from atiesh_spark.operators.dedup import (
        incremental_lsh_candidates,
        minhash_band_signatures,
    )

    old = corpus(spark, [BASE] * 8)                      # ids 0..7
    new = spark.createDataFrame(
        [(100, BASE), (101, BASE)], "doc_id long, text string"
    )
    old_bands = minhash_band_signatures(old, "doc_id", "text")
    new_bands = minhash_band_signatures(new, "doc_id", "text")
    got = {(r["id_1"], r["id_2"]) for r in
           incremental_lsh_candidates(new_bands, old_bands,
                                      max_bucket=3).collect()}
    # old->new collapses to the hub (min old id = 0); new-vs-new pair kept
    assert got == {(0, 100), (0, 101), (100, 101)}
    # uncapped: full fan-out for comparison
    full = {(r["id_1"], r["id_2"]) for r in
            incremental_lsh_candidates(new_bands, old_bands,
                                       max_bucket=None).collect()}
    assert full == {(i, nid) for i in range(8) for nid in (100, 101)} | {(100, 101)}


def test_select_representatives_policies(spark):
    from atiesh_spark.operators.dedup import select_representatives

    docs = spark.createDataFrame(
        [(1, 100), (2, 300), (3, 300), (4, 50)],
        "doc_id long, n_chars long",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)], "doc_id long, cluster_id long"
    )
    # score policy: longest wins, min-id tie-break (2 vs 3 both 300)
    reps = {r["cluster_id"]: r["doc_id"] for r in
            select_representatives(docs, clusters, score_col="n_chars").collect()}
    assert reps == {1: 2, 4: 4}
    # no score: min id wins
    reps_min = {r["cluster_id"]: r["doc_id"] for r in
                select_representatives(docs, clusters).collect()}
    assert reps_min == {1: 1, 4: 4}
    # all doc columns survive
    cols = select_representatives(docs, clusters, score_col="n_chars").columns
    assert set(cols) == {"doc_id", "n_chars", "cluster_id"}


def test_containment_catches_quote_jaccard_misses(spark):
    """A short doc embedded verbatim in a long one: containment 1.0,
    Jaccard tiny — the pair symmetric dedup structurally misses."""
    from atiesh_spark.operators.dedup import containment_pairs

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"w{i}token{i}filler{i}" for i in range(120))
    rows = [
        (1, quote),
        (2, filler + " " + quote + " " + filler[::-1]),
        (3, "completely unrelated content here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_1"], r["id_2"]): r
        for r in containment_pairs(df, "doc_id", "text", threshold=0.9).collect()
    }
    assert (1, 2) in got
    r = got[(1, 2)]
    assert r["containment_1_in_2"] == 1.0      # every quote shingle in doc 2
    assert r["containment_2_in_1"] < 0.2       # doc 2 mostly NOT in doc 1
    assert r["jaccard"] < 0.2                  # symmetric score misses it
    assert all(3 not in pair for pair in got)


def test_rare_shingle_candidates_bounded_and_correct(spark):
    from atiesh_spark.operators.dedup import (
        char_shingles,
        containment_pairs,
        rare_shingle_candidates,
    )

    # shared boilerplate shingle across ALL docs must not fan out into
    # pairs; only docs linked by a rare shingle pair up
    rows = [
        (1, "AAAA unique_one"),
        (2, "AAAA unique_one tail"),
        (3, "AAAA other_text"),
        (4, "AAAA more_words"),
        (5, "AAAA yet_again"),
        (6, "AAAA and_more"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cands = {
        (r["id_1"], r["id_2"])
        for r in rare_shingle_candidates(df, "doc_id", "text", max_df=2).collect()
    }
    assert (1, 2) in cands
    # 'AAAA' appears in all 6 docs (df=6 > max_df) so it links nobody;
    # every candidate pair must share a genuinely rare shingle
    sh = char_shingles(df, "doc_id", "text")
    by_doc = {}
    for r in sh.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["sh"])
    dfreq = {}
    for s_set in by_doc.values():
        for s in s_set:
            dfreq[s] = dfreq.get(s, 0) + 1
    for i, j in cands:
        shared = by_doc[i] & by_doc[j]
        assert any(dfreq[s] <= 2 for s in shared), (i, j)

    # explicit-candidate mode verifies exactly the given pairs
    explicit = spark.createDataFrame([(3, 4)], "id_1 long, id_2 long")
    got = containment_pairs(
        df, "doc_id", "text", threshold=0.01, candidates=explicit
    ).collect()
    assert {(r["id_1"], r["id_2"]) for r in got} <= {(3, 4)}


def test_rare_shingle_candidates_validation(spark):
    import pytest

    from atiesh_spark.operators.dedup import (
        containment_pairs,
        rare_shingle_candidates,
    )

    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    with pytest.raises(ValueError):
        rare_shingle_candidates(df, "doc_id", "text", max_df=1)
    with pytest.raises(ValueError):
        containment_pairs(df, "doc_id", "text", threshold=0.0)


def test_rare_shingle_candidates_never_aggregates_id_lists(spark):
    """The rarity filter must run on map-side-combined COUNTS — a
    boilerplate shingle present in every doc must never collect a
    corpus-sized id array on one reducer (plan guard: no collect_set
    in the candidate plan)."""
    from atiesh_spark.operators.dedup import rare_shingle_candidates

    df = spark.createDataFrame(
        [(i, f"AAAA unique{i}") for i in range(10)], "doc_id long, text string"
    )
    plan = (
        rare_shingle_candidates(df, "doc_id", "text", max_df=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "collect_set" not in plan and "collect_list" not in plan


def test_rare_shingle_candidates_df_ignores_in_doc_repeats(spark):
    # The shingles= slot is shared with the MinHash family whose frames
    # may carry in-document repeats; document frequency must count
    # DOCUMENTS, not rows, or rare shingles silently stop pairing.
    from atiesh_spark.operators.dedup import rare_shingle_candidates

    # shingle "xyz" appears in exactly 2 docs but 5 times in doc 1
    sh = spark.createDataFrame(
        [("xyz", 1)] * 5 + [("xyz", 2), ("aaa", 1), ("bbb", 2)],
        "sh string, doc_id long",
    )
    df = spark.createDataFrame([(1, ""), (2, "")], "doc_id long, text string")
    pairs = rare_shingle_candidates(
        df, "doc_id", "text", max_df=2, shingles=sh
    ).collect()
    assert [(r["id_1"], r["id_2"]) for r in pairs] == [(1, 2)]


def test_edit_distance_pairs_match_python_dp(spark):
    """Randomized differential: noisy near-dup strings (substitutions,
    insertions, deletions, unicode) verified against a classic
    Wagner-Fischer DP — lev exact, sim to its 4dp rounding, threshold
    and empty-pair exclusions replayed."""
    import random

    import pytest

    from atiesh_spark.operators.dedup import edit_distance_pairs

    rng = random.Random(190)

    def perturb(s):
        s = list(s)
        for _ in range(rng.randint(0, 4)):
            op = rng.random()
            i = rng.randrange(max(len(s), 1)) if s else 0
            if op < 0.4 and s:
                s[i] = rng.choice("abcé0")
            elif op < 0.7:
                s.insert(i, rng.choice("xyz"))
            elif s:
                del s[i]
        return "".join(s)

    base = ["hello world text", "the quick brown fox", "données été",
            "aaaaaaaa", ""]
    texts = {}
    i = 0
    for b in base:
        for _ in range(3):
            texts[i] = perturb(b)
            i += 1
    cand_rows = [(a, b) for a in texts for b in texts if a < b]
    thr = 0.6

    def lev(s, t):
        prev = list(range(len(t) + 1))
        for ii, cs in enumerate(s, 1):
            cur = [ii]
            for jj, ct in enumerate(t, 1):
                cur.append(min(prev[jj] + 1, cur[-1] + 1,
                               prev[jj - 1] + (cs != ct)))
            prev = cur
        return prev[-1]

    want = {}
    for a, b in cand_rows:
        s, t = texts[a], texts[b]
        mx = max(len(s), len(t))
        if mx == 0:
            continue
        d = lev(s, t)
        sim = round(1 - d / mx, 4)
        if sim >= thr:
            want[(a, b)] = (d, sim)

    df = spark.createDataFrame(list(texts.items()),
                               "doc_id long, text string")
    cand = spark.createDataFrame(cand_rows, "id_1 long, id_2 long")
    got = {(r["id_1"], r["id_2"]): (r["lev"], r["sim"])
           for r in edit_distance_pairs(df, "doc_id", "text", cand,
                                        threshold=thr).collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        assert got[k][1] == pytest.approx(want[k][1], abs=1e-4), k


def test_candidate_eval_matches_set_algebra_random_pairs(spark):
    """Randomized differential: random predicted/truth pair sets with
    mixed orientations and duplicates; tp/fp/fn and P/R/F1 recomputed
    by plain set algebra after the same (min,max) normalization must
    match exactly."""
    import random

    import pytest

    from atiesh_spark.operators.dedup import candidate_eval

    rng = random.Random(42)

    def rand_pairs(m):
        out = []
        for _ in range(m):
            a, b = rng.sample(range(20), 2)
            if rng.random() < 0.5:
                a, b = b, a
            out.append((a, b))
        out += out[: m // 4]  # duplicates must collapse
        return out

    pred_rows, truth_rows = rand_pairs(35), rand_pairs(25)
    pset = {(min(a, b), max(a, b)) for a, b in pred_rows}
    tset = {(min(a, b), max(a, b)) for a, b in truth_rows}
    tp = len(pset & tset)
    fp = len(pset - tset)
    fn = len(tset - pset)
    prec, rec = tp / len(pset), tp / len(tset)
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else None

    pred = spark.createDataFrame(pred_rows, "id_1 long, id_2 long")
    truth = spark.createDataFrame(truth_rows, "id_1 long, id_2 long")
    r = candidate_eval(pred, truth).collect()[0]
    assert (r["n_pred"], r["n_true"], r["tp"], r["fp"], r["fn"]) == \
        (len(pset), len(tset), tp, fp, fn)
    assert r["precision"] == pytest.approx(prec, abs=1e-6)
    assert r["recall"] == pytest.approx(rec, abs=1e-6)
    assert r["f1"] == pytest.approx(f1, abs=1e-6)


def test_candidate_eval_known_metrics(spark):
    from atiesh_spark.operators.dedup import candidate_eval

    pred = spark.createDataFrame(
        [(1, 2), (3, 4), (6, 5), (5, 6), (7, 8)], "id_1 long, id_2 long"
    )  # (6,5)/(5,6) normalize+dedupe to one pair -> 4 distinct
    truth = spark.createDataFrame(
        [(2, 1), (5, 6), (9, 10)], "id_1 long, id_2 long"
    )
    r = candidate_eval(pred, truth).collect()[0]
    assert (r["n_pred"], r["n_true"], r["tp"], r["fp"], r["fn"]) == (4, 3, 2, 2, 1)
    assert abs(r["precision"] - 0.5) < 1e-9
    assert abs(r["recall"] - 2 / 3) < 1e-6
    assert abs(r["f1"] - 4 / 7) < 1e-6


def test_candidate_eval_empty_sides(spark):
    from atiesh_spark.operators.dedup import candidate_eval

    empty = spark.createDataFrame([], "id_1 long, id_2 long")
    truth = spark.createDataFrame([(1, 2)], "id_1 long, id_2 long")
    r = candidate_eval(empty, truth).collect()[0]
    assert r["n_pred"] == 0 and r["precision"] is None and r["recall"] == 0.0
