"""Dedup tier: exact-vs-brute Jaccard, MinHash verification soundness,
SimHash invariance (SURVEY.md §5.3 property tests)."""

from itertools import combinations

import numpy as np
import pyspark.sql.functions as F

from modeltracking_spark.operators.dedup import (
    MINHASH_PRIME,
    dedup_rows,
    exact_dedup,
    jaccard_pairs,
    minhash_dedup_pairs,
    simhash64,
    token_ids,
)

DOCS = [
    (1, "red green blue yellow"),
    (2, "red green blue purple"),
    (3, "red green blue yellow"),          # dup of 1
    (4, "cyan magenta"),
    (5, "red green blue yellow extra"),
    (6, "unrelated words entirely here"),
]


def _brute_jaccard():
    sets = {i: set(t.split()) for i, t in DOCS}
    out = {}
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        out[(a, b)] = inter / union
    return out


def test_jaccard_matches_brute(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(df, "doc_id", "text", threshold=0.0,
                               max_doc_freq=None).collect()
    }
    brute = {k: v for k, v in _brute_jaccard().items() if v > 0}
    assert got == brute  # pairs sharing >= 1 token, exact ratios


def test_minhash_pairs_are_sound(spark):
    # every emitted pair's jaccard equals the exact jaccard and >= threshold
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = minhash_dedup_pairs(df, "doc_id", "text", verify_threshold=0.5).collect()
    brute = _brute_jaccard()
    assert len(got) > 0  # the planted dup (1,3) must surface
    for r in got:
        assert abs(r["jaccard"] - brute[(r["id_a"], r["id_b"])]) < 1e-12
        assert r["jaccard"] >= 0.5
    assert any((r["id_a"], r["id_b"]) == (1, 3) for r in got)


def test_minhash_identical_docs_always_pair(spark):
    # identical token sets share every band -> always candidates
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"])
             for r in minhash_dedup_pairs(df, "doc_id", "text",
                                          verify_threshold=0.99).collect()}
    assert pairs == {(1, 3)}


def test_simhash_identity_and_divergence(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    sh = {r["id"]: r["simhash"] for r in
          simhash64(token_ids(df, "doc_id", "text")).collect()}
    assert sh[1] == sh[3]                     # identical docs -> same hash
    assert sh[1] != sh[6]                     # unrelated docs -> different
    assert all(v >= 0 for v in sh.values())   # 63-bit => non-negative


def _h64(token_ids):
    """The 62-bit token hash simhash64 votes on, in numpy uint64."""
    t = np.asarray(token_ids, dtype=np.uint64) % np.uint64(MINHASH_PRIME)
    h = (t * np.uint64(0x9E3779B1) + np.uint64(0x85EBCA77)) % np.uint64(MINHASH_PRIME)
    h2 = (t * np.uint64(0xC2B2AE35) + np.uint64(0x27D4EB2F)) % np.uint64(MINHASH_PRIME)
    return h * np.uint64(1 << 31) + h2


def _simhash_reference(rows):
    """SimHash by the definition: bit j set iff 2·Σ bit_j(h) > n. Also
    returns how many (doc, bit) votes were exact ties 2c == n."""
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    h64 = _h64([r[1] for r in rows])
    bits = ((h64[:, None] >> np.arange(63, dtype=np.uint64)) & np.uint64(1)).astype(np.int64)
    out, ties = {}, 0
    for doc in np.unique(ids):
        sel = ids == doc
        n = int(sel.sum())
        c = bits[sel].sum(axis=0)
        ties += int((2 * c == n).sum())
        out[int(doc)] = sum(1 << j for j in range(63) if 2 * c[j] > n)
    return out, ties


def test_simhash_lane_packed_matches_definition(spark):
    # 32 two-lane sums carry the 63 votes: bits 31 and 32 sit on either
    # side of the lane boundary, bit 61 in the high lane of sum 29
    rng = np.random.default_rng(42)
    rows = [(int(d), int(t)) for d in range(40)
            for t in rng.integers(0, 1 << 60, size=int(rng.integers(1, 80)))]
    rows += [(40, int(t)) for t in rng.integers(0, 1 << 60, size=3000)]
    small = _h64(range(64))
    lane_edge = [next(t for t in range(64) if int(small[t]) >> b & 1)
                 for b in (31, 32, 61)]
    rows += [(100 + i, t) for i, t in enumerate(lane_edge)]  # one token
    rows += [(200, 1), (200, 2)]                             # 2c == n ties
    rows += [(300, t) for t in lane_edge * 3 + [7]]          # edges vote
    want, ties = _simhash_reference(rows)
    assert ties > 0
    assert int(_h64([t for _, t in rows]).max()) < 1 << 62
    df = spark.createDataFrame(rows, "id long, token_id long")
    got = {r["id"]: r["simhash"] for r in simhash64(df).collect()}
    assert got == want
    # a one-token document's fingerprint is its token's hash
    assert [got[100 + i] for i in range(3)] == [int(small[t]) for t in lane_edge]


def test_exact_dedup_and_survivors(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    summary = exact_dedup(df, ["text"], "doc_id")
    n = {r["canonical_id"]: r["n_copies"] for r in summary.collect()}
    assert n[1] == 2 and sum(n.values()) == 6
    survivors = dedup_rows(df, ["text"], "doc_id")
    assert sorted(r["doc_id"] for r in survivors.collect()) == [1, 2, 4, 5, 6]


def test_incremental_dedup_admits_only_fresh(spark):
    import pyspark.sql.functions as F

    from modeltracking_spark.operators.dedup import incremental_dedup

    existing = spark.createDataFrame(
        [(1, "aa"), (2, "bb")], "id long, text string"
    )
    incoming = spark.createDataFrame(
        [
            (10, "aa"),   # already in corpus -> dropped
            (11, "cc"),   # fresh -> kept
            (12, "cc"),   # dup within batch -> dropped (11 survives)
            (13, "dd"),   # fresh -> kept
        ],
        "id long, text string",
    )
    out = incremental_dedup(incoming, existing, F.md5("text"), "id")
    assert sorted(r["id"] for r in out.collect()) == [11, 13]
    # plan: the anti join keys on the content hash, no cartesian
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan and "Cartesian" not in plan


def test_incremental_neardup_planted_and_boundary_only(spark):
    """A delta doc near-identical to a corpus doc must match; two
    near-identical CORPUS docs must NOT pair (no corpus self-join);
    exact copies score jaccard 1.0."""
    from modeltracking_spark.operators.dedup import incremental_neardup_matches

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [
            (1, base),
            (2, base + " lambda"),      # near-dup of 1 INSIDE the corpus
            (3, "totally different words here nothing shared at all"),
        ],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [(101, base), (102, "unrelated fresh content nothing matches")],
        "doc_id long, text string",
    )
    got = incremental_neardup_matches(
        delta, corpus, "doc_id", "text", verify_threshold=0.5
    ).collect()
    pairs = {(r["delta_id"], r["corpus_id"]): r["jaccard"] for r in got}
    assert pairs[(101, 1)] == 1.0          # exact copy found
    assert (101, 2) in pairs               # near-dup found via shared bands
    assert all(d == 101 for d, _ in pairs) # 102 matches nothing
    assert (1, 2) not in pairs and (2, 1) not in pairs  # no corpus self-join


def test_edit_distance_pairs_finds_typo_copy(spark):
    """A near-copy with a one-letter typo in the prefix must pair with
    its original; an unrelated doc in the same block must not; blocking
    by (lang, band) keeps cross-language pairs out entirely."""
    import pyspark.sql.functions as F

    from modeltracking_spark.queries import load_registries

    base = "the quick brown fox jumps over the lazy dog " * 3
    rows = [
        (1, base, "en"),
        (2, base.replace("quick", "quack", 1), "en"),   # 1 substitution
        (3, "z" * len(base), "en"),                      # same block, far
        (4, base, "de"),                                 # other language
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    qs, _ = load_registries()
    # reuse the registered query's logic by registering a temp view? No —
    # drive the same construction directly:
    d = docs.select(
        "doc_id", "lang",
        (F.length("text") / 64).cast("long").alias("band"),
        F.length("text").alias("n"),
        F.substring("text", 1, 80).alias("pfx"),
    )
    a = d.select("lang", "band", F.col("doc_id").alias("id_a"),
                 F.col("n").alias("na"), F.col("pfx").alias("pa"))
    b = d.select("lang", "band", F.col("doc_id").alias("id_b"),
                 F.col("n").alias("nb"), F.col("pfx").alias("pb"))
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in a.join(b, ["lang", "band"])
        .where((F.col("id_a") < F.col("id_b"))
               & (F.abs(F.col("na") - F.col("nb")) <= 16))
        .withColumn("dist", F.levenshtein("pa", "pb").cast("long"))
        .where(F.col("dist") <= 16)
        .collect()
    }
    assert got == {(1, 2): 1}


def test_leakage_safe_split_keeps_clusters_together(spark):
    """r8 split-contamination guard: (a) NO near-dup cluster straddles
    splits (the structural guarantee); (b) the hole is real — plain
    per-doc hash splitting WOULD put some cluster's members in
    different splits on this corpus, so the cluster-keyed split is
    doing actual work; (c) the 80/10/10 cut lands near its targets."""
    import pyspark.sql.functions as F

    from modeltracking_spark.queries import load_registries
    from tests.conftest import SF001

    qs, _ = load_registries()
    out = qs["leakage_safe_split_docs"](spark, SF001).cache()
    rows = out.collect()
    # (a) one split per cluster
    per_cluster = {}
    for r in rows:
        per_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in per_cluster.values())
    multi = [c for c, _ in per_cluster.items()
             if sum(1 for r in rows if r["cluster_id"] == c) >= 2]
    assert multi, "corpus must contain real multi-doc clusters"
    # (b) the naive per-doc split would leak: find a multi-doc cluster
    # whose members' DOC-keyed buckets cross a split boundary
    def doc_split(doc_id):
        import hashlib
        b = int(hashlib.md5(f"{doc_id}:split".encode()).hexdigest()[:8],
                16) % 10000
        return "train" if b < 8000 else ("val" if b < 9000 else "test")
    leaked = False
    for c in multi:
        splits = {doc_split(r["doc_id"]) for r in rows
                  if r["cluster_id"] == c}
        if len(splits) > 1:
            leaked = True
            break
    assert leaked, "per-doc hashing shows no leak -> test corpus too easy"
    # (c) the 80/10/10 targets hold at CLUSTER grain — the unit the
    # hash actually buckets. (Doc-grain proportions can swing wildly on
    # this deliberately near-dup-heavy corpus, where a giant cluster
    # drags hundreds of docs into one split at once — that skew is the
    # documented price of the leakage guarantee, not a bug.)
    cluster_split = {c: next(iter(s)) for c, s in per_cluster.items()}
    nc = len(cluster_split)
    nc_train = sum(1 for s in cluster_split.values() if s == "train")
    assert 0.7 * nc <= nc_train <= 0.9 * nc, (nc_train, nc)
    # with only dozens of clusters at this SF a 10% bucket can come up
    # empty by chance — require the split to be non-degenerate, not
    # exhaustive
    assert len(set(cluster_split.values())) >= 2
    out.unpersist()


def test_minhash_sig_kernel_trailing_empty_rows(spark):
    """Pin the batched signature kernel's segment boundaries when a
    batch ends with empty-token rows (the r16 clamp dropped the last
    nonempty row's final token from its min: [[5, 9, 1], []] read 5,
    not 1).  Empty rows must yield NULL; every nonempty row's mins
    must equal the per-row affine arithmetic."""
    from modeltracking_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_PRIME,
        with_minhash_sigs,
    )

    n_hashes = 4
    rows = [(1, [5, 9, 1]), (2, []), (3, [42]), (4, [])]
    df = spark.createDataFrame(rows, "id long, toks array<long>")
    got = {
        r["id"]: r["__sigs"]
        for r in with_minhash_sigs(df, n_hashes).collect()
    }
    p = MINHASH_PRIME
    for rid, toks in rows:
        if not toks:
            assert got[rid] is None
            continue
        want = [
            min((MINHASH_A[i] * (t % p) + MINHASH_B[i]) % p for t in toks)
            for i in range(n_hashes)
        ]
        assert got[rid] == want, (rid, got[rid], want)
