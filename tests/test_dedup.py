"""Dedup-family unit tests (exact, shingle Jaccard, MinHash-LSH recall,
SimHash) against driver documents + hand-built frames."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from sbb_ned_spark.operators import dedup

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    # MUST unpersist at module teardown: the session-scoped cache of the
    # RAW documents scan would otherwise substitute into every later
    # documents plan in the suite (Spark cache-manager subtree matching),
    # un-pruning scans that plan tests assert on (test_plans chunk-dedup)
    df = spark.read.parquet(f"{SF}/documents.parquet").persist()
    yield df
    df.unpersist()


def test_exact_dedup_groups(spark, docs):
    # driver documents are all distinct; plant exact dups by unioning a copy
    planted = docs.limit(10).withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionByName(planted)
    out = dedup.exact_dedup(both, "doc_id", "text")
    assert out.count() == both.count()
    # keeper is the min id within each group
    bad = out.filter(F.col("keeper_id") > F.col("id")).count()
    assert bad == 0
    dup_groups = out.filter(F.col("group_size") > 1)
    assert dup_groups.count() >= 20  # 10 planted pairs


def test_minhash_recall_equals_bruteforce(spark, docs):
    """LSH candidates must not lose any pair above tau (complete recall at
    the default 16 bands x 4 rows for j >= 0.8 on this corpus)."""
    brute = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", tau=0.8)
    lsh = dedup.minhash_lsh_pairs(docs, "doc_id", "text", tau=0.8)
    b = {(r["id_a"], r["id_b"]) for r in brute.collect()}
    l = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
    assert b == l


def test_simhash_finds_exact_dups(spark, docs):
    """Hamming distance 0 pairs must include every exact-text duplicate."""
    exact = dedup.exact_dedup(docs, "doc_id", "text")
    groups = (
        exact.filter(F.col("group_size") > 1)
        .groupBy("keeper_id")
        .agg(F.collect_list("id").alias("ids"))
        .collect()
    )
    expected = set()
    for g in groups:
        ids = sorted(g["ids"])
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                expected.add((ids[i], ids[j]))
    sim = dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3)
    got = {(r["id_a"], r["id_b"]) for r in sim.collect()}
    assert expected <= got


def test_shingle_fallback_short_docs(spark):
    df = spark.createDataFrame(
        [(1, "one two"), (2, "one two"), (3, "totally different words here")],
        ["doc_id", "text"],
    )
    pairs = dedup.ngram_jaccard_pairs(df, "doc_id", "text", tau=0.99)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 2)}


def test_hot_shingle_cutoff(spark, docs):
    all_pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", tau=0.8)
    capped = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", tau=0.8, max_token_freq=2)
    # dropping hot shingles can only shrink the intersection counts
    assert capped.count() <= all_pairs.count()


def test_simhash_slab_bound_preserves_signatures(spark, docs):
    """The slabbed kernel (bounded bit-matrix memory, ADVICE r4 #3) must
    produce bit-identical signatures to an effectively-unslabbed run —
    including slabs that split mid-batch and single rows over budget."""
    from sbb_ned_spark.functions.normalize import with_normalized_columns

    d = with_normalized_columns(docs.withColumnRenamed("text", "content"), "content")
    rows = [r["tok_hashes"] for r in d.select("tok_hashes").collect()]
    # slab_tokens=8 forces many tiny slabs; 1 << 30 is one slab for all rows
    small = dedup.batch_simhash(rows, len(rows), slab_tokens=8)
    big = dedup.batch_simhash(rows, len(rows), slab_tokens=1 << 30)
    assert max(len(r or ()) for r in rows) > 8  # some rows exceed the slab alone
    assert small.tolist() == big.tolist()


def test_containment_catches_subset_docs_jaccard_misses(spark):
    """A short doc embedded verbatim inside a much larger one: containment
    ~1.0 (the smaller side is fully covered) while symmetric shingle
    Jaccard stays far below the 0.8 threshold — the relation this operator
    exists to catch."""
    small = " ".join(f"tok{i}" for i in range(30))
    big = small + " " + " ".join(f"pad{i}" for i in range(300))
    other = " ".join(f"zzz{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, small), (2, big), (3, other)], ["doc_id", "text"]
    )
    got = {
        (r.id_a, r.id_b): r.containment
        for r in dedup.containment_pairs(df, "doc_id", "text", tau=0.8).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 0.9
    assert (1, 3) not in got and (2, 3) not in got
    # symmetric jaccard misses the same pair at the same threshold
    jac = dedup.ngram_jaccard_pairs(df, "doc_id", "text", tau=0.8)
    assert jac.filter((F.col("id_a") == 1) & (F.col("id_b") == 2)).count() == 0


def test_winnow_fingerprints_density_and_guarantee(spark):
    """Winnowing keeps ~2/(w+1) of the shingle hashes and any shared run
    of >= w+k-1 tokens yields a shared fingerprint."""
    import random

    rng = random.Random(9)
    base = [f"w{rng.randrange(10**6)}" for _ in range(400)]
    a = " ".join(base)
    # b shares one 20-token run (> w+k-1 = 6) embedded in unrelated text
    run = base[100:120]
    b = " ".join([f"x{i}" for i in range(200)] + run + [f"y{i}" for i in range(200)])
    df = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    fp = dedup.winnow_fingerprints(df, "doc_id", "text").persist()
    n_fp = fp.filter(F.col("id") == 1).count()
    # 398 shingles, w=4: expected density ~2/5; distinct-minima truncated
    # windows land a bit above — just bound it well below full shingling
    assert n_fp < 398 * 0.7 and n_fp > 398 * 0.2
    shared = (
        fp.filter(F.col("id") == 1)
        .select("fp")
        .intersect(fp.filter(F.col("id") == 2).select("fp"))
        .count()
    )
    assert shared >= 1
    fp.unpersist()


def test_containment_hot_fp_cutoff_only_shrinks(spark, docs):
    allp = dedup.containment_pairs(docs, "doc_id", "text", tau=0.8)
    capped = dedup.containment_pairs(docs, "doc_id", "text", tau=0.8, max_fp_freq=2)
    assert capped.count() <= allp.count()


def test_fused_shingle_minhash_matches_string_shingles(spark, docs):
    """Round-6 internals pin: the fused Arrow kernel's hashed shingle sets
    must reproduce the string-shingle formulation exactly — same distinct
    count per doc and the same verified Jaccard for every pair (hash
    collisions would show up here and in the DuckDB oracle)."""
    from sbb_ned_spark.functions.hashing import make_shingle_minhash_udf

    fused = make_shingle_minhash_udf(64, 16, k=3)
    hashed = docs.select(
        F.col("doc_id").alias("id"),
        fused(
            F.transform(
                F.regexp_extract_all(
                    F.lower(F.trim(F.col("text"))), F.lit(r"\S+"), 0
                ),
                lambda t: F.xxhash64(t),
            )
        ).alias("f"),
    ).select("id", F.size("f.set_hashes").alias("n_hashed"))
    strsets = docs.select(
        F.col("doc_id").alias("id"), F.size(dedup._shingle_array("text")).alias("n_str")
    )
    mismatch = (
        hashed.join(strsets, "id")
        .filter(F.col("n_hashed") != F.col("n_str"))
        .count()
    )
    assert mismatch == 0
    # pairwise: hashed-set Jaccard == string-set Jaccard (the operator's
    # verified output) on this corpus. Exact dict equality also assumes
    # band recall 1.0: with 64 perms in 16 bands of 4 rows a pair at
    # Jaccard 0.8 shares a band with probability 1-(1-0.8^4)^16 ~ 0.99978
    # (higher above 0.8), which holds for every pair of this corpus.
    lsh = dedup.minhash_lsh_pairs(docs, "doc_id", "text", tau=0.8, n_perms=64, n_bands=16)
    brute = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", tau=0.8)
    l = {(r["id_a"], r["id_b"]): r["jaccard"] for r in lsh.collect()}
    b = {(r["id_a"], r["id_b"]): r["jaccard"] for r in brute.collect()}
    assert l == b


def test_winnow_kernel_matches_sha60_reference(spark):
    """Round-6 internals pin: the numpy winnowing kernel must emit exactly
    the sha-60 window minima of the positional shingles (independent pure-
    Python reference, truncated tail windows included)."""
    from hashlib import sha256

    texts = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "one two"),  # < k tokens: whole doc is one shingle
        (3, ""),  # empty: no fingerprints
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    got = {
        r["id"]: set()
        for r in dedup.winnow_fingerprints(df, "doc_id", "text").collect()
    }
    for r in dedup.winnow_fingerprints(df, "doc_id", "text").collect():
        got[r["id"]].add(r["fp"])
    k, w = 3, 4
    for doc_id, text in texts:
        toks = text.lower().strip().split()
        if not toks:
            assert doc_id not in got
            continue
        if len(toks) >= k:
            sh = ["\x01".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        else:
            sh = ["\x01".join(toks)]
        hs = [int(sha256(s.encode()).hexdigest()[:15], 16) for s in sh]
        expect = {min(hs[i : i + w]) for i in range(len(hs))}
        assert got[doc_id] == expect, doc_id
