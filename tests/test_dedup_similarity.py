"""Near-dup + similarity-search tests with planted ground truth."""

from __future__ import annotations

import itertools
import math
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from schema_validator_spark.operators import dedup, similarity, textquality


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    rows = [
        (1, base),
        (2, base),                                   # exact dup of 1
        (3, base.replace("lazy", "sleepy", 1)),      # near dup of 1
        (4, "completely different words about spark shuffles and joins " * 5),
        (5, "another unrelated document concerning parquet file layouts " * 5),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_finds_planted_pairs(spark, near_dup_docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in dedup.minhash_near_duplicates(
            near_dup_docs, "doc_id", threshold=0.5
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs or (2, 3) in pairs
    assert all(4 not in p and 5 not in p for p in pairs)


def test_minhash_md5_matches_xxhash_pairs(spark, near_dup_docs):
    md5_pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_near_duplicates(
            near_dup_docs, "doc_id", threshold=0.5, hash_fn="md5",
            num_hashes=16, bands=4,
        ).collect()
    }
    assert (1, 2) in md5_pairs


def test_ngram_jaccard_exact(spark, near_dup_docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            near_dup_docs, "doc_id", threshold=0.3
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.3 <= pairs[(1, 3)] < 1.0


def test_simhash(spark, near_dup_docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_duplicates(
            near_dup_docs, "doc_id", max_hamming=6
        ).collect()
    }
    assert pairs[(1, 2)] == 0          # identical docs → identical fingerprint
    assert (1, 3) in pairs             # near dup → small hamming
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_simhash_multi_index_identical_pairs(spark, near_dup_docs):
    """combo_blocks (Manku-style multi-index) must yield the EXACT same
    verified pair set as single-block pigeonhole — candidate recall is exact
    in both schemes, and verification filters identically."""
    # widen the corpus so there are non-trivial pairs and non-pairs
    docs = near_dup_docs.unionAll(
        near_dup_docs.select(
            (F.col("doc_id") + 100).alias("doc_id"),
            F.concat("text", F.lit(" tail9")).alias("text"),
        )
    )
    # cb=3/h=1 gives 22/21/21-bit blocks (wider than a 16-bit lane) and
    # cb=5/h=1 gives keep=4 — both regimes where a fixed-16-bit-lane key
    # packing collided across tuples / overflowed signed 64-bit; the
    # width-shift packing must stay exact there too
    for hash_fn, cb, h in (
        ("xxhash64", 6, 3), ("xxhash64", 5, 3), ("md5", 5, 3),
        ("xxhash64", 3, 1), ("xxhash64", 5, 1),
    ):
        single = {
            tuple(r)
            for r in dedup.simhash_near_duplicates(
                docs, "doc_id", max_hamming=h, hash_fn=hash_fn
            ).collect()
        }
        multi = {
            tuple(r)
            for r in dedup.simhash_near_duplicates(
                docs, "doc_id", max_hamming=h, hash_fn=hash_fn, combo_blocks=cb
            ).collect()
        }
        assert multi == single, (hash_fn, cb, h)
    with pytest.raises(ValueError, match="combo_blocks"):
        dedup.simhash_near_duplicates(
            docs, "doc_id", max_hamming=3, combo_blocks=3
        )


def test_exploded_gram_stream_max_positions(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "x y")], "doc_id long, text string"
    )
    got = (
        dedup.exploded_gram_stream(df, "doc_id", "text", 2, max_positions=3)
        .groupBy("_id")
        .count()
        .collect()
    )
    counts = {r["_id"]: r["count"] for r in got}
    assert counts[1] == 3      # 5 positions truncated to 3
    assert counts[2] == 1      # short doc: single whole-text gram


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(50, 8).astype("float32")
    vecs[1] = vecs[0] + 0.01 * rng.randn(8).astype("float32")  # near dup of 0
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    # width declared once at "ingestion" — the ANN operators read it from
    # column metadata instead of probing a row (dedup.declare_dim)
    return (
        dedup.declare_dim(
            spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
            "embedding",
            8,
        ),
        vecs,
    )


def _numpy_topk(vecs, qidx, k):
    q = vecs[qidx].astype("float64")
    sims = vecs.astype("float64") @ q
    sims /= np.linalg.norm(vecs.astype("float64"), axis=1) * np.linalg.norm(q)
    order = sorted(range(len(vecs)), key=lambda i: (-round(sims[i], 6), i))
    return order[:k], sims


def test_cosine_topk_exact_vs_numpy(spark, vectors):
    df, vecs = vectors
    q = df.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = [
        r["neighbor_id"]
        for r in similarity.cosine_topk(df, q, k=5).orderBy("rank").collect()
    ]
    want, _ = _numpy_topk(vecs, 0, 5)
    assert got == want
    assert got[0] == 0 and got[1] == 1  # self first, planted near-dup second


def test_lsh_topk_recall(spark, vectors):
    df, vecs = vectors
    q = df.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = [
        r["neighbor_id"]
        for r in similarity.lsh_topk(df, q, k=5, num_planes=6).orderBy("rank").collect()
    ]
    # bucketing keeps the self-match and the planted near-dup together
    assert got[0] == 0 and 1 in got


def test_lsh_topk_banded_recall(spark):
    # planted neighbor per query at cosine ~0.9: band-amplified retrieval
    # (8 bands x 8 planes) must place it in the top-k for >= 90% of queries;
    # a single 8-plane signature caps the candidate probability near
    # 0.856^8 ~ 0.29, so one band must do strictly worse on the same data
    rng = np.random.RandomState(23)
    base = rng.randn(40, 16).astype("float64")
    rows, planted = [], {}
    for i, v in enumerate(base):
        rows.append((2 * i, [float(x) for x in v]))
        n = v + 0.48 * rng.randn(16)
        rows.append((2 * i + 1, [float(x) for x in n]))
        cos = float(v @ n / (np.linalg.norm(v) * np.linalg.norm(n)))
        if cos >= 0.85:
            planted[2 * i] = 2 * i + 1
    assert len(planted) >= 25
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def recall(bands):
        got = similarity.lsh_topk(
            df, q, k=5, num_planes=8, bands=bands, dim=16
        ).collect()
        hits = {
            r["query_id"]
            for r in got
            if planted.get(r["query_id"]) == r["neighbor_id"]
        }
        return len(hits & set(planted)) / len(planted)

    banded = recall(8)
    single = recall(1)
    assert banded >= 0.9, f"banded lsh_topk recall {banded:.2f} < 0.9"
    assert banded > single, (banded, single)


def test_ivf_topk(spark, vectors):
    df, vecs = vectors
    q = df.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = [
        r["neighbor_id"]
        for r in similarity.ivf_topk(df, q, k=5, n_centroids=5, nprobe=3)
        .orderBy("rank")
        .collect()
    ]
    assert got[0] == 0 and 1 in got


def test_train_ivf_centroids_recall_vs_bruteforce(spark):
    # VERDICT r4 #6: k-means-trained centroids must make ivf_topk recover
    # >= 90% of the brute-force cosine top-k on a clustered substrate, and
    # beat-or-match the untrained id-hash seeding on the same data.
    rng = np.random.RandomState(7)
    dirs = rng.randn(4, 16)
    dirs /= np.linalg.norm(dirs, axis=1)[:, None]
    rows = []
    for i in range(200):
        v = dirs[i % 4] + 0.15 * rng.randn(16)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(df, q, k=5, dim=16).collect()
    }
    cents = similarity.train_ivf_centroids(df, n_centroids=4, iters=4)
    assert len(cents) == 4 and all(len(c) == 16 for c in cents)
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(
            df, q, k=5, nprobe=1, centroids=cents
        ).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"trained-centroid ivf recall {recall:.2f} < 0.9"
    # determinism: retraining returns the identical centroids
    again = similarity.train_ivf_centroids(df, n_centroids=4, iters=4)
    assert again == cents
    # sample_mod trains on a strict subset but still returns 4 x 16 centroids
    sampled = similarity.train_ivf_centroids(
        df, n_centroids=4, iters=2, sample_mod=2
    )
    assert len(sampled) == 4 and all(len(c) == 16 for c in sampled)


def test_embedding_near_duplicates(spark, vectors):
    df, _ = vectors
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_duplicates(
            df, "vec_id", threshold=0.99
        ).collect()
    }
    assert (0, 1) in pairs


# -- text quality -------------------------------------------------------------

def test_language_id(spark):
    rows = [
        (1, "the cat sat on the mat and the dog was in the house"),
        (2, "der Hund ist nicht mit der Katze und das ist ein Haus"),
        (3, "le chat est dans la maison et les chiens ne sont pas la"),
        (4, "xyzzy qwerty plugh"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {
        r["id"]: r["lang"]
        for r in df.select(
            "id", textquality.language_id(F.col("text")).alias("lang")
        ).collect()
    }
    assert out[1] == "en" and out[2] == "de" and out[3] == "fr" and out[4] == "und"


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(1, "hello world, it's 42 degrees!"), (2, ""), (3, "   ")],
        "id long, text string",
    )
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            textquality.token_count_whitespace(F.col("text")).alias("ws"),
            textquality.token_count_bpe_ish(F.col("text")).alias("bpe"),
        ).collect()
    }
    assert rows[1]["ws"] == 5
    # hello|world|,|it|'|s|42|degrees|! → 9
    assert rows[1]["bpe"] == 9
    assert rows[2]["ws"] == 0 and rows[3]["ws"] == 0


def test_fingerprints(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "different entirely")],
        "id long, text string",
    )
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            textquality.fingerprint_exact(F.col("text")).alias("fp"),
            textquality.fingerprint_winnow(F.col("text"), k=4).alias("wfp"),
        ).collect()
    }
    # case/whitespace-normalized equality
    assert rows[1]["fp"] == rows[2]["fp"] != rows[3]["fp"]
    assert rows[1]["wfp"] == rows[2]["wfp"]


def test_quality_score_bounds(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mm = docs.select(
        textquality.quality_score(F.col("text")).alias("q")
    ).agg(F.min("q"), F.max("q")).collect()[0]
    assert 0.0 <= mm[0] <= mm[1] <= 1.0


def test_near_dup_clusters(spark):
    from schema_validator_spark.operators.dedup import near_dup_clusters

    # components: {1,2,3,4} (chain), {7,9}, {5} absent (no edges -> not listed)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 9)], "id_a long, id_b long"
    )
    got = {r["id"]: r["cluster_id"] for r in near_dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 9: 7}


def test_near_dup_clusters_star_hub(spark):
    # boilerplate hub: one doc near-dups with 60 others (star, diameter 2) —
    # the shape one shared boilerplate shingle produces at corpus scale;
    # min-label propagation must converge in ~2 rounds, not max_iter
    from schema_validator_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 61)], "id_a long, id_b long"
    )
    got = {r["id"]: r["cluster_id"] for r in near_dup_clusters(pairs).collect()}
    assert got == {i: 0 for i in range(61)}


def test_near_dup_clusters_high_diameter_chain(spark):
    # worst-case diameter: a 25-node chain needs 24 propagation rounds; the
    # default max_iter=20 must come back with a partial labelling (documented
    # bound — 1 hop per round), and max_iter=diameter must fully converge
    from schema_validator_spark.operators.dedup import near_dup_clusters

    n = 25
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    full = {
        r["id"]: r["cluster_id"]
        for r in near_dup_clusters(pairs, max_iter=n - 1).collect()
    }
    assert full == {i: 0 for i in range(n)}
    partial = {
        r["id"]: r["cluster_id"] for r in near_dup_clusters(pairs).collect()
    }
    assert partial[20] == 0 and partial[n - 1] != 0  # 20 hops reached, 40 not


def test_near_dup_clusters_mega_component_stress(spark, tmp_path):
    # VERDICT r4 #4: one 10k-node boilerplate mega-cluster (the shape a
    # repeated site template produces) — convergence must take a HANDFUL of
    # iterations, not scale with component size, and the reliable-checkpoint
    # path must produce identical labels.
    from schema_validator_spark.operators import dedup
    from schema_validator_spark.operators.dedup import near_dup_clusters

    n = 10_000
    # boilerplate graph: every doc pairs with one of 100 hub docs (its
    # template variant), hubs all pair with the template original (doc 0,
    # the highest-overlap member) — the hub-star shape LSH banding actually
    # emits for a repeated template; diameter 4
    edges = [(i % 100, i) for i in range(100, n)] + [
        (0, h) for h in range(1, 100)
    ]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = near_dup_clusters(pairs).collect()
    assert len(got) == n
    assert all(r["cluster_id"] == 0 for r in got)
    # iteration count stays graph-diameter-bounded (≤ 5 incl. the
    # convergence-confirming round), NEVER O(component size)
    assert dedup.LAST_CC_ITERATIONS <= 5
    # reliable checkpoint path (the 100 TB fault-tolerance option):
    # identical labels, checkpoint files actually written to the dir
    ck = str(tmp_path / "cc_ckpt")
    got_ck = near_dup_clusters(pairs, checkpoint_dir=ck).collect()
    assert {r["id"]: r["cluster_id"] for r in got_ck} == {
        r["id"]: r["cluster_id"] for r in got
    }
    import os

    found = [f for _, _, fs in os.walk(ck) for f in fs]
    assert found, "reliable checkpoint wrote no files"


def test_simhash_md5_family(spark, near_dup_docs):
    # 60-bit md5-derived fingerprints (the oracle-checkable family)
    fps = {
        r["_id"]: r["_fp"]
        for r in dedup.simhash_fingerprints(
            near_dup_docs, "doc_id", hash_fn="md5"
        ).collect()
    }
    assert fps[1] == fps[2]  # identical docs → identical fingerprint
    assert all(0 <= fp < (1 << 60) for fp in fps.values())

    def ham(a, b):
        return bin(fps[a] ^ fps[b]).count("1")

    # near dup is strictly closer than unrelated docs
    assert ham(1, 3) < ham(1, 4) and ham(1, 3) < ham(1, 5)
    # blocked search keeps the guarantee blocking actually gives (4 blocks of
    # 15 bits pigeonhole pairs with hamming <= 3): the exact dup is found,
    # unrelated docs are not
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_duplicates(
            near_dup_docs, "doc_id", max_hamming=3, block_bits=15, hash_fn="md5"
        ).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_embedding_near_dup_banded_recall(spark):
    # planted near-dup pairs at cosine >= 0.99: banding must recover >= 95%
    # (a single 12-plane signature structurally caps out around 58%)
    rng = np.random.RandomState(11)
    base = rng.randn(40, 16).astype("float64")
    rows, truth = [], set()
    for i, v in enumerate(base):
        rows.append((2 * i, [float(x) for x in v]))
        n = v + 0.02 * rng.randn(16)
        cos = float(v @ n / (np.linalg.norm(v) * np.linalg.norm(n)))
        rows.append((2 * i + 1, [float(x) for x in n]))
        if cos >= 0.99:
            truth.add((2 * i, 2 * i + 1))
    assert len(truth) >= 30  # the planting actually produced near-dups
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    found = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_duplicates(
            df, "vec_id", threshold=0.99, dim=16
        ).collect()
    }
    recall = len(found & truth) / len(truth)
    assert recall >= 0.95, f"banded SRP recall {recall:.2f} < 0.95"


def test_ngram_hot_shingle_cap(spark):
    # every doc shares one hot trigram; with the df cap active that shingle
    # cannot generate candidates, so unrelated docs pair with NOTHING while a
    # genuinely duplicated doc is still found through its rare shingles
    hot = "common header boilerplate"
    rows = [(i, f"{hot} unique words {i}a {i}b {i}c {i}d {i}e") for i in range(30)]
    rows.append((100, rows[0][1]))  # exact dup of doc 0
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.ngram_jaccard_pairs(
        df, "doc_id", threshold=0.3, max_doc_freq=5
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got == {(0, 100): 1.0}  # only the planted dup; hot shingle inert
    # uncapped, the hot shingle pairs everything with everything
    uncapped = dedup.ngram_jaccard_pairs(
        df, "doc_id", threshold=0.0, max_doc_freq=None
    ).count()
    assert uncapped == 31 * 30 / 2
    # the cap counts gram OCCURRENCES, not docs: doc 200 repeats "rep rep
    # rep" 6 times, so that key (7 occurrences, 2 docs) is over a cap of 5
    # and the pair it alone links is never a candidate
    rep = spark.createDataFrame(
        [(200, "rep " * 8), (201, "rep rep rep alpha beta")],
        "doc_id long, text string",
    )
    assert dedup.ngram_jaccard_pairs(
        rep, "doc_id", threshold=0.3, max_doc_freq=5
    ).collect() == []
    assert {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            rep, "doc_id", threshold=0.3, max_doc_freq=None
        ).collect()
    } == {(200, 201): 0.333333}


def test_keep_best_per_cluster(spark):
    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 20), (7, 5), (9, 5), (5, 99)],
        "doc_id long, score long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.keep_best_per_cluster(docs, pairs, "doc_id", "score").collect()
    }
    # cluster {1,2,3}: doc 2 wins (score 30); cluster {7,9}: tie on score ->
    # smallest id (7); doc 5 untouched singleton
    assert got == {2: 1, 7: 7, 5: 5}


def test_sample_deterministic_and_stratified(spark):
    from schema_validator_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de") for i in range(2000)], "id long, lang string"
    )
    a = sampling.sample_deterministic(df, "id", 0.3)
    b = sampling.sample_deterministic(df, "id", 0.3)
    # same keys -> identical decision (no RNG, no partition dependence)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    assert abs(a.count() / 2000 - 0.3) < 0.05
    # nested rates: smaller-rate sample is a subset of the larger
    small = sampling.sample_deterministic(df, "id", 0.1)
    assert small.exceptAll(a).count() == 0

    strat = sampling.sample_stratified(
        df, "id", "lang", {"de": 1.0}, default_rate=0.2
    )
    by_lang = {
        r["lang"]: r["n"]
        for r in strat.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert by_lang["de"] == 1000          # rate 1.0 keeps everything
    assert abs(by_lang["en"] / 1000 - 0.2) < 0.06


def test_repetition_and_dup_ngram_signals(spark):
    rows = [
        (1, "spam spam spam spam spam spam spam spam"),   # high repetition
        (2, "each word here is fully distinct from others"),
        (3, "each word here is fully distinct from others"),  # cross-doc dup of 2
        (4, "nothing shared with anything else whatsoever today"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rep = {
        r["doc_id"]: r["rep"]
        for r in df.select(
            "doc_id", textquality.intra_doc_repetition(F.col("text"), 3).alias("rep")
        ).collect()
    }
    assert rep[1] > 0.8 and rep[2] == 0.0
    frac = {
        r["doc_id"]: r["dup_ngram_frac"]
        for r in textquality.duplicate_ngram_fraction(df, "doc_id", n_gram=3).collect()
    }
    assert frac[2] == 1.0 and frac[3] == 1.0   # identical docs: all 3-grams shared
    assert frac[4] == 0.0


def test_sample_to_token_budget(spark):
    from schema_validator_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", 100) for i in range(2000)],
        "id long, lang string, tokens long",
    )
    # en total = 100k tokens; budget 10k -> rate 0.1; de unbudgeted -> dropped
    out = sampling.sample_to_token_budget(
        df, "id", "lang", "tokens", {"en": 10_000.0}
    )
    rows = out.collect()
    assert all(r["lang"] == "en" for r in rows)
    kept_tokens = sum(r["tokens"] for r in rows)
    assert abs(kept_tokens - 10_000) / 10_000 < 0.25  # hash-rate ≈ budget
    # budget above total clamps to keep-everything
    all_en = sampling.sample_to_token_budget(
        df, "id", "lang", "tokens", {"en": 10_000_000.0}
    )
    assert all_en.count() == 1000


def test_chunk_text_windows(spark):
    from schema_validator_spark.operators.textquality import chunk_text

    df = spark.createDataFrame(
        [(1, "a" * 1000), (2, "b" * 10), (3, None), (4, "c" * 512)],
        "id long, text string",
    )
    got = {}
    for r in chunk_text(df, "id", chunk_chars=512, overlap=64).collect():
        got.setdefault(r["id"], []).append((r["chunk_no"], r["chunk_len"]))
    # stride 448: 1000 chars -> offsets 0/448/896 -> lens 512/512/104
    assert sorted(got[1]) == [(0, 512), (1, 512), (2, 104)]
    assert got[2] == [(0, 10)]
    assert got[3] == [(0, 0)]      # NULL doc survives as one empty chunk
    assert got[4] == [(0, 512)]    # exact fit -> exactly one chunk
    # overlap: consecutive chunks share the trailing 64 chars
    chunks = {
        r["chunk_no"]: r["chunk"]
        for r in chunk_text(
            spark.createDataFrame([(9, "".join(chr(97 + i % 26) for i in range(300)))],
                                  "id long, text string"),
            "id", chunk_chars=128, overlap=32,
        ).collect()
    }
    assert chunks[0][-32:] == chunks[1][:32]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_text(df, "id", chunk_chars=64, overlap=64)


def test_quantize_embedding_roundtrip(spark, vectors):
    df, _ = vectors
    d = df.select("vec_id", similarity.quantize_embedding(F.col("embedding")).alias("qe"), "embedding")
    rows = d.select(
        "vec_id",
        F.col("qe.scale").alias("scale"),
        F.array_min("qe.q").alias("qmin"),
        F.array_max("qe.q").alias("qmax"),
        F.aggregate(
            F.zip_with(
                similarity.dequantize_embedding(F.col("qe")),
                F.col("embedding"),
                lambda a, b: F.abs(a - b.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        ).alias("max_err"),
    ).collect()
    for r in rows:
        assert -127 <= r["qmin"] and r["qmax"] <= 127
        assert r["max_err"] <= r["scale"] / 2 + 1e-12  # half-step bound
    # all-zero vector: scale 0, all-zero codes, exact roundtrip
    z = spark.createDataFrame([(1, [0.0] * 8)], "vec_id long, embedding array<float>")
    r = z.select(similarity.quantize_embedding(F.col("embedding")).alias("qe")).collect()[0]["qe"]
    assert r["scale"] == 0.0 and set(r["q"]) == {0}


def test_degenerate_text_guard_minhash_simhash(spark):
    """NULL / whitespace-only docs must NOT pair with each other: all of
    them share the identical degenerate signature, so m such docs would put
    m²/2 pairs through the candidate join (the 24M-row bench substrate has
    247k null pages ⇒ 3·10¹⁰ pairs without the guard)."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    rows = [(1, base), (2, base)] + [
        (i, None if i % 2 else "   ") for i in range(10, 30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mh = dedup.minhash_near_duplicates(df, "doc_id", threshold=0.0).collect()
    assert {(r["id_a"], r["id_b"]) for r in mh} == {(1, 2)}
    sh = dedup.simhash_near_duplicates(df, "doc_id", max_hamming=6).collect()
    assert {(r["id_a"], r["id_b"]) for r in sh} == {(1, 2)}


def test_max_bucket_size_caps_hot_template(spark):
    """A template repeated m times is an m²/2-pair bomb; max_bucket_size
    drops the hot bucket while distinct near-dup groups still pair."""
    boiler = "identical boilerplate navigation footer text repeated often " * 5
    other = "a genuinely distinct article body about spark aggregation " * 5
    rows = [(i, boiler) for i in range(100)] + [(100, other), (101, other)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.minhash_near_duplicates(df, "doc_id", threshold=0.5)
    assert uncapped.count() == 100 * 99 // 2 + 1
    capped = dedup.minhash_near_duplicates(
        df, "doc_id", threshold=0.5, max_bucket_size=50
    )
    assert {(r["id_a"], r["id_b"]) for r in capped.collect()} == {(100, 101)}
    sh_capped = dedup.simhash_near_duplicates(
        df, "doc_id", max_hamming=3, max_bucket_size=50
    )
    assert {(r["id_a"], r["id_b"]) for r in sh_capped.collect()} == {(100, 101)}


def test_dedup_against_catalog(spark):
    from schema_validator_spark.operators.dedup import (
        catalog_fingerprints,
        dedup_against_catalog,
    )

    old = spark.createDataFrame(
        [(1, "seen before"), (2, "also  SEEN   before")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (10, "seen before"),          # exact catalog hit
            (11, "Seen   BEFORE"),        # normalized catalog hit
            (12, "genuinely new text"),
            (13, None),                   # NULL text always survives
        ],
        "doc_id long, text string",
    )
    cat = catalog_fingerprints(old)
    assert cat.count() == 2  # the two old docs normalize differently
    for strategy in ("broadcast", "shuffle_hash", "auto"):
        out = dedup_against_catalog(new, cat, "doc_id", strategy=strategy)
        assert {r["doc_id"] for r in out.collect()} == {12, 13}, strategy
    # survivors carry the fingerprint for catalog append
    assert "fingerprint" in out.columns
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup_against_catalog(new, cat, "doc_id", strategy="sort_merge")


def test_dedup_against_catalog_broadcast_plan(spark):
    from schema_validator_spark.operators.dedup import (
        catalog_fingerprints,
        dedup_against_catalog,
    )
    from schema_validator_spark.plans.inspect import plan_stats

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    cat = catalog_fingerprints(df)
    assert plan_stats(dedup_against_catalog(df, cat, "doc_id", strategy="broadcast"))["broadcasts"] == 1
    shuffle_plan = dedup_against_catalog(
        df, cat, "doc_id", strategy="shuffle_hash"
    )._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastHashJoin" not in shuffle_plan


def test_containment_asymmetric_subset(spark):
    from schema_validator_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    small = "alpha beta gamma delta epsilon zeta eta theta"
    big = small + " " + " ".join(f"filler{i} pad{i} more{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, small), (2, big), (3, "totally unrelated words here only")],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, "doc_id", threshold=0.8).collect()
    }
    # every 3-shingle of the small doc appears in the big doc
    assert got.get((1, 2)) == 1.0
    # the reverse direction is far below threshold, and so is Jaccard
    assert (2, 1) not in got and (3, 2) not in got
    jac = ngram_jaccard_pairs(df, "doc_id", threshold=0.5).collect()
    assert not any(
        {r["id_a"], r["id_b"]} == {1, 2} for r in jac
    )  # symmetric Jaccard misses the subset pair containment catches


def test_mod_p_candidate_sampling_finds_near_dups_exactly(spark):
    from schema_validator_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    base = " ".join(f"w{i} tok{i} x{i}" for i in range(30))  # ~90 shingles
    rows = [
        (1, base),
        (2, base + " tail one two"),     # near-dup of 1: many common shingles
        (3, "completely different words here that share nothing at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, "doc_id", threshold=0.5).collect()
    }
    sampled = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", threshold=0.5, candidate_sample_mod=4
        ).collect()
    }
    assert (1, 2) in full
    # P(miss) = (3/4)^~88 ≈ 1e-11: the near-dup pair survives sampling, and
    # its score is IDENTICAL (verification uses the full shingle sets)
    assert sampled.get((1, 2)) == full[(1, 2)]
    assert set(sampled) <= set(full)  # sampling only ever discovers fewer
    # same contract for containment
    c_full = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, "doc_id", threshold=0.8).collect()
    }
    c_sampled = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(
            df, "doc_id", threshold=0.8, candidate_sample_mod=4
        ).collect()
    }
    assert c_sampled.get((1, 2)) == c_full[(1, 2)] == 1.0
    assert set(c_sampled) <= set(c_full)


def _reference_grams(text, n=3):
    # the kernels' normalisation: lowercase, trim spaces, collapse
    # whitespace; distinct word n-grams, whole text for docs under n words
    words = re.sub(r"\s+", " ", text.lower().strip(" "), flags=re.ASCII).split(" ")
    if len(words) < n:
        return {" ".join(words)}
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def _reference_pairs(rows, threshold, containment=False):
    grams = {i: _reference_grams(t) for i, t in rows if t and t.strip(" ")}
    out = {}
    for a, b in itertools.combinations(sorted(grams), 2):
        ga, gb = grams[a], grams[b]
        inter = len(ga & gb)
        if not inter:
            continue
        if containment:
            scores = {(a, b): inter / len(ga), (b, a): inter / len(gb)}
        else:
            scores = {(a, b): inter / (len(ga) + len(gb) - inter)}
        out.update({k: v for k, v in scores.items() if round(v, 6) >= threshold})
    return out


def test_ngram_pairs_match_python_reference(spark):
    # the exploded kernel's pair set and scores equal an all-pairs Python
    # computation over distinct word 3-gram sets when no cap binds:
    # candidate keys are gram hashes (collisions only add candidates),
    # verification is distinct-string-gram arithmetic on candidate docs only
    from schema_validator_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    base = " ".join(f"w{i} tok{i} y{i}" for i in range(30))
    contained = " ".join(f"w{i} tok{i} y{i}" for i in range(8))
    rows = [
        (1, base),
        (2, base + " tail one two"),
        (3, "entirely different page text sharing no shingles with others"),
        (4, contained),
        (5, contained + " wrapped inside much longer boilerplate " + base),
        (6, base.upper().replace(" ", "\t\n ", 5)),    # case + whitespace
        (7, "Short Doc"),                              # under 3 words
        (8, "short   doc"),
        (9, "rep rep rep rep rep " + contained),       # repeated gram
        (10, "   "),                                   # degenerate: dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for fn, col, thr, is_containment in (
        (ngram_jaccard_pairs, "jaccard", 0.3, False),
        (containment_pairs, "containment", 0.8, True),
    ):
        got = {
            (r["id_a"], r["id_b"]): r[col]
            for r in fn(df, "doc_id", threshold=thr).collect()
        }
        want = _reference_pairs(rows, thr, containment=is_containment)
        assert set(got) == set(want), col
        assert got == pytest.approx(want, abs=1e-6), col
        assert (7, 8) in got  # the short-doc fallback was exercised
    # mod-p sampling composes with the gram stream (deterministic keys)
    sampled = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", threshold=0.3, candidate_sample_mod=4,
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, "doc_id", threshold=0.3).collect()
    }
    assert sampled.get((1, 2)) == full[(1, 2)]
    assert set(sampled) <= set(full)
    # "exploded" is the only candidate generator left
    assert {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            df, "doc_id", threshold=0.3, candidates="exploded"
        ).collect()
    } == set(full)
    for removed in ("shingles", "winnow"):
        with pytest.raises(ValueError, match="removed"):
            ngram_jaccard_pairs(df, "doc_id", candidates=removed)
        with pytest.raises(ValueError, match="removed"):
            containment_pairs(df, "doc_id", candidates=removed)
