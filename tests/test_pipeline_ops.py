"""Pipeline operator tests: dedup, similarity, text analysis, multimodal
plumbing, event ops."""

import pytest
from pyspark.sql import functions as F

from cypher_for_apache_spark_spark.operators import dedup, events, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again until done"
    near = base.replace("lazy", "sleepy")  # one token differs
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, "  THE   quick brown fox jumps over the lazy dog again and again until done "),  # normalizes to 0
        (3, near),  # near-dup of 0
        (4, "completely different text about spark dataframes and cypher queries here"),
        (5, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [0, 3, 4, 5]  # 1 and 2 collapse into 0


def test_minhash_signatures_shape(docs):
    sigs = dedup.minhash_signatures(docs, num_hashes=16)
    rows = sigs.collect()
    assert all(len(r["signature"]) == 16 for r in rows)
    by_id = {r["doc_id"]: list(r["signature"]) for r in rows}
    assert by_id[0] == by_id[1]  # identical docs, identical signatures
    # near-dup shares most positions
    same = sum(1 for a, b in zip(by_id[0], by_id[3]) if a == b)
    assert same >= 8


def test_minhash_dedup(docs):
    out = dedup.minhash_dedup(docs, num_hashes=32, bands=16, threshold=0.5)
    ids = sorted(r["doc_id"] for r in out.collect())
    # 1, 2 (exact) and 3 (near) deduplicate against 0
    assert ids == [0, 4, 5]


def test_ngram_jaccard_pairs(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.4)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert (0, 1) in got and got[(0, 1)] == 1.0
    assert (0, 2) in got  # normalization makes them equal
    assert (0, 3) in got and got[(0, 3)] < 1.0


def test_simhash_and_pairs(docs):
    fps = dedup.simhash(docs)
    by_id = {r["doc_id"]: r["simhash"] for r in fps.collect()}

    def ham(a, b):
        return bin((by_id[a] ^ by_id[b]) & ((1 << 64) - 1)).count("1")

    assert ham(0, 1) == 0 and ham(0, 2) == 0  # identical after normalization
    assert ham(0, 3) < ham(0, 4)  # near-dup closer than unrelated text
    # pigeonhole candidate join guarantees pairs with distance < chunks
    pairs = dedup.simhash_pairs(fps, max_distance=3, chunks=4)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got.get((0, 1)) == 0 and got.get((0, 2)) == 0 and got.get((1, 2)) == 0


def test_knn_brute(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.knn_brute(df, [1.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in out] == [0, 1]
    assert out[0]["sim"] == 1.0


def test_knn_lsh_recall(spark):
    import random

    rng = random.Random(7)
    rows = []
    for i in range(100):
        rows.append((i, [rng.gauss(0, 1) for _ in range(16)]))
    # plant a known near pair
    rows.append((1000, [x + 0.01 for x in rows[0][1]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.knn_join_lsh(df, k=3, planes=8, dim=16)
    neigh = [r["neighbor"] for r in out.filter(F.col("vec_id") == 1000).collect()]
    assert 0 in neigh


def _brute_allpairs_topk(df, k):
    """Exact all-pairs cosine top-k (ground truth for recall measurement)."""
    from pyspark.sql import Window as W

    a = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    pairs = a.join(b, F.col("id_a") != F.col("id_b")).select(
        "id_a",
        "id_b",
        similarity.cosine(
            similarity.as_double(F.col("_va")), similarity.as_double(F.col("_vb"))
        ).alias("sim"),
    )
    w = W.partitionBy("id_a").orderBy(F.col("sim").desc(), F.col("id_b"))
    return pairs.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k)


def test_knn_lsh_measured_recall(spark):
    """Quantified recall@k vs exact brute force — the approximation is
    measured, not just row-counted."""
    import random

    rng = random.Random(11)
    dim, k = 16, 3
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(8)]
    rows = [
        (i, [c + rng.gauss(0, 0.15) for c in centers[i % 8]]) for i in range(160)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    truth = {}
    for r in _brute_allpairs_topk(df, k).collect():
        truth.setdefault(r["id_a"], set()).add(r["id_b"])
    approx = {}
    out = similarity.knn_join_lsh(df, k=k, planes=6, dim=dim, bands=6)
    for r in out.collect():
        approx.setdefault(r["vec_id"], set()).add(r["neighbor"])
    recalls = [
        len(truth[i] & approx.get(i, set())) / len(truth[i]) for i in truth
    ]
    recall = sum(recalls) / len(recalls)
    assert recall >= 0.8, f"recall@{k} = {recall:.3f}"


def test_knn_lsh_hot_bucket_cap(spark):
    """A degenerate corpus (hundreds of identical embeddings -> one dense
    bucket) must stay bounded: per-bucket work is capped, output is still
    top-k per id, and ids beyond the cap still get neighbors from other
    bands rather than exploding the join."""
    rows = [(i, [1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0]) for i in range(300)]
    rows += [(1000 + i, [0.0, 1.0, float(i % 3), 0.0, 0.0, 1.0, 0.0, 0.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.knn_join_lsh(
        df, k=2, planes=4, dim=8, bands=2, max_bucket=50
    ).collect()
    per_id = {}
    for r in out:
        per_id.setdefault(r["vec_id"], []).append(r)
    assert all(len(v) <= 2 for v in per_id.values())
    # capped ids (the identical-vector crowd) still found same-crowd
    # neighbors at sim 1.0 through whichever band admitted them
    crowd = [r for r in out if r["vec_id"] < 300]
    assert crowd and all(r["sim"] == 1.0 for r in crowd)


def test_ivf(spark):
    import random

    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = similarity.ivf_train_centroids(df, n_centroids=4, iterations=1)
    assert len(cents) == 4 and len(cents[0]) == 8
    q = rows[5][1]
    got = similarity.ivf_search(df, q, cents, k=5, n_probes=4).collect()
    # probing all 4 centroids == exact search; query vector itself wins
    assert got[0]["vec_id"] == 5


def test_text_features(spark):
    df = spark.createDataFrame(
        [(0, "The quick brown fox!"), (1, "   "), (2, "word " * 20)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.quality_features(df).collect()}
    assert out[0]["q_n_tokens"] == 4
    assert out[1]["q_n_tokens"] == 0
    assert out[2]["q_score"] > out[0]["q_score"]  # length band kicks in


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog of the house went to the park"),
            (1, "der hund und die katze und der vogel nicht hier"),
            (2, "le chat et les chiens et le oiseau est ici"),
            (3, "el gato y los perros y el pajaro es aqui"),
            (4, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["lang"] for r in df.select("doc_id", text.lang_id(F.col("text")).alias("lang")).collect()}
    assert out == {0: "en", 1: "de", 2: "fr", 3: "es", 4: "und"}


def test_fingerprint_matches_duckdb(spark):
    import duckdb

    df = spark.createDataFrame([(0, "  Hello   World  ")], "doc_id long, text string")
    got = df.select(text.fingerprint(F.col("text")).alias("fp")).collect()[0]["fp"]
    want = duckdb.sql(
        "select md5(lower(trim(regexp_replace('  Hello   World  ', '\\s+', ' ', 'g'))))"
    ).fetchone()[0]
    assert got == want


def test_sessionize(spark):
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 10:10:00"),
            (1, "2024-01-01 11:30:00"),  # gap > 30min -> new session
            (2, "2024-01-01 10:00:00"),
        ],
        "user_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = events.sessionize(df).collect()
    sess = {(r["user_id"], str(r["ts"])): r["session_seq"] for r in out}
    assert sess[(1, "2024-01-01 10:00:00")] == 1
    assert sess[(1, "2024-01-01 10:10:00")] == 1
    assert sess[(1, "2024-01-01 11:30:00")] == 2
    assert sess[(2, "2024-01-01 10:00:00")] == 1


def test_topk_per_group(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0), ("b", 4, 5.0)],
        "grp string, id long, v double",
    )
    out = events.topk_per_group(df, ["grp"], "v", 2, tiebreak_col="id").collect()
    got = sorted((r["grp"], r["id"], r["rank"]) for r in out)
    assert got == [("a", 2, 1), ("a", 3, 2), ("b", 4, 1)]


def test_multimodal_decode(spark):
    media = multimodal.synthetic_media(spark, n=8)
    out = multimodal.decode_media(media).collect()
    assert len(out) == 8
    assert all(r["decode_ok"] for r in out)
    assert all(64 <= r["decoded_width"] < 256 for r in out)
    # deterministic: same payload -> same decode
    again = multimodal.decode_media(media).collect()
    assert sorted((r["media_id"], r["decoded_width"]) for r in out) == sorted(
        (r["media_id"], r["decoded_width"]) for r in again
    )


def test_multimodal_features_and_frames(spark):
    media = multimodal.synthetic_media(spark, n=6)
    feats = multimodal.media_features(media, dim=8).collect()
    assert all(len(r["features"]) == 8 for r in feats)
    frames = multimodal.frame_sample(media).collect()
    assert len(frames) >= 6
    assert all(r["frame_idx"] >= 0 for r in frames)


# -- embedding-cosine near-dup ------------------------------------------------

@pytest.fixture(scope="module")
def cos_vecs(spark):
    import random

    rng = random.Random(5)
    dim = 16
    rows = []
    for i in range(60):
        rows.append((i, [rng.gauss(0, 1) for _ in range(dim)]))
    # planted near-dups: 100~0 (tiny perturbation), 101~1, plus an exact dup 102==2
    rows.append((100, [x + 0.01 for x in rows[0][1]]))
    rows.append((101, [x * 1.001 for x in rows[1][1]]))
    rows.append((102, list(rows[2][1])))
    rows.append((103, [0.0] * dim))  # zero vector: sim must be null, never error
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_dup_pairs_exact(cos_vecs):
    pairs = dedup.cosine_dup_pairs(cos_vecs, threshold=0.99)
    got = {(r["id_a"], r["id_b"]): r["sim"] for r in pairs.collect()}
    assert (0, 100) in got and (1, 101) in got and (2, 102) in got
    assert got[(2, 102)] == 1.0
    assert all(a < b for a, b in got)
    assert not any(103 in p for p in got)  # zero vector excluded, no error


def test_cosine_dup_pairs_lsh_recall(cos_vecs):
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.cosine_dup_pairs(cos_vecs, threshold=0.9).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in dedup.cosine_dup_pairs_lsh(
            cos_vecs, threshold=0.9, planes=6, dim=16, bands=8
        ).collect()
    }
    assert approx <= exact  # exact verify on candidates: no false positives
    assert exact, "fixture must contain near-dup pairs"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"near-dup recall = {recall:.3f}"


def test_cosine_dedup_greedy(cos_vecs):
    out = dedup.cosine_dedup(cos_vecs, threshold=0.99, exact=True)
    ids = {r["vec_id"] for r in out.collect()}
    # losers (the larger id of each near-dup pair) are dropped
    assert {100, 101, 102}.isdisjoint(ids)
    assert {0, 1, 2, 103} <= ids


def test_cosine_dedup_default_is_lsh_no_nested_loop(cos_vecs):
    # the DEFAULT pair source must be the LSH scale path: no
    # BroadcastNestedLoopJoin anywhere in the plan, and (since identical
    # vectors always collide in every sign band) the planted exact dups
    # are still dropped
    out = dedup.cosine_dedup(cos_vecs, threshold=0.99, planes=6, dim=16, bands=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    ids = {r["vec_id"] for r in out.collect()}
    assert {100, 101, 102}.isdisjoint(ids)
    assert {0, 1, 2, 103} <= ids


def test_minhash_dedup_cc_collapses_transitive_chains(spark):
    """A~B and B~C similar but A!~C: pairwise min-keep may keep two of the
    chain; cluster-complete dedup keeps exactly one."""
    from cypher_for_apache_spark_spark.operators.dedup import (
        minhash_dedup_cc,
        minhash_duplicate_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again "
    docs = spark.createDataFrame(
        [
            (1, base * 4),
            (2, base * 4 + "tail one two three"),
            (3, base * 4 + "tail one two three four five six seven"),
            (4, "completely different text about spark catalyst planning"),
        ],
        "doc_id long, text string",
    )
    pairs = minhash_duplicate_pairs(docs, threshold=0.5)
    linked = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in linked  # the chain exists
    kept = sorted(
        r["doc_id"] for r in minhash_dedup_cc(docs, threshold=0.5).collect()
    )
    # one survivor (min id) for the 1-2-3 cluster, plus the unrelated doc
    assert kept == [1, 4]


def test_decontaminate_drops_overlapping_train_docs(spark):
    from cypher_for_apache_spark_spark.operators.contamination import decontaminate

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "prefix words alpha beta gamma delta epsilon zeta suffix"),
            (2, "entirely unrelated training content with other words here"),
            (3, "alpha beta gamma delta epsilon zeta"),  # exact overlap
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in decontaminate(train, bench, n=4, max_overlap=0.0).collect()
    )
    assert kept == [2]
    # permissive threshold keeps the partially-overlapping doc
    kept_loose = sorted(
        r["doc_id"]
        for r in decontaminate(train, bench, n=4, max_overlap=0.9).collect()
    )
    assert kept_loose == [1, 2]


def test_semantic_dedup_drops_planted_dups(cos_vecs):
    out = similarity.semantic_dedup(
        cos_vecs, n_centroids=4, threshold=0.99, iterations=2
    )
    ids = {r["vec_id"] for r in out.collect()}
    # near-identical vectors land in the same k-means cluster, so the
    # cluster-bounded pair scan still sees every planted duplicate
    assert {100, 101, 102}.isdisjoint(ids)
    assert {0, 1, 2, 103} <= ids


def test_semantic_dedup_recall_vs_exact(cos_vecs):
    exact = {r["vec_id"] for r in dedup.cosine_dedup(cos_vecs, threshold=0.9, exact=True).collect()}
    approx = {
        r["vec_id"]
        for r in similarity.semantic_dedup(
            cos_vecs, n_centroids=4, threshold=0.9
        ).collect()
    }
    # semantic dedup may MISS cross-cluster dups (keeps extra rows) but must
    # never invent one (drop a row the exact pass keeps)
    assert exact <= approx
    extra = len(approx - exact) / max(len(exact), 1)
    assert extra <= 0.2, f"cross-cluster miss rate {extra:.3f}"


def test_classifier_score_matches_hand_computation(spark):
    import hashlib
    import math

    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, ""), (3, "   ")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in text.classifier_score(df).collect()}

    def w(tok):
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        return ((h % (1 << 20)) % 2001) - 1000

    logit = (2 * w("alpha") + w("beta")) / (1000.0 * 3)
    assert got[1]["logit"] == round(logit, 6)
    assert got[1]["clf_score"] == round(1 / (1 + math.exp(-logit)), 6)
    # empty / whitespace-only documents: zero logit, sigmoid(0) = 0.5
    for d in (2, 3):
        assert got[d]["logit"] == 0.0 and got[d]["clf_score"] == 0.5


def test_line_dedup_removes_corpus_boilerplate(spark):
    boiler = "accept cookies to continue"
    df = spark.createDataFrame(
        [
            (1, f"{boiler}\nunique one\nmiddle\n{boiler}"),
            (2, f"unique two\n{boiler}"),
            (3, f"{boiler}"),
            (4, "untouched doc"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.line_dedup(df, max_count=2).collect()}
    # every input document yields one row; NULL text cleans to ""
    assert sorted(out) == [1, 2, 3, 4, 5]
    assert out[5]["text"] == "" and out[5]["n_lines_removed"] == 0
    # 4 occurrences > max_count=2 -> stripped everywhere, order preserved
    assert out[1]["text"] == "unique one\nmiddle"
    assert out[1]["n_lines_kept"] == 2 and out[1]["n_lines_removed"] == 2
    assert out[2]["text"] == "unique two"
    # a document that was pure boilerplate survives as an empty row
    assert out[3]["text"] == "" and out[3]["n_lines_kept"] == 0
    assert out[4]["text"] == "untouched doc" and out[4]["n_lines_removed"] == 0


def test_vocab_coverage(spark):
    df = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b d")], "doc_id long, text string"
    )
    rows = text.vocab_coverage(df, top_n=3).collect()
    assert [(r["token"], r["n_occurrences"], r["rank"]) for r in rows] == [
        ("a", 4, 1), ("b", 3, 2), ("c", 1, 3)
    ]
    # cumulative coverage is over ALL tokens (9), not just the top-n
    assert [r["cum_frac"] for r in rows] == [
        round(4 / 9, 6), round(7 / 9, 6), round(8 / 9, 6)
    ]


def test_bigram_pmi(spark):
    import math

    df = spark.createDataFrame(
        [(1, "new york new york city"), (2, "old york")],
        "doc_id long, text string",
    )
    rows = {(r["w1"], r["w2"]): r for r in text.bigram_pmi(df, min_count=2).collect()}
    # (york, new), (york, city), (old, york) occur once -> pruned
    assert set(rows) == {("new", "york")}
    r = rows[("new", "york")]
    # counts: 'new' x2, 'york' x3, total 7 tokens, pair 'new york' x2
    assert r["n_pair"] == 2
    assert r["pmi"] == round(math.log((2 * 7) / (2 * 3)), 6)


def test_skipgram_pairs_window(spark):
    from cypher_for_apache_spark_spark.operators.text import skipgram_pairs

    df = spark.createDataFrame([("a b c",), ("",), ("solo",)], "text string")
    got = {(r["center"], r["context"]): r["n"] for r in skipgram_pairs(df, window=1).collect()}
    assert got == {
        ("a", "b"): 1, ("b", "a"): 1, ("b", "c"): 1, ("c", "b"): 1,
    }
    wide = {(r["center"], r["context"]): r["n"] for r in skipgram_pairs(df, window=2).collect()}
    assert wide[("a", "c")] == 1 and wide[("c", "a")] == 1


def test_minhash_dedup_incremental(spark):
    from cypher_for_apache_spark_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again ok"
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different sentence about spark engines here")],
        "doc_id long, text string",
    )
    store = minhash_signatures(corpus, num_hashes=32)
    batch = spark.createDataFrame(
        [
            (10, base),                      # dup of existing doc 1 -> dropped
            (11, "fresh unseen content about parquet column pruning today"),
            (12, "fresh unseen content about parquet column pruning today"),
            # ^ exact dup of smaller-id batch doc 11 -> dropped
        ],
        "doc_id long, text string",
    )
    survivors, updated = minhash_dedup_incremental(
        batch, store, num_hashes=32, threshold=0.8
    )
    assert sorted(r["doc_id"] for r in survivors.collect()) == [11]
    # store grows by exactly the surviving docs
    assert sorted(r["doc_id"] for r in updated.select("doc_id").collect()) == [1, 2, 11]
    # next increment: the previously-surviving doc now blocks its dups
    batch2 = spark.createDataFrame(
        [(20, "fresh unseen content about parquet column pruning today")],
        "doc_id long, text string",
    )
    s2, _ = minhash_dedup_incremental(batch2, updated, num_hashes=32, threshold=0.8)
    assert s2.count() == 0


def test_lm_doc_logprob_flags_unusual_doc(spark):
    from cypher_for_apache_spark_spark.operators.text import lm_doc_logprob

    common = "the cat sat on the mat"
    rows = [(i, common) for i in range(10)] + [(99, "zq xv qq zz pp")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["avg_logprob"] for r in lm_doc_logprob(df).collect()}
    # the repeated doc's transitions dominate the corpus model -> higher
    # probability than the garbled outlier
    assert out[0] == out[5] > out[99]
    # hand-check one term: c("the","cat")=10, c("the")=20, V=10 distinct
    import math
    assert abs(out[0] - (
        sum(math.log((10 + 1) / (c1 + 10)) for c1 in [20, 10, 10, 10, 20]) / 5
    )) < 1e-5


def _bpe_reference(word_counts, num_merges):
    """Pure-Python greedy BPE trainer for cross-checking."""
    vocab = {tuple(w): n for w, n in word_counts.items()}
    out = []
    for step in range(num_merges):
        counts = {}
        for syms, n in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + n
        if not counts:
            break
        (l, r), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < 2:
            break
        out.append((step, l, r, c))
        new = {}
        for syms, n in vocab.items():
            res = []
            for s in syms:
                if res and res[-1] == l and s == r:
                    res[-1] = l + r
                else:
                    res.append(s)
            new[tuple(res)] = new.get(tuple(res), 0) + n
        vocab = new
    return out


def test_bpe_merges_match_reference(spark):
    from cypher_for_apache_spark_spark.operators.text import bpe_merges

    corpus = ["low lower lowest", "low low new newer", "widest wide wider"]
    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    got = bpe_merges(df, num_merges=6)

    wc = {}
    for t in corpus:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    want = _bpe_reference(wc, 6)
    assert got == want
    # sanity: the most common pair of the corpus is the first rule
    assert got[0][1] + got[0][2] in ("lo", "ow", "we", "wi", "id")
    # guard: induction is one sequential driver-side argmax per round —
    # production-size vocabularies are rejected loudly
    from cypher_for_apache_spark_spark.operators.text import BPE_MAX_MERGES

    with pytest.raises(ValueError, match="BPE_MAX_MERGES"):
        bpe_merges(df, num_merges=BPE_MAX_MERGES + 1)


def test_multimodal_codec_flag(spark):
    # auto-detect picks the stub in this env (no PIL); a custom callable
    # codec produces the SAME schema/plan shape (the deploy-time swap is a
    # config change, not a code change)
    assert multimodal.default_codec() == "stub"
    media = multimodal.synthetic_media(spark, n=4)
    stub = multimodal.decode_media(media, codec="stub")
    custom = multimodal.decode_media(
        media, codec=lambda p: {"width": 1, "height": 2, "ok": p is not None}
    )
    assert stub.schema == custom.schema
    rows = custom.collect()
    assert all(r["decoded_width"] == 1 and r["decoded_height"] == 2 for r in rows)
    # default (auto) equals explicit stub here
    assert multimodal.decode_media(media).collect() == stub.collect()


def _bpe_apply_reference(word, rules):
    syms = list(word)
    for l, r in rules:
        res = []
        for s in syms:
            if res and res[-1] == l and s == r:
                res[-1] = l + r
            else:
                res.append(s)
        syms = res
    return syms


def test_bpe_apply_matches_python_greedy(spark):
    from cypher_for_apache_spark_spark.operators.text import bpe_apply

    rules = [("l", "o"), ("lo", "w"), ("e", "r"), ("w", "i"), ("wi", "d")]
    words = ["low", "lower", "lowest", "wide", "wider", "new", "aaaa", "a"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        r["w"]: list(r["toks"])
        for r in df.select("w", bpe_apply(F.col("w"), rules).alias("toks")).collect()
    }
    for w in words:
        assert got[w] == _bpe_apply_reference(w, rules), w


def test_bpe_apply_repeated_pair_greedy(spark):
    # 'aaaa' + rule (a,a): greedy left-to-right -> [aa, aa]; then (aa,aa)
    # -> [aaaa]; 'aaa' -> [aa, a]
    from cypher_for_apache_spark_spark.operators.text import bpe_apply

    rules = [("a", "a"), ("aa", "aa")]
    df = spark.createDataFrame([("aaaa",), ("aaa",), ("aaaaa",)], "w string")
    got = {r["w"]: list(r["t"]) for r in df.select(
        "w", bpe_apply(F.col("w"), rules).alias("t")).collect()}
    assert got["aaaa"] == ["aaaa"]
    assert got["aaa"] == ["aa", "a"]
    assert got["aaaaa"] == ["aaaa", "a"]
    for w, toks in got.items():
        assert toks == _bpe_apply_reference(w, rules), w


def test_bpe_encode_roundtrip_and_trained_rules(spark):
    from cypher_for_apache_spark_spark.operators.text import bpe_encode, bpe_merges

    corpus = [(1, "low lower lowest"), (2, "new newer wide"), (3, "low wide wider")]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    merges = bpe_merges(df, num_merges=5)  # (step, l, r, count) rows
    out = {r["doc_id"]: list(r["tokens"]) for r in bpe_encode(df, merges).collect()}
    rules = [(l, r) for _s, l, r, _c in merges]
    for doc_id, text in corpus:
        want = []
        for w in text.split():
            want.extend(_bpe_apply_reference(w, rules))
        assert out[doc_id] == want, doc_id
        # tokens reassemble to the original text
        assert "".join(out[doc_id]) == text.replace(" ", "")


def test_exact_dedup_keep_best_quality(spark):
    # same normalized content, different quality: keep-best survives the
    # highest quality (ties -> smaller id), unlike the min-id default
    df = spark.createDataFrame(
        [
            (1, "The  Quick brown fox", 5),
            (2, "the quick BROWN fox", 9),   # best copy
            (3, "the quick brown fox", 9),   # tie with 2 -> 2 wins
            (4, "something else", 1),
        ],
        "doc_id long, text string, q long",
    )
    best = {r["doc_id"] for r in
            dedup.exact_dedup(df, quality_col="q").collect()}
    assert best == {2, 4}
    first = {r["doc_id"] for r in dedup.exact_dedup(df).collect()}
    assert first == {1, 4}


def test_minhash_dedup_cc_portable_matches_fast_path(spark):
    # the md5 portable pipeline must keep the same cluster semantics as
    # the xxhash64 fast path on planted transitive chains
    a = "alpha beta gamma delta epsilon zeta eta theta"
    b = "alpha beta gamma delta epsilon zeta eta iota"     # ~ a
    c = "alpha beta gamma delta epsilon zeta kappa iota"   # ~ b, less ~ a
    d = "completely different words entirely here now ok"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, d)], "doc_id long, text string"
    )
    for hm in ("xxhash64", "md5"):
        kept = {r["doc_id"] for r in dedup.minhash_dedup_cc(
            df, num_hashes=32, bands=16, threshold=0.5, hash_mode=hm).collect()}
        assert 4 in kept and 1 in kept
        assert kept.isdisjoint({2, 3}), (hm, kept)


def test_portable_lsh_bucket_cap_matches_duckdb_when_binding(spark):
    """The portable per-bucket cap's survivor set (row_number over
    (md5(id), id) within band+bucket) must be bit-reproducible in DuckDB
    even when the cap actually drops members — a crowd of identical
    vectors forces every bucket over the cap."""
    import duckdb

    rows = [(i, [1.0, 0.5, -0.25, 1.5] * 4) for i in range(40)]
    rows += [(100 + i, [(-1.0) ** i, 0.1 * i, 1.0, -0.5] * 4) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["_ida"], r["_idb"])
        for r in similarity.lsh_candidates_portable(
            df, planes=3, dim=16, bands=2, bucket_cap=5
        ).collect()
    }
    con = duckdb.connect()
    con.register("embeddings_py", df.toPandas())
    want = {
        tuple(r)
        for r in con.execute("""
WITH q AS (SELECT vec_id, list_transform(embedding::DOUBLE[], x -> CAST(round(x*1000) AS BIGINT)) AS v
           FROM embeddings_py),
ex AS (SELECT vec_id, unnest(range(0,16)) AS d, unnest(v) AS qd FROM q),
signs AS (SELECT band, plane, d,
    CASE WHEN CAST('0x'||substr(md5(CAST(band AS VARCHAR)||':'||CAST(plane AS VARCHAR)||':'||CAST(d AS VARCHAR)),1,1) AS INT)%2=0
         THEN 1 ELSE -1 END AS s
  FROM range(0,2) t1(band), range(0,3) t2(plane), range(0,16) t3(d)),
proj AS (SELECT e.vec_id, s.band, s.plane, SUM(s.s*e.qd) AS pr
         FROM ex e JOIN signs s USING(d) GROUP BY 1,2,3),
buck AS (SELECT vec_id, band, CAST(SUM(CASE WHEN pr>=0 THEN 1<<plane ELSE 0 END) AS BIGINT) AS bucket
         FROM proj GROUP BY 1,2),
capped AS (SELECT vec_id, band, bucket FROM buck
           QUALIFY row_number() OVER (PARTITION BY band, bucket
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 5)
SELECT DISTINCT x.vec_id, y.vec_id FROM capped x
JOIN capped y ON x.band=y.band AND x.bucket=y.bucket AND x.vec_id<>y.vec_id
""").fetchall()
    }
    # the cap genuinely binds: 40 identical vectors share every bucket
    assert len({a for a, _ in got} | {b for _, b in got}) < 50
    assert got == want


def test_portable_lsh_bucket_cap_bounds_candidates(spark):
    """With a dense bucket of c identical vectors, uncapped candidates grow
    as c*(c-1); the cap bounds them regardless of skew."""
    rows = [(i, [1.0, 0.25, -0.5, 2.0] * 4) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    uncapped = similarity.lsh_candidates_portable(df, planes=3, dim=16, bands=2).count()
    capped = similarity.lsh_candidates_portable(
        df, planes=3, dim=16, bands=2, bucket_cap=8
    ).count()
    assert uncapped == 200 * 199
    assert capped <= 8 * 7


def test_multimodal_auto_codec_probes_in_executor(spark, monkeypatch):
    """The 'auto' codec must not trust a driver-side PIL probe: even if the
    driver could import PIL, each executor task probes for itself and falls
    back to the stub where PIL is absent (this env) — same results as
    explicit 'stub', no task-runtime failure."""
    media = multimodal.synthetic_media(spark, n=4)
    auto = multimodal.decode_media(media, codec="auto").collect()
    stub = multimodal.decode_media(media, codec="stub").collect()
    assert auto == stub
    # the driver-side probe is informational only and stays consistent
    assert multimodal.default_codec() in ("stub", "pil")


def test_minhash_dedup_collapse_invariance(spark):
    """The identical-signature collapse must not change survivor sets:
    compare against a reference pipeline built from the raw pair list
    (which performs no collapse) on a corpus with a large exact-dup
    cluster plus near-dups."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base) for i in range(8)]  # 8-doc exact cluster
    rows += [(8, base.replace("kappa", "lambda"))]
    rows += [(9, "totally different words compose this one document here")]
    rows += [(10, None), (11, "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.minhash_dedup(df, num_hashes=32, bands=8, threshold=0.5)
    got = sorted(r["doc_id"] for r in out.collect())
    # reference: uncollapsed pair list -> drop larger id of each pair
    pairs = dedup.minhash_duplicate_pairs(
        df, num_hashes=32, bands=8, threshold=0.5
    )
    losers = {r["id_b"] for r in pairs.collect()}
    want = sorted(i for i in range(12) if i not in losers)
    assert got == want
    assert 0 in got and 9 in got and 10 in got and 11 in got


def test_minhash_dedup_cc_collapse_invariance(spark):
    from cypher_for_apache_spark_spark.operators.algorithms import (
        connected_components_edges,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base) for i in range(6)]
    rows += [(6, base.replace("kappa", "lambda")),
             (7, base.replace("alpha", "omega").replace("kappa", "lambda"))]
    rows += [(8, "totally different words compose this one document here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.minhash_dedup_cc(df, num_hashes=32, bands=8, threshold=0.5)
    got = sorted(r["doc_id"] for r in out.collect())
    pairs = dedup.minhash_duplicate_pairs(
        df, num_hashes=32, bands=8, threshold=0.5
    )
    comps = connected_components_edges(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    ref_losers = {
        r["id"] for r in comps.filter("id != component").collect()
    }
    want = sorted(i for i in range(9) if i not in ref_losers)
    assert got == want


def test_c4_filter_line_and_doc_rules(spark):
    rows = [
        # kept: 5 sentences, good lines
        (0, "One good sentence right here.\nAnother fine line follows now!\n"
            "Does this also pass? Yes it does. And one more."),
        # line rules: too few words / no terminal punct / javascript
        (1, "Too short.\nthis line has no terminal punctuation\n"
            "enable javascript to view this page.\n"
            "Only this long line survives the filter. But two sentences are "
            "not five. Or three."),
        # doc rules: lorem ipsum
        (2, "Lorem Ipsum dolor sit amet sentence one. Two more words here. "
            "Third sentence is fine. Fourth one also works. Fifth closes it."),
        # doc rules: curly brace
        (3, "function f() { return 1; } is code. Still code here. More. "
            "And more. And even more sentences."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.c4_filter(df).collect()}
    assert out[0]["c4_kept"] is True
    assert out[0]["c4_n_kept_lines"] == 3
    assert out[1]["c4_kept"] is False  # only 3 sentences survive
    assert out[1]["c4_n_lines"] == 4 and out[1]["c4_n_kept_lines"] == 1
    assert "javascript" not in out[1]["c4_text"]
    assert "no terminal punctuation" not in out[1]["c4_text"]
    assert out[2]["c4_kept"] is False  # lorem ipsum, case-insensitive
    assert out[3]["c4_kept"] is False  # brace
    only = text.c4_filter(df, keep_only=True).collect()
    assert [r["doc_id"] for r in only] == [0]
    assert only[0]["text"] == out[0]["c4_text"]
    # shuffle-free: one map stage, no exchange
    plan = text.c4_filter(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_perceptual_hash_stub_and_pairs(spark):
    rows = [
        (0, bytearray(b"same-bytes")),
        (1, bytearray(b"same-bytes")),     # exact dup of 0
        (2, bytearray(b"other-bytes")),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    hashed = multimodal.perceptual_hash(df, codec="stub")
    got = {r["media_id"]: r["phash"] for r in hashed.collect()}
    assert got[0] == got[1] and got[0] != got[2]
    assert got[3] is None
    assert all(v is None or v >= 0 for v in got.values())  # sign bit masked
    # deterministic across runs
    again = {r["media_id"]: r["phash"]
             for r in multimodal.perceptual_hash(df, codec="stub").collect()}
    assert got == again
    pairs = multimodal.phash_dup_pairs(hashed, max_distance=3).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in pairs] == [(0, 1, 0)]


def test_perceptual_hash_real_codec_near_dup():
    # the PIL aHash path: near-identical images differ in few bits. Runs
    # only where the executor env has Pillow (not this container) — the
    # stub test above keeps the plumbing covered.
    pytest.importorskip("PIL")
    from io import BytesIO

    from PIL import Image

    def png(brightness):
        im = Image.new("L", (32, 32))
        im.putdata([min(255, (x % 16) * 16 + brightness) for x in range(1024)])
        buf = BytesIO()
        im.save(buf, format="PNG")
        return buf.getvalue()

    a = multimodal._phash_pil(png(0))
    b = multimodal._phash_pil(png(4))
    assert bin(a ^ b).count("1") <= 6
