from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pgosm_flex_spark import fixtures
from pgosm_flex_spark.images import codec, ops as img_ops
from pgosm_flex_spark.similarity import ann
from pgosm_flex_spark.text import analysis, dedup

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),
    (2, "el rapido zorro marron salta sobre el perro"),
    (3, "completely different content with unique words here"),
    (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (5, "x"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(pd.DataFrame(DOCS, columns=["doc_id", "text"])).cache()


def test_token_count_and_quality(docs):
    t = F.col("text")
    out = docs.select(
        "doc_id",
        analysis.token_count(t).alias("n_tokens"),
        analysis.stopword_ratio(t).alias("stop_ratio"),
        analysis.quality_score(t).alias("quality"),
    ).toPandas().set_index("doc_id")
    assert out.loc[0, "n_tokens"] == 9
    assert out.loc[5, "n_tokens"] == 1
    # python oracle for stopword ratio of doc 0: the(2) of 9 tokens
    assert out.loc[0, "stop_ratio"] == pytest.approx(2 / 9)
    assert 0.0 <= out["quality"].min() and out["quality"].max() <= 1.0


def test_langid(docs):
    out = docs.select(
        "doc_id", analysis.predict_lang(F.col("text")).alias("pred_lang")
    ).toPandas().set_index("doc_id")
    assert out.loc[0, "pred_lang"] == "en"
    assert out.loc[2, "pred_lang"] == "es"
    assert out.loc[3, "pred_lang"] == "und"


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["a b c", "c b a"]})
    )
    fps = df.select(analysis.fingerprint(F.col("text")).alias("fp")).toPandas()["fp"]
    assert fps[0] != fps[1]


def test_exact_dedup(docs):
    groups = dedup.exact_dedup(docs).collect()
    assert len(groups) == 1
    assert groups[0]["keep_id"] == 0 and groups[0]["n_dups"] == 2


def test_jaccard_pairs_vs_python(docs):
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(docs, threshold=0.0).collect()
    }
    # python oracle
    sets = {i: set(t.split()) for i, t in DOCS}
    for (a, b), j in got.items():
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        assert j == pytest.approx(inter / union), (a, b)
    # dup pair and near-dup pair present with right values
    assert got[(0, 4)] == pytest.approx(1.0)
    assert got[(0, 1)] == pytest.approx(7 / 9)  # swap dog->cat: 7 shared of 9


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]) for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert (0, 4) in pairs  # exact dup always collides
    assert (0, 1) in pairs  # high-jaccard near dup
    assert all(a < b for a, b in pairs)


def test_simhash_near_dup(docs):
    # hamming 10 needs >10 bands for the pigeonhole guarantee — 16 bands of
    # 4 bits (the old 4×16 config silently under-recalled here; the helper
    # now rejects it loudly)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_pairs(docs, max_hamming=10, prefix_bits=4).collect()
    }
    assert pairs[(0, 4)] == 0  # identical text -> identical simhash
    assert (0, 1) in pairs
    with pytest.raises(ValueError):
        dedup.simhash_pairs(docs, max_hamming=10)  # 4 bands can't cover 10


def test_cosine_topk_vs_numpy(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((40, 16)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(40), "embedding": list(vecs)})
    df = spark.createDataFrame(pdf)
    queries = df.filter(F.col("vec_id") < 5)
    got = ann.cosine_topk(df, queries, k=3).toPandas()
    normed = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = normed @ normed.T
    for q in range(5):
        s = sims[q].copy()
        s[q] = -np.inf
        exp = np.argsort(-s, kind="stable")[:3].tolist()
        g = got[got["query_id"] == q].sort_values("rank")["neighbor_id"].tolist()
        assert g == exp, q


def test_topk_null_query_embedding_names_query(spark):
    """A NULL query embedding has no cosine: both exact and IVF top-k raise
    a ValueError naming the query id instead of crashing inside np.stack."""
    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((12, 4))
    corpus = spark.createDataFrame(
        pd.DataFrame({"vec_id": [f"v{i}" for i in range(12)], "embedding": list(map(list, vecs))})
    )
    queries = spark.createDataFrame(
        [("q_ok", [1.0, 0.0, 0.0, 0.0]), ("q_null", None)],
        "vec_id string, embedding array<double>",
    )
    with pytest.raises(ValueError, match="q_null"):
        ann.cosine_topk(corpus, queries, k=2)
    with pytest.raises(ValueError, match="q_null"):
        ann.ivf_cosine_topk(corpus, queries, k=2, n_centroids=2, nprobe=1, sample_step=1)


def test_lsh_cosine_recall(spark):
    rng = np.random.default_rng(4)
    base = rng.standard_normal((30, 16)).astype(np.float32)
    # plant near-duplicates: vec 100+i ~ vec i
    dups = base[:5] + rng.standard_normal((5, 16)).astype(np.float32) * 0.01
    vecs = np.vstack([base, dups])
    ids = list(range(30)) + list(range(100, 105))
    df = spark.createDataFrame(pd.DataFrame({"vec_id": ids, "embedding": list(vecs)}))
    pairs = ann.cosine_near_dup_pairs(df, threshold=0.99, dim=16).toPandas()
    found = {(int(a), int(b)) for a, b in zip(pairs["doc_a"], pairs["doc_b"])}
    assert {(i, 100 + i) for i in range(5)} <= found


def test_image_decode_stats(spark):
    imgs = fixtures.images_df(spark, 30, with_pixels=True)
    stats = img_ops.decode_stats(imgs).toPandas()
    assert stats["decode_ok"].all()
    assert stats["phash_ok"].all()


def test_audio_codec_roundtrip():
    import numpy as np
    from pgosm_flex_spark.images import codec

    pcm = codec.synth_audio(7, sample_rate=8000, seconds=0.25)
    got, sr = codec.decode_audio_bytes(codec.encode_audio(pcm, 8000))
    assert sr == 8000 and (got == pcm).all()


def test_ivf_recall_vs_brute_force(spark):
    """IVF top-3 recall vs exact cosine on the synthetic embeddings."""
    import numpy as np
    from pgosm_flex_spark.similarity import ann

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    queries = emb.filter(F.col("vec_id") < 50)
    approx = ann.ivf_cosine_topk(emb, queries, k=3, n_centroids=32, nprobe=8)
    exact = ann.cosine_topk(emb, queries, k=3)
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.6, recall  # nprobe=8/32 lists; raise nprobe for more


def test_char_ngram_jaccard_detects_boundary_edits(spark):
    import pandas as pd
    from pgosm_flex_spark.text import dedup

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "the quick brown fox jumps over the lazy dog",
                    # word-boundary edit: words re-joined -> word-Jaccard
                    # collapses, char-5-gram Jaccard stays high
                    "the quickbrown fox jumps over thelazy dog",
                    "completely unrelated content here",
                ],
            }
        )
    )
    pairs = dedup.char_ngram_jaccard_pairs(docs, n=5, threshold=0.4).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (1, 2) in got
    assert all(3 not in p for p in got)
    word = dedup.jaccard_pairs(docs, threshold=0.4).collect()
    assert all((r["doc_a"], r["doc_b"]) != (1, 2) or r["jaccard"] < 0.8 for r in word)


def test_audio_stats_and_framing(spark):
    import numpy as np
    from pgosm_flex_spark import fixtures
    from pgosm_flex_spark.images import codec
    from pgosm_flex_spark.images import ops as img_ops

    rows = fixtures.audio_df(spark, 20)
    stats = img_ops.audio_stats(rows).toPandas().set_index("audio_id")
    assert len(stats) == 20 and stats["decode_ok"].all()
    # numpy oracle for one row
    # i=3: i % 3 == 0 -> sr 8000; seconds = 0.5 + (3 % 4) * 0.25 = 1.25
    pcm = codec.synth_audio(3, sample_rate=8000, seconds=1.25)
    r = stats.loc["aud000000000003"]
    assert r["n_samples"] == len(pcm)
    assert r["rms"] == np.sqrt((pcm.astype(np.float64) ** 2).mean())


def test_video_frame_sampling_feeds_image_ops(spark):
    import numpy as np
    from pgosm_flex_spark import fixtures
    from pgosm_flex_spark.images import codec
    from pgosm_flex_spark.images import ops as img_ops

    vids = fixtures.video_df(spark, 10)
    sampled = img_ops.sample_video_frames(vids, every_n=6)
    pdf = sampled.toPandas()
    # one row per every-6th frame: n_frames 6/12/18 -> 1/2/3 samples
    exp = sum(1 + ((6 + (i % 3) * 6) - 1) // 6 for i in range(10))
    assert len(pdf) == exp
    # sampled frame pixels match the synthetic truth (random access decode)
    row = pdf[(pdf.video_id == "vid000000000001") & (pdf.frame == 6)].iloc[0]
    got = codec.decode(bytes(row["bytes"]))
    truth = np.roll(codec.synth_pixels(1, 32, 32), shift=18, axis=1)
    assert (got == truth).all()


def test_audio_stats_degenerate_rows_fail_per_row(spark):
    """Zero-length PCM and sr=0 payloads are VALID containers but degenerate
    decodes: each must come back decode_ok=False without poisoning the rest
    of the Arrow batch (the vectorized stats once crashed on a zero-size
    reduction here), and healthy rows in the same batch keep exact stats."""
    import numpy as np
    import pandas as pd

    from pgosm_flex_spark.images import codec
    from pgosm_flex_spark.images import ops as img_ops

    good = codec.synth_audio(1, sample_rate=8000, seconds=0.25)
    rows = spark.createDataFrame(
        pd.DataFrame(
            {
                "audio_id": ["empty_pcm", "zero_sr", "not_audio", "good"],
                "bytes": [
                    codec.encode_audio(np.zeros(0, dtype=np.int16), 8000),
                    codec.encode_audio(good, 0),
                    b"garbage-not-a-container",
                    codec.encode_audio(good, 8000),
                ],
            }
        )
    ).repartition(1)  # one Arrow batch: the degenerate rows share it
    got = img_ops.audio_stats(rows).toPandas().set_index("audio_id")
    assert not got.loc["empty_pcm", "decode_ok"]
    assert not got.loc["zero_sr", "decode_ok"]
    assert not got.loc["not_audio", "decode_ok"]
    r = got.loc["good"]
    assert r["decode_ok"] and r["n_samples"] == len(good)
    assert r["rms"] == np.sqrt((good.astype(np.float64) ** 2).mean())


def test_phash_near_dup_vs_bruteforce(spark):
    """Banded phash pairs must equal the all-pairs Hamming answer exactly
    (pigeonhole is lossless for max_hamming < bands)."""
    from pgosm_flex_spark.images.neardup import phash_near_dup_pairs

    rng = np.random.default_rng(7)
    base = rng.integers(-(2**63), 2**63, size=60, dtype=np.int64)
    # plant near-dups: exact copy, 1-bit flip, 2-bit flip, 3-bit flip (out)
    hashes = np.concatenate([
        base,
        base[:5],
        base[5:10] ^ np.int64(1),
        base[10:15] ^ np.int64((1 << 7) | (1 << 40)),
        base[15:20] ^ np.int64((1 << 3) | (1 << 21) | (1 << 55)),
    ])
    ids = [f"i{k:04d}" for k in range(len(hashes))]
    df = spark.createDataFrame(
        pd.DataFrame({"image_id": ids, "phash": hashes})
    )
    # all-pairs config: this test pins the pigeonhole losslessness claim
    # itself, so it opts out of the identical-value collapse (whose
    # cluster-equivalent pair reshaping is pinned by the monster test below)
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_near_dup_pairs(
            df, max_hamming=2, star_threshold=None, collapse_identical=False
        ).collect()
    }
    # the default guards agree here: every identical-value group has size 2
    # with no third hash in range, so rep stars == the brute-force pairs
    got_default = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_near_dup_pairs(df, max_hamming=2).collect()
    }
    assert got_default == got
    h = hashes.astype(np.uint64)
    want = {}
    for x in range(len(h)):
        ham = np.array([bin(int(h[x] ^ v)).count("1") for v in h])
        for y in np.nonzero(ham <= 2)[0]:
            if x < y:
                want[(ids[x], ids[y])] = int(ham[y])
    assert got == want
    assert any(v == 0 for v in want.values())  # exact dups present
    assert any(v == 1 for v in want.values())
    assert any(v == 2 for v in want.values())


def test_phash_near_dup_rejects_bad_bands(spark):
    from pgosm_flex_spark.images.neardup import phash_near_dup_pairs

    df = spark.createDataFrame(pd.DataFrame({"image_id": ["a"], "phash": [1]}))
    with pytest.raises(ValueError):
        phash_near_dup_pairs(df, max_hamming=4, bands=4)
    with pytest.raises(ValueError):
        phash_near_dup_pairs(df, bands=5)


def test_star_threshold_bounds_monster_buckets_same_clusters(spark):
    """The monster-bucket guard (operators/buckets.py star expansion): a
    phash duplicated across many images would make the within-bucket join
    quadratic; with star_threshold the candidate count is linear in the
    bucket AND the duplicate CLUSTERS (the ladder's actual product, via
    connected_components) equal the exact unbounded join's."""
    from pgosm_flex_spark.images.neardup import phash_near_dup_pairs
    from pgosm_flex_spark.operators.components import connected_components

    rng = np.random.default_rng(11)
    monster = np.full(60, 0x1234_5678_9ABC_DEF0, dtype=np.int64)
    variants = monster[:4] ^ np.int64(1 << 9)  # 1-bit re-encodes of the dup
    distinct = rng.integers(-(2**63), 2**63, size=30, dtype=np.int64)
    hashes = np.concatenate([monster, variants, distinct])
    ids = [f"m{k:04d}" for k in range(len(hashes))]
    df = spark.createDataFrame(pd.DataFrame({"image_id": ids, "phash": hashes}))

    exact = phash_near_dup_pairs(
        df, max_hamming=2, star_threshold=None, collapse_identical=False
    )
    starred = phash_near_dup_pairs(
        df, max_hamming=2, star_threshold=8, collapse_identical=False
    )
    collapsed = phash_near_dup_pairs(df, max_hamming=2)  # default guards
    n_exact, n_star, n_col = exact.count(), starred.count(), collapsed.count()
    # 64 bucket-mates -> 2016 exact pairs; star expansion keeps it linear,
    # and the identical-value collapse (the default) does too
    assert n_exact > 1900 and n_star < 200 and n_col < 200

    def clusters(pairs_df):
        comp = connected_components(pairs_df, src="id_a", dst="id_b")
        return {
            tuple(sorted(r["members"]))
            for r in comp.groupBy("component")
            .agg(F.collect_set("node").alias("members"))
            .collect()
        }

    assert clusters(starred) == clusters(exact) == clusters(collapsed)
    # every monster member + variant is in the one big cluster either way
    big = max(clusters(starred), key=len)
    assert len(big) == 64


def test_minhash_star_threshold_same_verified_clusters(docs, spark):
    """Boilerplate text duplicated beyond star_threshold: verified-pair
    clusters equal the exact join's (all copies share identical signatures,
    so every star pair passes the exact-Jaccard verification)."""
    from pgosm_flex_spark.operators.components import connected_components

    boiler = [(100 + k, "lorem ipsum boiler plate text repeated verbatim")
              for k in range(40)]
    base = docs.select("doc_id", "text")
    extra = spark.createDataFrame(boiler, schema="doc_id long, text string")
    corpus = base.unionByName(extra)

    exact = dedup.minhash_lsh_pairs(corpus, threshold=0.5, star_threshold=None)
    starred = dedup.minhash_lsh_pairs(corpus, threshold=0.5, star_threshold=8)
    assert starred.count() < exact.count()

    def clusters(pairs_df):
        comp = connected_components(pairs_df, src="doc_a", dst="doc_b")
        return {
            tuple(sorted(r["members"]))
            for r in comp.groupBy("component")
            .agg(F.collect_set("node").alias("members"))
            .collect()
        }

    assert clusters(starred) == clusters(exact)
    assert any(len(c) >= 40 for c in clusters(starred))


def test_bucket_pairs_payload_binding_and_star_semantics(spark):
    """Direct bucket_pairs contract: the Hamming verifiers downstream are
    XOR-symmetric, so a payload attached to the WRONG side of a pair would
    pass every cluster-equality test — pin payload-to-id binding here.

    One small bucket (full pairing), one oversized bucket (star expansion
    against the min id), payload = a deterministic function of the id.
    """
    from pgosm_flex_spark.operators.buckets import bucket_pairs

    def pay(i: int) -> int:
        return i * 1000 + 7

    rows = [(i, 0, 0, pay(i)) for i in (3, 1, 4)]  # small bucket, key (0,0)
    rows += [(i, 0, 9, pay(i)) for i in range(100, 120)]  # monster, key (0,9)
    banded = spark.createDataFrame(
        rows, schema="id long, band int, bucket int, p long"
    )
    out = bucket_pairs(
        banded, "id", ["band", "bucket"], star_threshold=8, payload_cols=["p"]
    ).collect()

    got = {(r["id_a"], r["id_b"]) for r in out}
    small_expected = {(1, 3), (1, 4), (3, 4)}
    star_expected = {(100, i) for i in range(101, 120)}
    assert got == small_expected | star_expected
    # ordering convention and payload binding, row by row
    for r in out:
        assert r["id_a"] < r["id_b"]
        assert r["p_a"] == pay(r["id_a"])
        assert r["p_b"] == pay(r["id_b"])
    # exact path agrees on the small bucket and blows up the monster one
    exact = bucket_pairs(
        banded, "id", ["band", "bucket"], star_threshold=None, payload_cols=["p"]
    )
    assert exact.count() == 3 + 19 * 20 // 2


def test_whitespace_classes_and_adjacent_repeats(spark):
    """Regression: tokens_col used to split on literal spaces only (a
    newline fused cross-line tokens) and word_occurrences' non-overlapping
    padded replace consumed the shared delimiter ('the the the' counted 2).
    """
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [
                    "foo\nbar\tbaz  qux",
                    "the the the",
                    "la la la la",
                ],
            }
        )
    )
    toks = df.select(
        "doc_id", analysis.tokens_col(F.col("text")).alias("t")
    ).toPandas().set_index("doc_id")["t"]
    assert list(toks[0]) == ["foo", "bar", "baz", "qux"]
    assert list(toks[1]) == ["the", "the", "the"]

    occ = df.select(
        "doc_id",
        analysis.word_occurrences(F.col("text"), "the").alias("n_the"),
        analysis.word_occurrences(F.col("text"), "la").alias("n_la"),
        analysis.predict_lang(F.col("text")).alias("lang"),
    ).toPandas().set_index("doc_id")
    assert occ.loc[1, "n_the"] == 3
    assert occ.loc[2, "n_la"] == 4
    # 'la' is an es marker; 'the' an en marker — both must count repeats
    assert occ.loc[1, "lang"] == "en"
    assert occ.loc[2, "lang"] == "es"
    # and line-wrapped near-duplicates now normalize identically
    wrapped = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["a b c d", "a\nb c\td"]})
    )
    fps = wrapped.select(analysis.fingerprint(F.col("text")).alias("fp")).toPandas()["fp"]
    assert fps[0] == fps[1]


def test_ivf_small_corpus_survives_empty_stride_sample(spark):
    """Regression: a corpus small enough that the 1-in-sample_step id-hash
    stride selects zero rows crashed _train_centroids (np.stack on empty)."""
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(10, 8)).astype(float)
    pdf = pd.DataFrame(
        {"vec_id": [f"v{i}" for i in range(10)], "embedding": list(map(list, vecs))}
    )
    corpus = spark.createDataFrame(pdf)
    # enormous stride -> empty sample deterministically for these ids
    out = ann.ivf_cosine_topk(
        corpus, corpus, k=1, n_centroids=4, nprobe=4, sample_step=1_000_000_007
    ).toPandas()
    # every query reaches a rank-1 neighbor (self-pairs excluded by design)
    assert len(out) == 10
    assert (out["rank"] == 1).all()
    assert (out["query_id"] != out["neighbor_id"]).all()


def test_encode_video_empty_frames_raises():
    with pytest.raises(ValueError, match="at least one frame"):
        codec.encode_video([], fps=6)


def test_cosine_topk_partial_topk_across_partitions(spark):
    """The per-batch partial top-k must compose to the exact global top-k:
    spread the corpus over many partitions (each mapInPandas batch sees a
    slice) and compare against the single-partition result and numpy."""
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((200, 8)).astype(np.float32)
    # planted exact ties: duplicate vectors -> equal cosine, id-ascending rank
    vecs[50] = vecs[10]
    vecs[51] = vecs[10]
    pdf = pd.DataFrame({"vec_id": range(200), "embedding": list(vecs)})
    many = spark.createDataFrame(pdf).repartition(16)
    one = spark.createDataFrame(pdf).coalesce(1)
    queries = spark.createDataFrame(pdf[pdf.vec_id < 8])
    got_many = sorted(map(tuple, ann.cosine_topk(many, queries, k=4).collect()))
    got_one = sorted(map(tuple, ann.cosine_topk(one, queries, k=4).collect()))
    assert got_many == got_one
    normed = vecs.astype(np.float64)
    normed = normed / (np.sqrt((normed * normed).sum(axis=1, keepdims=True) + 1e-12))
    sims = normed @ normed.T
    for q in range(8):
        s = sims[q].copy()
        s[q] = -np.inf
        exp = np.argsort(-s, kind="stable")[:4].tolist()
        g = [n for (qq, n, r) in sorted(got_many, key=lambda t: (t[0], t[2])) if qq == q]
        assert g == exp, q
