import numpy as np
from pyspark.sql import functions as F

from grappolo_spark.functions.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles,
    simhash_buckets,
)
from grappolo_spark.functions.multimodal import (
    resize_images,
    sample_frames,
    extract_features,
    frame_sample_plan,
    synthesize_media,
)
from grappolo_spark.functions.similarity import cosine_topk, lsh_cosine_topk
from grappolo_spark.functions.text import (
    fingerprint,
    language_id,
    quality_score,
    token_count,
)

DOCS = [
    (0, "the cat sat on the mat and the dog ran", "en"),
    (1, "the cat sat on the mat and the dog ran", "en"),  # exact dup of 0
    (2, "the cat sat on the mat and the dog walked away", "en"),  # near dup
    (3, "der hund ist nicht auf der matte und das haus", "de"),
    (4, "completely different words about spark engines", "en"),
]


def _docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t, _ in DOCS], "doc_id long, text string"
    )


def test_exact_dedup(spark):
    out = exact_dedup(_docs(spark))
    assert out.count() == 4  # 0 and 1 collapse
    dup = out.filter("dup_count = 2").collect()[0]
    assert dup.keep_id == 0


def test_ngram_jaccard_finds_near_dup(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(_docs(spark), threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical
    assert (0, 2) in pairs  # near dup above threshold
    assert all(j <= 1.0 for j in pairs.values())


# minhash_lsh_pairs' tiers: each test below runs both
TIERS = ("local", "shuffle")


def test_minhash_agrees_with_exact_jaccard(spark):
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(_docs(spark), threshold=0.9).collect()
    }
    for tier in TIERS:
        est = {
            (r.id_a, r.id_b)
            for r in minhash_lsh_pairs(
                _docs(spark), num_hashes=32, bands=8, threshold=0.9, tier=tier
            ).collect()
        }
        assert exact == est == {(0, 1)}, tier


def test_simhash_identical_docs_same_hash(spark):
    out = {r.id: r.simhash for r in simhash_buckets(_docs(spark)).collect()}
    assert out[0] == out[1]
    assert out[0] != out[4]


def test_text_functions(spark):
    d = _docs(spark)
    toks = {r.doc_id: r.n_tokens for r in token_count(d).collect()}
    assert toks[0] == 10
    q = {r.doc_id: r.quality for r in quality_score(d).collect()}
    assert all(0 <= v <= 1 for v in q.values())
    langs = {r.doc_id: r.lang_pred for r in language_id(d).collect()}
    assert langs[0] == "en" and langs[3] == "de"
    fp = {r.doc_id: r.fingerprint for r in fingerprint(d).collect()}
    assert fp[0] == fp[1] and fp[0] != fp[2]


def test_cosine_topk_vs_numpy(spark):
    rng = np.random.RandomState(3)
    vecs = rng.rand(20, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    out = cosine_topk(df, k=3)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append(r.neighbor_id)
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    np.fill_diagonal(sims, -2)
    for qid in range(20):
        expect = list(np.argsort(-np.round(sims[qid], 6), kind="stable")[:3])
        assert got[qid] == [int(x) for x in expect], qid


def test_lsh_topk_subset_of_brute_force_scores(spark):
    rng = np.random.RandomState(4)
    vecs = rng.rand(30, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    approx = lsh_cosine_topk(df, k=3, num_planes=4)
    # sanity: every reported neighbor pair has a valid cosine in [-1, 1]
    rows = approx.collect()
    assert rows and all(-1.0 <= r.cosine <= 1.0 for r in rows)


def test_multimodal_plumbing(spark):
    import numpy as np

    media = synthesize_media(spark, n=12)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 12
    assert all(len(r.feature) == 16 for r in rows)
    # image histograms are REAL: recompute one in numpy and compare
    img_row = media.filter("mime = 'image/raw8'").limit(1).collect()[0]
    img = np.frombuffer(bytes(img_row.payload), dtype=np.uint8)
    expect = np.bincount(img >> 4, minlength=16) / img.size
    got = {r.media_id: r.feature for r in rows}[img_row.media_id]
    assert np.allclose(got, expect, atol=1e-6)
    # audio DSP is REAL: RMS of the sine payload ~ amplitude/sqrt(2)
    aud_row = media.filter("mime = 'audio/pcm16'").limit(1).collect()[0]
    rms = {r.media_id: r.feature[0] for r in rows}[aud_row.media_id]
    assert abs(rms - (10000 / 32768.0) / np.sqrt(2)) < 0.01
    # deterministic: same payload -> same feature
    again = {r.media_id: r.feature for r in extract_features(media).collect()}
    assert all(again[r.media_id] == r.feature for r in rows)
    plan = frame_sample_plan(media, every_ms=250)
    assert plan.groupBy("media_id").count().collect()[0]["count"] == 4  # 1000ms/250


def test_multimodal_resize_and_frame_sampling(spark):
    import numpy as np

    media = synthesize_media(spark, n=12)
    # block-mean resize: verify one image against a numpy downsample
    px = {r.media_id: r.pixels for r in resize_images(media, 8, 8).collect()}
    img_row = media.filter("mime = 'image/raw8'").limit(1).collect()[0]
    img = np.frombuffer(bytes(img_row.payload), dtype=np.uint8).reshape(16, 16)
    expect = img.reshape(8, 2, 8, 2).mean(axis=(1, 3)).reshape(-1) / 255.0
    assert np.allclose(px[img_row.media_id], expect, atol=1e-6)
    # frame extraction slices the RIGHT frame: ts=400ms @5fps -> frame 2
    frames = sample_frames(media, every_ms=200)
    vid_row = media.filter("mime = 'video/raw8'").limit(1).collect()[0]
    fsz = 16 * 16
    f2 = np.frombuffer(
        bytes(vid_row.payload)[2 * fsz : 3 * fsz], dtype=np.uint8
    )
    expect2 = np.bincount(f2 >> 4, minlength=16) / f2.size
    got2 = [
        r.feature
        for r in frames.filter(
            (F.col("media_id") == vid_row.media_id) & (F.col("frame_ts_ms") == 400)
        ).collect()
    ][0]
    assert np.allclose(got2, expect2, atol=1e-6)


def test_multimodal_external_codec_boundary(spark):
    import pytest as _pytest

    media = synthesize_media(spark, n=3)
    with _pytest.raises(Exception) as exc:
        extract_features(media, decode_stub=False).collect()
    assert "NotImplementedError" in str(exc.value) or "external codec" in str(exc.value)


def test_ngram_jaccard_hot_shingle_cap(spark):
    # one shingle shared by ALL docs would create a quadratic candidate
    # bucket; with the document-frequency cap the bucket disappears and
    # only true duplicates (similar through RARE shingles) still pair up
    docs = [
        (i, f"common filler phrase every doc unique{i} token{i} word{i} t{i}")
        for i in range(40)
    ]
    docs.append((100, docs[0][1]))  # exact duplicate of doc 0
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = ngram_jaccard_pairs(df, threshold=0.3, max_shingle_df=5)
    rows = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    assert rows.get((0, 100)) == 1.0
    assert set(rows) == {(0, 100)}  # candidate set stayed linear


def _py_shingles(text, n=3):
    import re as _re

    toks = _re.findall("[A-Za-z0-9_]+", text.lower())
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def test_shingles_short_and_repeated_texts(spark):
    """Shingles match the pure-python reference on texts of 0, 1, 2, 3
    and 5 tokens, mixed case and repeated n-grams; a text shorter than n
    tokens has none (it used to fail with a zero slice start), and the
    pair functions run over such documents."""
    texts = [
        "", "x", "alpha beta", "Alpha BETA gamma", "a b a b a",
        "The the THE the the", "  ", "one, two; three four five",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    for n in (1, 2, 3):
        got = {}
        for r in shingles(df, "doc_id", "text", n).collect():
            got.setdefault(r.id, set()).add(r.shingle)
        want = {i: _py_shingles(t, n) for i, t in enumerate(texts)}
        assert got == {i: sh for i, sh in want.items() if sh}, n
    # docs 4 and 5 each have shingles; the short ones pair with nobody
    jac = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(df, threshold=0.0).collect()}
    assert all(a >= 3 and b >= 3 for a, b in jac)
    for tier in TIERS:
        assert minhash_lsh_pairs(df, threshold=1.0, tier=tier).collect() == []


def test_minhash_signatures_value_oracle(spark):
    """Value-level oracle for the xxhash64 MinHash sketch (rows-only in the
    driver check — DuckDB has no xxhash64): an independent pure-python XXH64
    reimplementation must reproduce every signature exactly."""
    from tests.xxh64_oracle import spark_xxhash64

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 20)
    )
    num_hashes, seed = 8, 7
    got = {
        r.id: list(r.sig)
        for r in minhash_signatures(docs, num_hashes=num_hashes, seed=seed).collect()
    }
    rows = docs.select("doc_id", "text").collect()
    for r in rows:
        sh = _py_shingles(r.text)
        expect = [
            min(spark_xxhash64(s, seed + i) for s in sh) for i in range(num_hashes)
        ]
        assert got[r.doc_id] == expect


def test_simhash_value_oracle(spark):
    from tests.xxh64_oracle import spark_xxhash64

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 20)
    )
    bits, band_bits, seed = 48, 12, 11
    got = {r.id: r.simhash for r in simhash_buckets(docs, bits=bits, seed=seed).collect()}
    import re as _re

    for r in docs.select("doc_id", "text").collect():
        toks = set(_re.findall("[A-Za-z0-9_]+", r.text.lower()))
        votes = [0] * bits
        for t in toks:
            h = spark_xxhash64(t, seed) & ((1 << 64) - 1)
            for i in range(bits):
                votes[i] += 1 if (h >> i) & 1 else -1
        expect = sum(1 << i for i in range(bits) if votes[i] > 0)
        assert got[r.doc_id] == expect


def test_minhash_lsh_pairs_value_oracle(spark):
    from tests.xxh64_oracle import spark_xxhash64

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        F.col("doc_id") < 30
    )
    num_hashes, bands, seed, threshold = 16, 4, 7, 0.25
    got = {
        tier: {
            (r.id_a, r.id_b): r.est_jaccard
            for r in minhash_lsh_pairs(
                docs, num_hashes=num_hashes, bands=bands, threshold=threshold,
                seed=seed, tier=tier,
            ).collect()
        }
        for tier in TIERS
    }
    rows = docs.select("doc_id", "text").collect()
    sigs = {}
    for r in rows:
        sh = _py_shingles(r.text)
        sigs[r.doc_id] = [
            min(spark_xxhash64(s, seed + i) for s in sh) for i in range(num_hashes)
        ]
    rpb = num_hashes // bands
    buckets = {}
    for did, sig in sigs.items():
        for b in range(bands):
            key = ",".join(str(sig[b * rpb + k]) for k in range(rpb))
            buckets.setdefault((b, spark_xxhash64(key)), []).append(did)
    cands = set()
    for members in buckets.values():
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                a, b = sorted((members[i], members[j]))
                cands.add((a, b))
    expect = {}
    for a, b in cands:
        est = sum(x == y for x, y in zip(sigs[a], sigs[b])) / num_hashes
        if est >= threshold:
            expect[(a, b)] = est
    assert got == {tier: expect for tier in TIERS}


def _lsh_rows(df, tier, **kw):
    return sorted(tuple(r) for r in minhash_lsh_pairs(df, tier=tier, **kw).collect())


def test_minhash_tiers_agree_on_adversarial_docs(spark):
    """Both tiers return the same (id_a, id_b, est_jaccard) rows, and the
    same column types, on: null texts and ids, texts under n tokens,
    rows that share an id (their shingles merge), string ids, U+0130 and
    the Kelvin sign (which ``lower`` turns into ASCII token characters),
    num_hashes not divisible by bands (and fewer hashes than bands: every
    signature pair is a candidate), an empty table and no candidates."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    texts = [
        base, base + " today", base.upper(), "x y", None, "",
        "\u0130stanbul is \u212aelvin \u212a k K", "istanbul is kelvin k k k",
        "the quick brown fox", "jumps over the lazy dog again",
    ]
    long_rows = [(i, t) for i, t in enumerate(texts)]
    long_rows += [(3, base), (None, base), (1, "completely other words here")]
    for schema, rows in (
        ("doc_id long, text string", long_rows),
        ("doc_id int, text string", long_rows),
        ("doc_id string, text string", [
            (None if i is None else f"d{i:02d}\u00e9", t) for i, t in long_rows
        ]),
    ):
        df = spark.createDataFrame(rows, schema)
        for kw in (
            dict(threshold=0.0), dict(num_hashes=10, bands=4, threshold=0.1),
            dict(num_hashes=3, bands=8, threshold=0.0, n=2),
            dict(num_hashes=7, bands=3, threshold=0.5, n=1, seed=-9),
        ):
            local, spark_rows = _lsh_rows(df, "local", **kw), _lsh_rows(df, "shuffle", **kw)
            assert local == spark_rows and local, (schema, kw)
            assert _lsh_rows(df, None, **kw) == local  # planned: local
            assert all(a is not None and b is not None for a, b, _ in local)
        types = {
            t: minhash_lsh_pairs(df, tier=t).schema.fields for t in TIERS
        }
        assert [f.dataType for f in types["local"]] == [
            f.dataType for f in types["shuffle"]
        ]
    empty = spark.createDataFrame([], "doc_id long, text string")
    none = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "delta epsilon zeta"), (2, None)],
        "doc_id long, text string",
    )
    for df in (empty, none):
        for tier in TIERS + (None,):
            assert _lsh_rows(df, tier) == []


def test_minhash_probe_reads_a_prefix_and_bounds_exactly_below(spark, monkeypatch):
    """The shingle-row probe is exact when the table fits, and stops at
    2 * LOCAL_EDGE_ROWS + 2 rows when it does not, never reading the rest."""
    from grappolo_spark.functions import dedup as D
    from grappolo_spark.plans import tiers as T

    monkeypatch.setattr(T, "LOCAL_EDGE_ROWS", 100)
    big = spark.range(10_000).select(F.col("id").alias("doc_id"), F.lit("a b").alias("text"))
    # 202 rows of 3 bytes: (606 + 202) // 2, not the table's 20000
    assert D._shingle_rows_bound(big, "text") == 404
    small = spark.createDataFrame(
        [(0, "a b"), (1, None), (2, ""), (3, "İx y")], "doc_id long, text string"
    )
    assert D._shingle_rows_bound(small, "text") == (3 + 0 + 0 + 5 + 4) // 2


def test_minhash_local_tier_hands_over_past_the_candidate_bound(spark, monkeypatch):
    """Fewer hashes than bands make every document a candidate of every
    other in every band: past LOCAL_EDGE_ROWS join rows the local tier
    runs the Spark plan instead, with the same rows."""
    from grappolo_spark.functions import dedup as D
    from grappolo_spark.plans import tiers as T

    df = spark.createDataFrame(
        [(i, f"w{i} w{i + 1} w{i + 2} w{i + 3}") for i in range(10)],
        "doc_id long, text string",
    )
    kw = dict(num_hashes=3, bands=8, threshold=0.0)
    expect = _lsh_rows(df, "shuffle", **kw)
    calls = []
    spy = D.minhash_signatures
    monkeypatch.setattr(
        D, "minhash_signatures", lambda *a, **k: calls.append(1) or spy(*a, **k)
    )
    # 8 bands, one bucket of 10 documents each: 8 * 10 ** 2 join rows
    monkeypatch.setattr(T, "LOCAL_EDGE_ROWS", 800)
    assert _lsh_rows(df, "local", **kw) == expect and calls == []
    monkeypatch.setattr(T, "LOCAL_EDGE_ROWS", 799)
    assert _lsh_rows(df, "local", **kw) == expect and calls == [1]
