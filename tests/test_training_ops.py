"""Training-data operators: dedup family, similarity search, text
stats, multimodal plumbing."""

import pyspark.sql.functions as F
import pytest

from vlm_ocr_pipeline_spark.operators import multimodal, similarity, text_dedup, textstats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),   # near dup
        (3, "completely different content about spark engines"),
        (4, "  the quick   brown fox jumps over the lazy dog "),  # ws variant
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"]).cache()


def test_exact_dedup_groups(spark, docs):
    out = text_dedup.exact_dup_groups(docs).toPandas()
    dup = out[out.dup_count > 1]
    assert len(dup) == 1
    assert dup.iloc[0]["dup_count"] == 3  # 0, 1 and the whitespace variant
    assert dup.iloc[0]["representative"] == 0


def test_ngram_jaccard_identifies_near_dup(spark, docs):
    pairs = text_dedup.ngram_jaccard_pairs(docs, threshold=0.5).toPandas()
    keys = {tuple(r) for r in pairs[["doc_a", "doc_b"]].to_numpy()}
    assert (0, 1) in keys and (0, 4) in keys and (1, 4) in keys
    assert (0, 2) in keys  # near dup shares most shingles
    assert not any(3 in k for k in keys)
    exact = pairs[(pairs.doc_a == 0) & (pairs.doc_b == 1)]["jaccard"].iloc[0]
    assert exact == 1.0


def test_minhash_identical_docs_share_all_bands(spark, docs):
    pairs = text_dedup.minhash_lsh_pairs(docs, num_hashes=8, bands=4).toPandas()
    row = pairs[(pairs.doc_a == 0) & (pairs.doc_b == 1)]
    assert row["n_bands_shared"].iloc[0] == 4


def test_simhash_identical_docs_same_signature(spark, docs):
    sh = text_dedup.simhash16(docs).toPandas().set_index("doc_id")["simhash"]
    assert sh[0] == sh[1] == sh[4]
    assert len(sh[0]) == 16 and set(sh[0]) <= {"0", "1"}


def test_cosine_topk_self_first(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.cosine_topk(emb, [1.0, 0.0, 0.0, 0.0], k=2).toPandas()
    assert out.iloc[0]["vec_id"] == 0 and out.iloc[0]["cosine"] == 1.0


def test_lsh_bucket_contains_query_duplicate(spark):
    base = [0.5, -0.25, 0.125, 0.75]
    rows = [(0, base), (1, base), (2, [-v for v in base])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.lsh_bucketed_topk(emb, base, k=3, bits=4).toPandas()
    assert set(out["vec_id"]) >= {0, 1}   # same bucket as query
    assert 2 not in set(out["vec_id"])    # opposite vector: other bucket


def test_embedding_neardup_pairs(spark):
    base = [0.5, -0.25, 0.125, 0.75]
    rows = [(0, base), (1, [v * 2 for v in base]), (2, [-v for v in base])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.embedding_neardup_pairs(emb, threshold=0.99, bits=4).toPandas()
    assert {(r.vec_a, r.vec_b) for r in out.itertuples()} == {(0, 1)}


def test_token_count_and_quality(spark, docs):
    tc = textstats.token_count(docs).toPandas().set_index("doc_id")
    assert tc.loc[0, "n_tokens"] == 9
    assert tc.loc[4, "n_tokens"] == 9  # whitespace normalized
    q = textstats.quality_scores(docs).toPandas().set_index("doc_id")
    assert q.loc[0, "stopword_ratio"] == pytest.approx(2 / 9)  # 'the' twice


def test_lang_id_markers(spark):
    rows = [
        (0, "the cat and the dog of the house"),
        (1, "der Hund und die Katze und der Vogel"),
        (2, "xyz qqq www"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = textstats.lang_id(d).toPandas().set_index("doc_id")
    assert out.loc[0, "predicted_lang"] == "en"
    assert out.loc[1, "predicted_lang"] == "de"
    assert out.loc[2, "predicted_lang"] == "und"


def test_media_plumbing_stub_and_fake(spark):
    media = multimodal.synth_media(spark, 50, partitions=2).cache()
    stubbed = multimodal.extract_media_features(media).toPandas()
    assert set(stubbed["status"]) == {"stubbed:no_codec"}
    decoded = multimodal.extract_media_features(
        media, multimodal.deterministic_fake_decoder
    ).toPandas()
    assert set(decoded["status"]) == {"decoded"}
    assert decoded["features"].map(len).eq(16).all()
    # determinism across runs
    again = multimodal.extract_media_features(
        media, multimodal.deterministic_fake_decoder
    ).toPandas()
    a = decoded.sort_values("media_id")["features"].map(tuple).tolist()
    b = again.sort_values("media_id")["features"].map(tuple).tolist()
    assert a == b


# real tiny image byte fixtures (headers only — the parser never reads
# pixel data, so truncating after the header is a legal fixture)
PNG_37x73 = (
    b"\x89PNG\r\n\x1a\n"
    + (13).to_bytes(4, "big") + b"IHDR"
    + (37).to_bytes(4, "big") + (73).to_bytes(4, "big")
    + b"\x08\x02\x00\x00\x00" + b"\x00\x00\x00\x00"
)
JPEG_512x256 = (
    b"\xff\xd8"                                  # SOI
    + b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00\x01\x01\x00"
    + b"\x00\x48\x00\x48\x00\x00"                # APP0
    + b"\xff\xdb" + (67).to_bytes(2, "big") + b"\x00" + bytes(64)  # DQT
    + b"\xff\xc0" + (17).to_bytes(2, "big")      # SOF0 (baseline)
    + b"\x08" + (256).to_bytes(2, "big") + (512).to_bytes(2, "big")
    + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
)
JPEG_PROGRESSIVE_40x30 = (
    b"\xff\xd8" + b"\xff\xff"                    # fill byte tolerated
    + b"\xff\xc4" + (5).to_bytes(2, "big") + b"\x00\x01\x02"  # DHT skipped
    + b"\xff\xc2" + (17).to_bytes(2, "big")      # SOF2 (progressive)
    + b"\x08" + (30).to_bytes(2, "big") + (40).to_bytes(2, "big")
    + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
)
GIF_320x200 = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little") + b"\xf7\x00\x00"


def test_parse_image_dimensions_real_headers():
    pid = multimodal.parse_image_dimensions
    assert pid(PNG_37x73) == (37, 73)
    assert pid(JPEG_512x256) == (512, 256)
    assert pid(JPEG_PROGRESSIVE_40x30) == (40, 30)
    assert pid(GIF_320x200) == (320, 200)
    # corrupt / non-image inputs return None, never raise
    assert pid(None) is None
    assert pid(b"") is None
    assert pid(b"\x89PNG\r\n\x1a\n\x00\x00") is None          # truncated IHDR
    assert pid(JPEG_512x256[:20]) is None                      # cut before SOF
    assert pid(b"\xff\xd8\xff\xda\x00\x04ab") is None          # SOS before SOF
    assert pid(b"plain text, not an image") is None
    assert pid(multimodal.deterministic_fake_resizer("image", b"x", 8, 8)) is None


def test_header_decoder_real_dims_through_media_features(spark):
    """extract_media_features + header_decoder: REAL width/height for
    actual image bytes; everything else degrades to status rows."""
    rows = [
        (1, "image", "png", PNG_37x73, len(PNG_37x73)),
        (2, "image", "jpeg", JPEG_512x256, len(JPEG_512x256)),
        (3, "image", "gif", GIF_320x200, len(GIF_320x200)),
        (4, "audio", "mp3", b"ID3\x03payload", 12),
    ]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    out = (
        multimodal.extract_media_features(media, multimodal.header_decoder)
        .toPandas()
        .set_index("media_id")
    )
    assert (out.loc[1, "width"], out.loc[1, "height"]) == (37, 73)
    assert (out.loc[2, "width"], out.loc[2, "height"]) == (512, 256)
    assert (out.loc[3, "width"], out.loc[3, "height"]) == (320, 200)
    assert out.loc[1:3, "status"].eq("decoded").all()
    assert out.loc[4, "status"] == "stubbed:no_codec"
    # sniff_format agrees with the parser on the real fixtures
    assert multimodal.sniff_format(GIF_320x200) == "gif"


def test_media_summary_prunes_payload(spark):
    media = multimodal.synth_media(spark, 50, partitions=2)
    out = multimodal.media_metadata_summary(media).toPandas()
    assert out["n"].sum() == 50


def test_shingles_short_documents_yield_no_rows(spark):
    """Docs with fewer than n words must produce ZERO shingles (DuckDB
    generate_series(1,0) semantics) — not crash on Spark's descending
    sequence(1,0) feeding slice() a 0 index."""
    rows = [(0, "one two"), (1, "solo"), (2, "   "), (3, "one two three four")]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = text_dedup.shingles(d).toPandas()
    assert set(sh["doc_id"]) == {3}
    assert len(sh) == 2  # 'one two three', 'two three four'
    # the downstream ops must survive short docs end-to-end
    assert text_dedup.ngram_jaccard_pairs(d, threshold=0.1).count() == 0
    assert text_dedup.minhash_signatures(d, num_hashes=2).count() == 1
    assert text_dedup.minhash_lsh_pairs(d, num_hashes=4, bands=2).count() == 0


def test_multiprobe_recall_on_planted_neighbors(spark):
    """Measured recall bound for the ANN scale path: 10 planted
    near-duplicates (cosine ~0.99) of the query among 200 random
    vectors.  Hamming-1 multi-probe must reach recall@10 >= 0.9 and
    never do worse than the single-bucket probe."""
    import numpy as np

    rng = np.random.default_rng(11)
    dim = 32
    q = rng.standard_normal(dim)
    q /= np.linalg.norm(q)
    rows = []
    for i in range(10):  # planted neighbors: tiny orthogonalized noise
        n = rng.standard_normal(dim) * 0.05
        v = q + n - q * (q @ n)
        rows.append((i, [float(x) for x in v]))
    for i in range(10, 210):
        rows.append((i, [float(x) for x in rng.standard_normal(dim)]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).cache()
    query = [float(x) for x in q]
    exact = set(
        similarity.cosine_topk(emb, query, k=10).toPandas()["vec_id"]
    )
    multi = set(
        similarity.lsh_bucketed_topk(
            emb, query, k=10, bits=8, hamming_probe=1
        ).toPandas()["vec_id"]
    )
    single = set(
        similarity.lsh_bucketed_topk(
            emb, query, k=10, bits=8, hamming_probe=0
        ).toPandas()["vec_id"]
    )
    recall_multi = len(exact & multi) / len(exact)
    recall_single = len(exact & single) / len(exact)
    assert recall_multi >= 0.9, (recall_multi, recall_single)
    assert recall_multi >= recall_single


def test_ngram_jaccard_df_cap_semantics(spark):
    """When the cap binds: pairs whose only overlap is a ubiquitous
    shingle disappear, near-dup pairs survive, and the score is the
    consistent capped-universe Jaccard (hot shingles excluded from both
    intersection and set sizes)."""
    hot = "zzz yyy xxx"  # one shingle shared by every doc
    rows = [
        (0, f"alpha beta gamma delta {hot}"),
        (1, f"alpha beta gamma delta {hot}"),      # dup of 0
        (2, f"unrelated words entirely here {hot}"),
        (3, f"other totally different content {hot}"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = text_dedup.ngram_jaccard_pairs(d, threshold=0.01).toPandas()
    capped = text_dedup.ngram_jaccard_pairs(
        d, threshold=0.01, max_shingle_df=2
    ).toPandas()
    cap_keys = {(r.doc_a, r.doc_b) for r in capped.itertuples()}
    unc_keys = {(r.doc_a, r.doc_b) for r in uncapped.itertuples()}
    assert (0, 1) in cap_keys                      # real near-dup kept
    assert (2, 3) in unc_keys and (2, 3) not in cap_keys  # hot-only pair pruned
    j_cap = capped.set_index(["doc_a", "doc_b"]).loc[(0, 1), "jaccard"]
    assert j_cap == 1.0  # identical docs stay jaccard 1 in the capped universe


def test_ngram_jaccard_cap_unchanged_on_testdata(spark):
    """With the production cap (64) the sf0.001 result is IDENTICAL to
    uncapped — the cap is a scale guard, not a semantics change on
    realistic corpora."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    unc = (
        text_dedup.ngram_jaccard_pairs(docs, threshold=0.2)
        .orderBy("doc_a", "doc_b").toPandas()
    )
    cap = (
        text_dedup.ngram_jaccard_pairs(docs, threshold=0.2, max_shingle_df=64)
        .orderBy("doc_a", "doc_b").toPandas()
    )
    assert unc.equals(cap)


def test_simhash64_banded_join_is_exact(spark, docs):
    """The 4x16-band join must find EXACTLY the brute-force all-pairs
    hamming <= 3 set (pigeonhole guarantee), and identical docs have
    hamming 0."""
    import itertools

    sig = text_dedup.simhash64(docs).toPandas().set_index("doc_id")["simhash64"]

    def ham(a, b):
        return bin((int(sig[a]) ^ int(sig[b])) & ((1 << 64) - 1)).count("1")

    brute = {
        (a, b, ham(a, b))
        for a, b in itertools.combinations(sorted(sig.index), 2)
        if ham(a, b) <= 3
    }
    banded = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in text_dedup.simhash64_neardup_pairs(docs).toPandas().itertuples()
    }
    assert banded == brute
    assert (0, 1, 0) in banded  # exact duplicates: hamming 0
    with pytest.raises(ValueError):
        text_dedup.simhash64_neardup_pairs(docs, max_hamming=4)


def test_dedup_keep_representatives(spark, docs):
    kept = text_dedup.dedup_keep_representatives(docs).toPandas()
    # 0, 1, 4 collapse to one content; representatives are min ids
    assert sorted(kept["doc_id"]) == [0, 2, 3]


def test_neardup_clusters_connected_components(spark, docs):
    out = (
        text_dedup.neardup_clusters(docs, num_hashes=8, bands=4)
        .toPandas().set_index("doc_id").sort_index()
    )
    # docs 0/1/4 are one near-dup cluster (identical after collapse);
    # doc 2 joins via shared bands or stands alone; doc 3 is a singleton
    assert out.loc[0, "representative"] == 0
    assert out.loc[1, "representative"] == 0
    assert out.loc[4, "representative"] == 0
    assert out.loc[3, "representative"] == 3
    assert out.loc[3, "cluster_size"] == 1
    assert out.loc[0, "cluster_size"] >= 3
    assert len(out) == 5  # every doc present, singletons included


@pytest.fixture(scope="module")
def chain_docs(spark):
    """Sliding-window texts: adjacent docs share 18 of 20 words (LSH
    near-dup edge), docs >= 5 apart share nothing — an adversarial
    near-dup CHAIN, the worst topology for label propagation."""
    words = [f"w{i:03d}" for i in range(40)]
    rows = [(i, " ".join(words[2 * i : 2 * i + 20])) for i in range(8)]
    return spark.createDataFrame(rows, ["doc_id", "text"]).cache()


def test_neardup_chain_converges_logarithmically(spark, chain_docs):
    # precondition: the LSH candidate graph really links each adjacent
    # pair (deterministic md5 minhashes, so this is stable)
    pairs = text_dedup.minhash_lsh_pairs(chain_docs, num_hashes=8, bands=4).toPandas()
    edge_set = {tuple(sorted((r.doc_a, r.doc_b))) for r in pairs.itertuples()}
    missing = [(i, i + 1) for i in range(7) if (i, i + 1) not in edge_set]
    assert not missing, f"chain fixture lost adjacency edges {missing}"
    stats = {}
    out = text_dedup.neardup_clusters(
        chain_docs, num_hashes=8, bands=4, stats=stats
    ).toPandas()
    assert set(out["representative"]) == {0}  # one fully merged cluster
    assert stats["converged"]
    # pointer jumping: rounds ~ log2(chain), not chain length (7 hops)
    assert stats["iterations"] <= 5


def test_neardup_clusters_warns_on_backstop(spark, chain_docs):
    stats = {}
    with pytest.warns(RuntimeWarning, match="max_iterations"):
        text_dedup.neardup_clusters(
            chain_docs, num_hashes=8, bands=4, max_iterations=1, stats=stats
        )
    assert stats["converged"] is False


def test_minhash_xxhash64_family_matches_md5(spark, docs):
    """The integer (cluster-speed) hash family must behave as a valid
    minhash permutation family: duplicate-insensitive signatures and a
    candidate set consistent with the md5 (oracle-portable) family."""
    sig = (
        text_dedup.minhash_signatures(docs, num_hashes=8, hash_family="xxhash64")
        .toPandas().set_index("doc_id")
    )
    # whitespace variants normalize to the same shingles -> same sig
    assert sig.loc[0].equals(sig.loc[1]) and sig.loc[0].equals(sig.loc[4])
    xxp = text_dedup.minhash_lsh_pairs(
        docs, num_hashes=8, bands=4, hash_family="xxhash64"
    ).toPandas()
    row = xxp[(xxp.doc_a == 0) & (xxp.doc_b == 1)]
    assert row["n_bands_shared"].iloc[0] == 4  # identical docs: all bands


def test_minhash_xxhash64_family_on_testdata(spark):
    """sf0.001 corpus: the two hash families are independent minhash
    permutations, so their LSH candidate sets must substantially agree
    (borderline-Jaccard pairs may differ either way)."""
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # plant exact duplicates by construction: every 7th doc recurs
    # under id + 100000 (same text) — the guaranteed-recall probes
    clones = base.filter((F.col("doc_id") % 7 == 0) & (F.size(F.split("text", " ")) >= 3)).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    docs = base.select("doc_id", "text").unionByName(clones)
    md5p = text_dedup.minhash_lsh_pairs(
        docs, num_hashes=8, bands=4, hash_family="md5"
    ).toPandas()
    xxp = text_dedup.minhash_lsh_pairs(
        docs, num_hashes=8, bands=4, hash_family="xxhash64"
    ).toPandas()
    a = {(r.doc_a, r.doc_b) for r in md5p.itertuples()}
    b = {(r.doc_a, r.doc_b) for r in xxp.itertuples()}
    assert a and b
    assert len(a & b) / max(len(a), len(b)) >= 0.8
    # GUARANTEED part: normalized-identical docs have identical shingle
    # sets, hence identical signatures in ANY family -> every exact-dup
    # pair must be found by both with all 4 bands shared
    exact_pairs = {
        (cid - 100000, cid) for cid in clones.toPandas()["doc_id"]
    }
    assert exact_pairs, "fixture corpus should contain exact duplicates"
    full_a = {
        (r.doc_a, r.doc_b) for r in md5p.itertuples() if r.n_bands_shared == 4
    }
    full_b = {
        (r.doc_a, r.doc_b) for r in xxp.itertuples() if r.n_bands_shared == 4
    }
    assert exact_pairs <= full_a and exact_pairs <= full_b


def test_figure_crop_alt_binds_earlier_unused_tag(spark):
    """A block whose alt equals an UNUSED EARLIER tag must bind to it
    (first-remaining-match semantics), and exhausted tags yield
    null-crop rows instead of silently dropping blocks."""
    import datetime as dt

    from vlm_ocr_pipeline_spark.operators.figures import figure_crop_batch
    import pandas as pd

    html = (
        "<html><body><main><article><h1>T</h1><p>Body text here</p>"
        '<figure><img src="a.png" alt="beta"><figcaption>c1</figcaption></figure>'
        '<figure><img src="b.png" alt="alpha"><figcaption>c2</figcaption></figure>'
        "</article></main></body></html>"
    ).encode()
    pdf = pd.DataFrame(
        {"url": ["u"], "warc_ts": [dt.datetime(2026, 1, 1)], "html": [html]}
    )
    out = figure_crop_batch(pdf)
    by_desc = out.set_index("description")
    # detector emits blocks in DOM order (beta then alpha); alt pairing
    # must map each block to ITS tag even though alpha's tag is earlier
    # than the cursor after beta binds
    assert b'alt="beta"' in bytes(by_desc.loc["beta", "crop"])
    assert b'alt="alpha"' in bytes(by_desc.loc["alpha", "crop"])


def test_figure_crop_suppressed_tracker_does_not_steal(spark):
    """An <img> in a suppressed region (comments div) must not steal a
    main-content block's byte span: the captioned figure alt-binds its
    own tag even though the tracker's byte span comes first, and an
    alt-less main img falls back POSITIONALLY (never to the earlier
    suppressed tracker via None==None alt matching)."""
    import datetime as dt

    import pandas as pd

    from vlm_ocr_pipeline_spark.operators.figures import figure_crop_batch

    html = (
        "<html><body>"
        '<nav><a href="/home">home</a><img src="trk.gif"></nav>'
        "<main><article><h1>T</h1><p>Body text of the page here</p>"
        '<figure><img src="a.png" alt="fig one"><figcaption>c1</figcaption></figure>'
        '<img src="b.png">'
        "</article></main></body></html>"
    ).encode()
    pdf = pd.DataFrame(
        {"url": ["u"], "warc_ts": [dt.datetime(2026, 1, 1)], "html": [html]}
    )
    out = figure_crop_batch(pdf)
    crops = [bytes(c) for c in out["crop"]]
    assert any(b'alt="fig one"' in c for c in crops)
    # the alt-less main img must take b.png (positionally after a.png),
    # not the suppressed tracker
    assert any(b'src="b.png"' in c for c in crops)
    assert not any(b"trk.gif" in c for c in crops)


def test_repetition_quality_flags_looped_content(spark):
    rows = [
        (0, "buy now " * 30),                       # one bigram dominates
        (1, "the quick brown fox jumps over a lazy dog near the river bank"),
        (2, "word " * 40),                          # single repeated word
        (3, "solo"),                                # < 2 words: no bigrams
    ]
    d = spark.createDataFrame([(i, t.strip()) for i, t in rows], ["doc_id", "text"])
    out = textstats.repetition_quality(d).toPandas().set_index("doc_id")
    assert not out.loc[0, "quality_pass"]           # top bigram 'now buy' ~0.5
    assert out.loc[0, "top_bigram_ratio"] > 0.2
    assert out.loc[1, "quality_pass"]
    assert out.loc[1, "distinct_word_ratio"] > 0.8
    assert not out.loc[2, "quality_pass"]           # distinct ratio 1/40
    assert out.loc[3, "n_words"] == 1
    assert out.loc[3].isna()["top_bigram_ratio"]    # no bigrams -> null
    assert out.loc[3, "quality_pass"]               # distinct ratio 1.0


def test_dedup_keep_representatives_strategies_agree(spark, docs):
    a = text_dedup.dedup_keep_representatives(docs).toPandas()
    b = text_dedup.dedup_keep_representatives(
        docs, strategy="broadcast_ids"
    ).toPandas()
    key = lambda df: sorted(map(tuple, df[["doc_id", "text"]].to_numpy()))  # noqa: E731
    assert key(a) == key(b)
    assert sorted(b["doc_id"]) == [0, 2, 3]
    with pytest.raises(ValueError):
        text_dedup.dedup_keep_representatives(docs, strategy="nope")


def test_compression_quality_separates_looped_text(spark):
    rows = [
        (0, "spam ham " * 200),
        (1, "The committee reviewed seventeen distinct proposals during the "
            "autumn session, rejecting most on procedural grounds while "
            "advancing three novel funding mechanisms for coastal research."),
        (2, ""),
    ]
    out = (
        textstats.compression_quality(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).toPandas().set_index("doc_id")
    )
    assert out.loc[0, "compression_ratio"] < 0.1      # looped: tiny
    assert out.loc[1, "compression_ratio"] > 0.5      # prose: large
    assert out.loc[2, "n_bytes"] == 0
    assert out.loc[2].isna()["compression_ratio"]     # guarded division
    import zlib

    assert out.loc[1, "n_compressed"] == len(
        zlib.compress(rows[1][1].encode(), 6)
    )


def test_figure_crop_duplicate_alts_bind_in_order(spark):
    """When alt text repeats (nav logo + real logo), each block must
    bind its IN-ORDER tag: the cursor-anchored alt tier wins before
    the anywhere fallback, so a suppressed earlier duplicate cannot
    steal a later content figure's byte span."""
    import datetime as dt

    import pandas as pd

    from vlm_ocr_pipeline_spark.operators.figures import figure_crop_batch

    html = (
        "<html><body>"
        '<nav><a href="/h">h</a><img src="trk.gif" alt="logo"></nav>'
        "<main><article><h1>T</h1><p>Body text of the page here</p>"
        '<figure><img src="a.png" alt="A"><figcaption>c</figcaption></figure>'
        '<img src="real-logo.png" alt="logo">'
        "</article></main></body></html>"
    ).encode()
    pdf = pd.DataFrame(
        {"url": ["u"], "warc_ts": [dt.datetime(2026, 1, 1)], "html": [html]}
    )
    out = figure_crop_batch(pdf).set_index("description")
    assert b'src="real-logo.png"' in bytes(out.loc["logo", "crop"])
    assert b'src="a.png"' in bytes(out.loc["A", "crop"])


def test_duplicate_ngram_spans_and_scrub(spark):
    """A licence block shared by two docs is found as one maximal span
    per doc (overlapping n-gram hits merged); unique text is untouched;
    scrubbing removes exactly the span words."""
    licence = "released under the example licence terms apply to all copies"
    rows = [
        (0, f"alpha beta gamma {licence} delta epsilon zeta eta theta"),
        (1, f"iota kappa lambda mu {licence} nu xi omicron pi rho"),
        (2, "entirely unique content with no shared passages at all here"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = text_dedup.duplicate_ngram_spans(d, n=4, min_df=2)
    pdf = spans.toPandas().sort_values("doc_id").reset_index(drop=True)
    # one merged span per sharing doc, none for the unique doc
    assert list(pdf["doc_id"]) == [0, 1]
    lic_words = len(licence.split())
    assert pdf.loc[0, "start_word"] == 3
    assert pdf.loc[0, "end_word"] == 3 + lic_words
    assert pdf.loc[1, "start_word"] == 4
    assert pdf.loc[1, "end_word"] == 4 + lic_words
    scrubbed = (
        text_dedup.scrub_duplicate_spans(d, spans)
        .toPandas().set_index("doc_id")
    )
    assert scrubbed.loc[0, "text"] == (
        "alpha beta gamma delta epsilon zeta eta theta"
    )
    assert scrubbed.loc[0, "n_scrubbed_words"] == lic_words
    assert scrubbed.loc[2, "text"] == rows[2][1]
    assert scrubbed.loc[2, "n_scrubbed_words"] == 0


def test_duplicate_ngram_spans_merges_disjoint_islands(spark):
    """Two separate shared passages in one doc produce two spans, not
    one over-merged range."""
    a = "common passage one is right here okay"
    b = "another shared block of words sits here"
    rows = [
        (0, f"{a} unique middle filler words between them {b}"),
        (1, f"{a} totally different tail text"),
        (2, f"prefix text goes first {b}"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = (
        text_dedup.duplicate_ngram_spans(d, n=4, min_df=2)
        .toPandas().sort_values(["doc_id", "start_word"]).reset_index(drop=True)
    )
    d0 = spans[spans.doc_id == 0]
    assert len(d0) == 2
    na, nb = len(a.split()), len(b.split())
    assert (d0.iloc[0]["start_word"], d0.iloc[0]["end_word"]) == (0, na)
    total0 = len(rows[0][1].split())
    assert (d0.iloc[1]["start_word"], d0.iloc[1]["end_word"]) == (
        total0 - nb, total0
    )


def test_char_lm_perplexity_separates_prose_from_noise(spark):
    """CCNet-style filter sanity: docs drawn from the corpus's own
    distribution score fewer bits/byte than random-byte noise, and the
    UDF score matches a driver-side numpy rescore exactly."""
    import random

    import numpy as np

    from vlm_ocr_pipeline_spark.operators.textstats import (
        lm_perplexity,
        train_char_lm,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    lm = train_char_lm(docs, sample_size=256)
    again = train_char_lm(docs, sample_size=256)
    assert np.array_equal(lm, again)  # deterministic
    assert np.allclose(np.exp(lm).sum(axis=1), 1.0)  # rows are P(.|b)

    rng = random.Random(7)
    noise = "".join(chr(rng.randrange(0x21, 0x7F)) for _ in range(500))
    scored = {
        r["doc_id"]: r
        for r in lm_perplexity(
            docs.select("doc_id", "text").limit(20).union(
                spark.createDataFrame(
                    [(999_999, noise)], "doc_id long, text string"
                ).select("doc_id", "text")
            ),
            lm,
        ).collect()
    }
    corpus_bpb = [
        v["bits_per_byte"] for k, v in scored.items() if k != 999_999
    ]
    assert max(corpus_bpb) < scored[999_999]["bits_per_byte"]

    # UDF == driver numpy on one row
    row = docs.orderBy("doc_id").first()
    b = np.frombuffer(row["text"].encode("utf-8"), dtype=np.uint8)
    expect = float(-(lm / np.log(2.0))[b[:-1], b[1:]].mean())
    got = lm_perplexity(
        docs.filter(F.col("doc_id") == row["doc_id"]), lm
    ).first()["bits_per_byte"]
    assert abs(got - expect) < 1e-12


def test_quality_classifier_separates_and_is_deterministic(spark):
    """fastText-style hashed linear classifier: prose-like positives vs
    keyword-spam negatives separate cleanly; training is deterministic;
    the distributed scorer equals a local numpy rescore."""
    import numpy as np

    prose = [
        "the committee published its annual report on regional water quality",
        "researchers described a new method for measuring glacier thickness",
        "the library extended its opening hours after community feedback",
        "a local orchestra performed works by twentieth century composers",
    ]
    spam = [
        "buy cheap buy cheap buy cheap best price best price click now",
        "casino bonus casino bonus free spins free spins win win win",
        "pills discount pills discount order now order now limited offer",
        "followers likes followers likes boost now boost now best site",
    ]
    pos = spark.createDataFrame(
        [(i, t) for i, t in enumerate(prose * 8)], ["doc_id", "text"]
    )
    neg = spark.createDataFrame(
        [(i, t) for i, t in enumerate(spam * 8)], ["doc_id", "text"]
    )
    model = textstats.train_quality_classifier(pos, neg, dim=1 << 14, epochs=4)
    w2, b2 = textstats.train_quality_classifier(pos, neg, dim=1 << 14, epochs=4)
    assert np.array_equal(model[0], w2) and model[1] == b2  # deterministic

    unseen = spark.createDataFrame(
        [
            (0, "the museum announced a new exhibition of medieval manuscripts"),
            (1, "cheap pills casino bonus click now best price free spins"),
            (2, ""),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["p_good"]
        for r in textstats.quality_classifier_score(unseen, model).collect()
    }
    assert got[0] > 0.5 > got[1]   # held-out separation
    assert got[2] is None          # empty doc -> null, not a crash

    # UDF == local numpy rescore (one definition of the feature hash)
    w, b = model
    feats = textstats._hashed_feature_indices(
        "the museum announced a new exhibition of medieval manuscripts", len(w)
    )
    local = float(1.0 / (1.0 + np.exp(-(w[feats].mean() + b))))
    assert abs(got[0] - local) < 1e-12


def test_decontaminate_flags_only_overlapping_train_docs(spark):
    from vlm_ocr_pipeline_spark.operators.text_dedup import decontaminate

    words = lambda a, z: " ".join(f"w{i}" for i in range(a, z))
    train = spark.createDataFrame(
        [
            (1, words(0, 30)),          # contains test doc's 0..20 grams
            (2, words(100, 130)),       # disjoint vocabulary
            (3, words(15, 40)),         # shares only 6 words (15..20) — shorter than a 13-gram
            (4, words(0, 14)),          # 14 words: two 13-gram windows, both inside test
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame([(900, words(0, 21))], "doc_id long, text string")
    got = {r["doc_id"]: r["n_hits"] for r in decontaminate(train, test, n=13).collect()}
    assert set(got) == {1, 4}
    # doc 1 shares every 13-gram window inside w0..w20 -> 21-13+1 = 9
    assert got[1] == 9
    assert got[4] == 2
    # plan: the test-gram side must broadcast; the train side never exchanges
    plan = decontaminate(train, test, n=13)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def _sentence(i, salt=""):
    base = f"snapshot document number {i} about topic {i % 7} with "
    return base + " ".join(f"word{j}{salt}" for j in range(i % 5 + 8))


def test_incremental_neardup_across_snapshots(spark):
    """Cross-snapshot dedup: batch 2 filters against batch 1's bucket
    store (no historical text re-read), dedups within itself, and its
    delta extends the store so batch 3 catches batch-2 content too."""
    b1 = spark.createDataFrame(
        [(i, _sentence(i)) for i in range(10)], ["doc_id", "text"]
    )
    store = text_dedup.lsh_bucket_store(b1, num_hashes=8, bands=4)

    b2 = spark.createDataFrame(
        # 100+101: near-dups of batch-1 docs 3 and 7 (one word changed)
        [(100, _sentence(3).replace("word1", "werd1"))]
        + [(101, _sentence(7))]
        # 102+103: internal near-dup pair, fresh content
        + [(102, _sentence(55, salt="x")), (103, _sentence(55, salt="x") + " tail")]
        # 104: fresh singleton
        + [(104, _sentence(77, salt="z"))],
        ["doc_id", "text"],
    )
    kept, delta = text_dedup.incremental_neardup(b2, store, num_hashes=8, bands=4)
    kept_ids = sorted(r["doc_id"] for r in kept.collect())
    # 101 exact-matches history -> dropped; 100 near-matches (shares
    # bands) -> dropped; 102/103 collapse to the min id; 104 survives
    assert kept_ids == [102, 104]
    # the delta covers exactly the kept docs' buckets
    expect_delta = {
        r["bk"]
        for r in text_dedup.lsh_bucket_store(
            kept, num_hashes=8, bands=4
        ).collect()
    }
    assert {r["bk"] for r in delta.collect()} == expect_delta

    # batch 3 against the EXTENDED store: a near-dup of kept doc 102
    # is now caught, a fresh doc passes
    store2 = store.unionByName(delta)
    b3 = spark.createDataFrame(
        [(200, _sentence(55, salt="x")), (201, _sentence(99, salt="q"))],
        ["doc_id", "text"],
    )
    kept3, _ = text_dedup.incremental_neardup(b3, store2, num_hashes=8, bands=4)
    assert [r["doc_id"] for r in kept3.collect()] == [201]


def test_incremental_exact_dedup_across_snapshots(spark):
    """Exact-only variant of the incremental store: whitespace variants
    of history are dropped (same normalize+md5 key as
    exact_dup_groups), near-but-not-equal content passes."""
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")], ["doc_id", "text"]
    )
    store = text_dedup.content_hash_store(b1)
    b2 = spark.createDataFrame(
        [
            (10, "  alpha   beta gamma "),   # ws-variant of history -> drop
            (11, "alpha beta gamma DELTA"),  # near-dup but NOT exact -> keep
            (12, "fresh one"), (13, "fresh one"),  # internal exact pair
        ],
        ["doc_id", "text"],
    )
    kept, delta = text_dedup.incremental_exact_dedup(b2, store)
    assert sorted(r["doc_id"] for r in kept.collect()) == [11, 12]
    merged = store.unionByName(delta)
    b3 = spark.createDataFrame(
        [(20, "fresh  one"), (21, "never seen")], ["doc_id", "text"]
    )
    kept3, _ = text_dedup.incremental_exact_dedup(b3, merged)
    assert [r["doc_id"] for r in kept3.collect()] == [21]
    # reserved-column guard
    import pytest as _pt

    with _pt.raises(ValueError, match="_h"):
        text_dedup.incremental_exact_dedup(
            b2.withColumn("_h", F.lit("x")), store
        )


def test_incremental_neardup_store_side_streams_into_broadcast_join(spark, tmp_path):
    """Plan gate for the 100 TB shape: the store's parquet scan must
    stream DIRECTLY into a BroadcastHashJoin whose build side is the
    (small) batch — no Exchange and no BroadcastExchange between the
    store scan and its join — and the scan must read only the pruned
    bk column with the null filter pushed down."""
    b1 = spark.createDataFrame(
        [(i, _sentence(i)) for i in range(6)], ["doc_id", "text"]
    )
    store_path = str(tmp_path / "store")
    text_dedup.lsh_bucket_store(b1, num_hashes=8, bands=4).write.parquet(store_path)
    store = spark.read.parquet(store_path)
    b2 = spark.createDataFrame([(100, _sentence(3))], ["doc_id", "text"])
    kept, _ = text_dedup.incremental_neardup(
        b2, store, num_hashes=8, bands=4, within_batch=False
    )
    plan = kept._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    # the batch side is in-memory, so the only parquet scan is the store's
    # (matched by node name: Spark truncates the Location path in the plan)
    scans = [i for i, l in enumerate(lines) if "FileScan parquet" in l]
    assert len(scans) == 1, plan
    idx = scans[0]
    join_idx = max(i for i in range(idx) if "Join" in lines[i])
    join_line = lines[join_idx]
    assert "BroadcastHashJoin" in join_line and "BuildRight" in join_line, join_line
    # nothing between the join and the store scan except the null
    # filter — in particular no Exchange/BroadcastExchange of the store
    between = "\n".join(lines[join_idx + 1 : idx])
    assert "Exchange" not in between, plan
    # pruning + pushdown reach the store scan
    scan_line = lines[idx]
    assert "ReadSchema: struct<bk:bigint>" in scan_line
    assert "PushedFilters: [IsNotNull(bk)]" in scan_line


def test_resize_media_plumbing(spark):
    media = multimodal.synth_media(spark, 30, partitions=2).cache()
    stubbed = multimodal.resize_media(media, 64, 64).toPandas()
    assert set(stubbed["status"]) == {"stubbed:no_codec"}
    out = multimodal.resize_media(
        media, 64, 64, multimodal.deterministic_fake_resizer
    ).toPandas()
    assert set(out["status"]) == {"resized"}
    assert (out["n_bytes"] == 64 * 64 // 64).all()
    assert (out["width"] == 64).all() and (out["height"] == 64).all()
    # deterministic and dimension-sensitive
    again = multimodal.resize_media(
        media, 64, 64, multimodal.deterministic_fake_resizer
    ).toPandas()
    key = lambda df: df.sort_values("media_id")["payload"].map(bytes).tolist()
    assert key(out) == key(again)
    other = multimodal.resize_media(
        media, 128, 64, multimodal.deterministic_fake_resizer
    ).toPandas()
    assert key(out) != key(other)


def test_sample_frames_every_k(spark):
    media = multimodal.synth_media(spark, 40, partitions=2).cache()
    out = multimodal.sample_frames(
        media, every_k=4, frame_fn=multimodal.deterministic_fake_frame_extractor
    ).toPandas()
    assert set(out["status"]) == {"sampled"}
    assert (out["frame_idx"] % 4 == 0).all()
    # per media: sampled count == ceil(n_frames / 4) from the fake rule
    feats = multimodal.extract_media_features(
        media, multimodal.deterministic_fake_decoder
    ).toPandas().set_index("media_id")
    counts = out.groupby("media_id").size()
    for mid, n in counts.items():
        assert n == -(-feats.loc[mid, "n_frames"] // 4)
    # frames are distinct bytes within a media
    one = out[out.media_id == out.media_id.iloc[0]]["payload"].map(bytes)
    assert len(set(one)) == len(one)
    with pytest.raises(ValueError):
        multimodal.sample_frames(media, every_k=0)


def test_compact_dedup_store_equals_full_rebuild(spark, tmp_path):
    """Lifecycle: three appended deltas -> compact == one-shot store
    built from all batches; duplicate bucket rows and small files gone,
    membership identical, sidecar preserved.  Signature stores compact
    the same way (sig column kept)."""
    import json
    import os

    batches = [
        spark.createDataFrame(
            [(100 * b + i, _sentence(i + 10 * b)) for i in range(6)],
            ["doc_id", "text"],
        )
        for b in range(3)
    ]
    path = str(tmp_path / "store")
    for b in batches:
        # deliberate overlap: every batch re-appends batch 0's buckets
        text_dedup.lsh_bucket_store(
            batches[0].unionByName(b), num_hashes=8, bands=4
        ).write.mode("append").parquet(path)
    text_dedup.ensure_dedup_meta(path, {"num_hashes": 8, "bands": 4})
    before = text_dedup.dedup_store_stats(spark, path)
    assert before["redundant_rows"] > 0 and before["files"] > 1
    res = text_dedup.compact_dedup_store(spark, path)
    assert res["rows_before"] == before["rows"]
    assert res["rows_after"] == before["distinct_rows"]
    assert res["files_after"] < res["files_before"]
    # membership == full rebuild over all docs
    alldocs = batches[0]
    for b in batches[1:]:
        alldocs = alldocs.unionByName(b)
    want = {
        r["bk"]
        for r in text_dedup.lsh_bucket_store(
            alldocs, num_hashes=8, bands=4
        ).collect()
    }
    got = {r["bk"] for r in spark.read.parquet(path).collect()}
    assert got == want
    # sidecar survived the directory swap
    meta = json.load(open(os.path.join(path, "_dedup_meta.json")))
    assert meta == {"num_hashes": 8, "bands": 4}
    # incremental filtering against the compacted store still works
    dup = batches[1].limit(1)
    kept, _ = text_dedup.incremental_neardup(
        dup, spark.read.parquet(path), num_hashes=8, bands=4,
        within_batch=False,
    )
    assert kept.count() == 0

    # signature-store variant keeps the sig column through compaction
    spath = str(tmp_path / "sigstore")
    for b in batches[:2]:
        text_dedup.lsh_signature_store(
            batches[0].unionByName(b), num_hashes=8, bands=4
        ).write.mode("append").parquet(spath)
    res2 = text_dedup.compact_dedup_store(spark, spath)
    assert res2["rows_after"] < res2["rows_before"]
    out = spark.read.parquet(spath)
    assert set(out.columns) == {"bk", "sig"}


def test_quality_classifier_calibration_surface(spark):
    """Held-out AUC + threshold sweep (round-4 verdict item 7): the
    holdout is the hash-order window AFTER the training sample, so on
    planted good/bad corpora AUC is ~1, the sweep is well-formed, and
    the suggested threshold separates the classes.  Deterministic."""
    prose = [
        f"the committee published its report on topic {i} with careful detail"
        for i in range(80)
    ]
    spam = [
        f"buy cheap buy cheap best price {i} click now win win free spins"
        for i in range(80)
    ]
    pos = spark.createDataFrame(list(enumerate(prose)), ["doc_id", "text"])
    neg = spark.createDataFrame(list(enumerate(spam)), ["doc_id", "text"])
    # small train window so a real holdout remains
    model = textstats.train_quality_classifier(
        pos, neg, dim=1 << 14, sample_size=40, epochs=4
    )
    cal = textstats.calibrate_quality_classifier(
        pos, neg, model, train_sample_size=40, holdout_size=30
    )
    cal2 = textstats.calibrate_quality_classifier(
        pos, neg, model, train_sample_size=40, holdout_size=30
    )
    assert cal == cal2  # deterministic
    assert cal["n_pos_holdout"] == cal["n_neg_holdout"] == 30
    assert cal["auc"] is not None and cal["auc"] >= 0.9
    assert len(cal["sweep"]) == 19
    t = cal["suggested_threshold"]
    assert 0.05 <= t <= 0.95
    row = next(r for r in cal["sweep"] if r["threshold"] == t)
    assert row["f1"] >= 0.9
    import json

    json.dumps(cal)  # report-ready

    # degenerate corpus (smaller than the training window): explicit
    # None, not a sweep over nothing
    tiny = spark.createDataFrame([(0, "just one doc")], ["doc_id", "text"])
    cal3 = textstats.calibrate_quality_classifier(
        tiny, neg, model, train_sample_size=40, holdout_size=30
    )
    assert cal3["auc"] is None and cal3["suggested_threshold"] is None
