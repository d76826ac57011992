"""LLM-pipeline operator tests: dedup, similarity, text, multimodal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from metrocloud_data_pipeline_spark.llm import curation, dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    rows = [
        (0, base, "en", "s0", len(base)),
        (1, base, "en", "s1", len(base)),            # exact duplicate of 0
        (2, "  " + base.upper() + "  ", "en", "s2", len(base)),  # normalized duplicate
        (3, near, "en", "s3", len(near)),            # near-duplicate
        (4, "completely different words about spark shuffles and parquet pruning", "en", "s4", 66),
        (5, "el rapido zorro marron salta sobre el perro perezoso en la ribera", "es", "s5", 65),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long").cache()


def test_exact_dedup_groups(docs):
    out = dedup.exact_dedup(docs).collect()
    groups = {r["keep_doc_id"]: r["dup_count"] for r in out}
    # docs 0,1,2 collapse to one group (case/whitespace-normalized)
    assert groups[0] == 3
    assert sum(groups.values()) == 6
    assert len(out) == 4


def test_minhash_finds_planted_near_dup(docs):
    pairs = dedup.minhash_dedup(docs, num_perm=64, bands=32, threshold=0.4, k=2)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (0, 1) in got or (0, 2) in got  # exact dups always pair
    assert (0, 3) in got                    # planted near-dup found
    assert all({a, b} != {4, 5} for a, b in got)  # unrelated docs not paired


def test_minhash_estimate_close_to_true_jaccard(docs):
    sigs = dedup.minhash_signatures(docs, num_perm=128, k=2)
    pair = docs.sparkSession.createDataFrame([(0, 3)], "doc_a long, doc_b long")
    est = dedup.minhash_jaccard_estimate(sigs, pair).first()["est_jaccard"]
    true = dedup.token_jaccard_pairs(docs.where(F.col("doc_id").isin(0, 3)), threshold=0.0).first()["jaccard"]
    assert est == pytest.approx(true, abs=0.2)


def test_simhash_near_dup_small_hamming(spark):
    # long docs (many tokens) so one changed token flips few signature bits
    base = " ".join(f"tok{i}" for i in range(80))
    near = base.replace("tok79", "other")
    other = " ".join(f"zzz{i}" for i in range(80))
    docs = spark.createDataFrame(
        [(0, base), (1, base), (3, near), (4, other)], "doc_id long, text string"
    )
    sigs = dedup.simhash_signatures(docs)
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in dedup.simhash_candidate_pairs(sigs, max_hamming=10).collect()}
    assert pairs[(0, 1)] == 0          # identical docs -> identical signature
    assert (0, 3) in pairs             # near-dup within small hamming distance
    assert not any({a, b} == {0, 4} for a, b in pairs)


def test_token_jaccard_values(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in dedup.token_jaccard_pairs(docs, threshold=0.8).collect()}
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 2)] == 1.0
    assert pairs[(0, 3)] == pytest.approx(11 / 13, abs=1e-6)  # 11 shared / 13 union


def test_token_jaccard_lsh_matches_all_pairs(docs):
    """The LSH-candidates->exact-verify form must reproduce the all-pairs
    output exactly (it is the registered scale path for the same query)."""
    for threshold in (0.8, 0.5):
        exact = sorted(
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in dedup.token_jaccard_pairs(docs, threshold=threshold).collect()
        )
        lsh = sorted(
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in dedup.token_jaccard_pairs_lsh(docs, threshold=threshold).collect()
        )
        assert lsh == exact


def test_lsh_bucket_cap_drops_hot_buckets(spark):
    """With a tiny cap, a 4-doc identical cluster's buckets are dropped
    and no candidate pairs survive; with the cap off they all pair."""
    rows = [(i, "same text in every document here") for i in range(4)]
    docs4 = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.minhash_signatures(docs4, num_perm=16, k=2)
    capped = dedup.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4, max_bucket_size=3)
    uncapped = dedup.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4, max_bucket_size=None)
    assert capped.count() == 0
    assert uncapped.count() == 6  # C(4,2)


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.99, 0.1, 0.0, 0.0], 0),   # near vec 0
        (2, [0.0, 1.0, 0.0, 0.0], 1),    # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0], 1),   # opposite
        (4, [0.7, 0.7, 0.0, 0.0], 2),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int").cache()


def test_brute_force_topk_order(vectors):
    out = similarity.brute_force_topk(vectors, query_vec_id=0, k=3).collect()
    assert [r["vec_id"] for r in out] == [1, 4, 2]
    assert out[0]["cosine_sim"] == pytest.approx(0.99 / (0.9901**0.5), abs=1e-5)
    assert out[2]["cosine_sim"] == 0.0


def test_lsh_topk_subset_of_brute_force(vectors):
    exact = [r["vec_id"] for r in similarity.brute_force_topk(vectors, 0, k=4).collect()]
    approx = similarity.lsh_topk(vectors, 0, k=4, dim=4, bands=4, planes_per_band=2).collect()
    # LSH returns a subset of the corpus ranked identically by cosine
    assert all(r["vec_id"] in exact for r in approx)
    sims = [r["cosine_sim"] for r in approx]
    assert sims == sorted(sims, reverse=True)


def test_cosine_near_dup_exact_cap(vectors):
    """max_vecs bounds the audited slice deterministically by vec_id."""
    full = {(r["vec_a"], r["vec_b"]) for r in
            similarity.cosine_near_dup_exact(vectors, threshold=0.6).collect()}
    capped = {(r["vec_a"], r["vec_b"]) for r in
              similarity.cosine_near_dup_exact(vectors, threshold=0.6, max_vecs=2).collect()}
    assert capped == {(0, 1)}
    assert capped <= full


def test_cosine_near_dup_pairs(vectors):
    pairs = {(r["vec_a"], r["vec_b"]) for r in
             similarity.cosine_near_dup_pairs(vectors, threshold=0.9, dim=4, bands=6, planes_per_band=2).collect()}
    assert (0, 1) in pairs
    assert (0, 3) not in pairs  # opposite vectors never near-dups


def test_embedding_norm_stats(vectors):
    out = {r["label"]: r for r in similarity.embedding_norm_stats(vectors).collect()}
    assert out[0]["vec_count"] == 2
    assert out[1]["max_norm"] == 1.0


def test_language_id_picks_profile(spark):
    rows = [
        (0, "the cat and the dog in a house that is big", "en"),
        (1, "el gato y el perro en la casa que es grande los dos", "es"),
        (2, "qqq www eee rrr", "xx"),  # no stopword hits -> unknown
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r["predicted_lang"] for r in text.language_id(docs).collect()}
    assert out[0] == "en"
    assert out[1] == "es"
    assert out[2] == "unknown"


def test_token_stats_and_quality(spark):
    docs = spark.createDataFrame(
        [(0, "a b c a", "en", "s", 7), (1, "", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    st = text.token_stats(docs.where("doc_id = 0")).first()
    assert st["token_count"] == 4
    assert st["uniq_token_count"] == 3
    qs = text.quality_score(docs.where("doc_id = 0")).first()
    assert qs["type_token_ratio"] == 0.75


def test_fingerprint_groups_normalized_dups(docs):
    fp = text.fingerprint(docs)
    vals = {r["doc_id"]: r["prefix_fp"] for r in fp.collect()}
    assert vals[0] == vals[1] == vals[2]
    assert vals[0] != vals[4]


def test_bpe_token_stats(spark):
    docs = spark.createDataFrame(
        [(0, "I can't stop, won't stop!", "en", "s", 25), (1, "abc 123 x", "en", "s", 9)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    out = {r["doc_id"]: r for r in text.bpe_token_stats(docs).collect()}
    # "I can't stop, won't stop!" -> I | can | 't | stop | , | stop (wait: won)
    # tokens: "I", " can", "'t", " stop", ",", " won", "'t", " stop", "!" = 9
    assert out[0]["bpe_token_count"] == 9
    assert out[0]["ws_token_count"] == 5
    # "abc 123 x" -> abc | 123 | x = 3
    assert out[1]["bpe_token_count"] == 3
    assert out[1]["bpe_per_ws_token"] == 1.0


def test_multimodal_feature_extraction(spark):
    rows = [
        (0, "image", "image/png", bytearray(b"PNGDATA" * 100), 640, 480, None),
        (1, "audio", "audio/wav", bytearray(b"WAVDATA" * 50), None, None, 3000),
        (2, "image", "image/png", bytearray(b"PNGDATA" * 100), 640, 480, None),  # same bytes as 0
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in multimodal.extract_features(media, decode_stub=True).collect()}
    assert feats[0]["content_hash"] == feats[2]["content_hash"]
    assert feats[0]["content_hash"] != feats[1]["content_hash"]
    assert len(feats[0]["feature"]) == 8
    assert feats[0]["payload_bytes"] == 700
    # deterministic across runs
    again = multimodal.extract_features(media, decode_stub=True).collect()
    assert {r["media_id"]: r["feature"] for r in again}[0] == feats[0]["feature"]


def _has_pil() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(_has_pil(), reason="PIL installed: PIL handles the long tail")
def test_multimodal_non_png_without_pil_fails_loud(spark):
    """Codec-free containers decode PNG for real (r12) but must still
    fail loud on formats the pure decoder can't handle."""
    rows = [(0, "image", "image/jpeg", bytearray(b"\xff\xd8\xff\xe0JFIF"), 1, 1, None)]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    with pytest.raises(Exception, match="NotImplementedError|real image decode"):
        multimodal.extract_features(media, decode_stub=False).collect()


def _tiny_png(pixels: list[list[tuple[int, int, int]]]) -> bytes:
    """Minimal stdlib PNG encoder (8-bit RGB, filter 0 per scanline) so
    the real-decode tests carry their own valid fixture without needing
    PIL to CREATE it — only to decode it."""
    import struct
    import zlib

    h, w = len(pixels), len(pixels[0])

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = b"".join(
        b"\x00" + b"".join(bytes(px) for px in row) for row in pixels
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_multimodal_image_decode_end_to_end_any_environment(spark):
    """The SAME assertions as the PIL-gated end-to-end test, with no
    skip mark (r12): image decode is real in every environment — PIL
    when importable, the pure-PNG fallback otherwise — and both paths
    must produce the same grayscale strip values and the same resized
    PIXELS (payload bytes legitimately differ between encoders, so the
    pixel check round-trips through the engine's own decoder)."""
    png = _tiny_png([[(0, 0, 0), (255, 255, 255)], [(0, 0, 0), (255, 255, 255)]])
    rows = [(0, "image", "image/png", bytearray(png), 2, 2, None)]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)

    feats = multimodal.extract_features(media, decode_stub=False, dim=4).collect()
    f = feats[0]["feature"]
    assert len(f) == 4
    assert f[0] < 0.1 and f[1] < 0.1 and f[2] > 0.9 and f[3] > 0.9

    resized = multimodal.resize_images(media, 4, 4, decode_stub=False).collect()
    px = multimodal._png_decode(bytes(resized[0]["payload"]))
    assert px.shape[:2] == (4, 4)
    assert tuple(px[0, 0][:3]) == (0, 0, 0)
    assert tuple(px[3, 3][:3]) == (255, 255, 255)


def test_multimodal_real_video_decode_end_to_end(spark):
    """Video decodes for REAL from uncompressed-DIB AVI with zero
    codec libraries (r12): a 2-frame clip (black frame + white frame)
    round-trips pixel-exact through the pure encoder/decoder, its
    extract_features value is the time-mean of the per-frame grayscale
    strips (= 0.5 everywhere), and compressed streams stay fail-loud."""
    import struct

    import numpy as np

    frames = np.zeros((2, 3, 4, 3), dtype=np.uint8)
    frames[1, :, :, :] = 255
    avi = multimodal._avi_encode(frames, fps=25.0)
    decoded, period_ms = multimodal._avi_decode(avi)
    assert decoded.shape == (2, 3, 4, 3) and period_ms == 40.0
    assert decoded.tolist() == frames.tolist()

    # an asymmetric pattern pins the bottom-up/BGR handling exactly
    pat = np.arange(2 * 3 * 4 * 3, dtype=np.uint8).reshape(2, 3, 4, 3)
    assert multimodal._avi_decode(multimodal._avi_encode(pat))[0].tolist() == pat.tolist()

    rows = [(0, "video", "video/avi", bytearray(avi), None, None, 80)]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = multimodal.extract_features(media, decode_stub=False, dim=4).collect()
    f = feats[0]["feature"]
    assert len(f) == 4 and all(v == pytest.approx(0.5, abs=1e-6) for v in f)

    # MJPG-coded AVI: RIFF magic, compressed stream -> fail loud
    mjpg = bytearray(avi)
    strf_at = avi.find(b"strf")
    (comp_off,) = (strf_at + 8 + 16,)
    mjpg[comp_off : comp_off + 4] = struct.pack("<I", 0x47504A4D)  # 'MJPG'
    bad = spark.createDataFrame(
        [(1, "video", "video/avi", bytearray(bytes(mjpg)), None, None, 80)],
        multimodal.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="NotImplementedError|ffmpeg"):
        multimodal.extract_features(bad, decode_stub=False).collect()
    # (r13: with PIL present this same payload still fails loud — its
    # frames are DIB bytes in a stream CLAIMING MJPG, so the JPEG parse
    # rejects them as corrupt; without PIL it fails naming PIL)


@pytest.mark.skipif(not _has_pil(), reason="PIL not installed in this container")
def test_mjpg_avi_decode_end_to_end(spark):
    """MJPG-in-AVI (r13): JPEG frames inside the RIFF container decode
    via PIL — the compressed-format envelope widening, same per-row
    isolation as every other decoder. Flat-color frames survive JPEG
    quantization nearly exactly, so the decoded pixels, the
    extract_features time-mean, and sample_frames' decoded-RGB hashes
    are all checkable within tight tolerance."""
    import hashlib as _hl

    import numpy as np

    frames = np.stack([
        np.full((6, 8, 3), 128, dtype=np.uint8),
        np.full((6, 8, 3), 200, dtype=np.uint8),
    ])
    avi = multimodal._avi_encode_mjpg(frames, fps=25.0)
    decoded, period_ms = multimodal._avi_decode(avi)
    assert decoded.shape == (2, 6, 8, 3) and period_ms == 40.0
    assert int(np.abs(decoded.astype(int) - frames.astype(int)).max()) <= 6

    media = spark.createDataFrame(
        [(0, "video", "video/avi", bytearray(avi), None, None, 80)],
        multimodal.MEDIA_SCHEMA,
    )
    feats = multimodal.extract_features(media, decode_stub=False, dim=4).collect()
    want = (decoded[:, :, :, 0].astype(float).mean()) / 255.0  # flat gray
    for v in feats[0]["feature"]:
        assert v == pytest.approx(want, abs=0.03)

    out = multimodal.sample_frames(media, every_ms=40, decode_stub=False).collect()
    assert [r.frame_idx for r in sorted(out, key=lambda r: r.frame_ts_ms)] == [0, 1]
    assert sorted(r.frame_hash for r in out) == sorted(
        _hl.sha256(decoded[i].tobytes()).hexdigest() for i in (0, 1)
    )

    # some muxers mark the all-keyframe JPEG stream '00db' instead of
    # '00dc' — the MJPG path must consume both kinds (review r13)
    as_db = avi.replace(b"00dc", b"00db")
    decoded_db, _ = multimodal._avi_decode(as_db)
    assert decoded_db.tolist() == decoded.tolist()


def test_avi_decode_ignores_audio_strl_and_stray_dc_chunks():
    """Two review-r13 pins on the AVI parser: (1) an audio stream's
    strf (WAVEFORMATEX) must not be parsed as a video BITMAPINFOHEADER
    — a standard DIB+PCM capture has both strls and used to reject
    with 'not uncompressed 24-bit DIB'; (2) a stray '00dc' chunk in a
    DIB-codec file must be IGNORED (the pre-MJPG behavior), never
    reinterpreted as raw pixels."""
    import struct

    import numpy as np

    frames = np.arange(2 * 2 * 3 * 3, dtype=np.uint8).reshape(2, 2, 3, 3)
    avi = bytearray(multimodal._avi_encode(frames, fps=25.0))

    def chunk(tag, data):
        pad = b"\x00" if len(data) & 1 else b""
        return tag + struct.pack("<I", len(data)) + data + pad

    def lst(kind, data):
        return chunk(b"LIST", kind + data)

    # splice an AUDS strl (strh 'auds' + a 20-byte junk strf that would
    # fail the video checks if parsed) into hdrl, after the vids strl
    auds = lst(b"strl", chunk(b"strh", b"auds" + b"\x00" * 44)
               + chunk(b"strf", b"\xff" * 20))
    hdrl_at = bytes(avi).find(b"hdrl")
    strl_at = bytes(avi).find(b"strl", hdrl_at)  # the LIST kind fourcc
    strl_len = struct.unpack("<I", avi[strl_at - 4 : strl_at])[0]
    insert_at = strl_at - 8 + 8 + strl_len + (strl_len & 1)
    spliced = bytes(avi[:insert_at]) + auds + bytes(avi[insert_at:])
    # fix the two enclosing sizes (RIFF and the hdrl LIST)
    spliced = bytearray(spliced)
    spliced[4:8] = struct.pack("<I", len(spliced) - 8)
    hdrl_list_at = bytes(spliced).find(b"LIST", 12)
    old = struct.unpack("<I", spliced[hdrl_list_at + 4 : hdrl_list_at + 8])[0]
    spliced[hdrl_list_at + 4 : hdrl_list_at + 8] = struct.pack("<I", old + len(auds))
    decoded, _ = multimodal._avi_decode(bytes(spliced))
    assert decoded.tolist() == frames.tolist()

    # a stray '00dc' chunk appended inside movi of a DIB file: ignored
    movi_at = bytes(avi).find(b"movi")
    stray = chunk(b"00dc", b"\x77" * 64)
    with_dc = bytes(avi[: movi_at + 4]) + stray + bytes(avi[movi_at + 4 :])
    with_dc = bytearray(with_dc)
    with_dc[4:8] = struct.pack("<I", len(with_dc) - 8)
    movi_list_at = bytes(avi).rfind(b"LIST", 0, movi_at)
    old = struct.unpack("<I", with_dc[movi_list_at + 4 : movi_list_at + 8])[0]
    with_dc[movi_list_at + 4 : movi_list_at + 8] = struct.pack("<I", old + len(stray))
    decoded2, _ = multimodal._avi_decode(bytes(with_dc))
    assert decoded2.tolist() == frames.tolist()


@pytest.mark.skipif(_has_pil(), reason="PIL installed: the MJPG path decodes")
@pytest.mark.parametrize("fourcc", [b"mjpg", b"Mjpg", b"mJPG"])
def test_any_case_mjpg_fourcc_reaches_the_pil_gate(fourcc):
    """The fourcc match is case-insensitive per the RIFF convention:
    every casing of 'MJPG' must hit the same PIL gate (and thus the
    n_codec_missing metric), not the generic wrong-codec rejection
    (review r13, both passes)."""
    import struct

    import numpy as np

    avi = bytearray(multimodal._avi_encode(np.zeros((1, 2, 2, 3), dtype=np.uint8)))
    strf_at = bytes(avi).find(b"strf")
    avi[strf_at + 8 + 16 : strf_at + 8 + 20] = fourcc
    with pytest.raises(NotImplementedError, match="PIL"):
        multimodal._avi_decode(bytes(avi))


def test_video_frame_near_dup_planted_pairs(spark):
    """The frame-fingerprint near-dup operator through the FULL real
    chain (synth -> AVI -> decode -> hash -> pair join): ids 2 and
    2+768 are exact dups (768 = 3*256, delta 0 -> all 6 frames shared,
    jaccard 1.0), ids 2 and 5 overlap by 3 frames (jaccard 3/9), and a
    df-cut at max_frame_df=1 removes every shared fingerprint so no
    pair survives — the hot-frame cap's contract."""
    docs = spark.createDataFrame(
        [(2, "", "en", "s", 0), (5, "", "en", "s", 0), (770, "", "en", "s", 0),
         (100, "", "en", "s", 0)],  # 100: no overlap with anyone
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    media = multimodal.synth_video_sequence_corpus(docs)
    got = {
        (r.media_a, r.media_b): (r.shared_frames, r.jaccard)
        for r in multimodal.video_frame_near_dup(media, every_ms=40).collect()
    }
    assert got[(2, 770)] == (6, 1.0)          # exact dup across 3*256
    assert got[(2, 5)] == (3, 0.333333)       # 3-frame overlap
    assert got[(5, 770)] == (3, 0.333333)     # 5 vs 770: delta 765 -> 253
    assert (2, 100) not in got and (5, 100) not in got
    assert len(got) == 3
    # every fingerprint here appears in >= 2 videos of the planted
    # clique — a df-cut at 1 removes them all, so no pair survives
    none = multimodal.video_frame_near_dup(
        media, every_ms=40, max_frame_df=1
    ).collect()
    assert none == []
    # max_frame_df=None disables the cut entirely: same pairs as the
    # default (no fingerprint here is hot enough to hit 1000)
    unbounded = {
        (r.media_a, r.media_b): (r.shared_frames, r.jaccard)
        for r in multimodal.video_frame_near_dup(
            media, every_ms=40, max_frame_df=None
        ).collect()
    }
    assert unbounded == got


def test_video_frame_near_dup_isolates_corrupt_payloads(spark):
    """One corrupt / codec-unsupported payload in the corpus must not
    kill the pair-search job (errors='reject', the crawl-scale
    default): the bad row contributes no fingerprints and every good
    pair still emerges; errors='raise' restores the curated-corpus
    fail-loud contract (ADVICE r14)."""
    docs = spark.createDataFrame(
        [(2, "", "en", "s", 0), (5, "", "en", "s", 0), (770, "", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    good = multimodal.synth_video_sequence_corpus(docs)
    bad = spark.createDataFrame(
        [(9999, "video", "video/mp4", bytearray(b"\x00\x00\x00 ftypisom not avi"),
          None)],
        good.schema,
    )
    media = good.unionByName(bad)
    got = {
        (r.media_a, r.media_b): (r.shared_frames, r.jaccard)
        for r in multimodal.video_frame_near_dup(media, every_ms=40).collect()
    }
    assert got[(2, 770)] == (6, 1.0)
    assert got[(2, 5)] == (3, 0.333333)
    assert len(got) == 3
    with pytest.raises(Exception, match="ffmpeg|NotImplementedError"):
        multimodal.video_frame_near_dup(
            media, every_ms=40, errors="raise"
        ).collect()
    # the lenient sample_frames surface itself reports the isolation:
    # identity kept, frame_hash NULL, the exception text attached
    rej = (
        multimodal.sample_frames(media, every_ms=40, decode_stub=False,
                                 errors="reject")
        .where(F.col("decode_error").isNotNull())
        .collect()
    )
    assert [r.media_id for r in rej] == [9999]
    assert rej[0].frame_hash is None
    assert "NotImplementedError" in rej[0].decode_error
    # with_rejects=True surfaces the exclusion accounting from the SAME
    # decode pass: the pair frame is unchanged, and the rejects frame
    # names exactly the excluded video with its decode error
    # (ADVICE r14 #3 — no more silent completeness)
    pairs2, rejects = multimodal.video_frame_near_dup(
        media, every_ms=40, with_rejects=True
    )
    got2 = {
        (r.media_a, r.media_b): (r.shared_frames, r.jaccard)
        for r in pairs2.collect()
    }
    assert got2 == got
    rrows = rejects.collect()
    assert [r.media_id for r in rrows] == [9999]
    assert "NotImplementedError" in rrows[0].decode_error


def test_recontainer_avi_changes_bytes_not_frames(spark):
    """The planted-copy primitive for the media near-dup recall audit:
    recontainer_avi must produce a byte-DIFFERENT payload (exact
    payload dedup misses it) whose decode is frame-IDENTICAL (frame
    near-dup catches it) — and the full report over a tiny corpus must
    read recall 1.0 with zero byte-identical copies."""
    import numpy as np

    frames = np.stack(
        [np.full((3, 4, 3), 10 * (f + 1), dtype=np.uint8) for f in range(6)]
    )
    plain = multimodal._avi_encode(frames)
    copy = multimodal.recontainer_avi(plain)
    assert copy != plain  # exact dedup would miss
    dec_plain, period_plain = multimodal._avi_decode(plain)
    dec_copy, period_copy = multimodal._avi_decode(copy)
    np.testing.assert_array_equal(dec_copy, dec_plain)  # near-dup catches
    assert period_copy == period_plain
    # idempotent enough to re-container a copy (rec LISTs re-wrap)
    dec_twice, _ = multimodal._avi_decode(multimodal.recontainer_avi(copy))
    np.testing.assert_array_equal(dec_twice, dec_plain)

    docs = spark.createDataFrame(
        [(2, "", "en", "s", 0), (5, "", "en", "s", 0), (770, "", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    media = multimodal.synth_video_sequence_corpus(docs)
    row = multimodal.video_neardup_recall_report(media, every_ms=40).collect()[0]
    assert (row.n_planted, row.n_detected, row.recall) == (3, 3, 1.0)
    assert row.n_byte_identical == 0
    # doubled corpus: the 3 original pairs appear 4x (orig/copy cross
    # products) + 3 planted full-dup pairs
    assert row.n_pairs == 4 * 3 + 3


def test_avi_nested_list_bomb_cannot_recursion_error():
    """A crafted payload of deeply nested LIST headers must parse
    bounded (iterative worklist) and fail through the documented
    contract — never RecursionError (review r13). 50k nesting levels
    would blow Python's default 1000-frame recursion limit 50x over."""
    import struct

    depth = 50_000
    inner = b"JUNK" + struct.pack("<I", 0)
    body = inner
    for _ in range(depth):
        body = b"LIST" + struct.pack("<I", len(body) + 4) + b"nest" + body
    payload = b"RIFF" + struct.pack("<I", len(body) + 4) + b"AVI " + body
    with pytest.raises(NotImplementedError, match="truncated AVI"):
        multimodal._avi_decode(payload)


def test_mp3_frame_parse_geometry_and_gate(spark):
    """The r14 mp3 tier (VERDICT r13 #7): the pure frame-header walk
    measures a conforming MPEG-1 Layer III stream exactly (frame
    count, sample rate, duration from 1152-sample granules), skips an
    ID3v2 preamble and an ID3v1 trailer, fails loud on truncation and
    lost sync — and the decode gate uses it to raise CodecMissingError
    for a VALID mp3 (deployment gap -> n_codec_missing) while corrupt
    bytes stay a plain data reject."""
    mp3 = multimodal._mp3_encode_headers(n_frames=5, sample_rate=44100,
                                         bitrate_kbps=128)
    got = multimodal._mp3_parse(mp3)
    assert got["n_frames"] == 5 and got["sample_rate"] == 44100
    assert got["duration_ms"] == round(5 * 1152 / 44100 * 1000)
    assert got["bitrate_kbps"] == 128 and got["vbr"] is False

    # ID3v2 preamble + ID3v1 trailer both consumed
    with_tags = (
        multimodal._mp3_encode_headers(n_frames=3, id3=True)
        + b"TAG" + b"\x00" * 125
    )
    assert multimodal._mp3_parse(with_tags)["n_frames"] == 3

    # truncation and lost sync fail loud
    with pytest.raises(NotImplementedError, match="truncated mp3"):
        multimodal._mp3_parse(mp3[:-10])
    with pytest.raises(NotImplementedError, match="lost frame sync"):
        multimodal._mp3_parse(mp3[:417] + b"junkjunk")
    # 1-3 trailing bytes past the last frame: too short to start a
    # header, still a sync break — must not validate (ADVICE r14 #2)
    for extra in (1, 2, 3):
        with pytest.raises(NotImplementedError, match="trailing bytes"):
            multimodal._mp3_parse(mp3 + b"\x00" * extra)

    # gate taxonomy: valid mp3 -> CodecMissingError; corrupt -> data reject
    with pytest.raises(multimodal.CodecMissingError, match="valid MPEG"):
        multimodal._wav_audio_feature(mp3, 8)
    bad = bytearray(mp3)
    bad[1] ^= 0x08  # flip a version bit -> reserved version
    with pytest.raises(NotImplementedError) as ei:
        multimodal._wav_audio_feature(bytes(bad), 8)
    assert not isinstance(ei.value, multimodal.CodecMissingError)

    # end to end through the streaming batch path: the mp3 row lands in
    # rejects with the CodecMissingError reason and counts as a
    # missing-codec reject, not a data error
    from metrocloud_data_pipeline_spark.streaming.media import (
        MEDIA_STREAM_SCHEMA,
        featurize_media_batch,
    )

    batch = spark.createDataFrame(
        [(1, "audio", "audio/mpeg", bytearray(mp3), None, None, 130)],
        MEDIA_STREAM_SCHEMA,
    )
    kept, rejected = featurize_media_batch(batch, decode_stub=False, dim=8)
    assert kept.count() == 0
    rej = rejected.collect()
    assert len(rej) == 1 and rej[0].reason.startswith("CodecMissingError")


def test_probe_media_dispatches_on_magic_bytes(spark):
    """probe_media answers from the BYTES, not the metadata column:
    geometry for all four containers, header-only (a truncated-body
    WAV with intact params would still probe — the probe validates
    containers, decode validates content), fail-loud on unknowns."""
    import struct
    import numpy as np

    avi = multimodal._avi_encode(np.zeros((3, 2, 2, 3), dtype=np.uint8))
    mp3 = multimodal._mp3_encode_headers(n_frames=4)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">IIBBBBB", 7, 9, 8, 0, 0, 0, 0) + b"\x00" * 4
    )
    import wave
    from io import BytesIO

    buf = BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x00" * 1600)
    wav = buf.getvalue()  # 1600 samples at 8000 Hz = 200 ms
    rows = [
        (1, "audio", "x", bytearray(wav), None),
        (2, "video", "x", bytearray(avi), None),
        (3, "audio", "x", bytearray(mp3), None),
        (4, "image", "x", bytearray(png), None),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, media_type string, mime string, payload binary, "
        "duration_ms int",
    )
    got = {r.media_id: r for r in multimodal.probe_media(media).collect()}
    assert (got[1].container, got[1].n_frames, got[1].sample_rate,
            got[1].duration_ms) == ("wav", 1600, 8000, 200)
    assert (got[2].container, got[2].n_frames, got[2].width, got[2].height,
            got[2].duration_ms) == ("avi", 3, 2, 2, 120)
    assert (got[3].container, got[3].n_frames, got[3].sample_rate) == (
        "mp3", 4, 44100)
    assert (got[4].container, got[4].width, got[4].height) == ("png", 7, 9)
    bad = media.limit(0).unionByName(spark.createDataFrame(
        [(9, "audio", "x", bytearray(b"BINK junk"), None)], media.schema))
    with pytest.raises(Exception, match="unrecognized container"):
        multimodal.probe_media(bad).collect()
    # OggS is a RECOGNIZED magic since r15 — a junk body now routes to
    # the ogg page walk's own fail-loud class, not the unknown branch
    ogg_junk = media.limit(0).unionByName(spark.createDataFrame(
        [(9, "audio", "x", bytearray(b"OggS junk"), None)], media.schema))
    with pytest.raises(Exception, match="truncated page header"):
        multimodal.probe_media(ogg_junk).collect()


def test_flac_probe_geometry_and_gate():
    """The FLAC half of the r14 audio container tier: STREAMINFO
    geometry unpacked exactly (20-bit rate / 36-bit total samples),
    the metadata chain walked to prove frame data exists, fail-loud
    on truncation/garbage — and the decode gate classifies a VALID
    flac as CodecMissingError (deployment gap), corrupt as data."""
    p = multimodal._flac_encode_header(total_samples=44100, sample_rate=44100)
    got = multimodal._flac_probe(p)
    assert (got["container"], got["n_frames"], got["sample_rate"],
            got["duration_ms"]) == ("flac", 44100, 44100, 1000)
    assert multimodal._probe_payload(p)["container"] == "flac"

    # cut mid-way into the second block's header: STREAMINFO intact,
    # chain truncated (a shorter cut fails the magic/length gate)
    with pytest.raises(NotImplementedError, match="truncated metadata"):
        multimodal._flac_probe(p[:44])
    with pytest.raises(NotImplementedError, match="not a FLAC stream"):
        multimodal._flac_probe(p[:20])
    with pytest.raises(NotImplementedError, match="STREAMINFO not first"):
        multimodal._flac_probe(b"fLaC\x04" + p[5:])

    with pytest.raises(multimodal.CodecMissingError, match="valid FLAC"):
        multimodal._wav_audio_feature(p, 8)
    bad = bytearray(p)
    bad[4] = 0x02  # PADDING-typed first block: invalid layout
    with pytest.raises(NotImplementedError) as ei:
        multimodal._wav_audio_feature(bytes(bad), 8)
    assert not isinstance(ei.value, multimodal.CodecMissingError)


def test_codec_missing_is_a_structured_class_not_a_substring():
    """n_codec_missing counts by the CodecMissingError class name in
    the reject reason, not by a 'PIL' substring: a data-shape reject
    that merely MENTIONS PIL ('unsupported PNG variant ... install PIL
    for the long tail') must not read as a missing-codec deployment
    error, while a genuinely-missing-library reject must (ADVICE r14)."""
    import struct

    def chunk(tag, data):
        import zlib

        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    # a 16-bit grayscale PNG: valid container, unsupported VARIANT —
    # a per-file data-shape reject even on a PIL-less host
    png16 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0))
        + chunk(b"IDAT", b"\x00" * 4)
        + chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError) as ei:
        multimodal._png_decode(png16)
    assert "PIL" in str(ei.value)  # the message that fooled the substring
    assert not isinstance(ei.value, multimodal.CodecMissingError)

    # a JPEG reaching the pure decoder = PIL import already failed
    # upstream: THE missing-codec deployment case
    with pytest.raises(multimodal.CodecMissingError):
        multimodal._png_decode(b"\xff\xd8\xff\xe0JFIFjunk")


def test_avi_rec_list_interleaved_frames_keep_temporal_order():
    """Real interleaved AVIs wrap each frame (plus its audio chunk) in
    a 'rec ' LIST inside 'movi'. The document-order resume-stack walk
    must emit frames in ENCOUNTER order — the r13 pop-whole-buffers
    LIFO worklist reversed sibling rec groups, silently scrambling
    frame_idx / frame_ts_ms and every_ms sampling (ADVICE r14)."""
    import struct

    import numpy as np

    def chunk(tag, data):
        pad = b"\x00" if len(data) & 1 else b""
        return tag + struct.pack("<I", len(data)) + data + pad

    def lst(kind, data):
        return chunk(b"LIST", kind + data)

    n, h, w = 5, 4, 4
    frames = np.stack(
        [np.full((h, w, 3), 10 * (f + 1), dtype=np.uint8) for f in range(n)]
    )
    plain = multimodal._avi_encode(frames, fps=25.0)
    decoded_plain, period = multimodal._avi_decode(plain)
    np.testing.assert_array_equal(decoded_plain, frames)

    # rebuild the same AVI with each frame chunk in its own 'rec '
    # LIST, interleaved with an audio '01wb' chunk (the standard
    # capture-tool layout)
    movi_at = plain.rfind(b"LIST")
    (movi_len,) = struct.unpack("<I", plain[movi_at + 4 : movi_at + 8])
    movi_body = plain[movi_at + 8 : movi_at + 8 + movi_len]
    assert movi_body[:4] == b"movi"
    framechunks = []
    p = 4
    while p + 8 <= len(movi_body):
        (ln,) = struct.unpack("<I", movi_body[p + 4 : p + 8])
        framechunks.append(movi_body[p : p + 8 + ln + (ln & 1)])
        p += 8 + ln + (ln & 1)
    assert len(framechunks) == n
    audio = chunk(b"01wb", b"\x00\x01" * 8)
    wrapped = b"movi" + b"".join(lst(b"rec ", fc + audio) for fc in framechunks)
    new = plain[:movi_at] + chunk(b"LIST", wrapped)
    new = b"RIFF" + struct.pack("<I", len(new) - 8) + new[8:]

    decoded_rec, period_rec = multimodal._avi_decode(new)
    assert period_rec == period
    np.testing.assert_array_equal(decoded_rec, frames)


@pytest.mark.skipif(_has_pil(), reason="PIL installed: the MJPG path decodes")
def test_mjpg_avi_without_pil_rejects_as_codec_missing(spark):
    """A PIL-less deployment must reject an MJPG AVI per-row with a
    reason NAMING PIL (the n_codec_missing metrics contract) — not
    crash the batch, and not silently fake pixels."""
    import struct

    import numpy as np

    from metrocloud_data_pipeline_spark.streaming.media import featurize_media_batch

    avi = bytearray(multimodal._avi_encode(np.zeros((1, 2, 2, 3), dtype=np.uint8)))
    strf_at = bytes(avi).find(b"strf")
    avi[strf_at + 8 + 16 : strf_at + 8 + 20] = struct.pack("<I", 0x47504A4D)
    batch = spark.createDataFrame(
        [(1, "video", "video/avi", bytearray(bytes(avi)), None, None, 80)],
        multimodal.MEDIA_SCHEMA,
    )
    kept, rejected = featurize_media_batch(batch, decode_stub=False, dim=4)
    assert kept.count() == 0
    rej = rejected.collect()
    assert len(rej) == 1 and "PIL" in rej[0].reason


def test_multimodal_real_frame_sampling(spark):
    """sample_frames(decode_stub=False) samples REAL AVI frames (r12):
    timestamps map through the container's own frame period, hashes
    are sha256 of the decoded RGB bytes, and the row count follows the
    container's true duration — a 5-frame 25 fps clip (200 ms) sampled
    every 60 ms yields 4 rows hitting frames 0/1/3/4."""
    import hashlib as _hl

    import numpy as np

    frames = np.stack(
        [np.full((2, 2, 3), v, dtype=np.uint8) for v in (10, 60, 110, 160, 210)]
    )
    avi = multimodal._avi_encode(frames, fps=25.0)  # period 40 ms
    rows = [
        (0, "video", "video/avi", bytearray(avi), None, None, 200),
        (1, "image", "image/png", bytearray(b"PNGISH"), 2, 2, None),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = multimodal.sample_frames(media, every_ms=60, decode_stub=False).collect()
    vid = sorted((r for r in out if r.media_id == 0), key=lambda r: r.frame_ts_ms)
    assert [(r.frame_ts_ms, r.frame_idx) for r in vid] == [
        (0, 0), (60, 1), (120, 3), (180, 4),
    ]
    expected = [_hl.sha256(frames[i].tobytes()).hexdigest() for i in (0, 1, 3, 4)]
    assert [r.frame_hash for r in vid] == expected
    img = [r for r in out if r.media_id == 1]
    assert len(img) == 1 and img[0].frame_hash == _hl.sha256(b"PNGISH").hexdigest()


def test_real_frame_sampling_null_payload_propagates_null_hash(spark):
    """ADVICE r12: the real path used to hash a NULL payload as
    sha256(b'') — the exact missing-vs-present-empty conflation the
    r12 extract_features fix removed. A NULL payload must surface as a
    NULL frame_hash (one identity row, never a fabricated digest), and
    a present-but-EMPTY payload must keep its real digest, distinct
    from the NULL row."""
    import hashlib as _hl

    rows = [
        (0, "image", "image/png", None, 2, 2, None),          # null payload
        (1, "image", "image/png", bytearray(b""), 2, 2, None),  # present empty
        (2, "audio", "audio/wav", None, None, None, 100),       # null, audio
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {r.media_id: r for r in
           multimodal.sample_frames(media, every_ms=60, decode_stub=False).collect()}
    assert len(out) == 3
    assert out[0].frame_hash is None and out[2].frame_hash is None
    assert out[1].frame_hash == _hl.sha256(b"").hexdigest()
    assert (out[0].frame_idx, out[0].frame_ts_ms) == (0, 0)


def test_png_palette_decode_and_truncated_plte_fail_loud():
    """Palette (color type 3) PNGs: a valid index decodes through the
    PLTE lookup; an index past the palette end (truncated PLTE) must
    raise the documented NotImplementedError, not a raw numpy
    IndexError (ADVICE r12)."""
    import struct
    import zlib

    import pytest as _pytest

    def palette_png(indices, plte_entries):
        def chunk(tag, data):
            return (struct.pack(">I", len(data)) + tag + data
                    + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))
        h, w = len(indices), len(indices[0])
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)  # 8-bit palette
        plte = b"".join(bytes(rgb) for rgb in plte_entries)
        raw = b"".join(b"\x00" + bytes(row) for row in indices)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"PLTE", plte) + chunk(b"IDAT", zlib.compress(raw))
                + chunk(b"IEND", b""))

    good = palette_png([[0, 1], [1, 0]], [(255, 0, 0), (0, 0, 255)])
    px = multimodal._png_decode(good)
    assert tuple(px[0, 0]) == (255, 0, 0) and tuple(px[0, 1]) == (0, 0, 255)

    bad = palette_png([[0, 5], [1, 0]], [(255, 0, 0), (0, 0, 255)])
    with _pytest.raises(NotImplementedError, match="palette index out of range"):
        multimodal._png_decode(bad)


def test_png_filter_reconstruction_all_five_types():
    """Pins the pure decoder's scanline-filter reconstruction: a
    grayscale PNG hand-encoded with one row per filter type (None/Sub/
    Up/Average/Paeth), residuals computed independently per the PNG
    spec, must decode back to the exact pixels."""
    import struct
    import zlib

    pixels = [
        [10, 20, 30, 40, 250, 5],
        [12, 25, 33, 45, 255, 0],
        [200, 100, 50, 25, 12, 6],
        [201, 99, 52, 24, 13, 7],
        [150, 151, 149, 148, 152, 147],
    ]
    filters = [0, 1, 2, 3, 4]
    h, w = len(pixels), len(pixels[0])
    prev = [0] * w
    scanlines = []
    for y in range(h):
        cur, f, res = pixels[y], filters[y], []
        for x in range(w):
            a = cur[x - 1] if x >= 1 else 0
            b = prev[x]
            c = prev[x - 1] if x >= 1 else 0
            if f == 0:
                r = cur[x]
            elif f == 1:
                r = (cur[x] - a) & 255
            elif f == 2:
                r = (cur[x] - b) & 255
            elif f == 3:
                r = (cur[x] - (a + b) // 2) & 255
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                r = (cur[x] - pred) & 255
            res.append(r)
        scanlines.append(bytes([f]) + bytes(res))
        prev = cur

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"".join(scanlines)))
        + chunk(b"IEND", b"")
    )
    decoded = multimodal._png_decode(png)
    assert decoded.shape == (h, w, 1)
    assert [[int(v) for v in row[:, 0]] for row in decoded] == pixels
    # round-trip through the fallback encoder too
    assert multimodal._png_decode(multimodal._png_encode(decoded)).tolist() == decoded.tolist()
    # interlaced / 16-bit stay fail-loud
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 10))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError, match="unsupported PNG"):
        multimodal._png_decode(bad)


@pytest.mark.skipif(not _has_pil(), reason="PIL not installed in this container")
def test_multimodal_real_decode_end_to_end(spark):
    """decode_stub=False with PIL present: a real PNG (2x2, black left
    column, white right column) decodes to a grayscale pixel-strip
    feature — dark values in the left half, bright in the right — and
    resize_images re-encodes genuine pixels PIL can re-open at the
    target size."""
    from io import BytesIO

    from PIL import Image

    png = _tiny_png([[(0, 0, 0), (255, 255, 255)], [(0, 0, 0), (255, 255, 255)]])
    rows = [(0, "image", "image/png", bytearray(png), 2, 2, None)]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)

    feats = multimodal.extract_features(media, decode_stub=False, dim=4).collect()
    f = feats[0]["feature"]
    assert len(f) == 4
    assert f[0] < 0.1 and f[1] < 0.1          # left (black) half
    assert f[2] > 0.9 and f[3] > 0.9          # right (white) half

    resized = multimodal.resize_images(media, 4, 4, decode_stub=False).collect()
    img = Image.open(BytesIO(bytes(resized[0]["payload"])))
    assert img.size == (4, 4)
    assert img.convert("RGB").getpixel((0, 0)) == (0, 0, 0)
    assert img.convert("RGB").getpixel((3, 3)) == (255, 255, 255)


def test_multimodal_real_decode_rejects_video_and_nonwav(spark):
    """Fail-loud contracts of the per-type real-decode dispatch (r12):
    video rows raise (ffmpeg not gated in); audio rows whose payload
    is not a parseable RIFF/WAV raise (compressed formats need a
    transcode, and a silent fake would poison dedup). Neither path
    touches PIL, so this runs in PIL-less containers too."""
    video = spark.createDataFrame(
        [(1, "video", "video/mp4", bytearray(b"MP4"), None, None, 3000)],
        multimodal.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="NotImplementedError|ffmpeg"):
        multimodal.extract_features(video, decode_stub=False).collect()
    junk_audio = spark.createDataFrame(
        [(2, "audio", "audio/mpeg", bytearray(b"ID3\x04not-a-wav"), None, None, 3000)],
        multimodal.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="NotImplementedError|ffmpeg/librosa"):
        multimodal.extract_features(junk_audio, decode_stub=False).collect()


def _tiny_wav(
    freq_hz: float = 1000.0,
    sr: int = 8000,
    seconds: float = 0.5,
    channels: int = 1,
    sampwidth: int = 2,
    amplitude: float = 0.5,
) -> bytes:
    """Stdlib WAV writer so the real-audio-decode tests carry their own
    PCM fixture — sine at freq_hz (or silence when amplitude=0)."""
    import math
    import struct
    import wave
    from io import BytesIO

    n = int(sr * seconds)
    buf = BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(sampwidth)
        w.setframerate(sr)
        frames = bytearray()
        for i in range(n):
            s = amplitude * math.sin(2 * math.pi * freq_hz * i / sr)
            if sampwidth == 2:
                packed = struct.pack("<h", int(s * 32767))
            elif sampwidth == 1:
                packed = struct.pack("B", int(s * 127) + 128)
            elif sampwidth == 3:
                v = int(s * ((1 << 23) - 1)) & 0xFFFFFF
                packed = bytes((v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF))
            else:
                raise AssertionError(sampwidth)
            frames += packed * channels
        w.writeframes(bytes(frames))
    return buf.getvalue()


def test_multimodal_real_audio_decode_end_to_end(spark):
    """decode_stub=False on audio rows decodes PCM WAV for REAL with
    zero extra dependencies (stdlib wave + numpy, r12): the log-mel
    strip's peak band tracks the tone frequency, silence yields all
    zeros, a stereo clip of the same tone lands the same peak band,
    and the 8/24-bit sample widths decode like 16-bit."""
    tone1k = _tiny_wav(1000.0)
    tone35 = _tiny_wav(3500.0)
    rows = [
        (0, "audio", "audio/wav", bytearray(tone1k), None, None, 500),
        (1, "audio", "audio/wav", bytearray(tone35), None, None, 500),
        (2, "audio", "audio/wav", bytearray(_tiny_wav(amplitude=0.0)), None, None, 500),
        (3, "audio", "audio/wav", bytearray(_tiny_wav(1000.0, channels=2)), None, None, 500),
        (4, "audio", "audio/wav", bytearray(_tiny_wav(1000.0, sampwidth=1)), None, None, 500),
        (5, "audio", "audio/wav", bytearray(_tiny_wav(1000.0, sampwidth=3)), None, None, 500),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {
        r["media_id"]: r["feature"]
        for r in multimodal.extract_features(media, decode_stub=False, dim=8).collect()
    }
    assert all(len(f) == 8 for f in out.values())
    peak = {i: max(range(8), key=lambda j: out[i][j]) for i in out}
    # sr=8000 -> Nyquist 4000 Hz; 1 kHz sits in mel band 3/4 of 8,
    # 3.5 kHz near the top — exact band may shift one with bin
    # quantization, the ORDERING may not
    assert peak[0] in (3, 4) and peak[1] in (6, 7) and peak[0] < peak[1]
    assert out[2] == [0.0] * 8  # silence: log1p(0) everywhere
    assert peak[3] == peak[0]  # stereo mean of the same tone
    assert peak[4] == peak[0] and peak[5] == peak[0]  # 8/24-bit widths
    # mono 16-bit vs stereo-mean: same signal, near-identical energies
    assert out[3][peak[0]] == pytest.approx(out[0][peak[0]], rel=1e-6)


def test_mel_band_center_tones_argmax_their_own_band():
    """The closed form behind the media_audio_features oracle: a sine
    at mel_band_centers(sr, dim)[j] must peak in band j for EVERY j —
    the tone-at-center choice keeps the argmax away from triangle
    edges, so FFT bin quantization cannot flip it. Pure-Python (no
    Spark): pins the DSP primitives the registered query composes."""
    import math
    import struct
    import wave
    from io import BytesIO

    sr, dim, seconds = 4000, 8, 0.25
    centers = multimodal.mel_band_centers(sr, dim)
    assert len(centers) == dim and all(
        centers[i] < centers[i + 1] for i in range(dim - 1)
    )
    n = int(sr * seconds)
    for j, freq in enumerate(centers):
        buf = BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(sr)
            w.writeframes(
                b"".join(
                    struct.pack(
                        "<h", int(0.5 * 32767 * math.sin(2 * math.pi * freq * i / sr))
                    )
                    for i in range(n)
                )
            )
        payload = buf.getvalue()
        assert len(payload) == 44 + 2 * n  # the oracle's byte-size literal
        feat = multimodal._wav_audio_feature(payload, dim)
        assert max(range(dim), key=lambda k: feat[k]) == j


def test_frame_sampling_row_geometry(spark):
    rows = [
        (0, "image", "image/png", bytearray(b"X"), 10, 10, None),  # 1 frame
        (1, "video", "video/mp4", bytearray(b"V"), None, None, 3500),  # ceil(3.5) = 4
        (2, "video", "video/mp4", bytearray(b"V"), None, None, 3000),  # exactly 3
        (3, "audio", "audio/wav", bytearray(b"A"), None, None, 0),  # 1 frame
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    frames = multimodal.sample_frames(media, every_ms=1000).collect()
    per = {}
    for r in frames:
        per.setdefault(r["media_id"], []).append(r)
    assert {k: len(v) for k, v in per.items()} == {0: 1, 1: 4, 2: 3, 3: 1}
    v1 = sorted(per[1], key=lambda r: r["frame_idx"])
    assert [r["frame_ts_ms"] for r in v1] == [0, 1000, 2000, 3000]
    import hashlib

    assert v1[2]["frame_hash"] == hashlib.md5(b"1:2").hexdigest()


def test_resize_images_only_touches_images(spark):
    rows = [
        (0, "image", "image/png", bytearray(b"PIXELS"), 640, 480, None),
        (1, "audio", "audio/wav", bytearray(b"WAV"), None, None, 3000),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = multimodal.resize_images(media, 32, 16).collect()
    assert [r["media_id"] for r in out] == [0]
    assert (out[0]["width"], out[0]["height"]) == (32, 16)
    import hashlib

    assert bytes(out[0]["payload"]) == hashlib.sha256(b"PIXELS" + b"32x16").digest()
    # junk bytes through the REAL path fail loud: with PIL a data error
    # (UnidentifiedImage), without it the structured missing-codec
    # class (can't rule out a decodable format without PIL — r14)
    with pytest.raises(
        Exception,
        match="NotImplementedError|CodecMissingError|real image resize|identify image",
    ):
        multimodal.resize_images(media, 32, 16, decode_stub=False).collect()


def test_media_summary_prunes_payload(spark):
    rows = [(0, "image", "image/png", bytearray(b"XY"), 10, 10, None)]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = multimodal.media_summary(media).first()
    assert out["item_count"] == 1
    assert out["avg_payload_bytes"] == 2.0


def test_cosine_near_dup_exact_all_pairs(vectors):
    out = {(r["vec_a"], r["vec_b"]): r["cosine_sim"]
           for r in similarity.cosine_near_dup_exact(vectors, threshold=0.9).collect()}
    assert (0, 1) in out and out[(0, 1)] > 0.99
    assert all(a < b for a, b in out)  # canonical pair orientation
    assert (0, 3) not in out


def test_ivf_topk_recall_vs_brute_force(spark):
    # deterministic clustered corpus: 3 clusters of near-identical vectors
    import math
    rows = []
    for vid in range(90):
        c = vid % 3
        base = [1.0 if i == c else 0.0 for i in range(8)]
        base[(c + 3) % 8] = 0.05 * ((vid * 7) % 11)  # small in-cluster spread
        n = math.sqrt(sum(x * x for x in base))
        rows.append((vid, [x / n for x in base], c))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int").cache()
    exact = {r["vec_id"] for r in similarity.brute_force_topk(emb, 0, k=10).collect()}
    # stride must be coprime with the cluster cycle so sampled centroids
    # cover every cluster (stride=9 would put all centroids in cluster 0)
    approx = {r["vec_id"] for r in similarity.ivf_topk(emb, 0, k=10, nprobe=3, stride=7).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8  # probing the query's cluster lists recovers neighbors
    # prebuilt index (build-once/probe-many) returns the same result
    idx = similarity.ivf_index(emb, stride=7)
    via_index = {
        r["vec_id"]
        for r in similarity.ivf_topk(emb, 0, k=10, nprobe=3, index=idx).collect()
    }
    assert via_index == approx
    idx[1].unpersist()


def test_knn_join_brute_geometry_and_agreement(spark):
    import math
    rows = []
    for vid in range(40):
        base = [math.sin(0.7 * vid + i) for i in range(8)]
        n = math.sqrt(sum(x * x for x in base))
        rows.append((vid, [x / n for x in base], vid % 3))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int").cache()
    out = similarity.knn_join_brute(emb, k=5, max_queries=4).collect()
    by_q = {}
    for r in out:
        assert r["vec_id"] != r["q_id"]  # never self
        by_q.setdefault(r["q_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3}
    for q, rs in by_q.items():
        assert [r["rank"] for r in sorted(rs, key=lambda r: r["rank"])] == [1, 2, 3, 4, 5]
    # the q_id=0 row of the batch join equals the single-probe baseline
    single = [r["vec_id"] for r in similarity.brute_force_topk(emb, 0, k=5).collect()]
    batch0 = [r["vec_id"] for r in sorted(by_q[0], key=lambda r: r["rank"])]
    assert batch0 == single


def test_knn_join_ivf_recall_vs_brute(spark):
    import math
    rows = []
    for vid in range(90):
        c = vid % 3
        base = [1.0 if i == c else 0.0 for i in range(8)]
        base[(c + 3) % 8] = 0.05 * ((vid * 7) % 11)
        n = math.sqrt(sum(x * x for x in base))
        rows.append((vid, [x / n for x in base], c))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int").cache()
    exact = similarity.knn_join_brute(emb, k=10, max_queries=6).collect()
    approx = similarity.knn_join_ivf(emb, k=10, nprobe=3, stride=7).collect()
    ex_by_q, ap_by_q = {}, {}
    for r in exact:
        ex_by_q.setdefault(r["q_id"], set()).add(r["vec_id"])
    for r in approx:
        ap_by_q.setdefault(r["q_id"], set()).add(r["vec_id"])
    assert set(ap_by_q) == set(range(90))  # every vector got a neighbor list
    recalls = [len(ex_by_q[q] & ap_by_q[q]) / len(ex_by_q[q]) for q in ex_by_q]
    assert sum(recalls) / len(recalls) >= 0.8


def test_quantizer_stride_trained_conflict_raises(spark, tmp_path):
    """Every entry point that resolves a coarse quantizer refuses, at
    call time and before any side effect, an explicit stride= with
    quantizer='trained' or with an explicit codebook (r7/r8 ADVICE:
    callers got a different index than they asked for with no signal),
    and an unknown quantizer; stride= alone implies the sample
    quantizer — list_ids are then vec_id multiples, not 0..k-1."""
    import pytest

    from metrocloud_data_pipeline_spark.streaming import ann

    rows = [(v, [float(v % 3 == i) for i in range(4)]) for v in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    emb = emb.withColumn("label", F.lit(0))
    cb = similarity.trained_codebook(emb, k=3)
    entry_points = {
        "knn_join_ivf": lambda **kw: similarity.knn_join_ivf(emb, k=2, **kw),
        "ivf_corpus_table": lambda **kw: similarity.ivf_corpus_table(
            emb, "conflict_tbl", **kw
        ),
        "ivfpq_corpus_table": lambda codebook=None, **kw: similarity.ivfpq_corpus_table(
            emb, "conflict_tbl", coarse_codebook=codebook, **kw
        ),
        "ivfpq_topk": lambda codebook=None, **kw: similarity.ivfpq_topk(
            emb, [1.0, 0.0, 0.0, 0.0], coarse=codebook, **kw
        ),
        "run_ann_serving_stream": lambda **kw: ann.run_ann_serving_stream(
            emb, emb, str(tmp_path / "out"), str(tmp_path / "ckpt"), **kw
        ),
    }
    for name, call in entry_points.items():
        with pytest.raises(ValueError, match=f"{name}: stride=7 .*quantizer='trained'"):
            call(stride=7, quantizer="trained")
        with pytest.raises(ValueError, match=f"{name}: stride=7 .*explicit codebook"):
            call(stride=7, codebook=cb)
        with pytest.raises(ValueError, match=f"{name}: unknown quantizer 'kmeans'"):
            call(quantizer="kmeans")
    assert not (tmp_path / "out").exists()
    assert "conflict_tbl" not in {t.name for t in spark.catalog.listTables()}
    # stride alone -> the sample quantizer: probing every list must
    # reproduce the stride-sample seeds (vec_id multiples of 10)
    out = similarity.knn_join_ivf(emb, k=2, nprobe=3, stride=10)
    assert out.count() == 60  # 30 queries x k=2 — the sample path ran


def test_ivfpq_corpus_table_default_coarse_is_trained(spark):
    """ADVICE r7 #2: the compressed serving tier's coarse quantizer now
    follows the same trained/auto-k default as every other ANN surface
    — the persisted _coarse sidecar holds 0..k-1 k-means list_ids, not
    stride-sample vec_id multiples."""
    emb = _planted_clusters_emb(spark)
    tbl = "ivfpq_trained_default_pytest"
    try:
        similarity.ivfpq_corpus_table(emb, tbl, m=4, pq_k=8, n_iter=4)
        cids, ccode, _fp = similarity.load_ivf_quantizer(spark, f"{tbl}_coarse")
        # auto-k on a 14-vector corpus -> 1 trained list (39 pts/list
        # floor), ids contiguous from 0 — impossible for a stride
        # sample, whose ids are {0, 5, 10} here
        assert list(cids) == list(range(len(cids)))
        # and the layout still serves: batch ADC finds each query's
        # own planted cluster at rank 1
        cb = similarity.load_pq_codebook(spark, tbl)
        out = similarity.ivfpq_topk_batch(
            emb.select("vec_id", "embedding"), spark.table(tbl), cb,
            (cids, ccode), k=3, nprobe=max(1, len(cids)),
        ).collect()
        assert {r["q_id"] for r in out} == set(range(14))
    finally:
        for t in (tbl, f"{tbl}_codebook", f"{tbl}_coarse"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_winnow_fingerprints_shared_passages(docs):
    fps = text.winnow_fingerprints(docs, k=4, w=5)
    by_doc = {r["doc_id"]: set() for r in fps.collect()}
    for r in fps.collect():
        by_doc[r["doc_id"]].add(r["fp"])
    assert by_doc[0] == by_doc[1] == by_doc[2]  # identical after normalization
    overlap = len(by_doc[0] & by_doc[3]) / len(by_doc[0] | by_doc[3])
    assert overlap > 0.5     # near-dup shares most fingerprints
    assert not (by_doc[0] & by_doc[4])  # unrelated text shares none


def test_media_from_documents_roundtrip(docs):
    media = multimodal.media_from_documents(docs)
    rows = {r["media_id"]: r for r in media.collect()}
    assert rows[0]["media_type"] == "image" and rows[0]["width"] is not None
    assert rows[1]["media_type"] == "audio" and rows[1]["width"] is None
    assert bytes(rows[0]["payload"]).decode("utf-8") == docs.where("doc_id=0").first()["text"]
    feats = multimodal.extract_features(media)
    import hashlib
    f0 = feats.where("media_id = 0").first()
    expected = hashlib.sha256(bytes(rows[0]["payload"])).hexdigest()
    assert f0["content_hash"] == expected
    assert len(f0["feature"]) == 8 and all(0.0 <= v < 1.0 for v in f0["feature"])


def test_lsh_bucket_cap_drops_boilerplate_bucket(spark):
    # 30 docs sharing identical boilerplate + 2 planted near-dups: with a
    # bucket cap below 30 the boilerplate cluster's bucket is dropped,
    # while the planted pair still surfaces through its own bands
    boiler = "terms of service apply all rights reserved contact us for details " * 3
    a = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [(i, boiler, "en", "s", len(boiler)) for i in range(30)]
    rows += [(100, a, "en", "s", len(a)), (101, a + " extra", "en", "s", len(a) + 6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    sigs = dedup.minhash_signatures(docs)
    capped = dedup.lsh_candidate_pairs(sigs, max_bucket_size=10)
    pairs = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert (100, 101) in pairs
    assert not any(a < 30 and b < 30 for a, b in pairs)  # boilerplate bucket dropped
    uncapped = {(r["doc_a"], r["doc_b"]) for r in dedup.lsh_candidate_pairs(sigs).collect()}
    assert any(a < 30 and b < 30 for a, b in uncapped)


def test_lsh_hot_bucket_candidates_stay_subquadratic(spark):
    """5k-doc boilerplate collision bucket: every doc shares 30 common
    tokens plus 2 unique ones, so pairwise Jaccard is 30/34 ~ 0.88 —
    below the 0.95 threshold, yet most minhash bands collapse the whole
    corpus into a single hot bucket. Uncapped that means ~C(5000,2) =
    12.5M candidate pairs to exact-verify for ZERO qualifying output.
    With the cap the hot buckets are dropped, the candidate count stays
    orders of magnitude below quadratic, and the accounting twin
    reports exactly what was discarded."""
    common = " ".join(f"boilerplate{j}" for j in range(30))
    rows = [(i, f"{common} unique{i}a unique{i}b") for i in range(5000)]
    docs5k = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.minhash_signatures(docs5k, num_perm=128, k=1).persist()
    capped = dedup.lsh_candidate_pairs(
        sigs, bands=32, rows_per_band=4, max_bucket_size=500
    )
    n_cand = capped.count()
    assert n_cand < 100_000, f"{n_cand} candidates — cap failed to bound the hot bucket"
    dropped = dedup.lsh_dropped_buckets(
        sigs, bands=32, rows_per_band=4, max_bucket_size=500
    )
    drops = dropped.agg(
        F.count(F.lit(1)).alias("n_buckets"), F.max("n_docs").alias("biggest")
    ).collect()[0]
    assert drops["n_buckets"] > 0
    assert drops["biggest"] > 500
    # End-to-end: the registered-query path (exact verify at 0.95) emits
    # nothing for this corpus, and does so without quadratic verify work.
    out = dedup.token_jaccard_pairs_lsh(docs5k, threshold=0.95, max_bucket_size=500)
    assert out.count() == 0
    sigs.unpersist()


def test_duplicate_clusters_components(spark):
    # chain 1-2-3 (transitive), isolated pair 10-11, pair sharing no link 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (21, 20)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: r for r in dedup.duplicate_clusters(pairs).collect()}
    assert len(out) == 7
    assert {out[i]["cluster_id"] for i in (1, 2, 3)} == {1}
    assert {out[i]["cluster_id"] for i in (10, 11)} == {10}
    assert {out[i]["cluster_id"] for i in (20, 21)} == {20}
    assert out[1]["cluster_size"] == 3 and out[10]["cluster_size"] == 2


def test_duplicate_clusters_long_chain_pointer_doubling(spark):
    # a 40-node path: hash-min alone needs ~40 rounds; pointer doubling
    # must converge well inside the 20-round cap
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_a long, doc_b long"
    )
    out = dedup.duplicate_clusters(pairs, max_iter=20).collect()
    assert len(out) == 41
    assert {r["cluster_id"] for r in out} == {0}
    assert all(r["cluster_size"] == 41 for r in out)


def test_token_jaccard_lsh_fail_on_dropped_buckets(spark):
    # identical docs collapse into one LSH bucket; with a cap below the
    # bucket size the opt-in guard must refuse to return a silently
    # truncated pair set (the oracle-checked queries' contract)
    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated") for i in range(12)],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="would drop qualifying pairs"):
        dedup.token_jaccard_pairs_lsh(
            docs, threshold=0.95, max_bucket_size=5, fail_on_dropped_buckets=True
        )
    # without the flag the capped (possibly truncated) result is allowed
    assert (
        dedup.token_jaccard_pairs_lsh(docs, threshold=0.95, max_bucket_size=5).count()
        == 0
    )


def test_knn_join_ivf_bucketed_corpus_matches_and_drops_exchange(spark, tmp_path):
    # the bucketed-corpus path must return EXACTLY the in-memory result
    # (same deterministic codebook) while the corpus side of the probe
    # join loses its exchange (reads bucket-to-bucket)
    import math

    rows = []
    for vid in range(90):
        c = vid % 3
        base = [1.0 if i == c else 0.0 for i in range(8)]
        base[(c + 3) % 8] = 0.05 * ((vid * 7) % 11)
        n = math.sqrt(sum(x * x for x in base))
        rows.append((vid, [x / n for x in base], c))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int").cache()

    tbl = "ivf_corpus_pytest"
    similarity.ivf_corpus_table(emb, tbl, num_buckets=4)
    try:
        # the table's quantizer ships with the table (fingerprinted);
        # the in-memory default auto-trains the SAME deterministic
        # codebook, so results must match row for row
        ids, code, fp = similarity.load_ivf_quantizer(spark, f"{tbl}_quantizer")
        mem = similarity.knn_join_ivf(emb, k=10, nprobe=3)
        bkt = similarity.knn_join_ivf(
            emb, k=10, nprobe=3, listed=spark.table(tbl),
            codebook=(ids, code), codebook_fingerprint=fp,
        )
        assert sorted(map(tuple, mem.collect()), key=lambda t: (t[0], t[4])) == sorted(
            map(tuple, bkt.collect()), key=lambda t: (t[0], t[4])
        )

        # a listed corpus without its quantizer (or with a mismatched
        # one) must REFUSE instead of silently probing wrong lists
        import pytest as _pytest

        with _pytest.raises(ValueError, match="pre-listed corpus"):
            similarity.knn_join_ivf(emb, k=10, nprobe=3, listed=spark.table(tbl))
        with _pytest.raises(ValueError, match="fingerprint"):
            similarity.knn_join_ivf(
                emb, k=10, nprobe=3, listed=spark.table(tbl),
                codebook=(ids, code), codebook_fingerprint="deadbeef",
            )
        other = similarity.trained_codebook(emb, k=5, n_iter=2)
        with _pytest.raises(ValueError, match="fingerprint"):
            similarity.knn_join_ivf(
                emb, k=10, nprobe=3, listed=spark.table(tbl),
                codebook=other, codebook_fingerprint=fp,
            )

        # under a forced shuffle join, only the in-memory corpus pays an
        # exchange on list_id; the bucketed scan is already partitioned
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            def n_exchanges(df):
                plan = df._jdf.queryExecution().executedPlan().toString()
                return plan.count("Exchange hashpartitioning")

            mem_n = n_exchanges(similarity.knn_join_ivf(emb, k=10, nprobe=3))
            bkt_n = n_exchanges(
                similarity.knn_join_ivf(
                    emb, k=10, nprobe=3, listed=spark.table(tbl),
                    codebook=(ids, code), codebook_fingerprint=fp,
                )
            )
            assert bkt_n < mem_n, (bkt_n, mem_n)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_quantizer")


# --- r5 additions: tf-idf / vocab / mixing / quantile filter / ---------------
# cross-corpus dedup / k-means ------------------------------------------------


def test_tfidf_top_terms_ranks_distinctive_words(docs):
    out = text.tfidf_top_terms(docs, k=3)
    rows = out.collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # every doc emits at most k rows, ranked 1..n with descending scores
    for doc_rows in by_doc.values():
        doc_rows.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in doc_rows] == list(range(1, len(doc_rows) + 1))
        scores = [r["tfidf"] for r in doc_rows]
        assert scores == sorted(scores, reverse=True)
    # 'the' appears in most docs (high df) so it never beats the
    # distinctive vocabulary of doc 4 despite tf=3 in docs 0-2
    assert all(r["term"] != "the" for r in by_doc[4])
    # a term unique to one doc scores ln((1+N)/2)+1 per occurrence
    import math

    n = docs.count()
    solo = [r for r in by_doc[4] if r["tf"] == 1]
    assert solo and solo[0]["tfidf"] == pytest.approx(math.log((1 + n) / 2) + 1, abs=1e-5)


def test_vocab_coverage_cumulative_monotone(docs):
    out = text.vocab_coverage(docs, top_n=10).collect()
    assert [r["rnk"] for r in out] == list(range(1, len(out) + 1))
    counts = [r["term_count"] for r in out]
    assert counts == sorted(counts, reverse=True)
    cum = [r["cum_share"] for r in out]
    assert all(b >= a for a, b in zip(cum, cum[1:]))
    # cumulative share equals the running sum of shares (to rounding)
    run = 0.0
    for r in out:
        run += r["term_count"]
    assert cum[-1] <= 1.0 + 1e-9
    # 'the' dominates this corpus -> rank 1
    assert out[0]["term"] == "the"


def test_temperature_mix_weights(spark):
    rows = [(i, " ".join(["w"] * (100 if i < 9 else 1)), "en", "big" if i < 9 else "small", 10)
            for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    out = {r["source"]: r for r in curation.temperature_mix(docs, alpha=0.5).collect()}
    assert out["big"]["n_tokens"] == 900 and out["small"]["n_tokens"] == 1
    # weights sum to 1
    assert out["big"]["mix_weight"] + out["small"]["mix_weight"] == pytest.approx(1.0, abs=1e-5)
    # alpha=0.5 upsamples the small source relative to its natural share
    assert out["small"]["mix_weight"] > 1 / 901
    # effective epochs: weight * total_tokens / n_tokens
    w = out["small"]["mix_weight"]
    assert out["small"]["effective_epochs"] == pytest.approx(w * 901 / 1, abs=1e-3)
    # alpha=1 reproduces natural proportions
    nat = {r["source"]: r for r in curation.temperature_mix(docs, alpha=1.0).collect()}
    assert nat["big"]["mix_weight"] == pytest.approx(900 / 901, abs=1e-5)


def test_quality_quantile_filter_keeps_top_three_quartiles(spark):
    # 20 docs with strictly increasing quality (longer + more diverse)
    rows = [
        (i, " ".join(f"w{j}" for j in range(2 + i)), "en", "s", 10 * (2 + i))
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    out = curation.quality_quantile_filter(docs, q=0.25).collect()
    kept = {r["doc_id"] for r in out}
    assert len(kept) == 15  # exact quartile on 20 strictly increasing scores
    assert kept == set(range(5, 20))
    thr = out[0]["threshold"]
    assert all(r["quality_score"] >= thr for r in out)


def test_cross_corpus_exact_flags_known_digests(spark):
    mk = lambda i, t: (i, t, "en", "s", len(t))
    corpus = spark.createDataFrame(
        [mk(1, "alpha beta gamma"), mk(2, "ALPHA   beta gamma"), mk(3, "unique corpus text")],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    incoming = spark.createDataFrame(
        [mk(10, "alpha beta gamma"), mk(20, "never seen before")],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["doc_id"]: r for r in dedup.cross_corpus_exact(incoming, corpus).collect()}
    assert len(out) == 2  # every incoming doc reported
    assert out[10]["n_dupes_in_corpus"] == 2  # docs 1 and 2 normalize equal
    assert out[10]["first_dup_doc_id"] == 1
    assert out[20]["n_dupes_in_corpus"] == 0
    assert out[20]["first_dup_doc_id"] is None


def test_kmeans_inertia_monotone_and_assignment_argmin(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    centers = np.array([[5.0, 0.0], [-5.0, 0.0], [0.0, 8.0]])
    pts = np.vstack([c + rng.randn(30, 2) for c in centers])
    rows = [(i, [float(x) for x in pts[i]], 0) for i in range(len(pts))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int").cache()

    code, trace = similarity.kmeans_fit(emb, k=3, n_iter=5)
    # Lloyd's never increases inertia
    assert all(b <= a + 1e-9 for a, b in zip(trace, trace[1:]))
    # determinism: a second fit reproduces the codebook exactly
    code2, trace2 = similarity.kmeans_fit(emb, k=3, n_iter=5)
    assert np.allclose(code, code2) and trace == trace2

    assign = similarity.kmeans_assign(emb, code).collect()
    assert len(assign) == len(pts)
    # assignment is the true argmin against the final codebook
    for r in assign[:10]:
        d = ((pts[r["vec_id"]] - code) ** 2).sum(axis=1)
        assert r["cluster_id"] == int(np.argmin(d))
        assert r["sq_dist"] == pytest.approx(float(d.min()), rel=1e-6)
    # three well-separated blobs -> three clusters of 30
    sizes = sorted(
        similarity.kmeans_cluster_stats(emb, k=3, n_iter=5)
        .toPandas()["n_vecs"]
        .tolist()
    )
    assert sizes == [30, 30, 30]


def _naive_lloyd(x, code, n_iter):
    """Plain Lloyd's on an [n, d] array from seed centroids [k, d]:
    (centroids, inertia trace); an empty cluster keeps its centroid."""
    import numpy as np

    code, trace = code.copy(), []
    for _ in range(n_iter):
        d = ((x[:, None, :] - code[None, :, :]) ** 2).sum(axis=2)
        lab = d.argmin(axis=1)
        trace.append(d[np.arange(len(x)), lab].sum())
        for c in range(len(code)):
            if (lab == c).any():
                code[c] = x[lab == c].mean(axis=0)
    return code, trace


def _naive_lr(x, y, n_iter, lr):
    """Full-batch GD logistic regression on standardized features from
    zero weights, one column of y per class: raw-space (weights [K, d],
    biases [K], mean-loss trace of class 0)."""
    import numpy as np

    mu, sd = x.mean(axis=0), x.std(axis=0)
    xs = (x - mu) / sd
    w, b, trace = np.zeros((y.shape[1], x.shape[1])), np.zeros(y.shape[1]), []
    for _ in range(n_iter):
        p = 1.0 / (1.0 + np.exp(-(xs @ w.T + b)))
        loss = -(y * np.log(p + 1e-12) + (1 - y) * np.log(1 - p + 1e-12))
        trace.append(loss[:, 0].mean())
        w, b = w - lr * (p - y).T @ xs / len(x), b - lr * (p - y).sum(axis=0) / len(x)
    return w / sd, b - (w * (mu / sd)).sum(axis=1), trace


@pytest.mark.parametrize("fit", ["kmeans", "pq", "pca", "lr", "ovr"])
def test_iterative_fits_match_naive_reference(spark, fit):
    """Naive-reference sweep of the five iterate_partials fits on a
    one-partition frame (one Arrow batch): each agrees to 1e-12 with a
    plain numpy implementation of the same algorithm."""
    import numpy as np

    rng = np.random.RandomState(5)
    x = np.vstack([c + rng.randn(20, 4) for c in ([4.0, 0, 0, 1], [-4.0, 0, 2, 0], [0, 6.0, 0, 0])])
    x = x * np.array([1.0, 2.0, 0.5, 0.2])  # distinct variances for PCA
    x = x[rng.permutation(len(x))]
    lab = np.array(["a", "b", "c"])[np.argmax(x[:, :3] * [1.0, 1.0, -1.0], axis=1)]
    y = (x[:, 0] + 0.5 * rng.randn(len(x)) > 0).astype(int)
    frame = spark.createDataFrame(
        [(i, [float(v) for v in x[i]], float(x[i, 0]), float(x[i, 1]), int(y[i]), str(lab[i]))
         for i in range(len(x))],
        "vec_id long, embedding array<double>, f0 double, f1 double, y int, lab string",
    ).coalesce(1)
    close = dict(rtol=1e-12, atol=1e-12)

    if fit == "kmeans":
        code, trace = similarity.kmeans_fit(frame, k=3, n_iter=3)
        ref, ref_trace = _naive_lloyd(x, x[:3], 3)
        assert np.allclose(code, ref, **close) and np.allclose(trace, ref_trace, **close)
        # kmeans_fit is pq_fit's m=1 case, bit for bit
        assert np.array_equal(code, similarity.pq_fit(frame, m=1, k=3, n_iter=3)[0][0])
    elif fit == "pq":
        code, trace = similarity.pq_fit(frame, m=2, k=3, n_iter=3)
        refs = [_naive_lloyd(x[:, 2 * j:2 * j + 2], x[:3, 2 * j:2 * j + 2], 3) for j in range(2)]
        assert np.allclose(code, [r[0] for r in refs], **close)
        assert np.allclose(trace, np.add(refs[0][1], refs[1][1]), **close)
    elif fit == "pca":
        comps, mean, ratio = similarity.pca_fit(frame, k=3)
        evals, evecs = np.linalg.eigh(np.cov(x.T, bias=True))
        order = np.argsort(evals)[::-1][:3]
        ref = evecs[:, order].T
        ref *= np.sign(ref[np.arange(3), np.abs(ref).argmax(axis=1)])[:, None]
        assert np.allclose(comps, ref, **close) and np.allclose(mean, x.mean(axis=0), **close)
        assert np.allclose(ratio, evals[order] / evals.sum(), **close)
    elif fit == "lr":
        w, b, trace = curation.lr_fit(frame, ["f0", "f1"], "y", n_iter=3, lr=0.5)
        rw, rb, rtrace = _naive_lr(x[:, :2], y[:, None].astype(float), 3, 0.5)
        assert np.allclose(w, rw[0], **close) and np.isclose(b, rb[0], **close)
        assert np.allclose(trace, rtrace, **close)
    else:
        fitted = curation.lr_fit_ovr(frame, ["f0", "f1"], "lab", ["a", "b", "c"], n_iter=3, lr=0.5)
        onehot = (lab[:, None] == np.array(["a", "b", "c"])).astype(float)
        rw, rb, _ = _naive_lr(x[:, :2], onehot, 3, 0.5)
        for i, c in enumerate(["a", "b", "c"]):
            assert np.allclose(fitted[c][0], rw[i], **close) and np.isclose(fitted[c][1], rb[i], **close)


def test_corpus_codebook_refits_rewritten_embeddings(spark, tmp_path, monkeypatch):
    """The registered ANN queries cache their trained codebook per
    embeddings file snapshot: rewriting embeddings.parquet in the same
    process refits instead of probing the stale codebook."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from metrocloud_data_pipeline_spark import queries
    from metrocloud_data_pipeline_spark.sources import load

    monkeypatch.setattr(queries, "_TRAINED_CB", {})
    rng = np.random.RandomState(9)
    sf_dir = str(tmp_path)

    def write(pts):
        pq.write_table(
            pa.table({
                "vec_id": pa.array(range(len(pts)), pa.int64()),
                "embedding": pa.array([[float(v) for v in p] for p in pts], pa.list_(pa.float32())),
                "label": pa.array([0] * len(pts), pa.int32()),
            }),
            str(tmp_path / "embeddings.parquet"),
        )

    write(rng.randn(120, 4))
    ids, first = queries._corpus_codebook(spark, sf_dir)
    assert queries._corpus_codebook(spark, sf_dir)[1] is first  # same snapshot: cached
    write(rng.randn(120, 4) + [0.0, 0.0, 9.0, 0.0])
    ids, second = queries._corpus_codebook(spark, sf_dir)
    assert not np.array_equal(second, first)
    fresh = similarity.coarse_quantizer(load(spark, sf_dir, "embeddings"))[1]
    assert np.array_equal(second, fresh)


def test_unigram_surprisal_rare_words_score_higher(docs):
    out = {r["doc_id"]: r for r in text.unigram_surprisal(docs).collect()}
    # docs 0-2 normalize to the same text -> identical scores
    assert out[0]["bits_per_token"] == out[1]["bits_per_token"] == out[2]["bits_per_token"]
    # the doc made of corpus-common words scores lower than the doc of
    # words appearing nowhere else (4: unique vocabulary)
    assert out[4]["bits_per_token"] > out[0]["bits_per_token"]
    # bounds: a token can never be more surprising than log2(total)
    import math

    total = sum(r["token_count"] for r in out.values())
    assert all(0 < r["bits_per_token"] <= math.log2(total) + 1e-5 for r in out.values())


def test_pca_invariants_and_projection(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    # anisotropic cloud: variance concentrated in two directions
    base = rng.randn(200, 2) @ np.array([[5.0, 0, 0, 0], [0, 2.0, 0, 0]])
    pts = base + 0.05 * rng.randn(200, 4)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]], 0) for i in range(200)],
        "vec_id long, embedding array<float>, label int",
    ).cache()

    comps, mean, ratio = similarity.pca_fit(emb, k=4)
    # orthonormal components
    assert np.allclose(comps @ comps.T, np.eye(4), atol=1e-8)
    # explained variance descending; top-2 capture nearly everything
    assert all(b <= a + 1e-12 for a, b in zip(ratio, ratio[1:]))
    assert ratio[:2].sum() > 0.99
    # determinism (incl. sign convention)
    comps2, mean2, ratio2 = similarity.pca_fit(emb, k=4)
    assert np.allclose(comps, comps2) and np.allclose(ratio, ratio2)
    # full-rank projection preserves pairwise distance
    red = {r["vec_id"]: np.array(r["reduced"]) for r in
           similarity.pca_project(emb, comps, mean).collect()}
    for i, j in [(0, 1), (5, 50), (100, 199)]:
        orig = np.linalg.norm(pts[i] - pts[j])
        proj = np.linalg.norm(red[i] - red[j])
        assert proj == pytest.approx(orig, rel=1e-4)

    rep = similarity.pca_variance_report(emb, k=4).collect()
    assert [r["component"] for r in rep] == [0, 1, 2, 3]
    assert rep[-1]["cum_variance_ratio"] == pytest.approx(1.0, abs=1e-4)


def test_prefix_filter_jaccard_equals_all_pairs(docs):
    """Prefix filtering (AllPairs) must reproduce the all-pairs output
    exactly at any threshold — it is a no-false-negative theorem, not a
    probabilistic bound."""
    for threshold in (0.95, 0.8, 0.5):
        exact = sorted(
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in dedup.token_jaccard_pairs(docs, threshold=threshold).collect()
        )
        pref = sorted(
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in dedup.token_jaccard_pairs_prefix(docs, threshold=threshold).collect()
        )
        assert pref == exact


def test_prefix_filter_prunes_candidates(spark):
    """On a corpus whose docs share only common tokens below threshold,
    the prefix join generates strictly fewer candidates than all-pairs
    (rarest-token prefixes are disjoint)."""
    rows = [(i, f"shared common words plus unique{i} token{i} extra{i}") for i in range(12)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.token_jaccard_pairs_prefix(d, threshold=0.9).collect()
    assert out == []  # no qualifying pairs, and none invented


def test_kmeans_trained_ivf_index_drives_ivf_topk(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    centers = np.array([[10.0, 0, 0, 0], [0, 10.0, 0, 0], [0, 0, 10.0, 0]])
    pts = np.vstack([c + 0.1 * rng.randn(20, 4) for c in centers])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]], 0) for i in range(len(pts))],
        "vec_id long, embedding array<float>, label int",
    ).cache()

    idx = similarity.kmeans_ivf_index(emb, k=3, n_iter=3)
    got = [r["vec_id"] for r in
           similarity.ivf_topk(emb, query_vec_id=0, k=5, nprobe=1, index=idx).collect()]
    exact = [r["vec_id"] for r in similarity.brute_force_topk(emb, 0, k=5).collect()]
    # three clean blobs: probing the single trained list containing the
    # query reproduces the exact top-5
    assert got == exact


def test_curation_ops_on_empty_and_tiny_inputs(spark):
    """Edge behavior: empty corpus -> empty outputs, no crash; k-means
    with fewer vectors than k fits what exists."""
    import numpy as np

    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    assert text.tfidf_top_terms(empty).count() == 0
    assert text.vocab_coverage(empty).count() == 0
    assert text.unigram_surprisal(empty).count() == 0
    assert curation.temperature_mix(empty).count() == 0
    assert curation.quality_quantile_filter(empty).count() == 0
    # the KN builders on an empty corpus and on one whose docs are all
    # shorter than n: zero rows, and the order-2 checkpoint's btypes
    # Observation still reports (an empty level, not a hang or a raise)
    short = spark.createDataFrame(
        [(0, "a", "en", "s0", 1), (1, "", "en", "s0", 0), (2, "  ", "en", "s0", 2)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    for kn in (text.kn_bigram_surprisal, text.kn_trigram_surprisal, text.kn5_surprisal_hashed):
        assert kn(empty).collect() == [], kn.__name__
        assert kn(short).collect() == [], kn.__name__

    two = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [0.0, 1.0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    code, trace = similarity.kmeans_fit(two, k=5, n_iter=2)
    assert code.shape == (2, 2)
    assert np.allclose(sorted(code.tolist()), [[0.0, 1.0], [1.0, 0.0]])

    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    with pytest.raises(ValueError, match="empty input"):
        similarity.kmeans_fit(empty_emb, k=3)
    # every iterate_partials fit rejects an empty frame on its first pass
    # (pca_fit used to raise IndexError, the LR fits to return a NaN bias)
    with pytest.raises(ValueError, match="pca_fit: empty input frame"):
        similarity.pca_fit(empty_emb, k=2)
    feats = spark.createDataFrame([], "x double, z double, y int, lab string")
    with pytest.raises(ValueError, match="lr_fit: empty input frame"):
        curation.lr_fit(feats, ["x", "z"], "y", n_iter=2)
    with pytest.raises(ValueError, match="lr_fit_ovr: empty input frame"):
        curation.lr_fit_ovr(feats, ["x", "z"], "lab", ["a", "b"], n_iter=2)
    # ...and the registered reports built on the LR fits stay empty
    assert curation.quality_lr_score(empty, n_iter=2).count() == 0
    assert text.langid_trained_report(empty, n_iter=2).count() == 0


def test_media_dedup_exact_groups_by_payload(docs):
    media = multimodal.media_from_documents(docs)
    out = multimodal.media_dedup_exact(media).collect()
    # doc 0 and 3 are type-0 (image) and 1/4 audio, 2/5 video; payloads
    # are the raw text bytes so the only exact dup pair is none (texts
    # differ byte-wise even when they normalize equal) -> all singletons
    assert all(r["dup_count"] == 1 for r in out)
    assert len(out) == 6


def test_winnow_overlap_finds_shared_passage(spark):
    passage = " ".join(f"shared{i}" for i in range(12))
    doc_a = passage + " " + " ".join(f"acontent{i}" for i in range(30))
    doc_b = " ".join(f"bcontent{i}" for i in range(30)) + " " + passage
    doc_c = " ".join(f"ccontent{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(0, doc_a), (1, doc_b), (2, doc_c)], "doc_id long, text string"
    )
    out = {(r["doc_a"], r["doc_b"]): r["shared_fps"]
           for r in text.winnow_overlap_pairs(docs, min_shared=2).collect()}
    assert (0, 1) in out and out[(0, 1)] >= 2  # the quoted passage links them
    assert all(2 not in pair for pair in out)  # unrelated doc stays out
    # hot-fp cap drops boilerplate-wide fingerprints
    wide = spark.createDataFrame(
        [(i, passage) for i in range(6)], "doc_id long, text string"
    )
    capped = text.winnow_overlap_pairs(wide, min_shared=1, max_fp_docs=3).collect()
    assert capped == []


def test_cross_corpus_jaccard_incremental_gate(spark):
    mk = lambda i, t: (i, t, "en", "s", len(t))
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"  # 9/11 jaccard
    corpus = spark.createDataFrame(
        [mk(1, base), mk(2, "totally unrelated corpus document about shuffles"),
         mk(3, "mu nu xi omicron pi rho sigma tau")],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    incoming = spark.createDataFrame(
        [mk(10, near), mk(20, "fresh never seen words entirely")],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = dedup.cross_corpus_jaccard(incoming, corpus, threshold=0.8)
    got = {(r["doc_new"], r["doc_corpus"]): r["jaccard"] for r in out.collect()}
    assert (10, 1) in got and got[(10, 1)] == round(9 / 11, 6)
    assert len(got) == 1  # the fresh doc matches nothing


def test_cross_corpus_jaccard_band_table_path_matches(spark, tmp_path):
    # the pre-built band-index path (unigram_bands rows read back from
    # parquet, what the corpus stream stores) must return EXACTLY the
    # in-memory result, while skipping the corpus re-banding pass
    mk = lambda i, t: (i, t)
    base = "one two three four five six seven eight nine ten"
    rows = [mk(i, base + f" extra{i}") for i in range(1, 6)] + [
        mk(6, "qqq www eee rrr ttt yyy uuu")
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    incoming = spark.createDataFrame([mk(100, base + " extra1 tail")], "doc_id long, text string")
    path = str(tmp_path / "band_index")
    dedup.unigram_bands(corpus).write.parquet(path)
    mem = sorted(map(tuple, dedup.cross_corpus_jaccard(incoming, corpus, threshold=0.5).collect()))
    idx = sorted(map(tuple, dedup.cross_corpus_jaccard(
        incoming, corpus, threshold=0.5, corpus_bands=spark.read.parquet(path)).collect()))
    assert mem == idx and len(mem) >= 1


def test_cross_corpus_jaccard_hot_bucket_guard_raises(spark):
    # 60 identical corpus docs collide into every band bucket; with a
    # tiny cap the every-qualifying-pair contract cannot hold -> raise
    same = "dup dup2 dup3 dup4 dup5 dup6"
    corpus = spark.createDataFrame([(i, same) for i in range(60)], "doc_id long, text string")
    incoming = spark.createDataFrame([(100, same)], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_bucket_size"):
        dedup.cross_corpus_jaccard(
            incoming, corpus, threshold=0.9, max_bucket_size=10,
            fail_on_dropped_buckets=True,
        )


def _planted_clusters_emb(spark):
    # 3 tight clusters of 4 near-identical unit vectors + 2 singletons,
    # well separated in 8-dim space
    import math
    rows = []
    # ids INTERLEAVED across groups (vec c+3j in group c) so kmeans'
    # deterministic first-k seeding lands one seed per planted group
    for c in range(3):
        for j in range(4):
            v = [0.0] * 8
            v[c] = 1.0
            v[c + 4] = 0.01 * j  # tiny perturbation, cosine >> 0.95 in-group
            n = math.sqrt(sum(x * x for x in v))
            rows.append((c + 3 * j, [x / n for x in v], c))
    for s in range(2):
        v = [0.0] * 8
        v[3] = 1.0 if s == 0 else -1.0
        rows.append((12 + s, v, 9))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int").cache()


def test_semdedup_matches_exact_pairs_on_separable_data(spark):
    emb = _planted_clusters_emb(spark)
    sem = {(r["vec_a"], r["vec_b"]) for r in
           similarity.semdedup_pairs(emb, k=3, n_iter=4, threshold=0.95).collect()}
    exact = {(r["vec_a"], r["vec_b"]) for r in
             similarity.cosine_near_dup_exact(emb, threshold=0.95).collect()}
    # on separable data k-means cannot split a tight group, so the
    # cluster-local pair set IS the exact pair set
    assert sem == exact and len(exact) == 3 * 6  # C(4,2) per planted cluster


def test_semdedup_keep_list_keeps_min_id_per_group(spark):
    emb = _planted_clusters_emb(spark)
    out = {r["vec_id"]: r for r in
           similarity.semdedup_keep_list(emb, k=3, n_iter=4, threshold=0.95).collect()}
    assert len(out) == 14  # every vector gets a decision
    for c in (0, 1, 2):  # group c = ids {c, c+3, c+6, c+9}, min id c survives
        assert out[c]["keep"] is True
        for j in range(1, 4):
            r = out[c + 3 * j]
            assert r["keep"] is False and r["kept_dup"] == c
    assert out[12]["keep"] is True and out[13]["keep"] is True  # singletons


def test_knn_recall_report_bounds_and_separable_recall(spark):
    emb = _planted_clusters_emb(spark)
    # stride 5 -> centroids at vec_ids 0,5,10; nprobe=3 probes EVERY
    # list, so IVF == brute and recall must be exactly 1.0
    rep = similarity.knn_recall_report(emb, k=3, nprobe=3, stride=5, max_queries=14).collect()
    assert len(rep) == 14
    assert all(r["recall"] == 1.0 for r in rep)
    # nprobe=1 probes a single list: recall stays in [0, 1]
    rep1 = similarity.knn_recall_report(emb, k=3, nprobe=1, stride=5, max_queries=14).collect()
    assert all(0.0 <= r["recall"] <= 1.0 for r in rep1)


def test_quantize_int8_roundtrip_invariants(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, -0.5, 0.25, 0.0]),
            (1, [0.0, 0.0, 0.0, 0.0]),          # all-zero: scale 0, no NaNs
            (2, [127.0, -127.0, 63.5, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in similarity.quantize_embeddings_int8(emb).collect()}
    for r in out.values():
        assert all(-127 <= v <= 127 for v in r["qvec"])
        # symmetric quantization error bound: half a quantization step
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-12
    assert out[0]["scale"] == 1.0 / 127.0
    assert out[0]["qvec"] == [127, -64, 32, 0]   # -63.5 rounds away from zero
    assert out[1]["scale"] == 0.0 and out[1]["qvec"] == [0, 0, 0, 0]
    assert out[1]["mse"] == 0.0
    assert out[2]["qvec"][0] == 127 and out[2]["qvec"][1] == -127


def test_cross_corpus_jaccard_standalone_releases_band_cache(spark):
    """Standalone calls own their corpus-band persist and must release
    it once the candidate set is checkpointed (r5 advice: one leaked
    cache entry per call otherwise)."""
    corpus_df = spark.createDataFrame(
        [(i, f"document number {i} speaks about distinct topic {i * 7} only") for i in range(12)],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [(100, "document number 3 speaks about distinct topic 21 only")],
        "doc_id long, text string",
    )
    def storage():
        return {
            (i.id(), i.name(), i.memSize())
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    before = storage()
    out = dedup.cross_corpus_jaccard(incoming, corpus_df, threshold=0.95).collect()
    assert [(r["doc_new"], r["doc_corpus"]) for r in out] == [(100, 3)]
    leftover = storage() - before
    # the owned corpus-band persist (a named in-memory table holding the
    # full corpus signature pass) must be gone; the only storage the call
    # may leave behind is the batch-bounded candidate localCheckpoint
    # (a bare MapPartitionsRDD, bytes-sized, reaped by ContextCleaner)
    assert all(name == "MapPartitionsRDD" for (_, name, _) in leftover), leftover
    assert len(leftover) <= 1


def test_semdedup_kept_dup_resolves_through_transitive_chain(spark):
    """Chain (1,2),(2,3) with no (1,3) pair: 3's min-id displacer is 2,
    which is itself dropped — kept_dup must chase through to the
    surviving representative 1 (r5 advice)."""
    import math

    def unit(deg):
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg))]

    # cos(20°)≈0.94 clears 0.9; cos(40°)≈0.77 does not → pairs (1,2),(2,3)
    emb = spark.createDataFrame(
        [(1, unit(0.0)), (2, unit(20.0)), (3, unit(40.0))],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in
           similarity.semdedup_keep_list(emb, k=1, n_iter=1, threshold=0.9).collect()}
    assert out[1]["keep"] is True and out[1]["kept_dup"] is None
    assert out[2]["keep"] is False and out[2]["kept_dup"] == 1
    assert out[3]["keep"] is False and out[3]["kept_dup"] == 1  # chased 2 -> 1


def test_prefix_path_entropy_guard_raises_on_degenerate_corpus(spark):
    """A corpus whose vocabulary is tiny relative to its size (every
    token common) defeats prefix pruning — the guard must refuse and
    point at the LSH path instead of going quadratic (r5 verdict)."""
    # 40 docs drawn from a 6-word vocabulary: vocab << 0.5 * n_docs
    rows = [(i, f"alpha beta gamma delta {'epsilon' if i % 2 else 'zeta'}")
            for i in range(40)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(ValueError, match="token_jaccard_pairs_lsh"):
        dedup.token_jaccard_pairs_prefix(d, threshold=0.9)
    # explicit override still runs the exact path on the same corpus
    out = dedup.token_jaccard_pairs_prefix(d, threshold=0.9, entropy_guard=False)
    assert out.count() == 2 * (20 * 19 // 2)  # identical halves: all-pairs within each


def test_trained_codebook_drives_knn_recall_report(spark):
    """A k-means codebook sized to the planted cluster count plugs into
    the recall audit; probing every list reproduces brute force."""
    emb = _planted_clusters_emb(spark)
    cb = similarity.trained_codebook(emb, k=3, n_iter=4)
    assert cb[1].shape == (3, 8)
    rep = similarity.knn_recall_report(
        emb, k=3, nprobe=3, max_queries=14, codebook=cb
    ).collect()
    assert len(rep) == 14 and all(r["recall"] == 1.0 for r in rep)
    rep1 = similarity.knn_recall_report(
        emb, k=3, nprobe=1, max_queries=14, codebook=cb
    ).collect()
    assert all(0.0 <= r["recall"] <= 1.0 for r in rep1)


def test_knn_recall_default_path_holds_on_clustered_corpus(spark):
    """The DEFAULT knn path (no codebook, no quantizer arg — what a
    caller who configures nothing gets) must hold high recall on
    clustered data: since r7 that path auto-trains a k-means coarse
    quantizer sized by corpus count (PROBE_r06 measured the old stride
    default collapsing to 0.41@10x on clustered corpora)."""
    import math

    # 3 tight clusters of 60 vectors each — auto k = 180 // 39 = 4 lists
    rows = []
    for vid in range(180):
        c = vid % 3
        v = [1.0 if i == c else 0.0 for i in range(8)]
        v[(c + 3) % 8] = 0.02 * ((vid * 7) % 11)
        n = math.sqrt(sum(x * x for x in v))
        rows.append((vid, [x / n for x in v], c))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).cache()
    rep = similarity.knn_recall_report(emb, k=10, nprobe=4, max_queries=20).collect()
    assert len(rep) == 20
    avg = sum(r["recall"] for r in rep) / len(rep)
    assert avg >= 0.9, avg


def test_pq_fit_encode_invariants(spark):
    """PQ training/encoding: deterministic, codes in range, inertia
    non-increasing, finer codebooks (larger k) reconstruct better, and
    on planted clusters the reconstruction is near-exact."""
    import numpy as np

    emb = _planted_clusters_emb(spark)
    code, trace = similarity.pq_fit(emb, m=4, k=4, n_iter=4)
    assert code.shape == (4, 4, 2)  # dim 8 split into 4 subspaces of 2
    assert all(a >= b - 1e-9 for a, b in zip(trace, trace[1:]))  # inertia monotone
    code2, _ = similarity.pq_fit(emb, m=4, k=4, n_iter=4)
    assert np.array_equal(code, code2)  # deterministic

    enc = {r["vec_id"]: r for r in similarity.pq_encode(emb, code).collect()}
    assert len(enc) == 14
    for r in enc.values():
        assert len(r["codes"]) == 4
        assert all(0 <= c < 4 for c in r["codes"])
        assert r["mse"] >= 0.0
    # coarser codebook (k=2) cannot beat k=4 on average
    codek2, _ = similarity.pq_fit(emb, m=4, k=2, n_iter=4)
    mse4 = sum(r["mse"] for r in enc.values())
    mse2 = sum(r["mse"] for r in similarity.pq_encode(emb, codek2).collect())
    assert mse4 <= mse2 + 1e-12


def test_pq_adc_topk_finds_planted_neighbors(spark):
    """ADC scoring over codes: on separable planted clusters the top
    neighbors of a cluster member are its own cluster (PQ at k=16 on 14
    vecs reconstructs nearly exactly, so ADC ~= exact L2)."""
    emb = _planted_clusters_emb(spark)
    code, _ = similarity.pq_fit(emb, m=4, k=8, n_iter=4)
    # query = vector 0 (group 0 = ids {0, 3, 6, 9})
    qvec = emb.where(F.col("vec_id") == 0).first()["embedding"]
    top = [r["vec_id"] for r in
           similarity.pq_adc_topk(emb, code, qvec, topk=4).collect()]
    assert set(top) <= {0, 3, 6, 9}
    assert top[0] == 0  # self reconstructs closest


def test_bigram_surprisal_flags_templated_text(spark):
    """Docs built from COMMON word pairs score lower bits than a doc
    whose pairs are unique, even at similar unigram rarity; docs with
    fewer than two tokens emit no row."""
    common = "alpha beta alpha beta alpha beta"
    rows = [(i, common, "en", "s", len(common)) for i in range(5)]
    rows.append((10, "alpha gamma beta delta alpha epsilon", "en", "s", 36))
    rows.append((11, "solo", "en", "s", 4))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r for r in text.bigram_surprisal(docs).collect()}
    assert 11 not in out  # single token: no bigram
    assert out[0]["bigram_count"] == 5
    assert out[10]["bigram_count"] == 5
    # templated pairs are high-probability -> fewer bits than novel pairs
    assert out[0]["bits_per_bigram"] < out[10]["bits_per_bigram"]


def test_ivfpq_topk_composes_pruning_and_adc(spark):
    """IVF-PQ: coarse pruning + ADC scoring over codes. On separable
    planted clusters with enough probes, the result set matches the
    query's own cluster; with nprobe covering all lists the ranking is
    the PQ-ADC ranking (pq_adc_topk) restricted to the probed corpus."""
    emb = _planted_clusters_emb(spark)
    qvec = emb.where(F.col("vec_id") == 0).first()["embedding"]
    cb, _ = similarity.pq_fit(emb, m=4, k=8, n_iter=4)
    # stride 5 -> centroid seeds at vec_ids 0,5,10; probing ALL 3 lists
    # makes the candidate set the whole corpus -> equals plain ADC top-k
    full = [r["vec_id"] for r in similarity.ivfpq_topk(
        emb, qvec, k=4, nprobe=3, stride=5, codebooks=cb).collect()]
    adc = [r["vec_id"] for r in similarity.pq_adc_topk(emb, cb, qvec, topk=4).collect()]
    assert full == adc
    # with 1 probe, results stay within the probed subset and the
    # query's planted group (ids {0,3,6,9}) dominates
    one = [r["vec_id"] for r in similarity.ivfpq_topk(
        emb, qvec, k=4, nprobe=1, stride=5, codebooks=cb).collect()]
    assert one[0] == 0  # self reconstructs closest
    assert set(one) <= {0, 3, 6, 9, 12, 13} and len(one) <= 4


def test_ivfpq_corpus_table_serves_identically(spark):
    """The persisted (codes bucketed by list + codebook table) layout
    serves ivfpq_topk byte-identically to the in-memory build, across a
    codebook reload — the encode-once-at-ingest contract."""
    import numpy as np

    emb = _planted_clusters_emb(spark)
    qvec = emb.where(F.col("vec_id") == 0).first()["embedding"]
    cb, tbl = similarity.ivfpq_corpus_table(
        emb, "ivfpq_probe", stride=5, m=4, pq_k=8, n_iter=4
    )
    cb2 = similarity.load_pq_codebook(spark, tbl)
    assert np.array_equal(cb, cb2)
    # the coarse quantizer reloads from the fingerprinted sidecar the
    # build persisted — never re-derived from the live embeddings frame
    cids, ccode, _fp = similarity.load_ivf_quantizer(spark, f"{tbl}_coarse")
    # NOTE no stride= here: the reloaded coarse quantizer IS the
    # quantizer — passing a stride alongside it now raises (ADVICE r8)
    served = similarity.ivfpq_topk(
        emb, qvec, k=4, nprobe=3,
        codes=spark.table(tbl), codebooks=cb2, coarse=(cids, ccode),
    ).collect()
    in_mem = similarity.ivfpq_topk(
        emb, qvec, k=4, nprobe=3, stride=5, codebooks=cb
    ).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in in_mem]
    # pre-encoded codes without their coarse quantizer must refuse —
    # re-deriving centroids from live embeddings drifts silently
    import pytest as _pytest

    with _pytest.raises(ValueError, match="coarse"):
        similarity.ivfpq_topk(
            emb, qvec, k=4, nprobe=3, stride=5,
            codes=spark.table(tbl), codebooks=cb2,
        )


def test_ivfpq_topk_batch_self_query_finds_own_cluster(spark):
    """Batch ADC over the persisted compressed index: every query gets
    exactly k ranked rows, the rank-1 neighbor lies in the query's own
    planted cluster at (near-)zero ADC distance, and the query's own
    codes tie that minimum (PQ maps tight-cluster members to IDENTICAL
    codes, so exact self-rank-1 is not guaranteed — ties break to the
    smaller vec_id — but the self distance must equal the best)."""
    emb = _planted_clusters_emb(spark)
    tbl = "ivfpq_batch_pytest"
    try:
        similarity.ivfpq_corpus_table(emb, tbl, stride=5, m=4, pq_k=8, n_iter=4)
        cb = similarity.load_pq_codebook(spark, tbl)
        cids, ccode, _fp = similarity.load_ivf_quantizer(spark, f"{tbl}_coarse")
        out = similarity.ivfpq_topk_batch(
            emb.select("vec_id", "embedding"), spark.table(tbl), cb,
            (cids, ccode), k=3, nprobe=5,
        ).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r["q_id"], []).append(r)
        assert set(by_q) == set(range(14))

        def cluster(vid):
            return vid % 3 if vid < 12 else 9  # planted layout

        for q, rs in by_q.items():
            rs = sorted(rs, key=lambda r: r["rank"])
            assert [r["rank"] for r in rs] == [1, 2, 3]
            assert cluster(rs[0]["vec_id"]) == cluster(q)
            # q's own codes tie the winning distance (identical codes
            # for tight-cluster members under coarse PQ)
            self_rows = [r for r in rs if r["vec_id"] == q]
            if self_rows:
                assert self_rows[0]["adc_dist2"] == rs[0]["adc_dist2"]
    finally:
        for t in (tbl, f"{tbl}_codebook", f"{tbl}_coarse"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_chunk_documents_overlap_and_edges(spark):
    """Window algebra: consecutive chunks share `overlap` tokens, every
    token is covered, short docs yield one short chunk, empty docs
    none; re-runs are identical (deterministic chunk ids)."""
    long_doc = " ".join(f"t{i}" for i in range(25))
    docs = spark.createDataFrame(
        [(1, long_doc), (2, "a b c"), (3, "")],
        "doc_id long, text string",
    )
    out = text.chunk_documents(docs, chunk_tokens=10, overlap=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 3 not in by_doc  # empty doc -> no chunks
    assert [(r["chunk_id"], r["n_tokens"]) for r in sorted(by_doc[2], key=lambda r: r["chunk_id"])] == [(0, 3)]
    ch = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    # starts advance by 6: 0, 6, 12, 18 -> lengths 10, 10, 10, 7
    assert [(r["chunk_id"], r["n_tokens"]) for r in ch] == [(0, 10), (1, 10), (2, 10), (3, 7)]
    toks = long_doc.split()
    for i, r in enumerate(ch):
        assert r["chunk_text"].split() == toks[i * 6 : i * 6 + 10]
    # overlap: chunk i's last 4 tokens == chunk i+1's first 4
    for a, b in zip(ch, ch[1:]):
        assert a["chunk_text"].split()[-4:] == b["chunk_text"].split()[:4]
    again = sorted(map(tuple, text.chunk_documents(docs, chunk_tokens=10, overlap=4).collect()))
    assert again == sorted(map(tuple, out))


def test_bpe_train_merges_classic_example(spark):
    """Sennrich et al.'s worked corpus: {low x5, lower x2, newest x6,
    widest x3}. The most frequent pair sequence starts (e,s) -> (es,t)
    -> (est,</w>) with count 9 each (newest+widest share the suffix);
    training is bit-deterministic and the final state segments every
    word with the learned merges applied greedily left-to-right."""
    words = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    merges, state = text.bpe_train_merges(docs, n_merges=6)
    first3 = [(m[1], m[2], m[3]) for m in merges[:3]]
    assert first3 == [("e", "s", 9), ("es", "t", 9), ("est", "</w>", 9)]
    assert [m[0] for m in merges] == list(range(len(merges)))
    segs = {r["word"]: (r["count"], list(r["syms"])) for r in state.collect()}
    assert segs["newest"][0] == 6
    assert segs["newest"][1][-1] == "est</w>"  # suffix fully merged
    # determinism: a rerun reproduces merges exactly
    merges2, _ = text.bpe_train_merges(docs, n_merges=6)
    assert merges2 == merges


def test_bpe_train_merges_early_stop(spark):
    """No pair reaching min_count stops training (standard BPE
    termination) instead of burning rounds on singleton merges."""
    docs = spark.createDataFrame(
        [(1, "abc xyz")], "doc_id long, text string"
    )
    merges, _ = text.bpe_train_merges(docs, n_merges=10, min_count=2)
    assert merges == []


def test_bpe_segment_stats_compresses_trained_words(spark):
    """Encoding with trained merges: words the merges were learned on
    segment into few symbols, unseen words stay near character-length,
    and the per-doc rollup counts every token occurrence."""
    words = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    train = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    merges, _ = text.bpe_train_merges(train, n_merges=10)
    docs = spark.createDataFrame(
        [(1, "newest newest widest"), (2, "zzzz")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.bpe_segment_stats(docs, merges).collect()}
    assert out[1]["word_count"] == 3
    # trained suffixes merged: far fewer symbols than characters
    assert out[1]["bpe_token_count"] < 3 * 7
    # unseen word: chars + end marker, nothing merges
    assert out[2]["word_count"] == 1 and out[2]["bpe_token_count"] == 5


def test_chunk_documents_rejects_token_losing_parameters(spark):
    """Negative overlap (step > window: tokens silently skipped) and
    non-positive window sizes must refuse instead of losing content."""
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for ct, ov in [(10, -2), (0, 0), (-5, 0), (10, 10), (10, 12)]:
        with pytest.raises(ValueError, match="chunk_tokens"):
            text.chunk_documents(docs, chunk_tokens=ct, overlap=ov)


# --- exact-substring excise spans (Lee et al. 2022 ExactSubstr) ---


def _span_rows(out):
    return sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_tokens"], r["dup_group"])
        for r in out.collect()
    )


def test_substring_spans_planted_duplicate_passage(spark):
    passage = " ".join(f"shared{i}" for i in range(6))
    doc_a = passage + " " + " ".join(f"aword{i}" for i in range(10))
    doc_b = " ".join(f"bword{i}" for i in range(10)) + " " + passage
    doc_c = " ".join(f"cword{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(0, doc_a), (1, doc_b), (2, doc_c)], "doc_id long, text string"
    )
    rows = _span_rows(text.substring_dup_spans(docs, min_tokens=4))
    # exactly the planted passage is excised, at its token offsets:
    # doc 0 tokens [0,5], doc 1 tokens [10,15]; doc 2 untouched
    assert [(r[0], r[1], r[2], r[3]) for r in rows] == [(0, 0, 5, 6), (1, 10, 15, 6)]
    # byte-identical passage -> one corpus-wide dup_group
    assert rows[0][4] == rows[1][4]


def test_substring_spans_doc_shorter_than_L_emits_nothing(spark):
    # both docs are the same 3-token text, duplicated corpus-wide, but
    # shorter than min_tokens=4: no qualifying substring can exist
    docs = spark.createDataFrame(
        [(0, "tiny dup text"), (1, "tiny dup text")], "doc_id long, text string"
    )
    assert text.substring_dup_spans(docs, min_tokens=4).count() == 0


def test_substring_spans_self_repeat_within_one_doc(spark):
    # the paper's definition counts a substring repeated WITHIN a
    # single document; phrase at token 0 and again at token 5
    phrase = "rep0 rep1 rep2 rep3"
    doc = phrase + " onlyonce " + phrase
    other = " ".join(f"zword{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(0, doc), (1, other)], "doc_id long, text string"
    )
    rows = _span_rows(text.substring_dup_spans(docs, min_tokens=4))
    # gap 5 > L=4 -> two separate spans, one per occurrence
    assert [(r[0], r[1], r[2], r[3]) for r in rows] == [(0, 0, 3, 4), (0, 5, 8, 4)]
    # identical phrase text -> same dup_group for both occurrences
    assert rows[0][4] == rows[1][4]


def test_substring_spans_adjacent_islands_merge_at_gap_L(spark):
    # two duplicated 4-grams at positions 0 and 4 in doc 0: their
    # covered intervals [0,3] and [4,7] touch, so the union is ONE
    # maximal span [0,7] (merge condition is gap <= L exactly)
    g1, g2 = "m0 m1 m2 m3", "n0 n1 n2 n3"
    doc_a = g1 + " " + g2 + " " + " ".join(f"atail{i}" for i in range(6))
    # doc B repeats g1 and g2 far apart so each gram is corpus-dup but
    # B's own islands stay separate (gap 9 > 4)
    doc_b = g1 + " " + " ".join(f"bmid{i}" for i in range(5)) + " " + g2
    docs = spark.createDataFrame(
        [(0, doc_a), (1, doc_b)], "doc_id long, text string"
    )
    rows = _span_rows(text.substring_dup_spans(docs, min_tokens=4))
    got = [(r[0], r[1], r[2], r[3]) for r in rows]
    assert (0, 0, 7, 8) in got  # merged maximal span in doc A
    assert (1, 0, 3, 4) in got and (1, 9, 12, 4) in got  # B stays split
    assert len(got) == 3


def test_substring_spans_unique_corpus_emits_nothing(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(f"u{i}w{j}" for j in range(12))) for i in range(4)],
        "doc_id long, text string",
    )
    assert text.substring_dup_spans(docs, min_tokens=4).count() == 0


def test_substring_spans_min_tokens_validation():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        text.substring_dup_spans(None, min_tokens=1)


def test_stride_with_explicit_codebook_raises(spark):
    """ADVICE r8: stride= alongside a caller-supplied codebook/coarse
    used to be SILENTLY ignored on the codebook path — the same
    caller-gets-a-different-index-than-asked bug the trained-path
    guard closed. All four surfaces must raise."""
    import pytest

    rows = [(v, [float(v % 3 == i) for i in range(4)]) for v in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    emb = emb.withColumn("label", F.lit(0))
    cbk = similarity.trained_codebook(emb, k=3, n_iter=2)
    with pytest.raises(ValueError, match="stride"):
        similarity.knn_join_ivf(emb, k=2, stride=7, codebook=cbk)
    with pytest.raises(ValueError, match="stride"):
        similarity.ivf_corpus_table(emb, "conflict_tbl2", stride=7, codebook=cbk)
    with pytest.raises(ValueError, match="stride"):
        similarity.ivfpq_corpus_table(
            emb, "conflict_tbl2", stride=7, coarse_codebook=cbk
        )
    with pytest.raises(ValueError, match="stride"):
        similarity.ivfpq_topk(
            emb, [1.0, 0.0, 0.0, 0.0], k=2, stride=7, coarse=cbk
        )


def test_rejected_corpus_build_preserves_existing_index(spark):
    """ADVICE r8 (medium): argument validation must run BEFORE the
    builders drop the existing table + quantizer sidecar — a rejected
    rebuild used to destroy the persisted serving index and THEN
    raise, leaving nothing behind."""
    import pytest

    rows = [(v, [float(v % 3 == i) for i in range(4)]) for v in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    emb = emb.withColumn("label", F.lit(0))

    tbl = "preserve_ivf_tbl"
    similarity.ivf_corpus_table(emb, tbl, num_buckets=2)
    n_before = spark.table(tbl).count()
    fp_before = similarity.load_ivf_quantizer(spark, f"{tbl}_quantizer")[2]
    with pytest.raises(ValueError, match="stride"):
        similarity.ivf_corpus_table(emb, tbl, stride=7, quantizer="trained")
    assert spark.table(tbl).count() == n_before
    assert similarity.load_ivf_quantizer(spark, f"{tbl}_quantizer")[2] == fp_before

    tbl2 = "preserve_ivfpq_tbl"
    similarity.ivfpq_corpus_table(emb, tbl2, m=4, pq_k=8, n_iter=2, num_buckets=2)
    n2_before = spark.table(tbl2).count()
    fp2_before = similarity.load_ivf_quantizer(spark, f"{tbl2}_coarse")[2]
    with pytest.raises(ValueError, match="stride"):
        similarity.ivfpq_corpus_table(emb, tbl2, stride=7, quantizer="trained")
    assert spark.table(tbl2).count() == n2_before
    assert similarity.load_ivf_quantizer(spark, f"{tbl2}_coarse")[2] == fp2_before


def test_bpe_merges_persist_reload_roundtrip(spark):
    """Train once, persist, reload in a 'later session': the reloaded
    merges must encode byte-identically to the in-memory list, and the
    fingerprint must re-verify on load (the tokenizer is part of the
    dataset contract)."""
    rows = [(i, "low lower lowest low low newer newest new") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges, _ = text.bpe_train_merges(docs, n_merges=8)
    assert merges  # the fixture trains at least one merge

    tbl = "bpe_merges_pytest"
    fp = text.persist_bpe_merges(spark, tbl, merges)
    loaded, fp2 = text.load_bpe_merges(spark, tbl)
    assert loaded == [(int(r), l, rt, int(n)) for r, l, rt, n in merges]
    assert fp2 == fp == text.bpe_fingerprint(merges)

    in_mem = sorted(map(tuple, text.bpe_segment_stats(docs, merges).collect()))
    reloaded = sorted(map(tuple, text.bpe_segment_stats(docs, loaded).collect()))
    assert in_mem == reloaded


def test_bpe_merges_fingerprint_mismatch_raises(spark):
    rows = [(0, "aa aa aa ab ab")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges, _ = text.bpe_train_merges(docs, n_merges=4, min_count=2)
    tbl = "bpe_merges_corrupt_pytest"
    text.persist_bpe_merges(spark, tbl, merges)
    # tamper with one merge row, keeping the stored fingerprint
    from metrocloud_data_pipeline_spark.operators.maintenance import _fs_delete

    bad = spark.table(tbl).withColumn("right", F.lit("ZZZ"))
    spark.sql(f"DROP TABLE IF EXISTS {tbl}_bad")
    _fs_delete(f"{spark.conf.get('spark.sql.warehouse.dir').rstrip('/')}/{tbl}_bad")
    bad.write.mode("overwrite").saveAsTable(f"{tbl}_bad")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="fingerprint"):
        text.load_bpe_merges(spark, f"{tbl}_bad")


def test_bpe_persist_rejects_empty_and_load_rejects_missing_rows(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty"):
        text.persist_bpe_merges(spark, "bpe_never_written", [])


def test_ivfpq_recall_report_bounds_and_planted_clusters(spark):
    """On well-separated planted clusters with enough probes and a
    fine-enough PQ, the compressed index recovers the exact in-cluster
    neighborhood: recall bounds [0,1] always, and near-1 here. Also
    verifies the self-exclusion contract (a corpus query is never its
    own neighbor, so n_hits <= k for every row)."""
    emb = _planted_clusters_emb(spark)
    k = 3
    rep = {r["q_id"]: r for r in similarity.ivfpq_recall_report(
        emb, k=k, nprobe=3, max_queries=12, m=4, pq_k=8, n_iter=4
    ).collect()}
    assert set(rep) == set(range(12))  # every sampled query reported
    for r in rep.values():
        assert 0.0 <= r["recall"] <= 1.0
        assert r["n_hits"] <= k
    # cluster members' true top-3 are the other 3 members; generous
    # probes + 8 codes/subspace on 12 tight vectors recover them
    avg = sum(r["recall"] for r in rep.values()) / len(rep)
    assert avg >= 0.9


def test_ivfpq_recall_report_audits_persisted_index(spark):
    """The report audits a LIVE persisted ivfpq_corpus_table through
    the same reload path the serving tier uses — and refuses codes
    without both quantizer halves."""
    import pytest as _pytest

    emb = _planted_clusters_emb(spark)
    tbl = "ivfpq_recall_pytest"
    similarity.ivfpq_corpus_table(emb, tbl, m=4, pq_k=8, n_iter=4, num_buckets=2)
    cb = similarity.load_pq_codebook(spark, tbl)
    cids, ccode, _fp = similarity.load_ivf_quantizer(spark, f"{tbl}_coarse")
    rep = similarity.ivfpq_recall_report(
        emb, k=3, nprobe=3, max_queries=12,
        codes=spark.table(tbl), codebooks=cb, coarse=(cids, ccode),
    ).collect()
    assert len(rep) == 12
    assert all(0.0 <= r["recall"] <= 1.0 for r in rep)
    with _pytest.raises(ValueError, match="quantizer halves"):
        similarity.ivfpq_recall_report(
            emb, k=3, codes=spark.table(tbl), codebooks=cb
        )


@pytest.mark.slow
def test_ivfpq_refined_beats_pure_adc_and_serves_external_queries(spark):
    """The refine stage (ADC retrieve rf*k -> exact cosine re-rank,
    FAISS IndexRefineFlat) must dominate pure ADC on the recall audit,
    and in external-query mode return exactly k ranked rows per query
    with no self-exclusion applied."""
    emb = _planted_clusters_emb(spark)
    pure = similarity.ivfpq_recall_report(
        emb, k=3, nprobe=3, max_queries=12, m=4, pq_k=8, n_iter=4
    ).agg(F.avg("recall").alias("a")).first()["a"]
    refined = similarity.ivfpq_recall_report(
        emb, k=3, nprobe=3, max_queries=12, m=4, pq_k=8, n_iter=4,
        refine_factor=3,
    ).agg(F.avg("recall").alias("a")).first()["a"]
    assert refined >= pure
    assert refined >= 0.9  # exact re-rank recovers the planted order

    # external serving: queries disjoint from the corpus, k rows each,
    # rank-1 lands in the query's own planted cluster
    import numpy as np
    tbl = "ivfpq_refined_pytest"
    similarity.ivfpq_corpus_table(emb, tbl, m=4, pq_k=8, n_iter=4, num_buckets=2)
    cb = similarity.load_pq_codebook(spark, tbl)
    cids, ccode, _fp = similarity.load_ivf_quantizer(spark, f"{tbl}_coarse")
    qrows = []
    for c in range(3):
        v = [0.0] * 8
        v[c] = 1.0
        qrows.append((1000 + c, [float(x) for x in np.array(v) / np.linalg.norm(v)]))
    qs = spark.createDataFrame(qrows, "vec_id long, embedding array<float>")
    out = similarity.ivfpq_topk_batch_refined(
        qs, spark.table(tbl), cb, (cids, ccode), emb,
        k=3, nprobe=2, refine_factor=2,
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append(r)
    assert set(by_q) == {1000, 1001, 1002}
    labels = {r["vec_id"]: r["label"] for r in emb.collect()}
    for qid, rows in by_q.items():
        assert len(rows) == 3
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == [1, 2, 3]
        top = min(rows, key=lambda r: r["rank"])
        assert labels[top["vec_id"]] == qid - 1000  # own planted cluster


def test_exact_chunk_dedup_planted_boilerplate(spark):
    """A boilerplate passage repeated across docs (and twice inside one
    doc) collapses to ONE keeper chunk — the lexicographic min
    (doc_id, chunk_id) pair — while unique chunks stay singletons.
    Case-insensitive digest, chunk-grid alignment from
    chunk_documents."""
    boiler = " ".join(f"lic{i}" for i in range(4))  # one full 4-token chunk
    rows = [
        (1, boiler + " " + boiler),     # chunks 0 and 1 both == boiler
        (2, boiler.upper()),            # case-variant copy
        (3, " ".join(f"u{i}" for i in range(4))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    chunks = text.chunk_documents(docs, chunk_tokens=4, overlap=0)
    out = {r["chunk_hash"]: r for r in dedup.exact_chunk_dedup(chunks).collect()}
    groups = sorted((r["dup_count"], r["keep_doc_id"], r["keep_chunk_id"])
                    for r in out.values())
    # boiler appears 3x (doc1 chunk0, doc1 chunk1, doc2 chunk0);
    # keeper = (1, 0). doc3's chunk is unique.
    assert groups == [(1, 3, 0), (3, 1, 0)]


def test_excise_dup_spans_removes_planted_passages(spark):
    """Applying ExactSubstr: the duplicated passage disappears from
    every doc (case-insensitively), unique docs pass through in
    normalized form, a fully-duplicated doc becomes empty, and
    n_tokens_removed matches the span report."""
    passage = " ".join(f"s{i}" for i in range(6))
    rows = [
        (1, passage + " " + " ".join(f"a{i}" for i in range(5))),
        (2, " ".join(f"b{i}" for i in range(5)) + " " + passage.upper()),
        (3, " ".join(f"c{i}" for i in range(8))),
        (4, passage),  # nothing but the duplicated passage
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.excise_dup_spans(docs, min_tokens=4).collect()}
    assert set(out) == {1, 2, 3, 4}  # every doc returns exactly one row
    assert out[1]["clean_text"] == " ".join(f"a{i}" for i in range(5))
    assert out[2]["clean_text"] == " ".join(f"b{i}" for i in range(5))
    assert out[3]["clean_text"] == " ".join(f"c{i}" for i in range(8))
    assert out[4]["clean_text"] == ""
    assert {d: r["n_tokens_removed"] for d, r in out.items()} == {1: 6, 2: 6, 3: 0, 4: 6}
    # reusing a precomputed spans frame gives identical output
    spans = text.substring_dup_spans(docs, min_tokens=4)
    again = {r["doc_id"]: tuple(r)
             for r in text.excise_dup_spans(docs, spans=spans).collect()}
    assert again == {d: tuple(r) for d, r in out.items()}


def test_embed_decontaminate_flags_planted_leakage(spark):
    """A corpus copy of an eval vector flags contaminated at sim 1.0,
    an orthogonal vector does not, every corpus vector reports exactly
    once, and equidistant eval ties resolve to the smaller eval id."""
    ev = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),     # exact copy of eval 100
            (2, [0.9, 0.1, 0.0, 0.0]),     # near eval 100
            (3, [0.0, 0.0, 0.0, 1.0]),     # orthogonal to both
            (4, [1.0, 1.0, 0.0, 0.0]),     # equidistant from 100 and 101
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in similarity.embed_decontaminate(
        corpus, ev, threshold=0.95
    ).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["contaminated"] and out[1]["max_sim"] == 1.0
    assert out[1]["eval_vec_id"] == 100
    assert out[2]["contaminated"] and out[2]["eval_vec_id"] == 100
    assert not out[3]["contaminated"] and out[3]["max_sim"] == 0.0
    assert out[4]["eval_vec_id"] == 100  # tie -> smaller eval id
    assert not out[4]["contaminated"]   # cos = 1/sqrt(2) < 0.95


def test_embed_decontaminate_empty_eval_raises(spark):
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    empty = corpus.where(F.lit(False))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty"):
        similarity.embed_decontaminate(corpus, empty)


def test_keep_best_list_keeps_highest_quality_member(spark):
    """The quality-aware keeper: in each cluster the highest-quality
    member keeps (ties to the smaller doc_id), everything else drops,
    unclustered docs keep — and exactly one keeper per cluster."""
    docs = spark.createDataFrame(
        [
            (1, "short", 5),
            (2, "the full long copy", 18),   # cluster A winner (longest)
            (3, "the full long c", 15),
            (10, "tie a", 7),                # cluster B: tie on quality,
            (11, "tie b", 7),                # smaller doc_id (10) wins
            (20, "unique standalone", 17),
        ],
        "doc_id long, text string, n_chars long",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, cluster_id long",
    )
    out = {r["doc_id"]: r for r in dedup.keep_best_list(docs, clusters).collect()}
    assert {d: r["keep"] for d, r in out.items()} == {
        1: False, 2: True, 3: False, 10: True, 11: False, 20: True,
    }
    assert out[20]["cluster_id"] is None
    per_cluster = {}
    for r in out.values():
        if r["cluster_id"] is not None and r["keep"]:
            per_cluster[r["cluster_id"]] = per_cluster.get(r["cluster_id"], 0) + 1
    assert per_cluster == {1: 1, 10: 1}


def test_minhash_recall_report_tracks_s_curve(spark):
    """Planted-overlap corpus: top-Jaccard bucket recall is exactly 1,
    every bucket is bounded, and the theoretical S-curve is monotone
    with the bucket edge."""
    base = [f"tok{i}" for i in range(60)]
    rows, did = [], 0
    for frac in (1.0, 0.97, 0.9, 0.8, 0.6, 0.45, 0.3):
        for _ in range(6):
            n_keep = int(60 * frac)
            toks = base[:n_keep] + [f"x{did}_{j}" for j in range(60 - n_keep)]
            rows.append((did, " ".join(toks)))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    rep = dedup.minhash_recall_report(docs, max_docs=100).collect()
    assert rep, "no buckets reported"
    by_lo = {r["bucket_lo"]: r for r in rep}
    # identical + 0.9-overlap variants land in the top bucket: at
    # J >= 0.8 the 32-band hit probability is 1 - 1e-10 — recall 1.0
    assert by_lo[0.8]["recall"] == 1.0
    for r in rep:
        assert 0.0 <= r["recall"] <= 1.0
        assert 0.0 <= r["expected_recall"] <= 1.0
        assert r["n_caught"] <= r["n_true_pairs"]
    los = sorted(by_lo)
    exp = [by_lo[lo]["expected_recall"] for lo in los]
    assert exp == sorted(exp), "S-curve must be monotone in J"
    # the measured curve rises with J as well (end-to-end sanity)
    rec = [by_lo[lo]["recall"] for lo in los]
    assert rec[-1] >= rec[0]


def test_minhash_dedup_rejects_bands_that_do_not_divide_num_perm(spark):
    # 64 // 10 = 6 would band only 60 of the 64 permutations
    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="must divide"):
        dedup.minhash_dedup(docs, num_perm=64, bands=10)


def test_minhash_recall_report_rejects_bad_bands(spark):
    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="must divide"):
        dedup.minhash_recall_report(docs, num_perm=100, bands=32)


def test_sentence_span_dedup_c4(spark):
    """C4 three-sentence-span dedup on planted fixtures: the first
    occurrence keeps its span, every later occurrence is excised as a
    position union; short/empty/null docs pass through."""
    rows = [
        (1, "Alpha one here. Beta two here. Gamma three here. Delta four here."),
        (2, "Intro line! Alpha one here. Beta two here. Gamma three here. Outro."),
        (3, "Totally unique sentence. Another unique one? Third unique one."),
        (4, "Short."),
        (5, ""),
        (6, None),
        # self-repeat within one doc: spans (0,1,2) and (3,4,5) are
        # identical -> the second occurrence is removed
        (7, "One a. Two b. Three c. One a. Two b. Three c."),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.sentence_span_dedup(docs).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6, 7}

    # doc 1 is the lexicographic-first owner of the shared span -> intact
    assert out[1]["removed_sentences"] == 0
    assert out[1]["clean_text"].startswith("Alpha one here")

    # doc 2 loses the duplicated 3-sentence span, keeps intro/outro
    r2 = out[2]
    assert r2["n_sentences"] == 5 and r2["n_spans"] == 3
    assert r2["n_dup_spans"] == 1 and r2["removed_sentences"] == 3
    assert r2["clean_text"] == "Intro line Outro"

    # unique docs untouched; sub-span docs emit zero spans
    assert out[3]["removed_sentences"] == 0
    assert out[4]["n_spans"] == 0 and out[4]["clean_text"] == "Short"
    for d in (5, 6):
        assert out[d]["n_sentences"] == 0 and out[d]["clean_text"] == ""

    # doc 7 self-repeat: 6 sentences, spans at 0..3; span(0) == span(3),
    # keeper is start 0 -> positions 3,4,5 removed. Spans 1 and 2 are
    # unique (they straddle the seam), so exactly one dup span.
    r7 = out[7]
    assert r7["n_dup_spans"] == 1
    assert r7["removed_sentences"] == 3
    assert r7["clean_text"] == "One a Two b Three c"


def test_ivfpq_refine_sweep_monotone(spark):
    """The refine sweep on planted clusters: one row per factor in
    ascending order, recalls bounded, mean recall monotone
    non-decreasing in rf, and a bad factor raises."""
    emb = _planted_clusters_emb(spark)
    rows = similarity.ivfpq_refine_sweep(
        emb, k=3, nprobe=3, max_queries=12, factors=(1, 2, 4),
        m=4, pq_k=8, n_iter=4,
    ).collect()
    assert [r["refine_factor"] for r in rows] == [1, 2, 4]
    for r in rows:
        assert r["n_queries"] == 12
        assert 0.0 <= r["min_recall"] <= r["mean_recall"] <= 1.0
    means = [r["mean_recall"] for r in rows]
    assert means == sorted(means), f"recall must not degrade with rf: {means}"
    # separable clusters + generous settings: the curve saturates high
    assert means[-1] >= 0.9

    with pytest.raises(ValueError, match="factors must be >= 1"):
        similarity.ivfpq_refine_sweep(emb, factors=(0, 2))


def test_diverse_sample_quotas_and_determinism(spark):
    """Exact mode keeps ceil(frac * n_c) per cluster (singleton tail
    clusters always survive), reruns are identical, and the approx
    twin is the pure hash threshold."""
    emb = _planted_clusters_emb(spark)
    out = similarity.diverse_sample(emb, frac=0.5, k=4).collect()
    assert len(out) == 14
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    import math
    for cid, rows in by_cluster.items():
        kept = sum(1 for r in rows if r["keep"])
        assert kept == math.ceil(len(rows) * 0.5), (cid, len(rows), kept)
    # every cluster keeps at least one member — the diversity contract
    assert all(any(r["keep"] for r in rows) for rows in by_cluster.values())
    # deterministic: identical rerun
    again = similarity.diverse_sample(emb, frac=0.5, k=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    approx = similarity.diverse_sample(emb, frac=0.5, k=4, exact=False).collect()
    for r in approx:
        assert r["keep"] == (r["sample_u"] < 0.5)

    with pytest.raises(ValueError, match="frac"):
        similarity.diverse_sample(emb, frac=0.0)


def test_dedup_cluster_histogram_shapes(spark):
    """Histogram over planted components: a 3-chain, a 2-pair, and a
    singleton-free tail — sizes and doc mass add up."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    clusters = dedup.duplicate_clusters(pairs)
    hist = {r["cluster_size"]: r for r in (
        clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"), F.sum("cluster_size").alias("n_docs"))
        .collect())}
    assert hist[3]["n_clusters"] == 1 and hist[3]["n_docs"] == 3
    assert hist[2]["n_clusters"] == 1 and hist[2]["n_docs"] == 2
    assert sum(r["n_docs"] for r in hist.values()) == 5


# --- round-9 batch 2: fertility / diversity / entropy / overlap / fusion ---


def test_subword_fertility_exact_values(spark):
    rows = [
        (0, "ab abcd abcdefgh", "en", "s0", 16),
        (1, "xyzzy", "de", "s0", 5),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["lang"]: r for r in text.subword_fertility_stats(docs, piece_len=4).collect()}
    en = out["en"]
    # words: ab(2), abcd(4), abcdefgh(8) -> pieces 1,1,2
    assert en["n_words"] == 3
    assert en["avg_word_len"] == pytest.approx((2 + 4 + 8) / 3, abs=1e-6)
    assert en["pieces_per_word"] == pytest.approx(4 / 3, abs=1e-6)
    assert en["chars_per_piece"] == pytest.approx(14 / 4, abs=1e-6)
    de = out["de"]
    assert de["n_words"] == 1 and de["pieces_per_word"] == 2.0


def test_ngram_diversity_flags_repetitive_source(spark):
    rep = " ".join(["spam"] * 40)
    div = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(0, rep, "en", "boiler", len(rep)), (1, div, "en", "fresh", len(div))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {(r["source"], r["n"]): r for r in text.ngram_diversity(docs).collect()}
    assert out[("boiler", 1)]["distinct_grams"] == 1
    assert out[("boiler", 2)]["diversity"] == pytest.approx(1 / 39, abs=1e-6)
    assert out[("fresh", 1)]["diversity"] == 1.0
    assert out[("fresh", 3)]["total_grams"] == 38
    assert out[("fresh", 3)]["distinct_grams"] == 38


def test_ngram_diversity_duplicate_ns_not_double_counted(spark):
    """ADVICE r15: a duplicate n in `ns` must not double-count
    total_grams into the merged (source, n) row — the multi-n gram
    rows dedupe ns at entry so (2, 2) behaves exactly like (2,)."""
    docs = spark.createDataFrame(
        [(0, "a b c d", "en", "s0", 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    once = {r["n"]: r for r in text.ngram_diversity(docs, ns=(2,)).collect()}
    dup = {r["n"]: r for r in text.ngram_diversity(docs, ns=(2, 2)).collect()}
    assert dup == once
    assert dup[2]["total_grams"] == 3


def test_text_tier_edge_texts_pin_token_forms(spark):
    """Edge texts the generated corpora never hold (empty, spaces only, a
    leading tab, a trailing newline, \\r\\n, one token, NULL) pin which
    token form each text-tier key reads. Gram, digest, token-set and
    LM-token keys split norm_text on " ", so empty text is the one token
    [""]; the tf-idf term stream reads tokens_col, which gives []. trim
    strips spaces only, so an edge tab or newline survives norm_text as
    a space and splits off a "" token in both forms."""
    import hashlib

    edge = [
        (0, ""), (1, "   "), (2, "\tAlpha beta"), (3, "alpha Beta\n"),
        (4, "alpha\r\nbeta  gamma"), (5, "Solo"), (6, None), (7, "  a  b   c "),
        (8, " \t "), (9, "x y z w"),
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "s0", len(t or "")) for i, t in edge],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    toks = {
        0: [""], 1: [""], 2: ["", "alpha", "beta"], 3: ["alpha", "beta", ""],
        4: ["alpha", "beta", "gamma"], 5: ["solo"], 7: ["a", "b", "c"],
        8: ["", ""], 9: ["x", "y", "z", "w"],
    }

    def grams(t, n, whole=False):
        if whole and len(t) < n:
            return [" ".join(t)]
        return [" ".join(t[i:i + n]) for i in range(len(t) - n + 1)]

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    for n in (1, 2, 3):
        got = {tuple(r) for r in curation.ngram_hashes(docs, n).collect()}
        assert got == {(d, md5(g)) for d, t in toks.items() for g in grams(t, n)}, n
    tagged = sorted(tuple(r) for r in text._tagged_gram_rows(docs, (1, 2, 3), "doc_id").collect())
    assert tagged == sorted(
        (d, n, g) for d, t in toks.items() for n in (1, 2, 3) for g in grams(t, n)
    )

    fps = set()
    for d, t in toks.items():
        h = [md5(g) for g in grams(t, 2, whole=True)]
        fps |= {(d, min(h[i:i + 2])) for i in range(len(h))}
    assert {tuple(r) for r in text.winnow_fingerprints(docs, k=2, w=2).collect()} == fps

    shingle_grams = spark.createDataFrame(
        [(d, g) for d, t in toks.items() for g in grams(t, 2, whole=True)],
        "doc_id long, gram string",
    ).select("doc_id", F.xxhash64("gram").alias("shingle"))
    assert sorted(tuple(r) for r in dedup.shingles(docs, k=2).collect()) == sorted(
        tuple(r) for r in shingle_grams.collect()
    )

    keys = {
        r["doc_id"]: (r["s"], r["h"])
        for r in docs.select(
            "doc_id",
            dedup.token_set(F.col("text")).alias("s"),
            dedup.text_digest(F.col("text")).alias("h"),
        ).collect()
    }
    assert keys == {
        6: (None, None),
        **{d: (list(dict.fromkeys(t)), md5(" ".join(t))) for d, t in toks.items()},
    }
    lm = curation.lm_token_rows(docs, F.lit(True)).select("doc_id", "token").collect()
    assert sorted(tuple(r) for r in lm) == sorted((d, w) for d, t in toks.items() for w in t)

    terms = {d: ([] if t == [""] else t) for d, t in toks.items()}
    tf = text.tfidf_top_terms(docs, k=10).select("doc_id", "term", "tf").collect()
    assert {tuple(r) for r in tf} == {
        (d, w, t.count(w)) for d, t in terms.items() for w in t
    }


def test_char_entropy_extremes(spark):
    docs = spark.createDataFrame(
        [
            (0, "aaaaaaaa", "en", "s0", 8),     # one symbol -> 0 bits
            (1, "abababab", "en", "s0", 8),     # two equiprobable -> 1 bit
            (2, "abcdefgh", "en", "s0", 8),     # eight equiprobable -> 3 bits
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["doc_id"]: r for r in text.char_entropy_panel(docs, low_bits=3.5).collect()}
    assert out[0]["entropy_bits"] == 0.0 and out[0]["low_entropy"]
    assert out[1]["entropy_bits"] == pytest.approx(1.0, abs=1e-6)
    assert out[2]["entropy_bits"] == pytest.approx(3.0, abs=1e-6)
    assert out[2]["low_entropy"]
    assert out[0]["n_chars_norm"] == 8


def test_source_overlap_matrix_planted_share(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # exactly 8 tokens
    rows = [
        (0, shared + " tail0 only0", "en", "sA", 60),
        (1, "head1 " + shared, "en", "sB", 54),
        (2, "totally unrelated words that never overlap anything here", "en", "sC", 57),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = dedup.source_overlap_matrix(docs, n=8).collect()
    got = {(r["src_a"], r["src_b"]): r["shared_grams"] for r in out}
    # the single planted 8-gram is the only one both sources contain
    assert got == {("sA", "sB"): 1}


def test_source_overlap_matrix_cap_fails_loud(spark):
    shared = "one two three four five six seven eight"
    rows = [(i, shared, "en", f"s{i}", len(shared)) for i in range(5)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = dedup.source_overlap_matrix(docs, n=8, max_sources_per_gram=3).collect()
    # the gram crosses 5 > 3 sources: no silent pairs, one accounting row
    assert len(out) == 1
    r = out[0]
    assert r["src_a"] == "__dropped_grams__" and r["shared_grams"] == 1


def test_quality_rank_fusion_order_and_scores(spark):
    rows = [
        (0, " ".join(f"w{i}" for i in range(30)), "en", "s0", 150),  # long+diverse
        (1, " ".join(["dup"] * 30), "en", "s0", 150),                # long, no diversity
        (2, "short text here", "en", "s0", 15),                      # short
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = curation.quality_rank_fusion(docs, k=60, top_n=3).collect()
    assert [r["doc_id"] for r in out][0] == 0  # wins len AND diversity
    r0 = out[0]
    expect = 1 / (60 + r0["rank_len"]) + 1 / (60 + r0["rank_ttr"]) + 1 / (60 + r0["rank_cpt"])
    assert r0["rrf_score"] == pytest.approx(expect, abs=1e-6)
    # ranks are a permutation with doc_id tiebreaks -> all distinct per signal
    assert len({r["rank_len"] for r in out}) == 3


def test_zipf_slope_exact_fit(spark):
    # freq = 12/rank exactly at ranks 1..4 -> slope -1, r2 = 1
    toks = ["a"] * 12 + ["b"] * 6 + ["c"] * 4 + ["d"] * 3
    rows = [(0, " ".join(toks), "en", "zipfy", 1)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    r = text.zipf_slope_by_source(docs).collect()[0]
    assert r["n_terms"] == 4
    assert r["zipf_slope"] == pytest.approx(-1.0, abs=1e-6)
    assert r["r2"] == pytest.approx(1.0, abs=1e-6)


def test_zipf_slope_degenerate_sources_null(spark):
    rows = [
        (0, "solo solo solo", "en", "one_term", 14),     # a single term
        (1, "x y", "en", "flat", 3),                     # all counts equal
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["source"]: r for r in text.zipf_slope_by_source(docs).collect()}
    assert out["one_term"]["zipf_slope"] is None          # var_x = 0
    assert out["flat"]["zipf_slope"] == 0.0               # var_y = 0 -> flat line
    assert out["flat"]["r2"] is None


def test_source_js_divergence_identity_and_disjoint(spark):
    rows = [
        (0, "alpha beta gamma", "en", "sA", 16),
        (1, "alpha beta gamma", "en", "sB", 16),   # identical distribution
        (2, "delta epsilon", "en", "sC", 13),      # disjoint vocabulary
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {(r["src_a"], r["src_b"]): r for r in curation.source_js_divergence(docs).collect()}
    assert out[("sA", "sB")]["jsd_bits"] == 0.0
    assert out[("sA", "sB")]["shared_vocab"] == 3
    # disjoint pairs never reach the inner join -> absent (JSD = 1 bit)
    assert ("sA", "sC") not in out and ("sB", "sC") not in out


def test_source_js_divergence_partial_overlap_value(spark):
    import math

    # A = {x: 1.0}; B = {x: 0.5, y: 0.5}
    rows = [(0, "x x", "en", "A", 3), (1, "x y", "en", "B", 3)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    r = curation.source_js_divergence(docs).collect()[0]
    nats = 0.5 * (1.0 * math.log(1.0 / 0.75) + 0.5 * math.log(0.5 / 0.75)) + 0.5 * math.log(
        2
    ) * (0.0 + 0.5)
    assert r["jsd_bits"] == pytest.approx(nats / math.log(2), abs=1e-6)
    assert r["shared_vocab"] == 1


def test_embed_label_purity_planted(spark):
    rows = [
        (0, [1.0, 0.05], 0),
        (1, [1.0, -0.05], 0),
        (2, [0.9, 0.0], 0),
        (3, [0.05, 1.0], 1),
        (4, [-0.05, 1.0], 1),
        (5, [0.0, 1.1], 0),   # labeled 0 but lives with label 1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["label"]: r for r in similarity.embed_label_purity(emb).collect()}
    assert out[1]["purity"] == 1.0
    assert out[0]["n_vecs"] == 4 and out[0]["n_correct"] == 3
    assert out[0]["purity"] == pytest.approx(0.75, abs=1e-6)


def test_kn_bigram_surprisal_hand_computed(spark):
    import math

    rows = [
        (0, "a b", "en", "s0", 3),
        (1, "a b", "en", "s0", 3),
        (2, "a c", "en", "s0", 3),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r for r in text.kn_bigram_surprisal(docs).collect()}
    # c(a b)=2, c(a c)=1; cp(a)=3, nfwd(a)=2; nback(b)=nback(c)=1; B=2
    p_ab = (2 - 0.75) / 3 + 0.75 * 2 / 3 * 1 / 2
    p_ac = (1 - 0.75) / 3 + 0.75 * 2 / 3 * 1 / 2
    assert p_ab + p_ac == pytest.approx(1.0)  # KN normalizes over seen mass here
    assert out[0]["kn_bits_per_bigram"] == pytest.approx(-math.log2(p_ab), abs=1e-6)
    assert out[2]["kn_bits_per_bigram"] == pytest.approx(-math.log2(p_ac), abs=1e-6)
    assert out[0]["bigram_count"] == 1


def test_kn_discount_penalises_single_template_pairs(spark):
    # "x y" occurs 5x but only ever as one template; "p q"/"p r" spread
    # p's mass. KN gives "x y" LESS probability than its MLE 1.0.
    rows = [(i, "x y", "en", "s0", 3) for i in range(5)] + [
        (10, "p q", "en", "s0", 3),
        (11, "p r", "en", "s0", 3),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r for r in text.kn_bigram_surprisal(docs).collect()}
    assert out[0]["kn_bits_per_bigram"] > 0.0  # MLE would give exactly 0 bits


def test_kn_trigram_surprisal_hand_computed(spark):
    import math

    rows = [
        (0, "a b c", "en", "s0", 5),
        (1, "a b c", "en", "s0", 5),
        (2, "a b d", "en", "s0", 5),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r for r in text.kn_trigram_surprisal(docs).collect()}
    D = 0.75
    # trigram types: (a b c) ct=2, (a b d) ct=1; hist "a b": ch=3, nfwd=2
    # suffix pairs (mid,cur): (b,c) cc=1, (b,d) cc=1  [distinct w1 = {a}]
    # mid b: ccsum=2, nfwd_mid=2; cur c: nback=1; cur d: nback=1; B=2
    pmid_c = max(1 - D, 0) / 2 + D * 2 / 2 * 1 / 2
    pmid_d = pmid_c
    p_abc = max(2 - D, 0) / 3 + D * 2 / 3 * pmid_c
    p_abd = max(1 - D, 0) / 3 + D * 2 / 3 * pmid_d
    assert p_abc + p_abd == pytest.approx(1.0)  # normalizes over seen mass
    assert out[0]["kn3_bits_per_trigram"] == pytest.approx(
        -math.log2(p_abc), abs=1e-6
    )
    assert out[2]["kn3_bits_per_trigram"] == pytest.approx(
        -math.log2(p_abd), abs=1e-6
    )
    assert out[0]["trigram_count"] == 1
    # docs with < 3 tokens emit no row
    short = spark.createDataFrame(
        [(9, "a b", "en", "s0", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    assert text.kn_trigram_surprisal(short).count() == 0


def test_kn_trigram_discount_penalises_single_template(spark):
    # "x y z" occurs 5x but only as one template; "p q r"/"p q s" spread
    # their history's mass. MLE would give the template 0 bits; KN's
    # discount must not, and the versatile history must stay cheaper
    # per trigram than a template that frequent deserves under MLE.
    rows = [(i, "x y z", "en", "s0", 5) for i in range(5)] + [
        (10, "p q r", "en", "s0", 5),
        (11, "p q s", "en", "s0", 5),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r for r in text.kn_trigram_surprisal(docs).collect()}
    assert out[0]["kn3_bits_per_trigram"] > 0.0  # MLE gives exactly 0


@pytest.mark.slow
def test_langid_trained_beats_heuristic_on_planted_corpus(spark):
    # Two planted "languages" whose words appear in NO stopword profile
    # (the heuristic predicts unknown for every doc) but whose character
    # distributions are trivially separable. The trained classifier must
    # recover the declared labels; the heuristic cannot.
    rows = []
    for i in range(12):
        rows.append((i, "zanzi zunzo zinza zonzu zanzu", "aa", "s0", 29))
    for i in range(12, 24):
        rows.append((i, "karto kirti kurta korto kirtu", "bb", "s0", 29))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["lang"]: r for r in text.langid_trained_report(docs).collect()}
    assert set(out) == {"aa", "bb"}
    for lang in ("aa", "bb"):
        assert out[lang]["n_docs"] == 12
        assert out[lang]["heur_match"] == 0  # no profile words present
        assert out[lang]["trained_match"] == 12
        assert out[lang]["trained_agreement"] == pytest.approx(1.0)
        assert out[lang]["trained_agreement"] > out[lang]["heur_agreement"]


@pytest.mark.slow
def test_langid_trained_null_lang_reports_zero_not_null(spark):
    # a NULL declared lang must group under '' with REAL zero/zero-able
    # match counts — uncoalesced, predicted == lang is NULL for the
    # whole group and the sums/avgs go NULL instead of 0
    rows = [(i, "zanzi zunzo zinza zonzu", None, "s0", 23) for i in range(6)] + [
        (10 + i, "the cat and the dog sat in it", "en", "s0", 29) for i in range(6)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["lang"]: r for r in text.langid_trained_report(docs).collect()}
    assert set(out) == {"", "en"}
    nul = out[""]
    assert nul["n_docs"] == 6
    assert nul["heur_match"] == 0 and nul["heur_agreement"] == 0.0
    assert nul["trained_match"] is not None and nul["trained_agreement"] is not None


@pytest.mark.slow
def test_langid_trained_is_deterministic(spark):
    rows = [
        (i, t, l, "s0", len(t))
        for i, (t, l) in enumerate(
            [
                ("the cat and the dog sat in the sun", "en"),
                ("el gato y el perro en la casa de los", "es"),
                ("le chat et le chien dans la maison du", "fr"),
                ("the quick brown fox jumps over it", "en"),
                ("la vida es un sueno y los suenos son", "es"),
                ("les enfants du quartier et des champs", "fr"),
            ]
        )
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    a = sorted(map(tuple, text.langid_trained_report(docs).collect()))
    b = sorted(map(tuple, text.langid_trained_report(docs).collect()))
    assert a == b  # bit-identical refits (lr_fit's determinism contract)


def test_mixture_epoch_plan_caps_and_zero_weight(spark):
    rows = [(i, " ".join(["w"] * 10), "en", src, 20) for i, src in enumerate(["A", "B", "C"])]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {
        r["source"]: r
        for r in curation.mixture_epoch_plan(
            docs, weights={"A": 1.0, "B": 3.0}, token_budget=40, max_epochs=2.0
        ).collect()
    }
    a, b, c = out["A"], out["B"], out["C"]
    assert a["avail_tokens"] == 10 and a["epochs"] == 1.0 and not a["capped"]
    assert b["target_tokens"] == 30.0 and b["epochs"] == 3.0 and b["capped"]
    assert b["effective_epochs"] == 2.0 and b["realized_tokens"] == 20.0
    assert c["weight_norm"] == 0.0 and c["epochs"] == 0.0 and not c["capped"]
    with pytest.raises(ValueError, match="token_budget"):
        curation.mixture_epoch_plan(docs, weights={"A": 1.0}, token_budget=0)
    with pytest.raises(ValueError, match="sum"):
        curation.mixture_epoch_plan(docs, weights={}, token_budget=10)


def test_lsh_band_planner_shape_and_extremes(spark):
    out = {(r["bands"], r["rows_per_band"]): r for r in dedup.lsh_band_planner(spark).collect()}
    assert len(out) == 7  # divisors of 64
    assert out[(16, 4)]["midpoint_j"] == pytest.approx(0.5, abs=1e-6)
    # b=64,r=1 catches everything -> false positives; b=1,r=64 misses -> FN
    assert out[(64, 1)]["fp_mass"] > out[(8, 8)]["fp_mass"]
    assert out[(1, 64)]["fn_mass"] > out[(8, 8)]["fn_mass"]
    best = min(out.values(), key=lambda r: r["total_err"])
    # the argmin's midpoint brackets the 0.8 threshold (measured table:
    # (4,16) midpoint 0.917 edges out (8,8) 0.771 because fp integrates
    # over the much longer [0, 0.8) range)
    assert 0.5 <= best["midpoint_j"] <= 0.95
    with pytest.raises(ValueError, match="threshold"):
        dedup.lsh_band_planner(spark, threshold=1.5)
    with pytest.raises(ValueError, match="num_perm"):
        dedup.lsh_band_planner(spark, num_perm=0)


def test_doc_outlier_panel_flags_planted_outlier(spark):
    normal = [" ".join(f"w{j}" for j in range(20 + i)) for i in range(9)]
    rows = [(i, t, "en", "s0", len(t)) for i, t in enumerate(normal)]
    rows.append((99, " ".join(["dup"] * 2000), "en", "s0", 8000))  # len+ttr outlier
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r for r in curation.doc_outlier_panel(docs).collect()}
    assert out[99]["out_len"] and out[99]["out_ttr"]
    assert out[99]["n_flags"] >= 2
    # the well-behaved docs carry no length flags
    assert all(not out[i]["out_len"] for i in range(9))


def test_doc_outlier_panel_zero_mad_is_quiet(spark):
    # every doc identical -> MAD 0 on all signals -> nothing flagged
    rows = [(i, "same five words right here", "en", "s0", 26) for i in range(6)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = curation.doc_outlier_panel(docs).collect()
    assert all(r["n_flags"] == 0 for r in out)


def test_corpus_datacard_exact_values(spark):
    rows = [
        (0, "a b c", "en", "s0", 5),
        (1, "a b c", "en", "s0", 5),     # exact dup of 0
        (2, "d e", "de", "s1", 3),
        (3, "f g h i", "en", "s1", 7),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    card = {r["metric"]: r["value"] for r in curation.corpus_datacard(docs).collect()}
    assert card["n_docs"] == 4.0
    assert card["n_tokens"] == 12.0
    assert card["dup_rate"] == pytest.approx(0.25, abs=1e-6)   # 3 distinct / 4 docs
    assert card["n_sources"] == 2.0 and card["n_langs"] == 2.0
    assert card["top_source_share"] == 0.5
    assert card["source_hhi"] == pytest.approx(0.5, abs=1e-6)  # 2 sources at 2/2
    assert card["top_lang_share"] == pytest.approx(0.75, abs=1e-6)
    assert card["lang_hhi"] == pytest.approx((9 + 1) / 16, abs=1e-6)
    assert card["mean_tokens_per_doc"] == 3.0


def test_minhash_precision_report_planted_shape(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today extra words here"
    rows = []
    # 10 near-dup pairs (true J high) + 20 unrelated docs
    for i in range(10):
        rows.append((2 * i, base + f" tail{i}", "en", "s0", 100))
        rows.append((2 * i + 1, base + f" tail{i} x", "en", "s0", 102))
    for i in range(20):
        rows.append((100 + i, " ".join(f"u{i}w{j}" for j in range(18)), "en", "s1", 90))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    rep = dedup.minhash_precision_report(
        docs, k=3, num_perm=128, bands=32, max_docs=1000, threshold=0.5
    ).collect()
    assert rep, "no candidate pairs surfaced"
    total_true = sum(r["n_true"] for r in rep)
    assert total_true >= 10  # every planted pair estimated + verified
    top = max(rep, key=lambda r: r["bucket_lo"])
    assert top["precision"] == 1.0  # high-estimate bucket is all true
    for r in rep:
        assert 0.0 <= r["precision"] <= 1.0 and r["n_true"] <= r["n_candidates"]
    with pytest.raises(ValueError, match="divide"):
        dedup.minhash_precision_report(docs, num_perm=128, bands=33)


def test_context_length_plan_exact(spark):
    rows = [
        (0, " ".join(["w"] * 4), "en", "s0", 7),
        (1, " ".join(["w"] * 10), "en", "s0", 19),
        (2, " ".join(["w"] * 20), "en", "s0", 39),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {
        r["context_size"]: r
        for r in curation.context_length_plan(docs, context_sizes=(8, 16)).collect()
    }
    c8, c16 = out[8], out[16]
    assert c8["n_docs_fit"] == 1 and c8["tokens_kept"] == 4 + 8 + 8
    assert c8["frac_tokens_kept"] == pytest.approx(20 / 34, abs=1e-6)
    assert c16["n_docs_fit"] == 2 and c16["tokens_kept"] == 4 + 10 + 16
    assert c16["frac_docs_fit"] == pytest.approx(2 / 3, abs=1e-6)
    with pytest.raises(ValueError, match="positive"):
        curation.context_length_plan(docs, context_sizes=(0,))


def test_sample_mix_audit_exact_and_zero_default(spark):
    rows = [(i, f"text number {i}", "en", "A" if i < 40 else "B", 14) for i in range(60)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["source"]: r for r in curation.sample_mix_audit(docs, rates={"A": 0.5}).collect()}
    a, b = out["A"], out["B"]
    assert a["n_docs"] == 40 and a["target_rate"] == 0.5
    assert a["realized_rate"] == pytest.approx(a["n_sampled"] / 40, abs=1e-6)
    assert a["abs_gap"] == pytest.approx(abs(a["realized_rate"] - 0.5), abs=1e-6)
    # unlisted source: target 0, nothing sampled, gap 0
    assert b["target_rate"] == 0.0 and b["n_sampled"] == 0 and b["abs_gap"] == 0.0
    # audit counts agree with the sampler itself (same salt, same draw)
    kept = curation.weighted_sample(docs, rates={"A": 0.5}).count()
    assert kept == a["n_sampled"]


def test_winnow_similar_topk_planted(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lamda mu"
    rows = [
        (0, base + " tail zero", "en", "s0", 80),
        (1, base + " tail one", "en", "s0", 79),     # near-copy of 0
        (2, base + " tail two", "en", "s0", 79),     # near-copy of 0
        (3, "wholly different words that never meet the others at all here", "en", "s1", 62),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = text.winnow_similar_topk(docs, top_k=2, min_shared=2)
    got = {(r["doc_id"], r["rank"]): r["sim_doc"] for r in out.collect()}
    assert got[(0, 1)] in (1, 2)        # 0's best neighbor is a copy
    assert (3, 1) not in got            # the unrelated doc has no neighbors
    # symmetric: 1 sees 0 (or 2) too
    assert (1, 1) in got
    ranks = [r for (d, r) in got if d == 0]
    assert ranks == sorted(ranks)  # dense ranks from 1


def test_text_hot_tokens_and_approx_containment(spark):
    rows = [(i, ("hot " * 30) + f"cold{i} rare{i}", "en", "s0", 200) for i in range(10)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    from metrocloud_data_pipeline_spark.operators.observability import hot_keys, hot_keys_approx

    term_rows = docs.select(F.explode(text.tokens_col(F.lower(F.col("text")))).alias("term"))
    exact = hot_keys(term_rows, "term", top_k=5).collect()
    assert exact[0]["key"] == "hot" and exact[0]["rank"] == 1
    assert exact[0]["is_skewed"]  # 300 of 320 tokens
    approx = {r["key"] for r in hot_keys_approx(term_rows, "term", support=0.5).collect()}
    assert "hot" in approx  # the sketch never loses a true heavy hitter


def test_quality_signal_correlation_known_signs(spark):
    import random

    rng = random.Random(7)
    rows = []
    for i in range(40):
        n = 5 + i  # token count strictly increasing with i
        words = [f"w{j}" for j in range(n)]
        rng.shuffle(words)
        t = " ".join(words)
        rows.append((i, t, "en", "s0", len(t)))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {(r["signal_a"], r["signal_b"]): r["spearman_rho"]
           for r in curation.quality_signal_correlation(docs).collect()}
    assert len(out) == 6
    # all-distinct tokens: ttr == 1 everywhere -> rank = doc order tiebreak;
    # nt vs cpt: cpt = n_chars/nt grows with word width -> strongly positive
    assert out[("cpt", "nt")] > 0.9
    for v in out.values():
        assert -1.0 <= v <= 1.0


def test_langid_confusion_diagonal_and_shares(spark):
    en = "the cat and the dog sat in it you that"          # all en stopwords
    es = "el que de la y en un por con los"                # all es stopwords
    rows = [
        (0, en, "en", "s0", len(en)),
        (1, en, "en", "s0", len(en)),
        (2, es, "en", "s0", len(es)),    # mislabeled: declared en, reads es
        (3, es, "es", "s0", len(es)),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {(r["lang"], r["predicted_lang"]): r for r in text.langid_confusion(docs).collect()}
    assert out[("en", "en")]["n_docs"] == 2
    assert out[("en", "es")]["n_docs"] == 1  # the mislabel shows up off-diagonal
    assert out[("en", "en")]["frac_of_lang"] == pytest.approx(2 / 3, abs=1e-6)
    assert out[("es", "es")]["frac_of_lang"] == 1.0


def test_shard_skew_report_consistency(spark):
    rows = [(i, " ".join(["w"] * (5 + i % 7)), "en", "s0", 20) for i in range(120)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    rep = curation.shard_skew_report(docs, n_shards=4).collect()
    assert sum(r["n_docs"] for r in rep) == 120
    assert abs(sum(r["token_share"] for r in rep) - 1.0) < 1e-5
    # report and manifest use the same draw: per-shard doc counts agree
    man = curation.shard_manifest(docs, n_shards=4).groupBy("shard_id").count().collect()
    man_counts = {r["shard_id"]: r["count"] for r in man}
    for r in rep:
        assert man_counts[r["shard_id"]] == r["n_docs"]


def test_dedup_impact_by_source_attribution(spark):
    shared = "identical text shared across sources exactly here"
    rows = [
        (0, shared, "en", "orig", len(shared)),        # global keeper (min id)
        (1, shared, "en", "mirror", len(shared)),      # loses to 0
        (2, shared, "en", "mirror", len(shared)),      # loses to 0
        (3, "unique text only mirror has", "en", "mirror", 27),
        (4, "another unique original", "en", "orig", 23),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["source"]: r for r in dedup.dedup_impact_by_source(docs).collect()}
    assert out["orig"]["n_removed"] == 0
    assert out["mirror"]["n_removed"] == 2
    assert out["mirror"]["tokens_removed"] == 14  # 2 copies x 7 tokens
    assert out["mirror"]["frac_docs_removed"] == pytest.approx(2 / 3, abs=1e-6)
    # impact sums to exactly what exact_dedup drops
    dropped = 5 - dedup.exact_dedup(docs).count()
    assert sum(r["n_removed"] for r in out.values()) == dropped


def test_ngram_diversity_approx_agreement(spark):
    rows = [
        (i, " ".join(f"w{(i * 37 + j) % 200}" for j in range(30)), "en", f"s{i % 3}", 120)
        for i in range(60)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    exact = {(r["source"], r["n"]): r for r in text.ngram_diversity(docs).collect()}
    approx = {(r["source"], r["n"]): r for r in text.ngram_diversity_approx(docs).collect()}
    assert set(exact) == set(approx)
    for k, e in exact.items():
        a = approx[k]
        assert a["total_grams"] == e["total_grams"]  # exact count, same scan
        assert a["distinct_grams"] == pytest.approx(e["distinct_grams"], rel=0.05)
        assert a["diversity"] == pytest.approx(e["diversity"], rel=0.05)


def test_source_filter_funnel_agrees_with_corpus_funnel(spark):
    good = ". ".join(" ".join(f"the w{i}k{j} be to of and that have with it" for j in range(8)) for i in range(3)) + "."
    rows = [
        (0, good, "en", "clean", len(good)),
        (1, good, "en", "mirror", len(good)),          # dup: loses to 0 globally
        (2, "short junk", "en", "junky", 10),          # fails gopher word floor
        (3, good + " extra tail words here now", "en", "clean", len(good) + 26),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    per = {r["source"]: r for r in curation.source_filter_funnel(docs).collect()}
    tot = {r["stage_name"]: r["n_docs"] for r in curation.corpus_filter_funnel(docs).collect()}
    # per-source funnel sums to the corpus funnel at every stage
    assert sum(r["n_all"] for r in per.values()) == tot["all"]
    assert sum(r["n_gopher"] for r in per.values()) == tot["gopher"]
    assert sum(r["n_c4"] for r in per.values()) == tot["c4"]
    assert sum(r["n_kept"] for r in per.values()) == tot["dedup"]
    # the mirror's copy loses to clean's keeper under the GLOBAL rule
    assert per["mirror"]["n_c4"] >= 1 and per["mirror"]["n_kept"] == 0
    assert per["junky"]["n_gopher"] == 0


def test_embed_centroid_drift_identical_and_shifted(spark):
    # label 0: both halves identical distribution -> cos 1.0
    # label 1: odd half orthogonal to even half -> cos ~0
    rows = []
    for i in range(8):
        rows.append((2 * i, [1.0, 0.0], 0))        # even, label 0
        rows.append((2 * i + 1, [1.0, 0.0], 0))    # odd,  label 0
    for i in range(8):
        rows.append((100 + 2 * i, [1.0, 0.0], 1))      # even, label 1
        rows.append((101 + 2 * i, [0.0, 1.0], 1))      # odd,  label 1 (shifted)
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["label"]: r for r in similarity.embed_centroid_drift(emb).collect()}
    assert out[0]["centroid_cos"] == pytest.approx(1.0, abs=1e-6)
    assert out[0]["n_even"] == 8 and out[0]["n_odd"] == 8
    assert out[1]["centroid_cos"] == pytest.approx(0.0, abs=1e-6)


def test_jaccard_prefix_baskets_pairs_are_exactly_the_derived_near_copies(spark):
    """dedup_jaccard_prefix_baskets' true answer is known in closed
    form: every customer basket of n >= 2 distinct parts gets a derived
    near-copy missing its largest part (Jaccard (n-1)/n), so at the
    0.95 threshold the pair set is exactly {(custkey, custkey + 1e6) :
    n >= 20} — random baskets never reach the threshold (measured
    max < 0.2 at sf0.01). Pinned at sf0.001 against the basket sizes
    computed independently here."""
    from pyspark.sql import functions as F

    from metrocloud_data_pipeline_spark.queries import SPARK_QUERIES
    from metrocloud_data_pipeline_spark.sources.star_schema import load

    sf = "/root/testdata/sf0.001"
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    sizes = {
        r.o_custkey: r.n
        for r in li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    expected = {
        (int(ck), int(ck) + 1_000_000): round((n - 1) / n, 6)
        for ck, n in sizes.items()
        if (n - 1) / n >= 0.95 - 1e-12
    }
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in SPARK_QUERIES["dedup_jaccard_prefix_baskets"](spark, sf).collect()
    }
    assert got == expected and len(expected) > 0


def test_kn5_hashed_hand_computed_exact_regime(spark):
    """With n_buckets effectively collision-free (2^62), the hashed
    KN-5 must equal the hand-computed FULL five-level Chen & Goodman
    interpolation (r12) — the order-5 lift of the trigram worked
    example: two docs share the 5-gram (a b c d e), one diverges at
    the last word."""
    import math

    rows = [
        (0, "a b c d e", "en", "s0", 9),
        (1, "a b c d e", "en", "s0", 9),
        (2, "a b c d f", "en", "s0", 9),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {
        r["doc_id"]: r
        for r in text.kn5_surprisal_hashed(docs, n_buckets=1 << 62).collect()
    }
    D = 0.75
    # gram types: (a b c d e) ct=2, (a b c d f) ct=1; hist "a b c d":
    # ch=3, nfwd=2. Continuation ladder — every level has two types,
    # each with modified count 1, history normalizer 2, fanout 2:
    #   order 4: suffix4 {b c d e, b c d f}, cc4=1 each (left={a});
    #            mid3 "b c d": ccsum4=2, nfwd4=2
    #   order 3: suffix3 {c d e, c d f},     cc3=1 each (left={b});
    #            mid2 "c d": ccsum3=2, nfwd3=2
    #   order 2: suffix2 {d e, d f},         cc2=1 each (left={c});
    #            mid1 "d": ccsum2=2, nfwd2=2
    #   unigram: e nback=1, f nback=1 over B=2 (w4,w5) types
    p1 = 1 / 2
    p2 = max(1 - D, 0) / 2 + D * 2 / 2 * p1
    p3 = max(1 - D, 0) / 2 + D * 2 / 2 * p2
    p4 = max(1 - D, 0) / 2 + D * 2 / 2 * p3
    p_e = max(2 - D, 0) / 3 + D * 2 / 3 * p4
    p_f = max(1 - D, 0) / 3 + D * 2 / 3 * p4
    assert p_e + p_f == pytest.approx(1.0)
    assert out[0]["kn5h_bits_per_gram"] == pytest.approx(-math.log2(p_e), abs=1e-6)
    assert out[2]["kn5h_bits_per_gram"] == pytest.approx(-math.log2(p_f), abs=1e-6)
    assert out[0]["gram5_count"] == 1
    # docs with < 5 tokens emit no row
    short = spark.createDataFrame(
        [(9, "a b c d", "en", "s0", 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    assert text.kn5_surprisal_hashed(short).count() == 0


def test_kn5_hashed_five_level_recursion_asymmetric(spark):
    """Pins the FULL five-level recursion on a corpus whose lower-order
    continuation structure is ASYMMETRIC (the symmetric worked example
    above has p2=p3=p4, so it cannot tell a three-level interpolation
    from the five-level one). Expected values come from an independent
    pure-Python Chen & Goodman implementation over the same grams."""
    import math
    from collections import Counter

    texts = {
        0: "a b c d e",
        1: "a b c d e f",
        2: "x b c d e",
        3: "p q c d e",
        4: "a b c d f",
    }
    docs = spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    grams = {
        i: [tuple(t.split()[j : j + 5]) for j in range(len(t.split()) - 4)]
        for i, t in texts.items()
    }
    D = 0.75
    c5 = Counter(g for gl in grams.values() for g in gl)
    ch, nfwd = Counter(), Counter()
    for g in c5:
        ch[g[:4]] += c5[g]
        nfwd[g[:4]] += 1
    cc4 = Counter(g[1:] for g in c5)
    ccsum4, nfwd4 = Counter(), Counter()
    for s, c in cc4.items():
        ccsum4[s[:3]] += c
        nfwd4[s[:3]] += 1
    cc3 = Counter(s[1:] for s in cc4)
    ccsum3, nfwd3 = Counter(), Counter()
    for s, c in cc3.items():
        ccsum3[s[:2]] += c
        nfwd3[s[:2]] += 1
    cc2 = Counter(s[1:] for s in cc3)
    ccsum2, nfwd2 = Counter(), Counter()
    for s, c in cc2.items():
        ccsum2[s[:1]] += c
        nfwd2[s[:1]] += 1
    nback = Counter(s[1:] for s in cc2)
    B = len(cc2)

    def prob(g):
        p = nback[g[4:]] / B
        for cc, ccsum, nf, hk, sk in (
            (cc2, ccsum2, nfwd2, g[3:4], g[3:]),
            (cc3, ccsum3, nfwd3, g[2:4], g[2:]),
            (cc4, ccsum4, nfwd4, g[1:4], g[1:]),
            (c5, ch, nfwd, g[:4], g),
        ):
            p = max(cc[sk] - D, 0) / ccsum[hk] + D * nf[hk] / ccsum[hk] * p
        return p

    expected = {
        i: -sum(math.log2(prob(g)) for g in gl) / len(gl)
        for i, gl in grams.items()
    }
    out = {
        r["doc_id"]: r["kn5h_bits_per_gram"]
        for r in text.kn5_surprisal_hashed(docs, n_buckets=1 << 62).collect()
    }
    assert set(out) == set(expected)
    for i in expected:
        assert out[i] == pytest.approx(expected[i], abs=1e-6), i
    # asymmetry check: the corpus must actually exercise distinct
    # lower-order structure, or this test proves nothing
    assert len(set(cc3.values())) > 1 and len(set(nback.values())) > 1


def test_kn5_hashed_spearman_vs_exact_at_sf001(spark):
    """The hashing approximation's fidelity contract (VERDICT r10 #8):
    per-doc Spearman between the DEFAULT bucket count (2^22) and the
    effectively-exact 2^62 twin must hold >= 0.95 on the sf0.01 corpus
    (five-level form, r12: measured 0.9788; 2^20 measured 0.9138,
    which is why the default is one power higher)."""
    from metrocloud_data_pipeline_spark.sources.star_schema import load

    docs = load(spark, "/root/testdata/sf0.01", "documents")
    hashed = text.kn5_surprisal_hashed(docs).toPandas()
    exact = text.kn5_surprisal_hashed(docs, n_buckets=1 << 62).toPandas()
    m = hashed.merge(exact, on="doc_id", suffixes=("_h", "_e"))
    assert len(m) == len(exact) == 500
    rho = m["kn5h_bits_per_gram_h"].rank().corr(m["kn5h_bits_per_gram_e"].rank())
    assert rho >= 0.95, rho


def test_knn_filtered_recall_geometry_contract(spark):
    """Filtered ANN's two regimes, pinned on a constructed 3-cluster
    corpus (labels = clusters): (a) with enough probes to reach the
    filtered cluster, filtered IVF equals the exact filtered answer —
    recall 1.0; (b) the TRAP this feature documents: a query in another
    cluster probing only its own list finds ZERO label-2 candidates
    (pre-filtering thins the probed lists; the probe geometry is
    unfiltered), which is exactly why nprobe must scale with predicate
    selectivity."""
    import math

    from pyspark.sql import functions as F

    rows = []
    for vid in range(90):
        c = vid % 3
        v = [1.0 if i == c else 0.0 for i in range(8)]
        v[(c + 3) % 8] = 0.05 * ((vid * 7) % 11)
        n = math.sqrt(sum(x * x for x in v))
        rows.append((vid, [x / n for x in v], c))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).cache()
    flt = F.col("label") == 2

    # (a) probing every list: filtered IVF == filtered brute, recall 1.0
    rep = similarity.knn_filtered_recall_report(
        emb, k=5, nprobe=3, max_queries=30, corpus_filter=flt, train_k=3
    ).toPandas()
    assert len(rep) == 30
    assert (rep["recall"] == 1.0).all(), rep[rep["recall"] < 1.0]

    # (b) nprobe=1: queries whose own cluster is 2 still find their
    # neighbors (their one probed list IS the filtered cluster);
    # queries in clusters 0/1 probe a list the filter empties -> 0
    rep1 = similarity.knn_filtered_recall_report(
        emb, k=5, nprobe=1, max_queries=30, corpus_filter=flt, train_k=3
    ).toPandas().set_index("q_id")
    for qid in range(30):
        expected = 1.0 if qid % 3 == 2 else 0.0
        assert rep1.loc[qid, "recall"] == expected, (qid, rep1.loc[qid])


def _three_cluster_corpus(spark):
    """The filtered-ANN geometry fixture: 3 orthogonal clusters, label =
    cluster, so a label predicate empties 2 of every 3 probed lists."""
    import math

    rows = []
    for vid in range(90):
        c = vid % 3
        v = [1.0 if i == c else 0.0 for i in range(8)]
        v[(c + 3) % 8] = 0.05 * ((vid * 7) % 11)
        n = math.sqrt(sum(x * x for x in v))
        rows.append((vid, [x / n for x in v], c))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).cache()


def test_escalate_underfilled_brute_restores_filtered_neighbors(spark):
    """The VERDICT r11 #2 contract: a query whose entire filtered
    neighborhood lives outside its probed lists (nprobe=1, filter =
    another cluster) silently gets ZERO rows from filtered IVF; the
    brute escalation must hand it exactly its k true filtered
    neighbors, while every well-filled query's rows pass through the
    splice byte-identical."""
    from pyspark.sql import functions as F

    emb = _three_cluster_corpus(spark)
    flt = F.col("label") == 2
    first = similarity.knn_join_ivf(
        emb, k=5, nprobe=1, max_queries=30, corpus_filter=flt, train_k=3
    ).cache()
    per_q = {r["q_id"]: r["n"] for r in first.groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # starvation is real: clusters 0/1 queries got nothing
    assert all(per_q.get(q, 0) == 0 for q in range(30) if q % 3 != 2), per_q

    fixed = similarity.escalate_underfilled(
        first, emb, k=5, max_queries=30, corpus_filter=flt, mode="brute"
    ).cache()
    brute = similarity.knn_join_brute(
        emb, k=5, max_queries=30, corpus_filter=flt
    )
    # every query now holds exactly k true filtered neighbors
    counts = {r["q_id"]: r["n"] for r in fixed.groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {q: 5 for q in range(30)}, counts
    assert {tuple(r) for r in fixed.select("q_id", "vec_id").collect()} == {
        tuple(r) for r in brute.select("q_id", "vec_id").collect()
    }
    assert fixed.where(F.col("label") != 2).count() == 0
    # a query never returns itself (queries here ARE corpus vectors)
    assert fixed.where(F.col("q_id") == F.col("vec_id")).count() == 0
    # well-filled queries (cluster 2): rows unchanged from the first pass
    well = [q for q in range(30) if q % 3 == 2]
    assert sorted(
        map(tuple, first.where(F.col("q_id").isin(well)).collect())
    ) == sorted(map(tuple, fixed.where(F.col("q_id").isin(well)).collect()))


def test_escalate_underfilled_reprobe_widens_probes(spark):
    """The bounded-cost escalation: re-probing ONLY the starved queries
    at a widened nprobe (here 3 = every list) restores the exact
    filtered answer without any brute scan — and keeps self-match
    exclusion active even though the re-probe goes through
    knn_join_ivf's external-queries mode."""
    from pyspark.sql import functions as F

    emb = _three_cluster_corpus(spark)
    flt = F.col("label") == 2
    cb = similarity.trained_codebook(emb, k=3)
    first = similarity.knn_join_ivf(
        emb, k=5, nprobe=1, max_queries=30, corpus_filter=flt, codebook=cb
    )
    fixed = similarity.escalate_underfilled(
        first, emb, k=5, max_queries=30, corpus_filter=flt,
        mode="reprobe", nprobe=3, codebook=cb,
    ).cache()
    brute = similarity.knn_join_brute(emb, k=5, max_queries=30, corpus_filter=flt)
    assert fixed.count() == 150
    assert {tuple(r) for r in fixed.select("q_id", "vec_id").collect()} == {
        tuple(r) for r in brute.select("q_id", "vec_id").collect()
    }
    assert fixed.where(F.col("q_id") == F.col("vec_id")).count() == 0


def test_escalate_underfilled_reprobe_requires_nprobe_and_known_mode(spark):
    from pyspark.sql import functions as F

    emb = _three_cluster_corpus(spark)
    first = similarity.knn_join_ivf(emb, k=5, nprobe=1, max_queries=6, train_k=3)
    with pytest.raises(ValueError, match="reprobe.*nprobe"):
        similarity.escalate_underfilled(first, emb, k=5, mode="reprobe")
    # a reprobe must probe the first pass's layout, never a fresh one
    with pytest.raises(ValueError, match="reprobe.*codebook"):
        similarity.escalate_underfilled(first, emb, k=5, mode="reprobe", nprobe=3)
    with pytest.raises(ValueError, match="mode"):
        similarity.escalate_underfilled(first, emb, k=5, mode="exhaustive")


def test_knn_filtered_recall_report_reprobe_uses_first_pass_codebook(spark, monkeypatch):
    """escalation="reprobe" must re-probe the layout whose first pass
    starved: the codebook is fit exactly once (train_k=3), and the
    escalated columns equal escalate_underfilled run by hand against
    that same codebook. The report used to hand the reprobe no
    codebook, so it trained a second, auto-sized one."""
    from pyspark.sql import functions as F

    emb = _three_cluster_corpus(spark)
    flt = F.col("label") == 2
    fits = []
    real_fit = similarity.trained_codebook

    def counting_fit(*args, **kwargs):
        fits.append(kwargs.get("k"))
        return real_fit(*args, **kwargs)

    monkeypatch.setattr(similarity, "trained_codebook", counting_fit)
    rep = similarity.knn_filtered_recall_report(
        emb, k=5, nprobe=1, max_queries=30, corpus_filter=flt, train_k=3,
        escalation="reprobe",
    ).toPandas().set_index("q_id").sort_index()
    assert fits == [3], fits

    cb = real_fit(emb, k=3)
    first = similarity.knn_join_ivf(
        emb, k=5, nprobe=1, max_queries=30, corpus_filter=flt, codebook=cb
    )
    esc = similarity.escalate_underfilled(
        first, emb, k=5, max_queries=30, corpus_filter=flt,
        mode="reprobe", nprobe=4, codebook=cb,
    )
    brute = similarity.knn_join_brute(emb, k=5, max_queries=30, corpus_filter=flt)
    hits = {
        r["q_id"]: r["n"]
        for r in esc.join(brute.select("q_id", "vec_id"), ["q_id", "vec_id"])
        .groupBy("q_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert len(rep) == 30
    for qid in range(30):
        assert rep.loc[qid, "n_hits_escalated"] == hits.get(qid, 0), qid
        assert rep.loc[qid, "recall_escalated"] == round(hits.get(qid, 0) / 5, 6), qid


def test_escalate_underfilled_skips_zero_norm_queries(spark):
    """A zero-norm query is underfilled by CONTRACT (all its sims are
    NULL), not by probe starvation — escalation must not burn a brute
    pass on it, and it must stay rowless afterwards."""
    from pyspark.sql import functions as F

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0], 1),
            (1, [0.9, 0.1, 0.0, 0.0], 1),
            (2, [0.0, 0.0, 0.0, 0.0], 1),   # failed encoder
            (3, [0.0, 1.0, 0.0, 0.0], 1),
            (4, [0.1, 0.9, 0.0, 0.0], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    first = similarity.knn_join_ivf(emb, k=3, nprobe=1, train_k=2).where(
        F.col("cosine_sim").isNotNull()
    )
    fixed = similarity.escalate_underfilled(first, emb, k=3, mode="brute").where(
        F.col("cosine_sim").isNotNull()
    )
    assert fixed.where(F.col("q_id") == 2).count() == 0
    # the defined queries all reach k=3 defined neighbors via brute
    # (corpus has 4 valid candidates per query)
    counts = {r["q_id"]: r["n"] for r in fixed.groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {0: 3, 1: 3, 3: 3, 4: 3}, counts


def test_knn_filtered_recall_report_escalated_columns(spark):
    """The audit of what escalation buys: raw recall stays the honest
    0.0 for starved queries, recall_escalated is 1.0 for every query —
    the registered operating point's min-recall-0 case closed."""
    from pyspark.sql import functions as F

    emb = _three_cluster_corpus(spark)
    rep = similarity.knn_filtered_recall_report(
        emb, k=5, nprobe=1, max_queries=30,
        corpus_filter=F.col("label") == 2, train_k=3, escalation="brute",
    ).toPandas().set_index("q_id")
    assert list(rep.columns) == [
        "n_hits", "recall", "n_hits_escalated", "recall_escalated"
    ]
    for qid in range(30):
        assert rep.loc[qid, "recall"] == (1.0 if qid % 3 == 2 else 0.0)
        assert rep.loc[qid, "recall_escalated"] == 1.0, (qid, rep.loc[qid])


def test_knn_join_ivf_corpus_filter_any_metadata_column(spark):
    """ADVICE r11: the self-built listed projection used to hardcode
    (vec_id, embedding, label), so a corpus_filter over any OTHER
    metadata column raised an unresolved-column AnalysisException —
    all corpus columns now ride the projection, like the PQ tier's
    attach_cols."""
    from pyspark.sql import functions as F

    emb = _three_cluster_corpus(spark).withColumn(
        "source", F.when(F.col("vec_id") % 2 == 0, "web").otherwise("books")
    )
    got = similarity.knn_join_ivf(
        emb, k=5, nprobe=3, max_queries=12, train_k=3,
        corpus_filter=F.col("source") == "web",
    )
    assert got.count() > 0
    assert got.join(
        emb.select("vec_id", "source"), "vec_id"
    ).where(F.col("source") != "web").count() == 0


def test_audio_band_argmax_robust_all_32_bands(spark):
    """The r15 audio fingerprint kernel: a pure tone at EVERY mel band
    center must argmax back to its own band at the tone-sequence
    corpus's parameters (sr=4000, dim=32, 250 ms windows) — the
    closed-form oracle of media_audio_near_dup rests on exactly this
    round trip (the 8-band twin for the feature strip is pinned in
    test_media_audio_features_*)."""
    import math
    import struct
    import wave
    from io import BytesIO

    sr, dim, n = 4000, 32, 1000
    centers = multimodal.mel_band_centers(sr, dim)
    for b in range(dim):
        buf = BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(sr)
            w.writeframes(
                b"".join(
                    struct.pack(
                        "<h",
                        int(0.5 * 32767 * math.sin(2 * math.pi * centers[b] * i / sr)),
                    )
                    for i in range(n)
                )
            )
        assert multimodal._wav_band_argmax_seq(buf.getvalue(), dim, 250) == [b]


def test_audio_fingerprint_near_dup_planted_pairs(spark):
    """The audio near-dup operator through the FULL real chain (synth
    -> WAV -> decode -> FFT -> mel -> argmax -> pair join): band sets
    are the closed form {((d+s)*37)%32}, ids 2 and 770 are full dups
    ((770-2)*37 = 28416 = 888*32 -> d=0 -> all 4 bands shared,
    jaccard 1.0), and the df-cut at 1 removes every shared print."""
    docs = spark.createDataFrame(
        [(2, "", "en", "s", 0), (3, "", "en", "s", 0), (770, "", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    media = multimodal.synth_tone_sequence_corpus(docs)
    got = {
        (r.media_a, r.media_b): (r.shared_prints, r.jaccard)
        for r in multimodal.audio_fingerprint_near_dup(media).collect()
    }

    def bands(d):
        return {((d + s) * 37) % 32 for s in range(4)}

    assert got[(2, 770)] == (4, 1.0)
    sh = len(bands(2) & bands(3))
    assert got[(2, 3)] == (sh, round(sh / (8 - sh), 6))
    none = multimodal.audio_fingerprint_near_dup(media, max_fp_df=1).collect()
    assert none == []


def test_audio_fingerprint_near_dup_isolates_corrupt_payloads(spark):
    """One corrupt payload must not kill the pair search
    (errors='reject', the crawl-scale default, same contract as the
    video tier): the bad row contributes no prints, with_rejects
    surfaces it with its decode error from the same pass, and
    errors='raise' restores fail-loud."""
    docs = spark.createDataFrame(
        [(2, "", "en", "s", 0), (770, "", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    good = multimodal.synth_tone_sequence_corpus(docs)
    bad = spark.createDataFrame(
        [(9999, "audio", "audio/wav", bytearray(b"not a riff wav at all"), None)],
        good.schema,
    )
    media = good.unionByName(bad)
    pairs, rejects = multimodal.audio_fingerprint_near_dup(
        media, with_rejects=True
    )
    got = {(r.media_a, r.media_b) for r in pairs.collect()}
    assert got == {(2, 770)}
    rrows = rejects.collect()
    assert [r.media_id for r in rrows] == [9999]
    assert "NotImplementedError" in rrows[0].decode_error
    with pytest.raises(Exception, match="NotImplementedError|real audio decode"):
        multimodal.audio_fingerprint_near_dup(media, errors="raise").collect()


def test_reencode_wav_changes_bytes_not_signal(spark):
    """The planted-copy primitive for the audio recall audit:
    reencode_wav must produce a byte-DIFFERENT payload (exact payload
    dedup misses it) whose decoded float signal is bit-IDENTICAL (the
    fingerprint pair search catches it at jaccard 1.0) — and the full
    report over a tiny corpus must read recall 1.0 with zero
    byte-identical copies. Non-16-bit input fails loud."""
    import numpy as np

    docs = spark.createDataFrame(
        [(2, "", "en", "s", 0), (3, "", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    media = multimodal.synth_tone_sequence_corpus(docs)
    plain = bytes(media.limit(1).collect()[0].payload)
    copy = multimodal.reencode_wav(plain)
    assert copy != plain
    x1, sr1 = multimodal._wav_pcm_mono(plain)
    x2, sr2 = multimodal._wav_pcm_mono(copy)
    assert sr1 == sr2 and np.array_equal(x1, x2)
    with pytest.raises(NotImplementedError, match="16-bit"):
        multimodal.reencode_wav(copy)  # 24-bit input refused

    row = multimodal.audio_neardup_recall_report(media).collect()[0]
    assert row.n_planted == 2 and row.n_detected == 2
    assert row.recall == 1.0 and row.n_byte_identical == 0


@pytest.mark.parametrize(
    "entry",
    [
        "extract_features",
        "sample_frames",
        "audio_fingerprints",
        "image_hashes",
        "video_frame_near_dup",
        "audio_fingerprint_near_dup",
        "image_hash_near_dup",
    ],
)
def test_unknown_errors_mode_is_refused_before_any_job(spark, entry):
    """Every media entry point that takes `errors` refuses a mode other
    than 'raise' / 'reject' at build time, before a Spark job starts
    (the near-dup tiers checkpoint eagerly, so a late check would
    already have decoded the corpus)."""
    media = spark.createDataFrame(
        [(1, "video", "video/avi", bytearray(b"RIFF"), None, None, 80)],
        multimodal.MEDIA_SCHEMA,
    )
    jobs = spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs
    before = jobs()
    with pytest.raises(
        ValueError, match="errors must be 'raise' or 'reject', got 'skip'"
    ):
        getattr(multimodal, entry)(media, errors="skip")
    assert jobs() == before


@pytest.mark.parametrize(
    "media_type, synth, near_dup, null_error, null_raises",
    [
        ("video", "synth_video_sequence_corpus", "video_frame_near_dup", None, False),
        (
            "audio",
            "synth_tone_sequence_corpus",
            "audio_fingerprint_near_dup",
            "ValueError: null media payload",
            True,
        ),
    ],
    ids=["video", "audio"],
)
def test_with_rejects_null_and_corrupt_payloads(
    spark, media_type, synth, near_dup, null_error, null_raises
):
    """with_rejects for both print-set tiers, pinning how each decoder
    treats a NULL payload: video's sample_frames passes it through as
    a NULL frame (reported with a NULL decode_error, and kept under
    'raise'); audio's decode guard calls it a ValueError (reported with
    that text, and fatal under 'raise'). A corrupt payload is reported
    with its exception text by both."""
    docs = spark.createDataFrame(
        [(2, "", "en", "s", 0), (770, "", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    good = getattr(multimodal, synth)(docs)
    null_row = spark.createDataFrame(
        [(8888, media_type, "x/x", None, None)], good.schema
    )
    bad_row = spark.createDataFrame(
        [(9999, media_type, "x/x", bytearray(b"not a riff payload"), None)],
        good.schema,
    )
    fn = getattr(multimodal, near_dup)
    pairs, rejects = fn(
        good.unionByName(null_row).unionByName(bad_row),
        errors="reject",
        with_rejects=True,
    )
    assert {(r.media_a, r.media_b) for r in pairs.collect()} == {(2, 770)}
    rej = {r.media_id: r.decode_error for r in rejects.collect()}
    assert set(rej) == {8888, 9999}
    assert rej[8888] == null_error
    assert rej[9999] is not None and rej[9999] != null_error

    with_null = good.unionByName(null_row)
    if null_raises:
        with pytest.raises(Exception, match="null media payload"):
            fn(with_null, errors="raise", with_rejects=True)[1].collect()
    else:
        pairs, rejects = fn(with_null, errors="raise", with_rejects=True)
        assert {(r.media_a, r.media_b) for r in pairs.collect()} == {(2, 770)}
        assert [tuple(r) for r in rejects.collect()] == [(8888, None)]


def test_planted_recall_audit_reads_its_copies(spark):
    """The planted-copy audit on its own, with copies the tier reports
    never make: an identity copy must read n_byte_identical ==
    n_planted (the digest join can see a byte-identical copy, so its 0
    in the real reports is evidence), and a copy whose payload no
    longer decodes must read n_detected == 0 under the default
    errors='reject' (the copies drop out, the original pairs remain)."""
    docs = spark.createDataFrame([(3,), (6,), (9,)], "doc_id long")
    media = multimodal.synth_gradient_image_corpus(docs)
    exact = F.col("hamming") == 0

    same = multimodal._planted_recall(
        media, lambda b: b, multimodal.image_hash_near_dup, exact
    ).collect()[0]
    assert (same.n_planted, same.n_byte_identical) == (3, 3)
    assert (same.n_detected, same.recall) == (3, 1.0)

    broken = multimodal._planted_recall(
        media,
        lambda b: b"not a png",
        multimodal.image_hash_near_dup,
        exact,
    ).collect()[0]
    assert (broken.n_planted, broken.n_detected, broken.recall) == (3, 0, 0.0)
    assert broken.n_byte_identical == 0
    # hashes 3, 6, 9: only (3, 6) and (3, 9) are within hamming 3
    assert broken.n_pairs == 2


def test_mp4_box_walk_probe_geometry_and_gate(spark):
    """The r15 ISO-BMFF tier (VERDICT r14 #6): the pure box walk
    recovers movie geometry (frames from stsz, 16.16 presentation
    dimensions from the video tkhd, duration from mvhd — both box
    versions), the magic-byte dispatcher routes ftyp payloads to it,
    and truncation / trailing bytes / missing moov all fail loud."""
    for v in (0, 1):
        p = multimodal._mp4_encode_headers(
            n_frames=48, width=640, height=360, duration_ms=1920, version=v
        )
        got = multimodal._probe_payload(p)
        assert got == {
            "container": "mp4", "n_frames": 48, "sample_rate": None,
            "width": 640, "height": 360, "duration_ms": 1920,
        }, (v, got)

    p = multimodal._mp4_encode_headers()
    with pytest.raises(NotImplementedError, match="claims"):
        multimodal._mp4_probe(p[:40])  # moov declared past EOF
    with pytest.raises(NotImplementedError, match="trailing bytes"):
        multimodal._mp4_probe(p + b"xy")
    with pytest.raises(NotImplementedError, match="no moov"):
        multimodal._mp4_probe(p[:28])  # ftyp alone
    with pytest.raises(NotImplementedError, match="no ftyp"):
        multimodal._mp4_probe(b"\x00" * 16)


def test_jpeg_marker_walk_probe_geometry_and_gate():
    """The r15 JPEG tier: the pure marker walk recovers SOF geometry
    (baseline C0 and progressive C2), the dispatcher routes FFD8FF
    payloads to it, entropy data is walked honoring byte stuffing and
    restart markers, and the fail-loud gates hold: truncation, junk
    after EOI, SOS-before-SOF, duplicate SOF, zero dimensions, and a
    segment length past EOF all raise the documented class."""
    for prog in (False, True):
        p = multimodal._jpeg_encode_headers(640, 480, progressive=prog)
        got = multimodal._probe_payload(p)
        assert got == {
            "container": "jpeg", "n_frames": 1, "sample_rate": None,
            "width": 640, "height": 480, "duration_ms": None,
        }, (prog, got)

    p = multimodal._jpeg_encode_headers()
    with pytest.raises(NotImplementedError, match="claims"):
        multimodal._jpeg_probe(p[:30])  # DQT length past the cut
    with pytest.raises(NotImplementedError, match="trailing bytes"):
        multimodal._jpeg_probe(p + b"zz")
    with pytest.raises(NotImplementedError, match="ran out before EOI"):
        multimodal._jpeg_probe(p[:-2])  # scan data with the EOI cut off
    with pytest.raises(NotImplementedError, match="EOI before any SOF"):
        multimodal._jpeg_probe(b"\xff\xd8\xff\xd9")
    with pytest.raises(NotImplementedError, match="no SOI"):
        multimodal._jpeg_probe(b"\x00" * 8)
    with pytest.raises(NotImplementedError, match="zero frame dimension"):
        multimodal._jpeg_probe(multimodal._jpeg_encode_headers(width=0))
    # a second SOF segment spliced in front of SOS must raise
    sof_at = p.find(b"\xff\xc0")
    sos_at = p.find(b"\xff\xda")
    sof_seg = p[sof_at:p.find(b"\xff\xc4")]
    with pytest.raises(NotImplementedError, match="duplicate SOF"):
        multimodal._jpeg_probe(p[:sos_at] + sof_seg + p[sos_at:])


def test_ogg_page_walk_probe_geometry_crc_and_gate():
    """The r15 Ogg tier: the page walk verifies REAL page CRCs
    (RFC 3533 — unreflected 0x04C11DB7, pinned here against an
    independent naive bitwise implementation so the fixture generator
    and the verifier cannot co-drift), recovers duration from the
    final granule for both Vorbis (id-header rate) and Opus (48 kHz
    granules minus pre-skip per RFC 7845), and the gates hold: a
    flipped byte (CRC), truncation, a non-BOS first page, a missing
    EOS, a page-sequence gap, and a second serial all raise."""

    def naive_crc(data: bytes) -> int:
        crc = 0
        for byte in data:
            crc ^= byte << 24
            for _ in range(8):
                crc = ((crc << 1) ^ 0x04C11DB7 if crc & 0x80000000
                       else crc << 1) & 0xFFFFFFFF
        return crc

    import numpy as np
    rng = np.random.default_rng(7)
    for n in (0, 1, 27, 300):
        blob = bytes(rng.integers(0, 256, size=n, dtype=np.uint8))
        assert multimodal._ogg_crc(blob) == naive_crc(blob), n

    p = multimodal._ogg_encode(4000, 8000, codec="vorbis")
    assert multimodal._probe_payload(p) == {
        "container": "ogg-vorbis", "n_frames": 4000, "sample_rate": 8000,
        "width": None, "height": None, "duration_ms": 500,
    }
    po = multimodal._ogg_encode(48000, 48000, codec="opus")
    got = multimodal._probe_payload(po)
    assert got["container"] == "ogg-opus" and got["sample_rate"] == 48000
    assert got["n_frames"] == 48000 and got["duration_ms"] == 1000

    flipped = bytearray(p)
    flipped[-1] ^= 0x01  # body byte: only the CRC notices
    with pytest.raises(NotImplementedError, match="CRC mismatch"):
        multimodal._ogg_probe(bytes(flipped))
    with pytest.raises(NotImplementedError, match="claims"):
        multimodal._ogg_probe(p[:40])
    with pytest.raises(NotImplementedError, match="no OggS"):
        multimodal._ogg_probe(b"\x00" * 30)

    # page-level structure gates need re-CRCed single pages: reuse the
    # fixture's own page builder by slicing its two valid pages
    page1_end = 27 + p[26] + sum(p[27 : 27 + p[26]])
    page1, page2 = p[:page1_end], p[page1_end:]

    def rewrite(page: bytes, **patch) -> bytes:
        import struct
        head = bytearray(page)
        if "htype" in patch:
            head[5] = patch["htype"]
        if "serial" in patch:
            head[14:18] = struct.pack("<I", patch["serial"])
        if "seq" in patch:
            head[18:22] = struct.pack("<I", patch["seq"])
        head[22:26] = b"\x00\x00\x00\x00"
        crc = multimodal._ogg_crc(bytes(head))
        head[22:26] = struct.pack("<I", crc)
        return bytes(head)

    with pytest.raises(NotImplementedError, match="not beginning-of-stream"):
        multimodal._ogg_probe(rewrite(page1, htype=0) + page2)
    with pytest.raises(NotImplementedError, match="no end-of-stream"):
        multimodal._ogg_probe(page1 + rewrite(page2, htype=0))
    with pytest.raises(NotImplementedError, match="sequence gap"):
        multimodal._ogg_probe(page1 + rewrite(page2, seq=5))
    with pytest.raises(NotImplementedError, match="multiplexed"):
        multimodal._ogg_probe(page1 + rewrite(page2, serial=99))


def test_fingerprint_cross_near_dup_df_cut_and_threshold(spark):
    """The cross-corpus screen primitive (r15 streaming near-dup
    tier): Jaccard is decided over BOTH sides' full set sizes while
    ubiquitous prints (df over the cap across the union) are excluded
    from the pair join — a hot print alone can never pair an arrival
    with the store, and the threshold reads the honest denominator."""
    from metrocloud_data_pipeline_spark.llm.multimodal import (
        fingerprint_cross_near_dup,
    )

    new = spark.createDataFrame(
        [(10, "x"), (10, "y"), (11, "hot"), (12, "y"), (12, "z")],
        "media_id long, fp string",
    )
    idx = spark.createDataFrame(
        [(1, "x"), (1, "y"),          # jaccard with 10 = 2/2 = 1.0
         # 'hot' union-df = 5 idx + 1 new = 6 > cap 4
         (2, "hot"), (3, "hot"), (4, "hot"), (20, "hot"), (21, "hot"),
         (5, "y"), (5, "q"), (5, "r")],       # jaccard with 12 = 1/4
        "media_id long, fp string",
    )
    got = sorted(
        r.media_id
        for r in fingerprint_cross_near_dup(
            new, idx, threshold=0.9, max_fp_df=4
        ).collect()
    )
    # 10 matches stored 1 exactly; 11 shares only the capped hot print
    # (no pair at all); 12's honest jaccard 1/4 is under threshold
    assert got == [10]
    # with the cut disabled and a permissive threshold, the hot print
    # pairs 11 with stored items (df-cut is what was protecting it)
    got2 = sorted(
        r.media_id
        for r in fingerprint_cross_near_dup(
            new, idx, threshold=0.25, max_fp_df=None
        ).collect()
    )
    assert 11 in got2 and 12 in got2


def test_image_dhash_closed_form_and_brightness_invariance(spark):
    """The image near-dup tier's kernel (r15 cont.): the gradient
    synth corpus is built so image_dhash(payload) == doc_id exactly —
    pinning bit order (row*8+col, LSB first), the 9x8 identity
    resample, and the gray conversion in one equality — and a uniform
    brightness shift changes every byte and every pixel while leaving
    the hash bit-identical (the planted-copy class). Clipping copies
    fail loud: a clipped pixel WOULD flip gradients."""
    import numpy as np

    ids = [0, 1, 5, 1023, 37**5, (1 << 40) + 7]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    media = multimodal.synth_gradient_image_corpus(docs).collect()
    for row in media:
        assert multimodal.image_dhash(bytes(row.payload)) == row.media_id

    # brightness copy: bytes differ, pixels differ, hash identical
    src = spark.createDataFrame(
        [r for r in media if r.media_id == 1023],
        multimodal.synth_gradient_image_corpus(docs).schema,
    )
    copy = multimodal.media_brightness_copies(src, delta=4).collect()[0]
    orig = [r for r in media if r.media_id == 1023][0]
    assert bytes(copy.payload) != bytes(orig.payload)
    assert not np.array_equal(
        multimodal._png_decode(bytes(copy.payload)),
        multimodal._png_decode(bytes(orig.payload)),
    )
    assert multimodal.image_dhash(bytes(copy.payload)) == 1023

    # a shift that would clip fails loud instead of flipping gradients
    with pytest.raises(Exception, match="clip"):
        multimodal.media_brightness_copies(src, delta=200).collect()


def test_image_hash_near_dup_pigeonhole_and_bucket_cut(spark):
    """The banded Hamming search: exact equivalence to brute force at
    max_hamming=3 (the pigeonhole guarantee — recall 1.0 with no LSH
    probabilism), the guard that refuses max_hamming >= bands, decode
    isolation for corrupt payloads, and the hot-bucket cut engaging
    exactly where its df threshold says."""
    from itertools import combinations

    ids = list(range(40)) + [1 << 20, (1 << 20) + 1]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    media = multimodal.synth_gradient_image_corpus(docs)
    got = {
        (r.media_a, r.media_b): r.hamming
        for r in multimodal.image_hash_near_dup(media).collect()
    }
    exp = {
        (a, b): bin(a ^ b).count("1")
        for a, b in combinations(sorted(ids), 2)
        if bin(a ^ b).count("1") <= 3
    }
    assert got == exp

    with pytest.raises(ValueError, match="pigeonhole"):
        multimodal.image_hash_near_dup(media, max_hamming=4)
    with pytest.raises(ValueError, match="divide"):
        multimodal.image_hash_near_dup(media, bands=5, max_hamming=3)

    # a corrupt payload contributes no hash instead of killing the job
    corrupt = media.unionByName(
        spark.createDataFrame(
            [(999, "image", "image/png", bytearray(b"junk"), 9, 8)],
            media.schema,
        )
    )
    got2 = {
        (r.media_a, r.media_b)
        for r in multimodal.image_hash_near_dup(corrupt).collect()
    }
    assert got2 == set(exp)

    # bucket cut: ids < 2^16 share band_val 0 on bands 1-3; with the
    # cap below the corpus size those bands drop and only the low
    # band can pair — 40 vs 41 (xor 1, low band differs by 1 but the
    # VALUES differ, so no shared cold band -> pair lost). The two
    # high ids still pair through their (identical) high-band values
    # whose bucket df is 2.
    cut = {
        (r.media_a, r.media_b)
        for r in multimodal.image_hash_near_dup(
            media, max_bucket_df=10
        ).collect()
    }
    assert (1 << 20, (1 << 20) + 1) in cut
    assert (0, 1) not in cut  # suppressed by the hot-bucket cap


def test_gif_and_bmp_probe_geometry_and_gate():
    """The r15 GIF/BMP probe tier: the GIF block walk recovers screen
    geometry, counts image descriptors as frames, and sums
    graphic-control delays into duration for animations; the BMP probe
    validates the format's own declared-size integrity field against
    the actual payload length. Truncation, trailing junk, a frameless
    stream, and size mismatches all fail loud; both join the
    magic-byte dispatch."""
    g1 = multimodal._gif_encode_headers(12, 7, n_frames=1)
    got = multimodal._probe_payload(g1)
    assert got == {
        "container": "gif", "n_frames": 1, "sample_rate": None,
        "width": 12, "height": 7, "duration_ms": None,
    }
    g3 = multimodal._gif_encode_headers(12, 7, n_frames=3, delay_cs=8)
    got = multimodal._probe_payload(g3)
    assert got["n_frames"] == 3 and got["duration_ms"] == 240

    with pytest.raises(NotImplementedError, match="no trailer"):
        multimodal._gif_probe(g1[:15])
    with pytest.raises(NotImplementedError, match="trailing bytes"):
        multimodal._gif_probe(g1 + b"z")
    with pytest.raises(NotImplementedError, match="no image descriptor"):
        multimodal._gif_probe(g1[:19] + b"\x3b")
    with pytest.raises(NotImplementedError, match="no GIF87a/89a"):
        multimodal._gif_probe(b"\x00" * 20)

    b = multimodal._bmp_encode_headers(11, 5)
    assert multimodal._probe_payload(b) == {
        "container": "bmp", "n_frames": 1, "sample_rate": None,
        "width": 11, "height": 5, "duration_ms": None,
    }
    with pytest.raises(NotImplementedError, match="truncated or padded"):
        multimodal._bmp_probe(b[:-1])
    with pytest.raises(NotImplementedError, match="truncated or padded"):
        multimodal._bmp_probe(b + b"x")
    with pytest.raises(NotImplementedError, match="not a BMP"):
        multimodal._bmp_probe(b"BM")


def test_image_hashes_mid_batch_failure_keeps_row_alignment(spark):
    """Regression (found by review, r15): a decode failure in the
    MIDDLE of one Arrow batch must not shift subsequent rows' hashes
    onto the wrong media_id — the failing row gets (NULL, error) and
    every other row keeps its own hash."""
    ids = [11, 22, 33]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    good = {r.media_id: bytes(r.payload)
            for r in multimodal.synth_gradient_image_corpus(docs).collect()}
    rows = [
        (11, "image", "image/png", bytearray(good[11]), 9, 8),
        (99, "image", "image/png", bytearray(b"corrupt"), 9, 8),  # mid-batch
        (22, "image", "image/png", bytearray(good[22]), 9, 8),
        (33, "image", "image/png", bytearray(good[33]), 9, 8),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, media_type string, mime string, payload binary, "
        "width int, height int",
    ).coalesce(1)  # ONE partition: all four rows share an Arrow batch
    got = {r.media_id: (r.dhash, r.decode_error)
           for r in multimodal.image_hashes(media).collect()}
    assert got[11] == (11, None)
    assert got[22] == (22, None)
    assert got[33] == (33, None)
    assert got[99][0] is None and got[99][1] is not None
    assert len(got) == 4


def test_webp_probe_geometry_and_gate():
    """The r15 WebP tier: all three public layouts (lossy VP8 with the
    key-frame start code, lossless VP8L bit-packed dims, extended VP8X
    canvas), RIFF size tiling enforced, unknown first chunks and
    truncation fail loud, and the magic dispatcher routes RIFF/WEBP."""
    for layout in ("vp8", "vp8l", "vp8x"):
        p = multimodal._webp_encode_headers(160, 90, layout)
        assert multimodal._probe_payload(p) == {
            "container": "webp", "n_frames": 1, "sample_rate": None,
            "width": 160, "height": 90, "duration_ms": None,
        }, layout
    p = multimodal._webp_encode_headers()
    with pytest.raises(NotImplementedError, match="RIFF declares"):
        multimodal._webp_probe(p + b"x")
    with pytest.raises(NotImplementedError, match="RIFF declares"):
        multimodal._webp_probe(p[:-1])
    with pytest.raises(NotImplementedError, match="not VP8"):
        multimodal._webp_probe(
            b"RIFF\x10\x00\x00\x00WEBPXXXX\x04\x00\x00\x00abcd"
        )
    with pytest.raises(NotImplementedError, match="start code"):
        bad = bytearray(p)
        bad[23] ^= 0xFF  # corrupt the 9D 01 2A start code
        multimodal._webp_probe(bytes(bad))
